"""Benchmark of the parse -> route path (see BENCHMARK.json).

    python3 perfbench/run.py --workload route_counts --seed 1 --seconds 10 --trace 0

Workloads, both ``route_match_counts(spark, df, registry).collect()``:

- ``route_counts``: over a ``grokspark.datagen`` corpus.
- ``route_nomatch``: the same corpus, except that ~20% of the routed
  rows are apache lines corrupted mid-line, so the regex fails deep in
  the line.

A run builds (or reuses) its seeded input, takes the spin and memcpy
readings of the machine, and then starts the workload process on Spark
``local[nproc]``: set-up, one cold call, a fixed number of untimed warm
calls, then back-to-back timed calls for ``--seconds``. Every call's
output is checked.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced
workload process turns the Spark event log on, records a span around
set-up and each public call, makes a ``GrokPipeline.run`` sink pass
after its timed calls, and runs the in-process layer probes once Spark
has stopped. Its tracing overhead is measured against the recorded
untraced runs of the same workload; when there are none, the traced run
makes an untraced run first. Everything else goes to stderr, and a
record of each run (machine readings, every call) to
``.perfbench/runs/``.

Inputs are cached in ``.perfbench/inputs/``; all other files a run
writes (Spark local dirs, sinks, event log) live in
``.perfbench/run-<pid>-<n>/`` and are deleted when it ends. On every
way out, a SIGTERM included, the run stops every process it started
(the JVM, Spark's Python daemon and workers) and waits until each has
ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from multiprocessing import get_context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# workload -> input corpus
CORPUS = {"route_counts": "counts", "route_nomatch": "nomatch"}
ROWS = 100_000
# untimed calls after the cold one; every run times the same stretch of
# the JIT warm-up curve (calls keep speeding up for ~8 calls)
WARM_CALLS = 4
MIN_TIMED_CALLS = 3
PROBE_ROWS = 2000
# driver (and, in local mode, executor) heap; the package default of 16g
# exceeds small machines, and a heap the job fills keeps peak RSS steady
DRIVER_MEM = "1g"
# the workload processes of a run, both of a traced run included; input
# generation (~5 s for a new seed) and the machine readings come on top
DEADLINE_S = 160.0
PR_SET_CHILD_SUBREAPER = 36


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# machine readings (context only; never a reason to discard a run)
# ---------------------------------------------------------------------------


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def _memcpy(mb: int) -> float:
    import numpy as np

    src = np.ones((mb << 20) // 8)
    dst = np.empty_like(src)
    t0 = time.perf_counter()
    for _ in range(4):
        np.copyto(dst, src)
    return time.perf_counter() - t0


def machine_readings(procs: int) -> dict:
    """Spin and 64 MB memcpy: ``procs``-way wall time over 1-way."""
    pool = get_context("fork").Pool(procs)
    try:
        spin1 = pool.apply(_spin, (2_000_000,))
        spin_n = max(pool.map(_spin, [2_000_000] * procs, chunksize=1))
        copy1 = pool.apply(_memcpy, (64,))
        copy_n = max(pool.map(_memcpy, [64] * procs, chunksize=1))
    finally:
        pool.close()
        pool.join()
    return {
        "spin_1way_s": spin1,
        "spin_ratio": spin_n / spin1,
        "memcpy_1way_s": copy1,
        "memcpy_ratio": copy_n / copy1,
        "procs": procs,
    }


# ---------------------------------------------------------------------------
# one workload process
# ---------------------------------------------------------------------------


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs so far."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def adopt_orphans() -> None:
    """Make this process the subreaper of all it starts: a descendant
    whose parent ends is re-parented here instead of to init. Spark's
    Python daemon runs in a process group of its own and outlives the
    JVM that started it by a moment; this is how ``stop_children``
    still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    """Live (not yet ended) child processes of this one."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    data = fh.read()
            except OSError:
                continue
            fields = data[data.rfind(")") + 2 :].split()
            if fields[0] != "Z" and int(fields[1]) == me:
                out.append(int(entry))
    return out


def stop_children() -> None:
    """Kill every process this one started, and all they started in
    turn (as subreaper, orphans become children here), and wait until
    each has ended: returns once this process has no child left."""
    while True:
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def run_worker(args, input_dir: str, cores: int, deadline: float, trace=False) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "events", "work")}
    for d in dirs.values():
        os.makedirs(d)
    cfg = {
        "workload": args.workload,
        "input": input_dir,
        "cores": cores,
        "seconds": args.seconds,
        "warm_calls": WARM_CALLS,
        "min_calls": MIN_TIMED_CALLS,
        "probe_rows": PROBE_ROWS,
        "trace": trace,
        "run_id": f"{args.workload}-s{args.seed}-{os.getpid()}-{int(trace)}",
        "local_dir": dirs["local"],
        "tmp_dir": dirs["tmp"],
        "event_dir": dirs["events"],
        "work": dirs["work"],
        "result": os.path.join(run_dir, "result.json"),
        "spans": os.path.join(WORK, "runs", f"spans-{args.workload}-s{args.seed}.json"),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",  # the same str hashing in every run and worker
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
    )
    worker_log = os.path.join(run_dir, "worker.log")
    try:
        with open(worker_log, "wb") as out:
            t_spawn, steal0 = time.time(), steal_s()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=run_dir,
                env=env,
                stdout=out,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                # the JVM and its Python workers outlive the worker
                proc.kill()
                proc.wait()
                stop_children()
        if code != 0:
            with open(worker_log, encoding="utf-8", errors="replace") as fh:
                log("".join(fh.readlines()[-40:]))
            raise SystemExit(f"workload process failed: {code}")
        with open(cfg["result"], encoding="utf-8") as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["setup_s"] = result["ready"] - t_spawn
    result["steal_s"] = steal_s() - steal0
    return result


def end_to_end(result: dict, rows: int) -> dict:
    timed = [c for c in result["calls"] if c["phase"] == "timed" and c["ok"]]
    if not timed:
        raise SystemExit("no timed call succeeded")
    call_s = statistics.median(c["t1"] - c["t0"] for c in timed)
    cpu_s = statistics.median(c["cpu_s"] for c in timed)
    return {
        "rows_per_s": {"value": rows / call_s, "unit": "1/s"},
        "cpu_s_per_mrow": {"value": cpu_s / rows * 1e6, "unit": "s"},
        "peak_rss_mb": {"value": result["peak_rss_mb"], "unit": "MB"},
        "setup_s": {"value": result["setup_s"], "unit": "s"},
    }


def recorded_rows_per_s(args, cores: int):
    """Median ``rows_per_s`` of the last ten recorded untraced runs of
    this workload at this size and core count, or None if there are none."""
    runs = os.path.join(WORK, "runs")
    names = [n for n in os.listdir(runs) if n.startswith(f"{args.workload}-s") and "-t0-" in n]
    names.sort(key=lambda n: os.path.getmtime(os.path.join(runs, n)))
    values = []
    for name in reversed(names):
        with open(os.path.join(runs, name), encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec["rows"] == ROWS and rec["cores"] == cores:
            values.append(rec["metrics"]["rows_per_s"]["value"])
        if len(values) == 10:
            break
    return statistics.median(values) if values else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import corpus
    except ImportError as exc:  # not a checkout of the package
        log(f"cannot import the program under test: {exc}")
        return 2

    # a SIGTERM ends the run through the same path as an error, so that
    # every process the run started is stopped on any way out of it
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    adopt_orphans()
    try:
        return run(args, corpus)
    finally:
        stop_children()


def run(args, corpus) -> int:
    from layers import LAYERS

    cores = len(os.sched_getaffinity(0))
    inputs = os.path.join(WORK, "inputs")
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    os.makedirs(inputs, exist_ok=True)
    # taken first: its pool forks from a process that runs no thread yet
    readings = machine_readings(cores)
    log("machine readings: " + json.dumps(readings))
    t0 = time.time()
    input_dir = corpus.build(inputs, CORPUS[args.workload], args.seed, ROWS, cores)
    log(f"input {input_dir} ready in {time.time() - t0:.1f} s")
    deadline = time.time() + DEADLINE_S

    results = []
    if args.trace:
        reference = recorded_rows_per_s(args, cores)
        if reference is None:
            results.append(run_worker(args, input_dir, cores, deadline))
            reference = end_to_end(results[0], ROWS)["rows_per_s"]["value"]
        results.append(run_worker(args, input_dir, cores, deadline, trace=True))
        layer = dict(results[-1]["layers"])
        traced = end_to_end(results[-1], ROWS)["rows_per_s"]["value"]
        layer["trace.overhead_frac"] = 1 - traced / reference
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, *_ in LAYERS}
        log(f"{'per-layer metric':36} {'value':>14}  {'unit':6} {'moves':22} on")
        for name, unit, _better, moves, on in LAYERS:
            log(f"{name:36} {layer[name]:14.4f}  {unit:6} {moves:22} {on}")
    else:
        results.append(run_worker(args, input_dir, cores, deadline))
        metrics = end_to_end(results[0], ROWS)
        for name, m in metrics.items():
            log(f"{name:16} {m['value']:14.4f} {m['unit']}")

    calls = [c for r in results for c in r["calls"]]
    failed = sum(not c["ok"] for c in calls)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rows": ROWS,
        "cores": cores,
        "machine": readings,
        "results": results,
        "metrics": metrics,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh)
    log(f"attempted {len(calls)} failed {failed}; record {path}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(calls), "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
