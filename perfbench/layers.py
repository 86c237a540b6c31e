"""Per-layer measurement from outside the program.

- ``/proc`` readers for the CPU time and peak resident memory of a
  process tree (driver Python, the JVM it launches and the JVM's Python
  workers); ``psutil`` is not available.
- A Spark event-log reader that turns task metrics and SQL metrics into
  per-call layer numbers. Jobs, tasks and SQL executions are attributed
  to a call by time window: the benchmark runs one call at a time and
  runs no Spark job of its own in between.
- ``LAYERS``: every per-layer metric, with the end-to-end metric it
  should move and the workload that shows it (the workload in brackets
  should show no change). "sink pass" is the ``GrokPipeline.run`` pass
  that every traced run makes after its timed calls: the sink path has
  no end-to-end workload of its own (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

# name, unit, better, moves end-to-end metric, on workload (no change on)
LAYERS = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("compiler.compile_s", "s", "lower", "setup_s", "all"),
    ("compiler.search_us_per_row", "us", "lower", "cpu_s_per_mrow", "route_nomatch (route_counts)"),
    ("compiler.match_ratio", "frac", "higher", "context", "route_nomatch"),
    ("udfs.arrow_kernel_us_per_row", "us", "lower", "cpu_s_per_mrow", "route_counts (sink pass)"),
    ("udfs.router_us_per_row", "us", "lower", "pipeline.sink_call_s", "sink pass (route_counts)"),
    ("udfs.arrow_in_bytes_per_row", "B", "lower", "rows_per_s", "route_counts"),
    ("udfs.arrow_out_bytes_per_row", "B", "lower", "rows_per_s", "route_counts"),
    ("udfs.python_run_s_per_mrow", "s", "lower", "cpu_s_per_mrow", "route_counts, route_nomatch"),
    ("udfs.worker_boot_s", "s", "lower", "pipeline.first_call_s", "route_counts, route_nomatch"),
    ("udfs.worker_init_s", "s", "lower", "setup_s", "route_counts, route_nomatch"),
    ("pipeline.call_s", "s", "lower", "rows_per_s", "all"),
    ("pipeline.first_call_s", "s", "lower", "rows_per_s", "all"),
    ("pipeline.executor_cpu_s_per_mrow", "s", "lower", "cpu_s_per_mrow", "all"),
    ("pipeline.executor_run_s_per_mrow", "s", "lower", "cpu_s_per_mrow", "all"),
    ("pipeline.core_busy_frac", "frac", "higher", "rows_per_s", "route_counts"),
    ("pipeline.task_skew", "ratio", "lower", "rows_per_s", "route_counts"),
    ("pipeline.scan_bytes_per_row", "B", "lower", "rows_per_s", "all"),
    ("pipeline.shuffle_write_bytes_per_row", "B", "lower", "rows_per_s", "route_counts"),
    ("pipeline.shuffle_records_per_row", "count", "lower", "rows_per_s", "route_counts"),
    ("pipeline.sink_call_s", "s", "lower", "context", "sink pass"),
    ("pipeline.write_job_s", "s", "lower", "pipeline.sink_call_s", "sink pass"),
    ("pipeline.reread_job_s", "s", "lower", "pipeline.sink_call_s", "sink pass"),
    ("pipeline.deadletter_job_s", "s", "lower", "pipeline.sink_call_s", "sink pass"),
    ("pipeline.sink_bytes_per_row", "B", "lower", "pipeline.sink_call_s", "sink pass"),
    ("pipeline.spill_bytes", "B", "lower", "peak_rss_mb", "sink pass"),
    ("pipeline.task_failures", "count", "lower", "failed ops", "all"),
    ("trace.overhead_frac", "frac", "lower", "context", "all"),
]

# measured on the traced run's sink pass, not on the timed calls
SINK_LAYERS = (
    "pipeline.write_job_s",
    "pipeline.reread_job_s",
    "pipeline.deadletter_job_s",
    "pipeline.sink_bytes_per_row",
    "pipeline.spill_bytes",
)

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: str):
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        data = fh.read()
    # the command name may contain spaces and parentheses
    return data[data.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            children[int(_stat_fields(entry)[1])].append(int(entry))
        except (OSError, IndexError, ValueError):
            continue  # exited while we read it
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children that
    members of the tree have already reaped."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(str(pid))
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int) -> dict:
    """Peak resident set (VmHWM) of each live tree member, in MB, keyed
    by ``<pid>:<command>``; their sum is the tree's peak."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[f"{pid}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metrics of the Python nodes; the timing ones are in milliseconds
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"
PY_BOOT_MS = "time to start Python workers"
PY_INIT_MS = "time to initialize Python workers"
_PY_METRICS = (PY_SENT, PY_RETURNED, PY_RUN_MS, PY_BOOT_MS, PY_INIT_MS)

_LOCATION = re.compile(r"InMemoryFileIndex[^\[]*\[([^\]]*)\]")


def _sql_kind(plan: str) -> str:
    """Which part of ``GrokPipeline.run`` a SQL execution belongs to."""
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "deadletter" if "/_staging/unroutable" in plan else "write"
    locations = " ".join(_LOCATION.findall(plan))
    if locations.rstrip().endswith("/unroutable"):
        return "deadletter"
    if locations.rstrip().endswith("/sinks"):
        return "reread"
    return "query"


FILES_READ = "size of files read"  # driver-side metric of a file scan


def _metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _metric_names(child, out)


def read_event_log(path: str) -> dict:
    """Every finished task, every SQL execution (its wall window, which
    part of the pipeline it is and the bytes its file scans read), and
    the count of failed jobs, from one uncompressed Spark event log."""
    tasks, sqls, failed_jobs = [], {}, 0
    names: dict = {}  # SQL metric accumulator id -> name
    driver_updates: dict = defaultdict(list)  # execution id -> (id, value)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:
                _metric_names(e["sparkPlanInfo"], names)
            if kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                py = {name: 0 for name in _PY_METRICS}
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") in py:
                        py[acc["Name"]] += int(acc.get("Update") or 0)
                shuffle_w = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "launch_ms": info["Launch Time"],
                        "stage": e["Stage ID"],
                        "ok": e["Task End Reason"]["Reason"] == "Success",
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "shuffle_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
                        "shuffle_records": shuffle_w.get("Shuffle Records Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        **py,
                    }
                )
            elif kind.endswith("SQLExecutionStart"):
                sqls[e["executionId"]] = {
                    "start_ms": e["time"],
                    "end_ms": e["time"],
                    "kind": _sql_kind(e.get("physicalPlanDescription", "")),
                }
            elif kind.endswith("SQLExecutionEnd") and e["executionId"] in sqls:
                sqls[e["executionId"]]["end_ms"] = e["time"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates[e["executionId"]].extend(e["accumUpdates"])
            elif kind == "SparkListenerJobEnd":
                failed_jobs += e["Job Result"]["Result"] != "JobSucceeded"
    for exec_id, sql in sqls.items():
        sql["files_read"] = sum(
            v for acc, v in driver_updates.get(exec_id, ()) if names.get(acc) == FILES_READ
        )
    return {"tasks": tasks, "sqls": list(sqls.values()), "failed_jobs": failed_jobs}


def _in_call(ms: float, call: dict) -> bool:
    # Python and the JVM read the same wall clock; allow for ms rounding
    return call["t0"] * 1000 - 2 <= ms <= call["t1"] * 1000 + 2


def call_layers(log: dict, call: dict, rows: int, cores: int) -> dict:
    """Event-log layer numbers for one public call over ``rows`` rows."""
    tasks = [t for t in log["tasks"] if _in_call(t["launch_ms"], call)]
    wall = call["t1"] - call["t0"]
    total = lambda key: sum(t[key] for t in tasks)  # noqa: E731
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skew = 0.0
    if by_stage:
        runs = max(by_stage.values(), key=sum)
        skew = max(runs) / max(statistics.median(runs), 1)
    job_s = defaultdict(float)
    files_read = 0
    for s in log["sqls"]:
        if _in_call(s["start_ms"], call):
            job_s[s["kind"]] += (s["end_ms"] - s["start_ms"]) / 1000
            files_read += s["files_read"]
    mrows = rows / 1e6
    return {
        "udfs.arrow_in_bytes_per_row": total(PY_SENT) / rows,
        "udfs.arrow_out_bytes_per_row": total(PY_RETURNED) / rows,
        "udfs.python_run_s_per_mrow": total(PY_RUN_MS) / 1000 / mrows,
        "udfs.worker_boot_s": total(PY_BOOT_MS) / 1000,
        "udfs.worker_init_s": total(PY_INIT_MS) / 1000,
        "pipeline.executor_cpu_s_per_mrow": total("cpu_ns") / 1e9 / mrows,
        "pipeline.executor_run_s_per_mrow": total("run_ms") / 1000 / mrows,
        "pipeline.core_busy_frac": total("run_ms") / 1000 / (wall * cores),
        "pipeline.task_skew": skew,
        "pipeline.scan_bytes_per_row": files_read / rows,
        "pipeline.shuffle_write_bytes_per_row": total("shuffle_bytes") / rows,
        "pipeline.shuffle_records_per_row": total("shuffle_records") / rows,
        "pipeline.write_job_s": job_s["write"],
        "pipeline.reread_job_s": job_s["reread"],
        "pipeline.deadletter_job_s": job_s["deadletter"],
        "pipeline.sink_bytes_per_row": total("out_bytes") / rows,
        "pipeline.spill_bytes": float(total("spill")),
    }


def run_layers(log: dict, calls: list[dict], rows: int, cores: int) -> dict:
    """Median over ``calls`` of each per-call layer number, plus the
    failed tasks and jobs of the whole run."""
    per_call = [call_layers(log, c, rows, cores) for c in calls]
    out = {k: statistics.median(p[k] for p in per_call) for k in per_call[0]}
    out["pipeline.task_failures"] = float(
        sum(not t["ok"] for t in log["tasks"]) + log["failed_jobs"]
    )
    return out
