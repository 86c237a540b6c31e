"""Paired A/B runs of the perfbench workloads across two checkouts.

Usage:
    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR
        [--workloads W ...] [--seeds 101 102 ...] [--trace 0] [--json OUT]

Runs one pair per seed (default 101-110) and workload (default: every
workload in ``BENCHMARK.json``). A pair runs ``perfbench/run.py`` once
in each checkout on that seed for the benchmark's ``run_seconds``, one
run at a time. The order alternates per pair (parent first, then change
first), so a slow drift of the machine lands on both sides. A run that exits non-zero,
reports ``correct: false`` or any failed op stops the comparison:
its numbers measure a broken program.

Prints, per workload and metric, each side's median and interquartile
range, the change/parent ratio of the medians and the number of pairs
the change won (direction from ``BENCHMARK.json``), then every pair's
values. ``--json`` also writes the raw per-run metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} exited {proc.returncode}")
    out = json.loads(lines[-1])
    if not out["correct"] or out["failed"]:
        raise SystemExit(
            f"{checkout}: {workload} seed {seed} reported correct={out['correct']} "
            f"failed={out['failed']} of {out['attempted']}; refusing the comparison"
        )
    metrics = {name: m["value"] for name, m in out["metrics"].items()}
    log(f"  {os.path.basename(os.path.normpath(checkout)):>12} {workload} seed {seed}: "
        f"{time.time() - t0:.0f} s, rows_per_s={metrics.get('rows_per_s', float('nan')):.0f}")
    return metrics


def fmt(v: float) -> str:
    return f"{v:.0f}" if abs(v) >= 1000 else f"{v:.4g}"


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def load_spec(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def report(workload: str, pairs: list[dict], better: dict[str, str]) -> None:
    print(f"\n{workload}: {len(pairs)} pairs")
    print(f"{'metric':36} {'parent med [IQR]':>26} {'change med [IQR]':>26} {'ratio':>7} wins")
    for name in pairs[0]["parent"]:
        p = [pr["parent"][name] for pr in pairs]
        c = [pr["change"][name] for pr in pairs]
        p1, pm, p3 = quartiles(p)
        c1, cm, c3 = quartiles(c)
        up = better.get(name, "higher") == "higher"
        wins = sum((b > a) if up else (b < a) for a, b in zip(p, c))
        ratio = cm / pm if pm else float("nan")
        print(f"{name:36} {fmt(pm):>10} [{fmt(p1)}-{fmt(p3)}] {fmt(cm):>10} "
              f"[{fmt(c1)}-{fmt(c3)}] {ratio:7.3f} {wins}/{len(pairs)}")
    print("per pair (seed: parent / change):")
    for name in pairs[0]["parent"]:
        cells = ", ".join(
            f"{pr['seed']} {fmt(pr['parent'][name])}/{fmt(pr['change'][name])}" for pr in pairs
        )
        print(f"  {name}: {cells}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", nargs="+", help="default: all in BENCHMARK.json")
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(101, 111)),
                    help="one pair per seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write the raw per-run metrics here")
    args = ap.parse_args(argv)

    for d in (args.parent, args.change):
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    spec = load_spec(args.change)
    seconds = spec["run_seconds"]
    if load_spec(args.parent).get("run_seconds") != seconds:
        ap.error("the two checkouts' BENCHMARK.json differ in run_seconds")
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    results: dict[str, list[dict]] = {}
    for workload in args.workloads or [w["name"] for w in spec["workloads"]]:
        pairs = results.setdefault(workload, [])
        for k, seed in enumerate(args.seeds):
            log(f"{workload} pair {k + 1}/{len(args.seeds)}, seed {seed}")
            order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                pair[side] = run_once(checkout, workload, seed, seconds, args.trace)
            pairs.append(pair)
        report(workload, pairs, better)
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(results, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
