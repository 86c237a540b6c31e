"""Dump .explain("formatted") for named __spark_entry__ queries to
plans/r06/<query>_<tag>.txt (judge evidence for plan-shape claims),
plus plans/r06/<query>_<tag>.stage<k>.txt for the k-th stage the query
localCheckpointed while it was built: the eager heavy ops run their
reused stages as separate jobs, so the final plan alone shows none of
their exchanges.

Usage: python tools/capture_plans.py <before|after> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


# Spark numbers exchanges (``[plan_id=7]``) and expression ids
# (``id#9L``) with session-wide counters, so one plan captured after
# different earlier queries differs in bytes; fixed tokens leave a byte
# diff of two captures to real plan changes
_PLAN_ID = re.compile(r"\[plan_id=\d+\]")
_EXPR_ID = re.compile(r"#\d+")


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def mask_ids(plan: str) -> str:
    """``plan`` with every session-wide counter written as ``N``."""
    return _EXPR_ID.sub("#N", _PLAN_ID.sub("[plan_id=N]", plan))


def explain_formatted(df) -> str:
    """The formatted plan of ``df`` as it is written to a file: ids
    masked (``mask_ids``)."""
    return mask_ids(_explain(df))


def record_plans(spark, build):
    """Run ``build()`` and return ``(stages, out)``: the formatted plan
    of every DataFrame localCheckpointed while it ran, in call order,
    and what ``build`` returned. The plans keep their expression ids,
    which tie an operator's output to the inputs that read it;
    ``mask_ids`` them before comparing captures. Wraps
    ``localCheckpoint`` on the session's concrete DataFrame class
    (Spark 4's classic class, not ``pyspark.sql.DataFrame``) and
    restores it afterwards."""
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    stages: list[str] = []

    def recording(self, *args, **kwargs):
        stages.append(_explain(self))
        return orig(self, *args, **kwargs)

    cls.localCheckpoint = recording
    try:
        out = build()
    finally:
        cls.localCheckpoint = orig
    return stages, out


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from grokspark.session import get_spark

    spark = get_spark(app_name="capture-plans", cores=8, shuffle_partitions=8)
    out_dir = REPO / "plans" / "r06"
    out_dir.mkdir(parents=True, exist_ok=True)
    qs = entry.queries()
    for name in names:
        stages, df = record_plans(spark, lambda: qs[name](spark, sf_dir))
        files = {f"{name}_{tag}.txt": explain_formatted(df)}
        for k, plan in enumerate(stages):
            files[f"{name}_{tag}.stage{k}.txt"] = mask_ids(plan)
        for fname, plan in files.items():
            (out_dir / fname).write_text(plan)
            print(f"wrote plans/r06/{fname} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
