"""Command-line face: compile, match, and run the pipeline.

  python -m grokspark compile '%{HTTPD_COMBINEDLOG}' [--alias-only]
  python -m grokspark match '%{IPV4:ip} .*' 'text to match'
  python -m grokspark check                      # compile all builtins
  python -m grokspark pipeline --input DIR --out DIR [--range-units K]
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_compile(args) -> int:
    from grokspark import GrokRegistry

    reg = GrokRegistry.with_default_patterns()
    p = reg.compile(args.expr, with_alias_only=args.alias_only)
    out = {
        "regex": p.regex_src,
        "capture_names": p.capture_names,
        "extracts": p.extracts,
    }
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


def cmd_match(args) -> int:
    from grokspark import GrokRegistry

    reg = GrokRegistry.with_default_patterns()
    p = reg.compile(args.expr, with_alias_only=args.alias_only)
    m = p.match_against(args.text)
    json.dump(m, sys.stdout, indent=1)
    print()
    return 0 if m is not None else 1


def cmd_check(args) -> int:
    from grokspark import GrokRegistry

    reg = GrokRegistry.with_default_patterns()
    errors = []
    for name in reg.patterns:
        try:
            reg.compile("%{" + name + "}")
        except Exception as e:  # noqa: BLE001
            errors.append((name, str(e)))
    print(f"{len(reg.patterns) - len(errors)}/{len(reg.patterns)} builtin patterns compile")
    for name, err in errors:
        print(f"  FAIL {name}: {err}")
    return 1 if errors else 0


def cmd_pipeline(args) -> int:
    from grokspark.pipeline import GrokPipeline, PipelineConfig
    from grokspark.session import get_spark
    from grokspark.sources import read_sequences

    spark = get_spark(app_name="grokspark-pipeline", cores=args.cores)
    seq = read_sequences(spark, args.input)
    cfg = PipelineConfig(
        out_dir=args.out,
        range_units=args.range_units,
        resume=not args.no_resume,
        salt_buckets=args.salt_buckets,
    )
    result = GrokPipeline(spark, cfg).run(seq)
    json.dump(
        {
            "rows_in": result.rows_in,
            "unroutable": result.unroutable_count,
            "sink_counts": result.sink_counts,
            "skipped_units": result.skipped_units,
            "elapsed_sec": round(result.elapsed_sec, 2),
        },
        sys.stdout,
        indent=1,
    )
    print()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="grokspark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compile", help="compile a grok expression to its regex IR")
    c.add_argument("expr")
    c.add_argument("--alias-only", action="store_true")
    c.set_defaults(fn=cmd_compile)

    m = sub.add_parser("match", help="match text against a grok expression")
    m.add_argument("expr")
    m.add_argument("text")
    m.add_argument("--alias-only", action="store_true")
    m.set_defaults(fn=cmd_match)

    k = sub.add_parser("check", help="compile every builtin pattern")
    k.set_defaults(fn=cmd_check)

    p = sub.add_parser("pipeline", help="run the parse->enrich->route->aggregate job")
    p.add_argument("--input", required=True, help="sequences parquet dir")
    p.add_argument("--out", required=True, help="output dir (sinks + manifest)")
    p.add_argument(
        "--range-units",
        type=int,
        default=None,
        help="unit = input file-range: K ranges, one total scan, "
        "per-range resume (default: one unit over the whole input)",
    )
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--salt-buckets", type=int, default=None)
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_pipeline)

    args = ap.parse_args(argv)
    from grokspark import GrokError, GrokPatternError

    try:
        return args.fn(args)
    except (GrokError, GrokPatternError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
