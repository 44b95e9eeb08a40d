"""Streaming plan audit (round-11 verdict item #5): run every
``stream_*`` registered query and report the micro-batch EXECUTED
plans the run actually produced — the 16 rows docs/EXPLAIN.md had to
exclude while plans "exist only inside an active StreamingQuery".

Every stream driver in the repo appends (label, plan) to
``streaming.windows.STREAM_PLAN_LOG`` after ``processAllAvailable()``
(explainInternal of the last incremental execution, plus per-batch
plans captured inside foreachBatch sinks where the wrapper's explain
stops at the sink boundary). This tool drains that log per query and
prints one row per captured plan with the SAME metric extraction as
tools/explain_audit.py, so the columns mean one thing across batch
and stream.

Usage: python tools/stream_explain.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from explain_audit import parse_plan  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from query_names import known_queries

    qs = known_queries(only)

    from dist_mapreduce_spark.session import get_spark
    from dist_mapreduce_spark.streaming.windows import STREAM_PLAN_LOG

    spark = get_spark("stream_explain")
    for name, fn in qs.items():
        if not name.startswith("stream_"):
            continue
        if only and name not in only:
            continue
        STREAM_PLAN_LOG.clear()
        try:
            fn(spark, sf_dir).collect()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {ex}")
            continue
        if not STREAM_PLAN_LOG:
            print(f"{name}: ERROR no plan captured")
            continue
        for label, plan in STREAM_PLAN_LOG:
            info = parse_plan(name, plan)
            tag = f"{name}[{label}]" if label != name else name
            print(
                f"{tag:34s} shuffles={info['shuffles']} "
                f"bcast={info['broadcast_joins']} "
                f"smj={info['sortmerge_joins']} "
                f"codegen={info['codegen_spans']} "
                f"py={info['python_stages']} "
                f"scans={info['scan_cols']}"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
