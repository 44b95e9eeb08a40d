"""Dump `.explain("formatted")` for named queries to plans/<outdir>/.

Usage:
    python tools/dump_plans.py <sf_dir> <outdir> <tag> <query> [query ...]

Writes plans/<outdir>/<query>_<tag>.txt for each query. The frame is
CONSTRUCTED (which for iterative queries runs the driver loop) but not
executed; the dump is the final frame's formatted physical plan — the
same capture protocol the round-15 plans/r15/ evidence used.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir, outdir, tag, *names = sys.argv[1:]
    from query_names import known_queries

    qs = known_queries(names)
    from dist_mapreduce_spark.session import get_spark

    spark = get_spark("dump_plans")
    utils = spark.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        outdir,
    )
    os.makedirs(root, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = utils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(root, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_ex = txt.count("Exchange")
        n_scan = txt.count("Scan parquet") + txt.count("Scan ExistingRDD")
        print(f"{name}: {n_ex} Exchange, {n_scan} scans -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
