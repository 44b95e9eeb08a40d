"""The job_api server process: ``ApiServer`` over ``JobRunner`` on its
own Spark session, writing job outputs under ``--out``.

Prints one JSON line when it is ready (port, set-up timings, effective
master and parallelism), then serves until its stdin closes. On the way
out it writes ``<out>/index.json``, which maps each job id to its
output directory.

Run: python3 perfbench/server.py --out DIR   (from the repo root)
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

T0 = time.time()
sys.path.insert(0, os.getcwd())

from dist_mapreduce_spark.api import JobRunner  # noqa: E402
from dist_mapreduce_spark.http_api import ApiServer  # noqa: E402
from dist_mapreduce_spark.session import get_spark  # noqa: E402
from procs import stop_jvm  # noqa: E402

T_IMPORT = time.time() - T0


class OutputRootRunner(JobRunner):
    """Writes each job's output to ``<root>/out-<n>``, numbered by its own
    counter, instead of the default ``/tmp/mr-out-<id>``, through
    ``submit_job``'s own ``output_dir`` parameter. ``dirs`` maps job
    ids to those directories."""

    def __init__(self, spark, root: str) -> None:
        super().__init__(spark)
        self.root = root
        self.dirs: dict[int, str] = {}
        self._n = itertools.count(1)

    def submit_job(self, files, n_reduce=None, output_dir=None) -> int:
        out = output_dir or os.path.join(self.root, f"out-{next(self._n)}")
        job_id = super().submit_job(files, n_reduce, out)
        self.dirs[job_id] = out
        return job_id


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t = time.time()
    spark = get_spark("perfbench-job-api")
    t_spark = time.time() - t
    runner = OutputRootRunner(spark, args.out)
    server = ApiServer(runner).start()
    ready = {
        "port": server.port,
        "import_s": T_IMPORT,
        "get_spark_s": t_spark,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    print(json.dumps(ready), flush=True)
    try:
        sys.stdin.read()
    finally:
        with open(os.path.join(args.out, "index.json"), "w") as f:
            json.dump(runner.dirs, f)
        server.stop()
        stop_jvm()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
