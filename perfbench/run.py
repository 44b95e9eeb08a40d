"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repo root. Workloads: relational_mix, llm_pipeline,
job_api (see perfbench/README.md). Prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
The line before it, prefixed ``# info``, records the environment and
the generated inputs' sizes and checksums. Spans of a traced run are
written to ``.perfbench_out/``.

All scratch data lives in ``.perfbench_work/`` under the repo root and
is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def pin_env(work: str) -> dict:
    """Pin the environment the program sees and return what was set."""
    cpus = len(os.sched_getaffinity(0))
    unset = {k: os.environ.pop(k, None) for k in ("SPARK_GRAFT_ASSIGN", "SPARK_GRAFT_MATERIALIZE")}
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    for d in (pinned["SPARK_LOCAL_DIRS"], pinned["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return {"set": pinned, "unset_before": unset}


def steal_s() -> float:
    """CPU time the hypervisor has taken from the benchmark's VM so far (all CPUs);
    its growth over a run shows interference from other tenants."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def versions() -> dict:
    import duckdb
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__, "duckdb": duckdb.__version__}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind so the finally blocks stop the job server and
    # remove the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "dist_mapreduce_spark", "__init__.py")):
        print("perfbench: run from the repo root; dist_mapreduce_spark/ not found", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import dist_mapreduce_spark

    if not os.path.abspath(dist_mapreduce_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {dist_mapreduce_spark.__file__}, not the checkout's", file=sys.stderr)
        return 2

    import procs

    procs.become_subreaper()
    steal0 = steal_s()
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)  # every run starts from the same state
    os.makedirs(work)
    try:
        env = pin_env(work)
        import workloads

        run = workloads.Run(args.seed, args.seconds, bool(args.trace), work, T_START)
        out = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        # Every process this run started has ended before it exits; a
        # SIGTERM now would cut that short.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs.stop_jvm()
        killed = procs.reap_all()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # A layer this workload does not exercise did no work: 0.
        metrics = {m["name"]: {"value": float(out["layer"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(out["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": env, "versions": versions(), **run.info, "gen_s": run.gen_s,
        "wall_s": time.time() - T_START, "steal_s": steal_s() - steal0, "killed": killed, "errors": run.errors,
    }
    print("# info " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
