"""The three workloads. Each takes a `Run` and returns its metrics:
``e2e`` (the end-to-end metrics, from the untraced loop) and ``layer``
(per-layer metrics, filled only when the run is traced).

Every timed operation materializes all of its output columns
(``toPandas`` for queries, the written part files for jobs); outputs
are checked against the oracles after the timed loops.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import gen
import tracing as tr

#: relational_mix: the reference-core, relational and TPC-H rows of the
#: repo's headline set (bench.py HEADLINE minus its dedup, similarity and
#: text_stats rows).
RELATIONAL = [
    "tokenize", "filter_regex", "partition_hash", "join_inner",
    "join_broadcast", "window_topk", "rollup_agg", "agg_window_tumbling",
    "sample_temperature", "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18",
]
#: llm_pipeline: one pass over a corpus snapshot, in this order.
PIPELINE = ["dedup_exact", "dedup_minhash", "dedup_cluster", "sim_topk_ivf", "sim_topk_bruteforce"]
#: Corpus snapshot size. A pass at this size took 14-18 s on 4 cores,
#: most of it fixed per-job cost, and its oracle check ~6 s; with the
#: warm-up that fills one run's time budget.
N_DOCS, N_VECS = 4000, 4000
POLL_S = 0.02
#: A job not COMPLETED this long after its POST counts as failed.
JOB_TIMEOUT_S = 120.0


class Run:
    """One benchmark run: arguments, scratch directory, tracer and the
    operation tally."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str, t_start: float) -> None:
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work, self.t_start = work, t_start
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = tr.Tracer()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {"inputs": {}}
        self.gen_s = 0.0  # input generation, excluded from setup_s

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, key: str, fn, *args, **kw):
        t = time.time()
        out = fn(*args, **kw)
        self.gen_s += time.time() - t
        self.info["inputs"][key] = {k: v for k, v in out.items() if k != "paths"}
        return out

    def setup_done(self) -> float:
        return time.time() - self.t_start - self.gen_s

    def tally(self, err: str | None, what: str) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {err}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


# ------------------------------------------------------------ Spark side

class SparkSide:
    """Registry load, session and warm-up in this process."""

    def __init__(self, run: Run) -> None:
        t = time.time()
        from dist_mapreduce_spark.plans import registry

        registry.load_all()
        self.registry_load_s = time.time() - t
        t = time.time()
        from dist_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.get_spark_s = time.time() - t
        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.counters = tr.SparkCounters(self.spark)
        sc = self.spark.sparkContext
        run.info["spark"] = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "java": sc._jvm.System.getProperty("java.version"),
        }

    def warm(self, names: list[str], data_dir: str) -> float:
        t = time.time()
        for name in names:
            self.queries[name](self.spark, data_dir).toPandas()
        return time.time() - t

    def query(self, run: Run, name: str, data_dir: str, traced: bool, trace_id: str) -> dict:
        """Build and fully materialize one query. Returns its output,
        build and exec seconds and, when traced, its Spark counters."""
        rec = {"name": name}
        fn = self.queries[name]
        t0 = time.time()
        try:
            if traced:
                before = self.counters.cached_plans()
                with self.counters.tagged(name) as tag, run.tracer.span(f"plans.{name}", trace=trace_id):
                    with run.tracer.span("build"):
                        df = fn(self.spark, data_dir)
                    t1 = time.time()
                    with run.tracer.span("exec"):
                        rec["out"] = df.toPandas()
                t2 = time.time()
                rec.update(self.counters.stats(tag, t0, t2))
                rec["cached_relations"] = self.counters.cached_plans() - before
            else:
                df = fn(self.spark, data_dir)
                t1 = time.time()
                rec["out"] = df.toPandas()
                t2 = time.time()
        except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            t1 = t2 = time.time()
        rec["build_s"], rec["exec_s"], rec["lat_s"] = t1 - t0, t2 - t1, t2 - t0
        return rec

    def scan_s(self, data_dir: str, tables: list[str]) -> float:
        """Noop-sink full-column scan of ``tables`` through load_table."""
        from dist_mapreduce_spark.sources.tables import load_table

        t = time.time()
        for name in tables:
            load_table(self.spark, data_dir, name).write.format("noop").mode("overwrite").save()
        return time.time() - t

    def setup_layer(self, warmup_s: float) -> dict:
        return {
            "session.get_spark_s": self.get_spark_s,
            "plans.registry_load_s": self.registry_load_s,
            "session.warmup_s": warmup_s,
        }


def _fitting(seconds: float, timed=None):
    """Yield once per round while the next round, if it takes as long as
    the last, still ends within ``seconds`` of measured time; always at
    least once. ``timed`` returns the measured time so far (default:
    wall time since the first round)."""
    t0 = time.time()
    timed = timed or (lambda: time.time() - t0)
    rounds = 0
    while rounds == 0 or timed() * (rounds + 1) / rounds <= seconds:
        yield rounds
        rounds += 1


def _check_queries(run: Run, side: SparkSide, recs: list[dict]) -> None:
    from oracle import Oracle  # imported late: DuckDB's import stays out of setup_s

    oracle = Oracle(side.oracles, run.path("duckdb-spill"), run.cpus)
    for rec in recs:
        err = rec.get("error")
        if err is None:
            err = oracle.check(rec["name"], rec["out"], rec["dir"], rec["sha"])
        run.tally(err, rec["name"])


def _per_query_layer(recs: list[dict], keys: list[str]) -> dict:
    """Per query: counters from its first traced execution (they repeat
    exactly for a seed), times as the median over executions."""
    out = {}
    for name in dict.fromkeys(r["name"] for r in recs):
        mine = [r for r in recs if r["name"] == name and "error" not in r]
        if not mine:
            continue
        for k in keys:
            if k.endswith("_s"):
                out[f"plans.{name}.{k}"] = _median([r[k] for r in mine])
            else:
                out[f"plans.{name}.{k}"] = mine[0][k]
    return out


# --------------------------------------------------------- relational_mix

def relational_mix(run: Run) -> dict:
    """Closed loop, one client: rounds of the 13 relational queries in a
    seeded order (each round a permutation, so the mix stays balanced)
    over seeded sf0.1 tables. The warm-up is one untimed round over the
    same tables: the first round at this scale ran ~25% slower than the
    next even after a warm-up at sf0.001."""
    data = run.path("sf0.1")
    run.generate("sf0.1", gen.relational_tables, run.seed, data)
    sha = gen.dir_sha(sorted(os.path.join(data, f) for f in os.listdir(data)))
    side = SparkSide(run)
    warmup_s = side.warm(RELATIONAL, data)
    setup_s = run.setup_done()

    def loop(traced: bool) -> tuple[list[dict], float]:
        # The traced loop has its own order, independent of how many
        # rounds the untraced loop ran.
        order = random.Random(2 * run.seed + traced)
        recs, t0 = [], time.time()
        for _ in _fitting(run.seconds):
            for name in order.sample(RELATIONAL, len(RELATIONAL)):
                rec = side.query(run, name, data, traced, f"{name}#{len(recs)}")
                rec["dir"], rec["sha"] = data, sha
                recs.append(rec)
        return recs, time.time() - t0

    layer = {}
    traced_recs: list[dict] = []
    recs, wall = loop(False)
    if run.traced:
        traced_recs, _ = loop(True)
    run.info["ops"] = [[r["name"], round(r["lat_s"], 3)] for r in recs]
    lat = [r["lat_s"] for r in recs if "error" not in r]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(lat) / wall,
        "latency_gmean_s": _gmean(lat),
    }
    if run.traced:
        tlat = [r["lat_s"] for r in traced_recs if "error" not in r]
        layer.update(side.setup_layer(warmup_s))
        layer.update(_per_query_layer(traced_recs, ["exec_s", "jobs", "shuffle_bytes", "driver_s"]))
        layer["sources.scan_s"] = side.scan_s(data, [f[:-8] for f in sorted(os.listdir(data))])
        layer["bench.tracing_overhead"] = _gmean(tlat) / _gmean(lat) - 1
        layer["bench.latency_p90_s"] = _p90(lat)
    _finish_spark(run, side, layer, recs + traced_recs)
    return {"e2e": e2e, "layer": layer}


def _finish_spark(run: Run, side: SparkSide, layer: dict, recs: list[dict]) -> None:
    if run.traced:
        n_rdds, layer["bench.retained_mb"] = tr.retained(side.spark)
        run.info["retained_rdds"] = n_rdds
    side.spark.stop()
    t = time.time()
    _check_queries(run, side, recs)
    run.info["check_s"] = time.time() - t


# ----------------------------------------------------------- llm_pipeline

def llm_pipeline(run: Run) -> dict:
    """Closed loop, one client: passes of dedup_exact -> dedup_minhash ->
    dedup_cluster -> sim_topk_ivf -> sim_topk_bruteforce, each pass over
    a fresh seeded corpus snapshot, until --seconds have been measured."""
    warm = run.path("warm")
    run.generate("warm", gen.corpus, run.seed, 0, warm, 300, 300)
    side = SparkSide(run)
    warmup_s = side.warm(PIPELINE, warm)
    setup_s = run.setup_done()

    def loop(traced: bool) -> tuple[list[dict], list[float]]:
        # Snapshots 1, 2, ... untraced and 1001, 1002, ... traced: every
        # pass reads a corpus no earlier pass has read.
        recs, passes = [], []
        for k in _fitting(run.seconds, timed=lambda: sum(passes)):
            k += 1001 if traced else 1
            snap = run.path(f"snap{k}")
            meta = run.generate(f"snap{k}", gen.corpus, run.seed, k, snap, N_DOCS, N_VECS)
            sha = meta["documents"]["sha"] + meta["embeddings"]["sha"]
            wall = 0.0
            for name in PIPELINE:
                rec = side.query(run, name, snap, traced, f"{name}@snap{k}")
                rec["dir"], rec["sha"], rec["pass"] = snap, sha, k
                recs.append(rec)
                wall += rec["lat_s"]
            passes.append(wall)
        return recs, passes

    layer = {}
    traced_recs: list[dict] = []
    recs, passes = loop(False)
    if run.traced:
        traced_recs, tpasses = loop(True)
    run.info["ops"] = [[r["name"], round(r["lat_s"], 3)] for r in recs]
    lat = [r["lat_s"] for r in recs if "error" not in r]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": N_DOCS * len(passes) / sum(passes),
        "latency_gmean_s": _gmean(lat),
    }
    if run.traced:
        first = min(r["pass"] for r in traced_recs)
        layer.update(side.setup_layer(warmup_s))
        layer.update(_per_query_layer(
            [r for r in traced_recs if r["pass"] == first],
            ["build_s", "exec_s", "jobs", "stages", "tasks", "shuffle_bytes",
             "spill_bytes", "task_s", "driver_s", "cached_relations"],
        ))
        dedup = sum(r["lat_s"] for r in traced_recs if r["name"].startswith("dedup_"))
        sim = sum(r["lat_s"] for r in traced_recs if r["name"].startswith("sim_"))
        layer["bench.docs_per_s"] = N_DOCS * len(tpasses) / dedup
        layer["bench.vectors_per_s"] = N_VECS * len(tpasses) / sim
        layer["sources.scan_s"] = side.scan_s(run.path(f"snap{first}"), ["documents", "embeddings"])
        layer["bench.tracing_overhead"] = (sum(tpasses) / len(tpasses)) / (sum(passes) / len(passes)) - 1
        layer["bench.latency_p90_s"] = _p90(lat)
    _finish_spark(run, side, layer, recs + traced_recs)
    return {"e2e": e2e, "layer": layer}


# ---------------------------------------------------------------- job_api

class Client:
    """HTTP client for the job server, one connection per request (the
    server speaks HTTP/1.0)."""

    def __init__(self, port: int, tracer: tr.Tracer | None) -> None:
        self.port, self.tracer = port, tracer
        self.post_s: list[float] = []
        self.get_s: list[float] = []
        self._lock = threading.Lock()

    def _call(self, method: str, path: str, body: dict | None = None) -> tuple[int, dict | str]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            data = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read().decode()
        finally:
            conn.close()
        try:
            return resp.status, json.loads(raw)
        except json.JSONDecodeError:
            return resp.status, raw

    def _timed(self, kind: str, sink: list, method: str, path: str, body=None):
        t = time.time()
        if self.tracer is not None:
            with self.tracer.span(kind):
                out = self._call(method, path, body)
        else:
            out = self._call(method, path, body)
        with self._lock:
            sink.append(time.time() - t)
        return out

    def job(self, files: list[str], n_reduce: int, due: float) -> dict:
        """POST one job at (or after) ``due``, then poll until it is
        COMPLETED or FAILED. Times are relative to ``due``."""
        rec = {"files": files, "due": due, "polls": 0}
        span = self.tracer.span("job", trace=f"job@{due:.3f}") if self.tracer else nullcontext()
        with span:
            code, body = self._timed("http_api.post", self.post_s, "POST", "/jobs",
                                     {"files": files, "nReduce": n_reduce})
            rec["posted"] = time.time()
            if code != 200:
                rec["error"] = f"POST {code}: {body}"
                return rec
            rec["id"] = body["id"]
            deadline = rec["posted"] + JOB_TIMEOUT_S
            while time.time() < deadline:
                code, st = self._timed("http_api.get", self.get_s, "GET", f"/jobs/{rec['id']}")
                rec["polls"] += 1
                now = time.time()
                status = st.get("status") if code == 200 else None
                if status in ("RUNNING", "COMPLETED", "FAILED") and "running" not in rec:
                    rec["running"] = now
                if status == "COMPLETED":
                    rec["done"] = now
                    return rec
                if status == "FAILED" or code != 200:
                    rec["error"] = f"job {rec['id']} {status or code}"
                    return rec
                time.sleep(POLL_S)
            rec["error"] = f"job {rec['id']} timed out"
        return rec


def _open_loop(client: Client, specs: gen.JobSpecs, offsets: list[float]) -> tuple[list[dict], list[float]]:
    """Send one job at each offset (seconds from now), whether or not
    earlier jobs have finished."""
    specs = [specs.next() for _ in offsets]
    lags, futs = [], []
    with ThreadPoolExecutor(max_workers=64) as pool:
        t0 = time.time() + 0.05
        for off, (files, n_reduce) in zip(offsets, specs):
            due = t0 + off
            time.sleep(max(0.0, due - time.time()))
            lags.append(time.time() - due)
            futs.append((pool.submit(client.job, files, n_reduce, due), n_reduce))
        recs = []
        for f, n_reduce in futs:
            rec = f.result()
            rec["n_reduce"] = n_reduce
            recs.append(rec)
    return recs, lags


def _closed_loop(client: Client, specs: gen.JobSpecs, clients: int, seconds: float) -> tuple[list[dict], float]:
    """``clients`` callers, each posting its next job when the last one
    completes, until ``seconds`` have passed."""
    lock = threading.Lock()
    recs: list[dict] = []
    t0 = time.time()

    def caller():
        while time.time() - t0 < seconds:
            files, n_reduce = specs.next()
            rec = client.job(files, n_reduce, time.time())
            rec["n_reduce"] = n_reduce
            with lock:
                recs.append(rec)

    threads = [threading.Thread(target=caller) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return recs, time.time() - t0


class JobServer:
    """The server child process; `stop` ends it, also on failure."""

    def __init__(self, run: Run) -> None:
        self.log = open(run.path("server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "server.py"),
             "--out", run.path("out")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.stop()
            raise RuntimeError("job server exited before it was ready (see server.log)")
        self.ready = json.loads(line)

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=60)  # it waits up to 30 s for its JVM
            except (subprocess.TimeoutExpired, OSError):
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def job_api(run: Run) -> dict:
    """``ApiServer`` + ``JobRunner`` in a child process, driven over
    loopback: an open-loop phase of seeded Poisson POSTs (latency from
    each job's scheduled send time to the GET that first shows
    COMPLETED), then a closed-loop phase with nproc clients."""
    inputs = run.generate("jobs", gen.job_inputs, run.seed, run.path("jobs"))
    os.makedirs(run.path("out"))
    offsets = gen.arrivals(run.seed, run.seconds)
    server = JobServer(run)
    try:
        run.info["spark"] = {k: v for k, v in server.ready.items() if k != "port"}
        # Warm-up: the open loop's own load for --seconds / 2, on its own
        # spec stream and arrivals, so the measured open loop starts from
        # the state its load keeps the server in. Right after a burst of
        # warm-up jobs the next ~5 s of jobs ran up to 2x slower.
        t = time.time()
        warm, _ = _open_loop(Client(server.ready["port"], None),
                             gen.JobSpecs(run.seed, 1, inputs["paths"]),
                             gen.arrivals(run.seed + 1, run.seconds / 2))
        failed = [r["error"] for r in warm if "error" in r]
        if failed:
            raise RuntimeError(f"warm-up job failed: {failed[0]}")
        warmup_s = time.time() - t
        setup_s = run.setup_done()

        def phases(tracer):
            # Both phases of the traced and the untraced run draw the
            # same spec stream.
            client = Client(server.ready["port"], tracer)
            specs = gen.JobSpecs(run.seed, 0, inputs["paths"])
            open_recs, lags = _open_loop(client, specs, offsets)
            closed_recs, wall = _closed_loop(client, specs, run.cpus, run.seconds / 2)
            return client, open_recs, lags, closed_recs, wall

        client, open_recs, lags, closed_recs, wall = phases(None)
        if run.traced:
            t_client, t_open, t_lags, t_closed, _ = phases(run.tracer)
        run.info["ops"] = [[len(r["files"]), r["n_reduce"], round(r.get("done", 0) - r["due"], 3)]
                           for r in open_recs]
    finally:
        server.stop()
    all_recs = open_recs + closed_recs + (t_open + t_closed if run.traced else [])
    t = time.time()
    _check_jobs(run, all_recs)
    run.info["check_s"] = time.time() - t
    ok = [r for r in open_recs if "done" in r]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": sum("done" in r for r in closed_recs) / wall,
        "latency_gmean_s": _gmean([r["done"] - r["due"] for r in ok]),
    }
    layer = {}
    if run.traced:
        t_ok = [r for r in t_open + t_closed if "done" in r]
        layer.update({
            "session.get_spark_s": server.ready["get_spark_s"],
            "plans.registry_load_s": 0.0,
            "session.warmup_s": warmup_s,
            "http_api.post_s": _median(t_client.post_s),
            "http_api.get_s": _median(t_client.get_s),
            "http_api.polls_per_job": statistics.mean(r["polls"] for r in t_ok),
            "api.queue_s": _median([r["running"] - r["posted"] for r in t_ok]),
            "api.run_s": _median([r["done"] - r["running"] for r in t_ok]),
            "bench.generator_lag_p90_s": _p90(t_lags),
            "bench.latency_p90_s": _p90([r["done"] - r["due"] for r in ok]),
            "bench.tracing_overhead": _gmean([r["done"] - r["due"] for r in t_open if "done" in r])
            / e2e["latency_gmean_s"] - 1,
        })
        layer.update(_replay(run, [r for r in t_open if "done" in r], inputs))
    return {"e2e": e2e, "layer": layer}


def _check_jobs(run: Run, recs: list[dict]) -> None:
    """Check each job's output in the directory the server recorded for
    its id."""
    from oracle import WordCounts

    try:
        with open(run.path("out", "index.json")) as f:
            dirs = json.load(f)
    except (OSError, json.JSONDecodeError):
        dirs = {}
    counts = WordCounts()
    for rec in recs:
        err = rec.get("error")
        if err is None:
            out = dirs.get(str(rec["id"]))
            err = "no output directory recorded" if out is None else counts.check(rec["files"], out)
        run.tally(err, f"job {rec.get('id')}")


def _replay(run: Run, recs: list[dict], inputs: dict) -> dict:
    """Replay the traced open-loop jobs serially in this process through
    read_text_files -> word_count -> write_sorted_text, with spans and
    Spark counters per job (means per job)."""
    from oracle import WordCounts

    from dist_mapreduce_spark.operators.wordcount import word_count, write_sorted_text
    from dist_mapreduce_spark.session import get_spark
    from dist_mapreduce_spark.sources.tables import read_text_files

    spark = get_spark("perfbench-replay")
    expected = WordCounts()
    if recs:  # warm the fresh session on the first job, untimed
        first = recs[0]
        write_sorted_text(word_count(read_text_files(spark, first["files"])),
                          run.path("replay", "warm"), n_partitions=first["n_reduce"])
    counters = tr.SparkCounters(spark)
    tracer = run.tracer
    sums = dict.fromkeys(["read", "count", "write", "jobs", "shuffle_bytes", "output_bytes"], 0.0)
    try:
        for i, rec in enumerate(recs):
            out = run.path("replay", str(i))
            with counters.tagged("replay") as tag, tracer.span("replay", trace=f"replay#{i}"):
                t0 = time.time()
                with tracer.span("sources.read_text_files"):
                    docs = read_text_files(spark, rec["files"])
                t1 = time.time()
                with tracer.span("operators.word_count"):
                    counts = word_count(docs)
                t2 = time.time()
                with tracer.span("operators.write_sorted_text"):
                    write_sorted_text(counts, out, n_partitions=rec["n_reduce"])
                t3 = time.time()
            st = counters.stats(tag, t0, t3)
            sums["read"] += t1 - t0
            sums["count"] += t2 - t1
            sums["write"] += t3 - t2
            for k in ("jobs", "shuffle_bytes", "output_bytes"):
                sums[k] += st[k]
            run.tally(expected.check(rec["files"], out), f"replay {i}")
        t = time.time()
        read_text_files(spark, inputs["paths"]).write.format("noop").mode("overwrite").save()
        scan_s = time.time() - t
    finally:
        spark.stop()
    n = max(len(recs), 1)
    return {
        "sources.read_text_files_s": sums["read"] / n,
        "operators.word_count_s": sums["count"] / n,
        "operators.write_sorted_text_s": sums["write"] / n,
        "operators.jobs": sums["jobs"] / n,
        "operators.shuffle_bytes": sums["shuffle_bytes"] / n,
        "operators.output_bytes": sums["output_bytes"] / n,
        "sources.scan_s": scan_s,
    }


WORKLOADS = {"relational_mix": relational_mix, "llm_pipeline": llm_pipeline, "job_api": job_api}
