"""Job façade lifecycle (SURVEY.md §2.13) + source/sink roundtrips
(§2.1: the connector surface the reference lacks — parquet, csv, json,
text — all built into Spark)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _default_outputs_in_tmp_path(monkeypatch, tmp_path):
    """JobRunner's default output root (a mkdtemp) lands under the
    test's tmp_path, so tests that submit without output_dir leave
    nothing in the system temp dir."""
    mkdtemp = tempfile.mkdtemp

    def in_tmp_path(prefix=None):
        return mkdtemp(prefix=prefix, dir=tmp_path)

    monkeypatch.setattr(tempfile, "mkdtemp", in_tmp_path)


@pytest.fixture()
def corpus(tmp_path):
    # The reference's demo corpus as real text files
    # (/root/reference/data/input/test{1,2,3}.txt).
    (tmp_path / "test1.txt").write_text("Hello world hello")
    (tmp_path / "test2.txt").write_text("World map reduce")
    (tmp_path / "test3.txt").write_text("New job test")
    return tmp_path


def test_job_lifecycle(spark, corpus, tmp_path):
    from dist_mapreduce_spark.api import COMPLETED, JobRunner

    runner = JobRunner(spark)
    job_id = runner.submit_job(
        [str(corpus / f"test{i}.txt") for i in (1, 2, 3)],
        n_reduce=2,
        output_dir=str(tmp_path / "out"),
    )
    st = runner.wait(job_id)
    assert st["status"] == COMPLETED and st["files_count"] == 3
    lines = sorted(r["value"] for r in spark.read.text(st["output_dir"]).collect())
    # Golden from FIXTURES.md §1.1 (case-sensitive counts, all 1).
    assert lines == sorted(
        f"{w} 1" for w in
        ["Hello", "New", "World", "hello", "job", "map", "reduce", "test", "world"]
    )
    assert runner.health() == {"status": "ok"}


def test_job_validation(spark):
    from dist_mapreduce_spark.api import JobRunner

    runner = JobRunner(spark)
    with pytest.raises(ValueError):
        runner.submit_job([])
    with pytest.raises(ValueError):
        runner.submit_job(["f"], n_reduce=0)
    with pytest.raises(KeyError):
        runner.job_status(999)


def test_http_facade_loopback(spark, corpus, tmp_path):
    """Exercise the literal REST contract (reference server.go:50-135)
    over a loopback socket: submit → poll → health, plus the 4xx paths."""
    import json
    import urllib.error
    import urllib.request

    from dist_mapreduce_spark.api import COMPLETED, JobRunner
    from dist_mapreduce_spark.http_api import ApiServer

    runner = JobRunner(spark)
    srv = ApiServer(runner).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        body = json.dumps(
            {"files": [str(corpus / f"test{i}.txt") for i in (1, 2, 3)], "nReduce": 2}
        ).encode()
        req = urllib.request.Request(f"{base}/jobs", data=body, method="POST")
        with urllib.request.urlopen(req) as resp:
            job_id = json.loads(resp.read())["id"]
        runner.wait(job_id)
        with urllib.request.urlopen(f"{base}/jobs/{job_id}") as resp:
            st = json.loads(resp.read())
        assert st == {
            "id": job_id,
            "status": COMPLETED,
            "files_count": 3,
            "map_tasks_completed": 3,
            "reduce_tasks_completed": 2,
        }
        with urllib.request.urlopen(f"{base}/health") as resp:
            assert resp.read() == b"OK"
        # 400 on bad params (server.go:62-65), 404 on unknown job.
        bad = urllib.request.Request(
            f"{base}/jobs", data=b'{"files": [], "nReduce": 2}', method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad)
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/jobs/9999")
        assert ei.value.code == 404
        # 400 on nReduce <= 0 (server.go:62-65) and non-integer id.
        bad_n = urllib.request.Request(
            f"{base}/jobs", data=b'{"files": ["f"], "nReduce": 0}', method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad_n)
        assert ei.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/jobs/abc")
        assert ei.value.code == 400
        # Method mismatches on known routes are 405 Method Not Allowed
        # (server.go:51-54, 76-79), not 404.
        for url, method in (
            (f"{base}/jobs", "GET"),
            (f"{base}/jobs", "DELETE"),
            (f"{base}/jobs/{job_id}", "DELETE"),
            (f"{base}/jobs/{job_id}", "POST"),
        ):
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(urllib.request.Request(url, method=method))
            assert ei.value.code == 405, (url, method)
        # Unknown paths stay 404.
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/nope")
        assert ei.value.code == 404
    finally:
        srv.stop()


@pytest.fixture()
def api_server(spark):
    """A loopback ApiServer and the runner behind it."""
    from dist_mapreduce_spark.api import JobRunner
    from dist_mapreduce_spark.http_api import ApiServer

    runner = JobRunner(spark)
    srv = ApiServer(runner).start()
    yield srv, runner
    srv.stop()


def _post_jobs(port: int, body: bytes, length: str | None = None):
    """POST /jobs over a raw connection so the test controls the
    Content-Length header; the timeout turns a server that blocks on
    the body into a test failure instead of a hang."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        conn.putrequest("POST", "/jobs")
        conn.putheader(
            "Content-Length", str(len(body)) if length is None else length
        )
        conn.endheaders()
        conn.send(body)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _assert_healthy(port: int) -> None:
    import urllib.request

    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/health", timeout=10
    ) as resp:
        assert resp.read() == b"OK"


def test_http_rejects_negative_content_length(api_server):
    srv, runner = api_server
    status, _ = _post_jobs(srv.port, b'{"files": ["f"], "nReduce": 1}', "-1")
    assert status == 400
    assert runner._jobs == {}
    _assert_healthy(srv.port)


def test_http_rejects_oversized_content_length(api_server):
    from dist_mapreduce_spark.http_api import MAX_BODY_BYTES

    srv, runner = api_server
    status, _ = _post_jobs(srv.port, b"{}", str(MAX_BODY_BYTES + 1))
    assert status == 400
    assert runner._jobs == {}
    _assert_healthy(srv.port)


def test_http_rejects_non_object_body(api_server):
    srv, runner = api_server
    for body in (b'["f"]', b"3", b'"files"', b"null"):
        status, _ = _post_jobs(srv.port, body)
        assert status == 400, body
    assert runner._jobs == {}
    _assert_healthy(srv.port)


def test_http_rejects_files_not_a_list_of_strings(api_server):
    srv, runner = api_server
    for files in ('"abc"', "[]", '["a", 1]', '{"a": 1}', "null"):
        body = f'{{"files": {files}, "nReduce": 1}}'.encode()
        status, _ = _post_jobs(srv.port, body)
        assert status == 400, files
    assert runner._jobs == {}
    _assert_healthy(srv.port)


def test_http_rejects_bool_nreduce(api_server):
    srv, runner = api_server
    for n in ("true", "false", "1.5", '"2"'):
        body = f'{{"files": ["f"], "nReduce": {n}}}'.encode()
        status, _ = _post_jobs(srv.port, body)
        assert status == 400, n
    assert runner._jobs == {}
    _assert_healthy(srv.port)


def test_job_failure_surfaces(spark):
    from dist_mapreduce_spark.api import FAILED, JobRunner

    runner = JobRunner(spark)
    job_id = runner.submit_job(["/nonexistent/nowhere.txt"], n_reduce=1)
    st = runner.wait(job_id)
    assert st["status"] == FAILED and st["error"]


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_sink_roundtrip(spark, tmp_path, fmt, demo_docs):
    from dist_mapreduce_spark.operators.wordcount import word_count

    counts = word_count(demo_docs)
    out = str(tmp_path / fmt)
    writer = counts.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(out)
        back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    else:
        getattr(writer, fmt)(out)
        back = getattr(spark.read, fmt)(out)
    got = {(r["word"], int(r["cnt"])) for r in back.collect()}
    want = {(r["word"], r["cnt"]) for r in counts.collect()}
    assert got == want


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    """Partition-by on write → partition pruning on read: the scan of
    one partition must not list the others (the layout that makes
    100 TB tables queryable)."""
    from dist_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "bylang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "de")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == docs.filter(F.col("lang") == "de").count()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_connector_builders_construct(spark):
    """Connector wiring is valid construction-wise; execution needs a
    cluster runtime (no broker/driver jar here — errors only at load)."""
    from dist_mapreduce_spark.sources.connectors import (
        jdbc_table,
        kafka_sink,
        kafka_stream,
    )

    r = kafka_stream(spark, "broker:9092", "events", min_partitions=64)
    assert r is not None
    j = jdbc_table(
        spark, "jdbc:postgresql://db/x", "orders", "o_orderkey", 0, 10**9
    )
    assert j is not None
    df = spark.createDataFrame([("k", "v")], "key string, value string")
    # writeStream on a batch frame raises; use a readStream frame shape
    # check instead: the sink builder is exercised on a streaming frame.
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    s = kafka_sink(stream, "broker:9092", "out", "/tmp/ckpt")
    assert s is not None


def test_default_output_dirs_unique_per_runner(spark, corpus):
    """Job ids restart at 1 in every runner, so two runners (a
    restarted server, or a second one on the same host) that submit
    without output_dir must still write to distinct directories."""
    import os

    from dist_mapreduce_spark.api import COMPLETED, JobRunner

    files = [str(corpus / "test1.txt")]
    dirs = []
    for _ in range(2):
        runner = JobRunner(spark)
        st = runner.wait(runner.submit_job(files, n_reduce=1))
        dirs.append(st["output_dir"])
        assert st["id"] == 1 and st["status"] == COMPLETED
    assert dirs[0] != dirs[1]
    assert all(os.path.isdir(d) for d in dirs)
