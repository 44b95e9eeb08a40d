"""Streaming surface tests: every streaming query must agree with its
batch counterpart on the same static events data (batch/stream
unification is the design point — same Catalyst plan shapes, different
source/sink)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE as SF


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def test_stream_stateful_matches_batch_groupby(spark):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table

    batch = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in _q("stream_stateful")(spark, SF).collect()
    }
    assert stream == batch


def test_stream_session_matches_batch_sessions(spark):
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in _q("agg_window_session")(spark, SF).collect()
    }
    stream = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in _q("stream_session")(spark, SF).collect()
    }
    assert stream == batch


def test_stateful_state_expiry_branch():
    """The timeout branch drops state without emitting (unit-level:
    exercise _update_user's hasTimedOut path directly)."""
    from dist_mapreduce_spark.streaming.stateful import _make_update_user

    class FakeState:
        hasTimedOut = True
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(_make_update_user(1000)((1,), iter([]), st))
    assert out == [] and st.removed


def test_stream_stream_join_matches_batch_interval_join(spark):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = sorted(
        (r["view_id"], r["click_id"])
        for r in v.join(
            c,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    )
    stream = sorted(
        (r["view_id"], r["click_id"])
        for r in _q("stream_stream_join")(spark, SF).collect()
    )
    assert stream == batch


def test_foreach_batch_sink_idempotent_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table
    from dist_mapreduce_spark.streaming.windows import (
        read_events_stream,
        run_stream_foreach_batch,
    )

    sink = str(tmp_path / "fb_sink")
    agg = (
        read_events_stream(spark, SF)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    n_batches = run_stream_foreach_batch(agg, sink)
    assert n_batches >= 1
    out = spark.read.parquet(sink)
    # Batch-partitioned layout; the union of the last updates per key
    # must contain the final counts of the batch groupBy.
    batch = {
        (r["event_type"], r["n"])
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r["event_type"], r["n_events"]) for r in out.collect()}
    assert batch <= got


def test_transform_with_state_gated_or_correct(spark):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) registers
    only when the streaming Python runner's protobuf dependency is
    importable; when it runs, finals must equal the batch aggregate."""
    import __spark_entry__ as e
    from dist_mapreduce_spark.plans.events_windows import (
        _transform_with_state_available,
    )

    qs = e.queries()
    if not _transform_with_state_available():
        assert "stream_transform_state" not in qs
        return
    from pyspark.sql import functions as F
    from dist_mapreduce_spark.sources.tables import load_table

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in qs["stream_transform_state"](spark, SF).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_stream_ohlc_matches_batch_bars(spark):
    """stream_ohlc must reproduce ts_ohlc_bars bit-for-bit on the same
    static events — the micro-batch-invariance claim its shared oracle
    rests on (min_by/max_by over a unique ordering scalar + DECIMAL
    volume are merge-order-free)."""
    key = lambda r: (r["bar"], r["event_type"])  # noqa: E731
    batch = {
        key(r): (r["n_events"], r["open"], r["high"], r["low"], r["close"], r["volume"])
        for r in _q("ts_ohlc_bars")(spark, SF).collect()
    }
    stream = {
        key(r): (r["n_events"], r["open"], r["high"], r["low"], r["close"], r["volume"])
        for r in _q("stream_ohlc")(spark, SF).collect()
    }
    assert stream == batch


def test_stateful_survives_multiple_batches(spark, tmp_path):
    """Regression: STATE_SCHEMA declared the cents accumulator as
    double while the code stored Python ints — the JVM round-trip
    nulled the value and the SECOND micro-batch crashed on None + int.
    The single-file local source hides this (one batch, state never
    read back); splitting events across files with maxFilesPerTrigger=1
    forces state to round-trip."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table
    from dist_mapreduce_spark.streaming.stateful import running_user_totals

    batch = load_table(spark, SF, "events").select("user_id", "value")
    src = str(tmp_path / "events_split")
    # 4 files -> 4 micro-batches; every user appears in several files,
    # so per-user state is read back and accumulated across batches.
    batch.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_multibatch_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Update mode emits one row per touched user per batch; the final
    # state is the max-n_events emission per user.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("stateful_multibatch_out")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("bigint"))
                / 100.0
            ).alias("tv"),
        )
        .collect()
    }
    assert got == want


def test_stream_enrich_matches_batch_join(spark):
    """The stream-static broadcast join's complete-mode final must
    equal the plain batch join+aggregate bit-for-bit (counts exact,
    DECIMAL money)."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.sources.tables import load_table

    registry.load_all()
    sf = SF
    got = {
        (r["c_mktsegment"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in registry.QUERIES["stream_enrich"](spark, sf).collect()
    }
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    batch = {
        (r["c_mktsegment"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == batch and len(got) > 0


def test_stream_cdc_matches_batch_snapshot(spark):
    """stream_cdc must reproduce cdc_apply bit-for-bit on the same
    static log — the merge-order-invariance claim its shared oracle
    rests on (max(struct(ts, event_id, ...)) is associative and
    commutative, so any micro-batching yields the same snapshot)."""
    batch = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in _q("cdc_apply")(spark, SF).collect()
    }
    stream = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in _q("stream_cdc")(spark, SF).collect()
    }
    assert stream == batch


def test_stream_hitters_matches_batch_audit(spark):
    """stream_hitters must reproduce skew_hitters bit-for-bit on the
    same static events — streaming counts are merge-order-free and
    the frontier math runs on the materialized counts."""
    key = lambda r: (r["user_id"], r["cnt"], r["ppm"], r["cum_cnt"])  # noqa: E731
    batch = sorted(key(r) for r in _q("skew_hitters")(spark, SF).collect())
    stream = sorted(key(r) for r in _q("stream_hitters")(spark, SF).collect())
    assert stream == batch


def test_stream_cdc_kill_and_resume_exactly_once(spark, tmp_path):
    """Failure injection for checkpointed exactly-once (round-4 verdict
    item #7): the CDC snapshot stream is killed MID-STREAM by an
    exception thrown inside its foreachBatch sink at batch 2 (an
    uncommitted-batch crash, strictly harsher than a graceful stop),
    then restarted from the same checkpoint. The resumed run must (a)
    resume at the failed batch — not reprocess from offset zero — and
    (b) produce a final materialized snapshot bit-equal to the batch
    cdc_apply oracle twin. The sink is idempotent (full-snapshot
    overwrite per batch in complete mode), which is the contract that
    makes replay-after-crash exactly-once."""
    import pytest
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    src = str(tmp_path / "cdc_src")
    # 6 files + maxFilesPerTrigger=1 -> 6 micro-batches; the crash at
    # batch 2 is genuinely mid-stream.
    ev.repartition(6).write.mode("overwrite").parquet(src)
    out_path = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def cdc_stream():
        s = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return s.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last")
        )

    def crashing_sink(bdf, bid):
        if bid >= 2:
            raise RuntimeError("injected mid-stream failure")
        bdf.write.mode("overwrite").parquet(out_path)

    q1 = (
        cdc_stream()
        .writeStream.outputMode("complete")
        .foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(Exception, match="injected|Terminated|STREAM"):
        q1.processAllAvailable()
    q1.stop()

    def clean_sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(out_path)

    q2 = (
        cdc_stream()
        .writeStream.outputMode("complete")
        .foreachBatch(clean_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q2.processAllAvailable()
        resumed_batches = [
            p["batchId"] for p in (q2.recentProgress or []) if p is not None
        ]
    finally:
        q2.stop()
    # (a) resume, not restart: every batch the second run processed is
    # >= the crashed batch id.
    assert resumed_batches and min(resumed_batches) >= 2, resumed_batches
    snap = (
        spark.read.parquet(out_path)
        .filter(F.col("last.event_type") != "error")
        .select(
            "user_id",
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
            F.col("last.ts").alias("last_ts"),
        )
    )
    got = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in snap.collect()
    }
    want = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in _q("cdc_apply")(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_stream_dedup_incremental_kill_and_resume(spark, tmp_path):
    """Failure injection for the streaming dedup ingest: the run-writing
    sink crashes at micro-batch 2 AFTER writing its run directory but
    before the checkpoint commit — the harshest replay case: the
    restarted stream replays batch 2 and its dynamic-partition
    overwrite must land on the same ingest_batch=2 directory instead
    of duplicating rows. The drained verdicts must equal the one-shot
    batch operator (dedup_incremental) row-for-row — min-fold
    order-invariance plus idempotent run rewrites is exactly-once."""
    import pytest
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators import text_analysis as ta
    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.plans.llm_pipeline import INCR_MOD, INCR_REM
    from dist_mapreduce_spark.sources.tables import load_table

    registry.load_all()
    fp = load_table(spark, SF, "documents").select(
        "doc_id",
        ta.normalized_fingerprint(F.col("text")).alias("fp"),
        (F.col("doc_id") % INCR_MOD == INCR_REM).alias("is_new"),
    )
    idx = (
        fp.filter(~F.col("is_new")).groupBy("fp").agg(F.min("doc_id").alias("canon"))
    )
    arrivals = fp.filter(F.col("is_new")).select("doc_id", "fp")
    stage = str(tmp_path / "stage")
    runs = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")
    arrivals.repartition(3).write.mode("overwrite").parquet(stage)

    def write_run(bdf, bid):
        (
            bdf.groupBy("fp")
            .agg(F.min("doc_id").alias("min_id"))
            .withColumn("ingest_batch", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(runs)
        )

    def crashing_sink(bdf, bid):
        write_run(bdf, bid)  # run lands on disk...
        if bid == 2:
            raise RuntimeError("injected crash after write, before commit")

    def stream(sink):
        return (
            spark.readStream.schema(arrivals.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = stream(crashing_sink)
    with pytest.raises(Exception, match="injected|Terminated|STREAM"):
        q1.processAllAvailable()
    q1.stop()

    q2 = stream(write_run)
    try:
        q2.processAllAvailable()
        resumed = [p["batchId"] for p in (q2.recentProgress or []) if p]
    finally:
        q2.stop()
    assert resumed and min(resumed) >= 2, resumed

    in_batch = (
        spark.read.parquet(runs)
        .groupBy("fp")
        .agg(F.min("min_id").alias("first_in_batch"))
    )
    got = sorted(
        (r["doc_id"], r["status"], r["canonical_id"])
        for r in spark.read.parquet(stage)
        .join(idx, "fp", "left")
        .join(in_batch, "fp")
        .select(
            "doc_id",
            F.when(F.col("canon").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") > F.col("first_in_batch"), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.when(F.col("canon").isNotNull(), F.col("canon"))
            .when(F.col("doc_id") > F.col("first_in_batch"), F.col("first_in_batch"))
            .cast("long")
            .alias("canonical_id"),
        )
        .collect()
    )
    want = sorted(
        (r["doc_id"], r["status"], r["canonical_id"])
        for r in registry.QUERIES["dedup_incremental"](spark, SF).collect()
    )
    assert got == want


def test_stream_hll_kill_and_resume_bit_equal(spark, tmp_path):
    """The streaming HLL's exactly-once contract under failure: crash
    the register-run sink at batch 2 after its write, resume from the
    checkpoint, and require the drained registers to MAX-merge to the
    exact batch sketch — max is idempotent, so the replayed run's
    rewrite changes nothing."""
    import pytest
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.plans.relational import HLL_M, HLL_WBITS
    from dist_mapreduce_spark.sources.tables import load_table

    registry.load_all()
    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    stage = str(tmp_path / "stage")
    runs = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")
    ev.repartition(3).write.mode("overwrite").parquet(stage)

    def reg_maxima(df):
        h = df.select(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
            ).cast("bigint").alias("hv")
        ).distinct()
        return (
            h.select(
                (F.col("hv") % HLL_M).alias("j"),
                F.when(F.floor(F.col("hv") / HLL_M) == 0, F.lit(HLL_WBITS + 1))
                .otherwise(
                    F.lit(HLL_WBITS + 1)
                    - F.length(F.bin(F.floor(F.col("hv") / HLL_M).cast("bigint")))
                ).alias("r"),
            )
            .groupBy("j").agg(F.max("r").alias("mj"))
        )

    def write_run(bdf, bid):
        (
            reg_maxima(bdf).withColumn("ingest_batch", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(runs)
        )

    def crashing(bdf, bid):
        write_run(bdf, bid)
        if bid == 2:
            raise RuntimeError("injected crash after write, before commit")

    def stream(sink):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(stage)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    q1 = stream(crashing)
    with pytest.raises(Exception, match="injected|Terminated|STREAM"):
        q1.processAllAvailable()
    q1.stop()
    q2 = stream(write_run)
    try:
        q2.processAllAvailable()
        resumed = [p["batchId"] for p in (q2.recentProgress or []) if p]
    finally:
        q2.stop()
    assert resumed and min(resumed) >= 2, resumed

    drained = {
        r["j"]: r["mj"]
        for r in spark.read.parquet(runs).groupBy("j")
        .agg(F.max("mj").alias("mj")).collect()
    }
    batch = {r["j"]: r["mj"] for r in reg_maxima(ev).collect()}
    assert drained == batch


def test_stream_cms_kill_and_resume_no_double_count(spark, tmp_path):
    """The non-idempotent-fold case: CMS counters SUM, so a naive
    replay of a crashed batch would double-count. The run-directory
    rewrite must keep the drained counter table exactly equal to the
    batch sketch — the strongest exactly-once evidence in the streamed
    family because the fold itself offers no replay protection."""
    import pytest
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.plans.sketches import CMS_D, _cms_hash_spark
    from dist_mapreduce_spark.sources.tables import load_table

    registry.load_all()
    ev = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    stage = str(tmp_path / "stage")
    runs = str(tmp_path / "runs")
    ckpt = str(tmp_path / "ckpt")
    ev.repartition(3).write.mode("overwrite").parquet(stage)
    ds = spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))

    def counters(df):
        return (
            df.crossJoin(F.broadcast(ds))
            .select("d", F.expr(_cms_hash_spark("d", "user_id")).alias("w"))
            .groupBy("d", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    def write_run(bdf, bid):
        (
            counters(bdf).withColumn("ingest_batch", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(runs)
        )

    def crashing(bdf, bid):
        write_run(bdf, bid)
        if bid == 2:
            raise RuntimeError("injected crash after write, before commit")

    def stream(sink):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(stage)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    q1 = stream(crashing)
    with pytest.raises(Exception, match="injected|Terminated|STREAM"):
        q1.processAllAvailable()
    q1.stop()
    q2 = stream(write_run)
    try:
        q2.processAllAvailable()
        resumed = [p["batchId"] for p in (q2.recentProgress or []) if p]
    finally:
        q2.stop()
    assert resumed and min(resumed) >= 2, resumed

    drained = {
        (r["d"], r["w"]): r["c"]
        for r in spark.read.parquet(runs).groupBy("d", "w")
        .agg(F.sum("c").cast("long").alias("c")).collect()
    }
    batch = {(r["d"], r["w"]): r["c"] for r in counters(ev).collect()}
    assert drained == batch


def test_stream_enrich_plan_broadcast_and_stateless_join(spark):
    """Round-11 plan pin: the stream-static enrichment's micro-batch
    executed plan must broadcast the dimension (BroadcastHashJoin) and
    hold ZERO join state — a StreamingSymmetricHashJoin appearing here
    would mean the static side got planned as a stream-stream join and
    the state store now grows with the dimension."""
    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.streaming.windows import STREAM_PLAN_LOG

    registry.load_all()
    STREAM_PLAN_LOG.clear()
    registry.QUERIES["stream_enrich"](spark, SF).collect()
    plans = [p for _lab, p in STREAM_PLAN_LOG]
    assert plans, "stream driver captured no plan"
    joined = "\n".join(plans)
    assert "BroadcastHashJoin" in joined
    assert "StreamingSymmetricHashJoin" not in joined


def test_stream_serve_topk_plan_partition_filters_per_batch(spark):
    """Round-11 plan pin: EVERY serving micro-batch's executed plan
    must prune the materialized index by the batch's probed cells —
    a literal `cell IN (...)` PartitionFilter on the index scan, per
    batch, never a full-index scan — and must be the final AQE plan of
    the batch's write."""
    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.streaming.windows import STREAM_PLAN_LOG

    registry.load_all()
    STREAM_PLAN_LOG.clear()
    registry.QUERIES["stream_serve_topk"](spark, SF).collect()
    batch_plans = [
        p for lab, p in STREAM_PLAN_LOG if ":batch" in lab
    ]
    assert len(batch_plans) >= 2, "expected one plan per micro-batch"
    for p in batch_plans:
        # The plan of the write that ran, not of an unexecuted frame.
        assert "isFinalPlan=true" in p, p[:500]
        assert "PartitionFilters" in p and "cell" in p.split(
            "PartitionFilters"
        )[1][:200], p[:500]
