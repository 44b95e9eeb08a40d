"""The MinHash kernel (llm_pipeline.minhash_signatures) against the
SQL-shaped reference it replaced: whitespace tokens, distinct word
3-shingles (_word_shingles below), the md5-prefix hash and the
N_HASHES array_min folds, all evaluated by Spark SQL. The kernel must
give the same distinct hash set, the same minhashes and band keys that
pack exactly those minhashes — on degenerate text as well as on the
smoke corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _word_shingles(arr, k: int = 3):
    """Distinct k-word shingles of a token array, SAFE for arrays
    shorter than k under ANSI mode: Spark's sequence(1, 0) is
    DESCENDING (yields [1, 0], not empty), so the window count is
    floored at one dummy window whose overshooting indices go through
    null-safe try_element_at (plain element_at throws
    INVALID_ARRAY_INDEX on an empty/short doc — a crash the test
    corpora never trigger but any real corpus with a blank document
    does), and slice(..., 1, n) then drops the dummy. Matches DuckDB's
    naturally empty range(1, n+1)."""
    n = F.greatest(F.size(arr) - (k - 1), F.lit(0))
    win = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(arr, i + F.lit(o)) for o in range(k)]
        ),
    )
    return F.array_distinct(F.slice(win, F.lit(1), n))


def _sql_reference(docs):
    """(doc_id, harr, mh0..mh15) through Spark SQL: the shingle hash
    is the md5 prefix cast through conv, the minhashes array folds."""
    from dist_mapreduce_spark.operators.text_analysis import ws_tokens
    from dist_mapreduce_spark.plans.llm_pipeline import MINHASH_AB, MINHASH_P

    sh = docs.select("doc_id", _word_shingles(ws_tokens(F.col("text"))).alias("sh"))
    harr = sh.select(
        "doc_id",
        F.expr(
            "transform(sh, s -> cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint))"
        ).alias("harr"),
    ).filter(F.size("harr") > 0)
    return harr.select(
        "doc_id",
        "harr",
        *[
            F.array_min(
                F.expr(
                    f"transform(harr, x -> ({a}L * (x % {MINHASH_P}L) + {b}L)"
                    f" % {MINHASH_P}L)"
                )
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ],
    )


def _assert_kernel_matches_reference(docs):
    from dist_mapreduce_spark.plans.llm_pipeline import (
        N_BANDS,
        N_HASHES,
        ROWS_PER_BAND,
        minhash_signatures,
    )

    sig = minhash_signatures(docs)
    got = sorted(
        ((r["doc_id"], r["harr"], r["bk"]) for r in sig.collect()),
        key=lambda t: (t[0] is not None, t[0]),
    )
    ref = sorted(
        (
            (r["doc_id"], r["harr"], [r[f"mh{i}"] for i in range(N_HASHES)])
            for r in _sql_reference(docs).collect()
        ),
        key=lambda t: (t[0] is not None, t[0]),
    )
    sig.unpersist()
    assert [g[0] for g in got] == [r[0] for r in ref]
    for (doc, harr, bk), (_, rharr, rmh) in zip(got, ref):
        assert harr == sorted(set(rharr)), doc
        assert len(bk) == N_BANDS, doc
        mh = [
            (key >> (31 * (ROWS_PER_BAND - 1 - r))) & ((1 << 31) - 1)
            for key in bk
            for r in range(ROWS_PER_BAND)
        ]
        assert mh == rmh, doc
        packed = []
        for band in range(N_BANDS):
            key = 0
            for r in range(ROWS_PER_BAND):
                key = (key << 31) | rmh[band * ROWS_PER_BAND + r]
            packed.append(key)
        assert bk == packed, doc
    return got


def test_kernel_matches_sql_reference_on_degenerate_text(spark):
    rows = [
        (0, ""),
        (1, "   \t \n"),
        (2, None),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, "a\tb\x0bc\fd\re\nf"),
        (7, "größe straße ü ñ 日本 語 テキスト größe straße ü"),
        (8, "x y z x y z x y z x y z"),
        (None, "null id still signs its text"),
        (9, "  leading and trailing  whitespace  "),
        (10, "one two\x0b\x0bthree"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _assert_kernel_matches_reference(docs)
    ids = [g[0] for g in got]
    # No row for NULL text or < 3 tokens; the NULL id stays NULL.
    assert ids == [None, 5, 6, 7, 8, 9, 10]
    by_id = {g[0]: g for g in got}
    # Repeated shingles collapse: 3 distinct 3-grams in a 12-token doc.
    assert len(by_id[8][1]) == 3
    # \x0B separates tokens like any other whitespace character.
    assert by_id[10][1] == by_id[5][1]


def test_kernel_matches_sql_reference_on_smoke_corpus(spark):
    from dist_mapreduce_spark.sources.tables import load_table

    if not os.path.isdir(SF_SMOKE):
        pytest.skip("smoke testdata not present")
    got = _assert_kernel_matches_reference(load_table(spark, SF_SMOKE, "documents"))
    assert len(got) > 100


def test_kernel_stage_runs_default_parallelism_tasks(spark, tmp_path):
    """The input is one parquet row group, so its scan is one task; the
    kernel stage still runs defaultParallelism tasks."""
    import pyarrow.parquet as pq

    from dist_mapreduce_spark.plans.llm_pipeline import minhash_signatures

    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        spark.range(400)
        .select(
            "id",
            F.concat_ws(" ", F.lit("w"), F.col("id"), F.lit("x y z")).alias("text"),
        )
        .withColumnRenamed("id", "doc_id")
        .toArrow(),
        path,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    n = spark.sparkContext.defaultParallelism
    assert n > 1
    sig = minhash_signatures(spark.read.parquet(path))
    sc = spark.sparkContext
    sc.setJobGroup("minhash_kernel_spread", "kernel task count")
    try:
        assert sig.count() == 400
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = sorted(
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("minhash_kernel_spread")
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    )
    sig.unpersist()
    assert tasks[0] == 1 and n in tasks, tasks
    assert sig.rdd.getNumPartitions() == n
