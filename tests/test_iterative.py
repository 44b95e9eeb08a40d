"""Deterministic sampling + k-means tests (plans/iterative.py)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE as SF


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def test_sample_is_reproducible_and_sane(spark):
    a = sorted(r["o_orderkey"] for r in _q("sample_deterministic")(spark, SF).collect())
    b = sorted(r["o_orderkey"] for r in _q("sample_deterministic")(spark, SF).collect())
    assert a == b
    from dist_mapreduce_spark.sources.tables import load_table

    total = load_table(spark, SF, "orders").count()
    # ~10% with hash-uniform slack.
    assert 0.05 * total < len(a) < 0.15 * total


def test_kmeans_deterministic_and_total(spark):
    from dist_mapreduce_spark.sources.tables import load_table

    run1 = sorted(map(tuple, _q("kmeans_embeddings")(spark, SF).collect()))
    run2 = sorted(map(tuple, _q("kmeans_embeddings")(spark, SF).collect()))
    assert run1 == run2
    total = load_table(spark, SF, "embeddings").count()
    assert sum(r[1] for r in run1) == total
    # All centroids non-degenerate: integer squared norm is positive
    # (centroid_sum may legitimately be negative — coords are signed).
    assert all(r[3] > 0 for r in run1)


def test_graph_components_match_nations(spark):
    """Label propagation must converge to the nation partition (the
    synthetic per-nation trees are the true components)."""
    from dist_mapreduce_spark.sources.tables import load_table

    got = {
        r["node"]: r["component"]
        for r in _q("graph_components")(spark, SF).collect()
    }
    s = load_table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    rows = s.collect()
    want_min = {}
    for r in rows:
        k = r["s_nationkey"]
        want_min[k] = min(want_min.get(k, r["s_suppkey"]), r["s_suppkey"])
    want = {r["s_suppkey"]: want_min[r["s_nationkey"]] for r in rows}
    assert got == want


def test_sample_temperature_keeps_rarest_lang_fully(spark):
    from dist_mapreduce_spark.sources.tables import load_table

    kept = _q("sample_temperature")(spark, SF).groupBy("lang").count().collect()
    kept_by_lang = {r["lang"]: r["count"] for r in kept}
    totals = {
        r["lang"]: r["count"]
        for r in load_table(spark, SF, "documents").groupBy("lang").count().collect()
    }
    n_min = min(totals.values())
    # The rarest language is kept at 100%; no language gains documents.
    for lang, n in totals.items():
        assert kept_by_lang.get(lang, 0) <= n
        if n == n_min:
            assert kept_by_lang[lang] == n
    # Acceptance RATE is monotone non-increasing in language size.
    import math

    for lang, n in totals.items():
        expected = math.floor(math.sqrt(n_min / n) * 1_000_000) / 1_000_000
        rate = kept_by_lang.get(lang, 0) / n
        assert abs(rate - expected) < 0.25  # hash-uniform slack on small SF


def test_agg_salted_equals_plain_groupby(spark):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.sources.tables import load_table

    salted = {
        r["l_suppkey"]: (r["sum_value"], r["n_rows"])
        for r in _q("agg_salted")(spark, SF).collect()
    }
    plain = {
        r["l_suppkey"]: (float(r["s"]), r["n"])
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert salted == plain


def test_pagerank_symmetry_mass_and_determinism(spark, monkeypatch):
    """On part 1 ↔ suppliers {1,2}: supplier nodes are symmetric so
    their ranks must be EXACTLY equal; the hub part node outranks them;
    total fixed-point mass stays within N ulps of PR_SCALE (floor
    divisions only ever drop mass); and a rerun is bit-identical."""
    import dist_mapreduce_spark.plans.iterative as it

    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 1)], "l_partkey long, l_suppkey long"
    )
    monkeypatch.setattr(it, "load_table", lambda s, d, t: li)
    q = _q("graph_pagerank")
    rows = {r["node"]: r["rank_fp"] for r in q(spark, SF).collect()}
    part, s1, s2 = rows[2], rows[3], rows[5]
    assert s1 == s2
    assert part > s1
    assert 0 < it.PR_SCALE - (part + s1 + s2) < 100 * (it.PR_ITERS + 1)
    assert {r["node"]: r["rank_fp"] for r in q(spark, SF).collect()} == rows


def test_trained_quantizer_job_count_does_not_grow_with_rounds(spark, monkeypatch):
    """One trained_quantizer training run on the smoke corpus is a fixed
    number of Spark jobs — the corpus count (its scan and its final
    aggregate) and one collect of the training sample — whatever N_ITER
    is: the Lloyd's rounds run on the driver, not as Spark jobs."""
    import uuid

    from dist_mapreduce_spark.plans import iterative
    from dist_mapreduce_spark.plans.similarity import trained_quantizer
    from dist_mapreduce_spark.sources.tables import load_table

    sc = spark.sparkContext
    emb = load_table(spark, SF, "embeddings")

    def jobs_for_one_run(n_iter):
        monkeypatch.setattr(iterative, "N_ITER", n_iter)
        group = f"train-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "trained_quantizer job count")
        try:
            # A fresh memo key forces a real training run.
            cent_rows, _n = trained_quantizer(emb, key=(group,))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert cent_rows
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs = {n_iter: jobs_for_one_run(n_iter) for n_iter in (1, 5, 9)}
    assert jobs == {1: 3, 5: 3, 9: 3}, jobs


def test_graph_components_keeps_singleton_nation(spark, tmp_path):
    """graph_components labels through the shared propagation loop,
    which only sees edge-incident nodes; a nation with ONE supplier has
    no edges, so only the left join back onto the supplier list keeps
    it (as its own component). A chain-shaped nation checks that the
    labels still reach the nation minimum."""
    rows = [(k, 1) for k in (10, 11, 12, 13, 14, 15, 16)]
    rows += [(3, 2)]                 # one-supplier nation
    rows += [(20, 3), (21, 3)]
    spark.createDataFrame(
        rows, "s_suppkey long, s_nationkey long"
    ).write.parquet(str(tmp_path / "supplier.parquet"))
    got = {
        r["node"]: r["component"]
        for r in _q("graph_components")(spark, str(tmp_path)).collect()
    }
    want = {k: min(s for s, n in rows if n == nk) for k, nk in rows}
    assert got == want
