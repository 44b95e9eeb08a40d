"""GEMM ranking: the numpy/BLAS centroid ranking (gemm_rank_cells,
and assign_cells at r = 1) must land every vector in the same cells,
in the same order, as the oracle's ranking written as a Spark SQL
expression over centroid literals (ivf_ranked_cells_sql below, the
SQL-shaped reference) — on the real gate corpus, on the dense chunk
corpus, and on every degenerate row shape that expression tolerates
(the contract gemm_rank_cells documents). The kNN kernels are pinned
the same way against SQL-shaped reference chains or the DuckDB
oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _vec_lit(vec: list[float]) -> str:
    # repr() round-trips the float32→double widening exactly, so the
    # literal fold is bit-identical to the oracle's column fold.
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vec) + ")"


def ivf_ranked_cells_sql(
    cent_rows: list[tuple[int, list[float]]], col: str = "embedding"
) -> str:
    """Spark SQL expression: array of (−dot/|c|, cent_id) structs sorted
    by the oracle's exact (score DESC, cent_id ASC) order, with the k
    centroids inlined as literals — the oracle's rkd ranking as a pure
    map, evaluated by Spark's own sequential fold."""
    from dist_mapreduce_spark.plans.similarity import _py_norm

    k = len(cent_rows)
    cents = "array(" + ", ".join(_vec_lit(cv) for _, cv in cent_rows) + ")"
    cids = "array(" + ", ".join(str(cid) for cid, _ in cent_rows) + ")"
    cnorms = "array(" + ", ".join(
        f"CAST({_py_norm(cv)!r} AS DOUBLE)" for _, cv in cent_rows
    ) + ")"
    dot = (
        f"aggregate(zip_with({col}, element_at(__cents, i + 1),"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    # Structs sort field-by-field: s = −(dot/|c|) ascending (= score
    # descending), then cent_id ascending — the oracle's ORDER BY.
    return (
        f"array_sort(transform(sequence(0, {k - 1}), i -> named_struct("
        f" 's', -({dot} / element_at(__cnorms, i + 1)),"
        f" 'c', CAST(element_at(__cids, i + 1) AS BIGINT))))"
    ).replace("__cents", cents).replace("__cids", cids).replace("__cnorms", cnorms)


def _cells_map(df):
    return {int(r["vec_id"]): int(r["cell"]) for r in df.collect()}


def _literal_cells(df, cent_rows, vec_col="embedding"):
    """Reference: the oracle's cell CTE as the literal-centroid Spark
    expression (first entry of the (score DESC, cent_id) ranking)."""
    ranked = ivf_ranked_cells_sql(cent_rows, col=vec_col)
    return _cells_map(
        df.select("vec_id", F.expr(f"{ranked}[0].c").alias("cell"))
    )


def _literal_kmeans_assign(df, centroids):
    """Reference: the trainer's assignment as the SQL-shaped argmin
    over (int64 squared L2, cid) structs — the oracle's tie-break."""
    from dist_mapreduce_spark.plans.iterative import kmeans_sqdist

    dists = F.array(
        *[
            F.struct(
                kmeans_sqdist(F.col("q"), c).alias("d"),
                F.lit(i).cast("int").alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return df.select("vec_id", "q", F.array_min(dists)["cid"].alias("cluster"))


def _spark_lloyd_reference(emb, k):
    """Reference: the trainer's Lloyd's loop as per-round Spark jobs —
    c0 = first k rows by vec_id, the SQL-shaped argmin above, and the
    posexplode + groupBy(cluster, dim) sum/count update collected to
    the driver (s // n per dim; an empty cluster keeps its centroid; a
    dim whose values are all NULL has a NULL sum, hence a NULL mean)."""
    from dist_mapreduce_spark.plans.iterative import N_ITER

    init = emb.orderBy("vec_id").limit(k).collect()
    centroids = [[int(x) for x in r["q"]] for r in init]
    for _ in range(N_ITER):
        rows = (
            _literal_kmeans_assign(emb, centroids)
            .select("cluster", F.posexplode("q").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        dims: dict[int, list] = {}
        for r in rows:
            m = None if r["s"] is None else int(r["s"]) // int(r["n"])
            dims.setdefault(int(r["cluster"]), []).append((int(r["dim"]), m))
        by_cluster = {
            c: [m for _d, m in sorted(pairs)] for c, pairs in dims.items()
        }
        centroids = [
            by_cluster.get(i, centroids[i]) for i in range(len(centroids))
        ]
    return centroids


def _literal_pair_scores(res):
    """Reference: the oracle's pr CTE — every in-block pair of `res`
    scored by the per-pair cosine fold."""
    from dist_mapreduce_spark.functions.vectors import cosine_spark_sql

    a, b = res.alias("a"), res.alias("b")
    return (
        a.join(
            b,
            (F.col("a.rcell") == F.col("b.rcell"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src_id"),
            F.col("b.vec_id").alias("dst_id"),
            F.expr(cosine_spark_sql("a.embedding", "b.embedding")).alias(
                "score"
            ),
        )
        .distinct()
    )


def _literal_probe_truth(emb):
    """Reference: the oracle's brute-force probe truth — every probe
    against the whole corpus through the per-pair cosine fold."""
    from dist_mapreduce_spark.functions.vectors import cosine_spark_sql
    from dist_mapreduce_spark.plans.knn_graph import KNN_K, KNN_PROBE

    probe = emb.filter(
        (F.col("vec_id") < KNN_PROBE) & F.col("embedding").isNotNull()
    ).select(F.col("vec_id").alias("src_id"), F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("dst_id"), F.col("embedding").alias("ev")
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("dst_id"))
    return (
        corpus.join(F.broadcast(probe), F.col("dst_id") != F.col("src_id"))
        .withColumn("score", F.expr(cosine_spark_sql("qv", "ev")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .select("src_id", "dst_id")
    )


def test_gemm_matches_literal_on_gate_corpus(spark):
    """Argmax-cell set-equality on the sf0.001 embeddings table under
    the trained quantizer — the pin the round-10 verdict asks for."""
    from dist_mapreduce_spark.plans.similarity import (
        assign_cells,
        trained_quantizer,
    )
    from dist_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows, _n = trained_quantizer(emb)
    assert cent_rows
    lit = _literal_cells(emb, cent_rows)
    gem = _cells_map(
        assign_cells(spark, emb, cent_rows).select("vec_id", "cell")
    )
    assert lit == gem
    assert len(lit) == emb.count()


def test_gemm_matches_literal_on_dense_chunks(spark):
    """Same pin over the DERIVED corpus the dense index assigns — the
    stress-scale case the GEMM path exists for."""
    from dist_mapreduce_spark.plans.rag import _dense_chunk_vectors
    from dist_mapreduce_spark.plans.similarity import (
        assign_cells,
        trained_quantizer,
    )

    cv = _dense_chunk_vectors(spark, SF_SMOKE).localCheckpoint()
    cent_rows, _n = trained_quantizer(cv.select("vec_id", "embedding"))
    assert cent_rows
    lit = _literal_cells(cv, cent_rows)
    gem = _cells_map(
        assign_cells(spark, cv, cent_rows).select("vec_id", "cell")
    )
    assert lit == gem


def test_gemm_degenerate_rows_match_literal(spark):
    """NULL vector, ragged length, zero vector, NaN element: the
    literal path folds every score to NULL (or −0.0 ties) and the
    min-cent_id tiebreak wins — the GEMM path must replicate each."""
    from dist_mapreduce_spark.plans.similarity import assign_cells

    cents = [(3, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0]), (9, [0.5, 0.5, 0.5])]
    rows = [
        (1, [0.9, 0.1, 0.0]),        # normal → cid 3
        (2, None),                   # NULL vector
        (3, [0.5]),                  # ragged
        (4, [0.0, 0.0, 0.0]),        # zero vector: all scores −0.0
        (5, [float("nan"), 1.0, 1.0]),  # NaN element
        (6, [0.0, 0.0, 1.0]),        # → cid 9
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = _literal_cells(df, cents)
    gem = _cells_map(
        assign_cells(spark, df, cents).select("vec_id", "cell")
    )
    assert lit == gem
    # The degenerate rows all land in the smallest cent_id.
    for vid in (2, 3, 4, 5):
        assert lit[vid] == 3
    assert lit[1] == 3 and lit[6] == 9


def test_gemm_inf_element_raises_literal_unchanged(spark):
    """Round-12 (verdict item #2): a ±inf embedding ELEMENT is the one
    degenerate shape where the literal path can rank a real winner
    while the old GEMM guard silently routed to min-cent_id — the GEMM
    path must now refuse LOUDLY, and the literal path's behavior must
    be unchanged (it still assigns a cell without raising)."""
    from dist_mapreduce_spark.plans.similarity import assign_cells

    cents = [(3, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0])]
    rows = [(1, [0.9, 0.1, 0.0]), (2, [float("inf"), 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # The literal expression: no error; the inf row ranks a real
    # winner (dot with cid 3 = +inf beats cid 7's finite score).
    lit = _literal_cells(df, cents)
    assert lit[1] == 3 and lit[2] == 3
    # GEMM: the contract is enforced inline — loud failure, never a
    # silent misplacement.
    with pytest.raises(Exception, match="inf"):
        assign_cells(spark, df, cents).collect()


def test_gemm_zero_norm_centroid_raises(spark):
    """The literal path aborts (ANSI DIVIDE_BY_ZERO) on a zero-norm
    centroid; the GEMM path must refuse up front, not invent a cell."""
    from dist_mapreduce_spark.plans.similarity import assign_cells

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="zero-norm"):
        assign_cells(spark, df, [(0, [0.0, 0.0]), (1, [1.0, 0.0])])


def test_gemm_tiebreak_is_min_cent_id(spark):
    """Duplicate centroids score exactly equal under BOTH paths (the
    GEMM computes identical columns identically), so the tie must fall
    to the smaller cent_id in both."""
    from dist_mapreduce_spark.plans.similarity import assign_cells

    cents = [(2, [0.6, 0.8]), (5, [0.6, 0.8])]
    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [-1.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    lit = _literal_cells(df, cents)
    gem = _cells_map(
        assign_cells(spark, df, cents).select("vec_id", "cell")
    )
    assert lit == gem == {1: 2, 2: 2}


def test_gemm_preserves_extra_columns(spark):
    """assign_cells must carry every input column through the Arrow
    stage — the dense build rides doc_id/chunk_id alongside."""
    from dist_mapreduce_spark.plans.similarity import assign_cells

    df = spark.createDataFrame(
        [(1, 10, [1.0, 0.0]), (2, 20, [0.0, 1.0])],
        "vec_id long, extra long, embedding array<double>",
    )
    out = assign_cells(spark, df, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    got = {
        (int(r["vec_id"]), int(r["extra"]), int(r["cell"]))
        for r in out.collect()
    }
    assert got == {(1, 10, 0), (2, 20, 1)}


def test_kmeans_gemm_assignment_bit_identical(spark):
    """The trainer's int64 GEMM twin is BIT-IDENTICAL (not merely
    set-equal): exact integer arithmetic has no accumulation order to
    disagree about. Pin (a) per-row cluster equality of one assignment
    pass including degenerate rows, and (b) the trained centroids of a
    full 5-round run of the driver-side trainer being list-equal with
    the per-round Spark reference loop (_spark_lloyd_reference), on the
    smoke corpus and on a frame with degenerate rows."""
    from dist_mapreduce_spark.plans.iterative import (
        kmeans_assign_gemm,
        train_kmeans_centroids_df,
    )
    from dist_mapreduce_spark.sources.tables import load_table

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * (1 << 20)).cast("long"),
            ).alias("q"),
        )
    )
    cents = [
        [int(x) for x in r["q"]]
        for r in emb.orderBy("vec_id").limit(13).collect()
    ]
    lit = {
        int(r["vec_id"]): int(r["cluster"])
        for r in _literal_kmeans_assign(emb, cents).collect()
    }
    gem = {
        int(r["vec_id"]): int(r["cluster"])
        for r in kmeans_assign_gemm(emb, cents).collect()
    }
    assert lit == gem

    # Degenerate rows: NULL q, ragged, NULL element -> cluster 0 both.
    dg = spark.createDataFrame(
        [(1, None), (2, [1, 2]), (3, [None] + [0] * 63)],
        "vec_id long, q array<long>",
    )
    c2 = [[5] * 64, [0] * 64]
    lit2 = {
        int(r["vec_id"]): int(r["cluster"])
        for r in _literal_kmeans_assign(dg, c2).collect()
    }
    gem2 = {
        int(r["vec_id"]): int(r["cluster"])
        for r in kmeans_assign_gemm(dg, c2).collect()
    }
    assert lit2 == gem2 == {1: 0, 2: 0, 3: 0}

    # Full training run: the driver-side trainer's centroids are
    # list-equal with the per-round Spark reference loop's.
    want = _spark_lloyd_reference(emb, 13)
    got = train_kmeans_centroids_df(emb, 13)
    assert got == want

    # ... also when the training frame carries degenerate rows, which
    # all sit in cluster 0: a NULL q (adds nothing), short ragged rows
    # (count in dims 0-1 only), NULL elements (count in n, not in s).
    base = [(10 + i, [100 * (i % 3) + j for j in range(64)]) for i in range(9)]
    dg_train = spark.createDataFrame(
        base
        + [
            (101, None),
            (102, [7, -9]),
            (103, [None] + [-3] * 63),
            (104, [None, None]),
        ],
        "vec_id long, q array<long>",
    )
    want = _spark_lloyd_reference(dg_train, 3)
    assert train_kmeans_centroids_df(dg_train, 3) == want
    assert all(len(c) == 64 for c in want)


def test_gemm_rank_cells_matches_literal_prefix(spark):
    """Round-12: the top-R residency ranking (the kNN build's
    assignment stage) must pick the same R cells in the same order as
    the literal ranked expression's prefix, on the real gate corpus."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.similarity import (
        gemm_rank_cells,
        ivf_cent_rows,
    )
    from dist_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    cent_rows = ivf_cent_rows(emb)
    assert cent_rows
    ranked = ivf_ranked_cells_sql(cent_rows)
    lit = {
        int(r["vec_id"]): [int(c) for c in r["rcells"]]
        for r in emb.select(
            "vec_id",
            F.expr(f"transform(slice({ranked}, 1, 2), x -> x.c)").alias(
                "rcells"
            ),
        ).collect()
    }
    gem = {
        int(r["vec_id"]): [int(c) for c in r["rcells"]]
        for r in gemm_rank_cells(emb, cent_rows, 2)
        .select("vec_id", "rcells")
        .collect()
    }
    assert lit == gem


def test_gemm_rank_cells_degenerates_and_inf(spark):
    """Degenerate rows fold every literal score to NULL → ALL
    centroids tie → the R smallest cent_ids, in order; ±inf raises
    (the enforced contract, same as assign_cells)."""
    from dist_mapreduce_spark.plans.similarity import gemm_rank_cells

    cents = [(3, [1.0, 0.0]), (7, [0.0, 1.0]), (9, [0.5, 0.5])]
    rows = [
        (1, [1.0, 0.1]),              # normal: 3 then 9
        (2, None),
        (3, [0.5]),
        (4, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        int(r["vec_id"]): [int(c) for c in r["rcells"]]
        for r in gemm_rank_cells(df, cents, 2).collect()
    }
    assert got[2] == got[3] == got[4] == [3, 7]
    assert got[1][0] == 3
    bad = spark.createDataFrame(
        [(1, [float("-inf"), 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="inf"):
        gemm_rank_cells(bad, cents, 2).collect()


def test_gemm_rank_cells_near_tie_rescored(spark):
    """Round-13 (advice item): a GEMM score within _GEMM_RANK_EPS of
    the Rth-best must be finalized by the EXACT literal fold, not the
    BLAS number — pinned on a fixture whose top-2 scores differ by
    ~1e-10 (inside the band, so the rescore branch runs) and on an
    exact tie (scaled duplicate direction — dot/|c| is
    scale-invariant, so the min-cent_id order must win)."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.similarity import gemm_rank_cells

    # cid 3 scores exactly 1.0; cid 7 scores 1/sqrt(1+1.96e-10)
    # ≈ 1 − 9.8e-11 — a gap 10× inside the 1e-9 band.
    cents = [(3, [1.0, 0.0]), (7, [1.0, 1.4e-5]), (9, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ranked = ivf_ranked_cells_sql(cents)
    lit = [
        int(c)
        for c in df.select(
            F.expr(f"transform(slice({ranked}, 1, 2), x -> x.c)").alias("rc")
        ).collect()[0]["rc"]
    ]
    gem = [
        int(c)
        for c in gemm_rank_cells(df, cents, 2).collect()[0]["rcells"]
    ]
    assert lit == gem == [3, 7]

    # Exact tie: duplicate centroids compute the SAME doubles — the
    # prefix order must fall to cent_id ascending through the rescore.
    cents2 = [(2, [0.6, 0.8]), (5, [0.6, 0.8]), (8, [-1.0, 0.0])]
    df2 = spark.createDataFrame(
        [(1, [0.6, 0.8])], "vec_id long, embedding array<double>"
    )
    got = [
        int(c)
        for c in gemm_rank_cells(df2, cents2, 2).collect()[0]["rcells"]
    ]
    assert got == [2, 5]


def test_knn_graph_gemm_equals_literal(spark):
    """Round-12 verdict item #1's pin: the GEMM-accelerated kNN graph
    build (gemm residency ranking + blockwise BLAS candidate
    pre-selection + exact rescore) is BIT-IDENTICAL to the literal
    chain — the DuckDB oracle's full (src, dst, score, rk) rows, not
    just the edge set, because the surviving pairs are
    exact-rescored."""
    import duckdb

    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS"
        f" SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    for name in ("knn_graph", "knn_graph_collapsed"):
        got = sorted(
            tuple(r) for r in registry.QUERIES[name](spark, SF_SMOKE).collect()
        )
        want = sorted(
            tuple(r) for r in con.execute(registry.ORACLES[name]).fetchall()
        )
        assert got and got == want, name


def test_gemm_block_candidates_superset_with_degenerates(spark):
    """The GEMM pre-selection must keep every pair the exact build can
    rank into the top-K even when the block carries zero-norm, NaN,
    ragged and NULL-element vectors (non-finite scores keep ALL their
    pairs) — pinned by running the full build both ways on a
    hand-built degenerate corpus routed through a fake sf_dir."""
    import numpy as np

    from dist_mapreduce_spark.plans.knn_graph import pair_scores

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),          # zero norm: NULL scores
        (3, [float("nan"), 1.0, 0.0]),  # NaN scores
        (4, [0.5, 0.5]),                # ragged
        (5, [None, 1.0, 1.0]),          # NULL element
        (6, [0.8, 0.2, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # One block: every vector in the same (rcell, sub).
    res = df.select(
        "vec_id",
        "embedding",
        F.lit(0).cast("long").alias("rcell"),
        F.lit(0).cast("long").alias("sub"),
    )
    lit = sorted(
        (int(r["src_id"]), int(r["dst_id"]), r["score"])
        for r in _literal_pair_scores(res).collect()
    )
    gem = sorted(
        (int(r["src_id"]), int(r["dst_id"]), r["score"])
        for r in pair_scores(res, df).collect()
    )
    # K=5, block of 7 → every pair survives pre-selection here, so the
    # scored sets must be IDENTICAL (NaN-safe compare).
    def norm(t):
        return [
            (s, d, "nan" if x is not None and np.isnan(x) else x)
            for s, d, x in t
        ]

    assert norm(lit) == norm(gem)


def test_gemm_small_finite_block_no_self_pairs(spark):
    """Round-13 (advice HIGH): a FULLY-FINITE block with c-1 <= KNN_K
    members drives the fast path's kth sentinel to -inf, where the
    masked diagonal (-inf) satisfies `-inf >= -inf - EPS` — the
    unmasked round-12 code emitted self-pairs (score 1.0, rank 1),
    displacing real neighbors. Pin: gemm == literal on a 5-member
    finite block, and the candidate set contains no src==dst pair.
    (The degenerate-corpus test above routes through the non-finite
    branch, which masks the diagonal correctly — this block must stay
    all-finite to hit the fast path.)"""
    from dist_mapreduce_spark.plans.knn_graph import (
        _gemm_block_candidates,
        pair_scores,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, [0.3, 0.3, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = df.select(
        "vec_id",
        "embedding",
        F.lit(0).cast("long").alias("rcell"),
        F.lit(0).cast("long").alias("sub"),
    )
    cand = {
        (int(r["src_id"]), int(r["dst_id"]))
        for r in _gemm_block_candidates(res).collect()
    }
    assert cand, "pre-selection must keep the finite pairs"
    assert not any(s == d for s, d in cand), "self-pairs leaked"
    lit = sorted(tuple(r) for r in _literal_pair_scores(res).collect())
    gem = sorted(tuple(r) for r in pair_scores(res, df).collect())
    assert lit == gem
    assert not any(r[0] == r[1] for r in gem)


def test_probe_truth_gemm_equals_literal_and_adversarial(spark, tmp_path):
    """_probe_truth's GEMM pre-selection arm (the statistic behind
    knn_graph_recall and knn_graph_maintain) must be BIT-IDENTICAL to
    the literal oracle-shaped chain: (a) on the gate corpus, and
    (b) on an adversarial fixture with 20-way EXACT score ties at the
    K boundary (the guard band must keep every tie), a NULL
    embedding, a zero-norm vector (non-finite GEMM scores), a
    ragged-dim row, AND a probe with a NULL ELEMENT (vec_id < 50 —
    the float(None) driver-pull crash the review found: the kernel
    must classify it un-stackable and emit all its pairs for the
    exact rescore, exactly as the literal fold scores it NULL)."""
    from dist_mapreduce_spark.plans.knn_graph import _emb, _probe_truth
    from tests.conftest import SF_SMOKE

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    e = _emb(spark, SF_SMOKE)
    assert rows(_literal_probe_truth(e)) == rows(_probe_truth(e))

    data = []
    for v in range(60):
        base = [((v % 7) * 13 + j) % 5 - 2.0 for j in range(8)]
        for r in range(20):
            data.append((v * 20 + r, [float(x) for x in base], 1))
    data.append((5000, None, 1))        # NULL embedding
    data.append((5001, [0.0] * 8, 1))   # zero norm -> non-finite
    data.append((5002, [1.0] * 4, 1))   # ragged dim
    data.append((7, [1.0, None] + [0.5] * 6, 1))  # NULL-element PROBE
    df = spark.createDataFrame(
        data, "vec_id long, embedding array<float>, label int"
    )
    lit = rows(_literal_probe_truth(df))
    gem = rows(_probe_truth(df))
    assert lit == gem and len(lit) > 0


def test_assign_near_tie_takes_exact_rescore(spark):
    """r = 1 (cell assignment) goes through the same near-tie rescore
    as the prefix: when the GEMM numbers put a centroid within
    _GEMM_RANK_EPS of the best, the winner comes from the exact
    sequential fold, not from argmax. The kernel is fed a GEMM-side
    matrix perturbed by 2e-10 (standing in for BLAS accumulation
    error), under which plain argmax picks the other cell."""
    import numpy as np

    from dist_mapreduce_spark.plans.similarity import (
        _py_norm,
        assign_cells,
        gemm_rank_block,
    )

    # Exact scores for v = (1, 0): cid 3 → 1.0, cid 7 → 1 − 9.8e-11.
    cents = [(3, [1.0, 0.0]), (7, [1.0, 1.4e-5])]
    cvecs = [cv for _, cv in cents]
    norms = np.asarray([_py_norm(cv) for cv in cvecs])
    vmat = np.asarray([[1.0, 0.0]])
    blas_side = np.asarray([[1.0 - 2e-10, 0.0], [1.0, 1.4e-5]])
    assert int(np.argmax((vmat @ blas_side.T) / norms, axis=1)[0]) == 1
    top = gemm_rank_block(vmat, blas_side, norms, cvecs, 1)
    assert top.tolist() == [[0]]

    # End to end: assign_cells lands the near-tie row where the SQL
    # reference does.
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.4e-5])],
        "vec_id long, embedding array<double>",
    )
    lit = _literal_cells(df, cents)
    gem = _cells_map(assign_cells(spark, df, cents).select("vec_id", "cell"))
    assert lit == gem == {1: 3, 2: 7}
