"""Similarity search over embeddings + multimodal column queries
(SURVEY.md §2.12 `sim_topk` / `multimodal_cols`).

Embeddings table: (vec_id bigint, embedding array<float> dim 64,
label int). Cosine scores are computed as the SAME sequential double
fold on both engines (functions/vectors.py), so scores — and therefore
rankings — are bit-identical; no rounding fudge needed.

Scale design: brute-force top-k is one broadcast + one corpus scan per
query batch (the correct dense baseline); the LSH variant buckets by
deterministic random-hyperplane signs so candidate generation is an
equi-join on bucket id — the same shuffle-friendly shape as MinHash
banding.
"""

from __future__ import annotations

import random
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_mapreduce_spark.functions.vectors import (
    _dot_duckdb,
    _dot_spark,
    cosine_duckdb_sql,
    cosine_prenormed_spark_sql,
    cosine_spark_sql,
    norm2_spark_sql,
)
from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.session import spread
from dist_mapreduce_spark.sources.tables import load_table

N_QUERIES = 5        # query set: vec_id < 5
TOP_K = 10
NEAR_DUP_COS = 0.30  # p99 of the within-label cosine distribution

# Deterministic random hyperplanes for LSH (seeded; inlined into both
# dialects). Round 4: the single 4-plane table (recall@10 = 0.10 per
# `sim_recall`) was replaced by the standard OR-amplification —
# N_TABLES independent tables of N_PLANES hyperplanes each, and
# queries probe every Hamming-1 neighbor bucket per table
# (multi-probe). Parameterization chosen from a measured sweep on the
# driver corpus (tables × planes × probe radius vs recall and corpus
# fraction examined): 5×6/H1 = 0.74 recall at 42% examined,
# 8×6/H1 = 0.92 at 58%, H2 variants reach 1.0 only by examining
# ~90%. Deployed: 8 tables — recall@10 = 0.92 at sf0.01 while
# examining ~58% of this corpus, whose true top-10 neighbors sit at
# cosine 0.24-0.40 (near-orthogonal, the hard regime for hyperplane
# LSH; on a clustered real-embedding corpus the same config examines
# far less).
_rng = random.Random(64_2026)
N_PLANES = 6            # planes per table → 64 buckets per table
N_TABLES = 8            # OR'd tables: a pair collides if ANY table agrees
SIG_STRIDE = 1024       # table t's bucket ids live in [t*1024, t*1024+64)
DIM = 64
PLANES = [
    [[_rng.randint(-3, 3) for _ in range(DIM)] for _ in range(N_PLANES)]
    for _ in range(N_TABLES)
]


def _dot_plane_spark(vec: str, plane: list[int]) -> str:
    arr = ", ".join(str(v) for v in plane)
    return (
        f"aggregate(zip_with({vec}, array({arr}),"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot_plane_duckdb(vec: str, plane: list[int]) -> str:
    # Unrolled with the plane coefficients as literals — identical
    # 0.0-seeded left-assoc fold as the Spark twin (zero coefficients
    # kept: dropping a `+ v*0` term would change the op sequence);
    # ~60x faster than the old list_reduce lambda (see
    # functions/vectors.py:_dot_duckdb).
    terms = " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * CAST({v} AS DOUBLE)"
        for i, v in enumerate(plane)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def _bucket_spark(vec: str, planes: list[list[int]]) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_dot_plane_spark(vec, p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})"


def _bucket_duckdb(vec: str, planes: list[list[int]]) -> str:
    terms = " + ".join(
        f"(CASE WHEN {_dot_plane_duckdb(vec, p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})"


def _lsh_sig_cols_duckdb() -> str:
    """b0..b{T-1} bucket columns over `embedding` (DuckDB dialect)."""
    return ", ".join(
        f"{_bucket_duckdb('embedding', PLANES[t])} AS b{t}"
        for t in range(N_TABLES)
    )


def _lsh_corpus_sigs_duckdb() -> str:
    return "[" + ", ".join(f"{SIG_STRIDE * t} + b{t}" for t in range(N_TABLES)) + "]"


def _lsh_probe_sigs_duckdb() -> str:
    """Per-table base bucket plus every Hamming-1 flip (multi-probe)."""
    probes = []
    for t in range(N_TABLES):
        probes.append(f"{SIG_STRIDE * t} + b{t}")
        probes.extend(
            f"{SIG_STRIDE * t} + xor(b{t}, {1 << i})" for i in range(N_PLANES)
        )
    return "[" + ", ".join(probes) + "]"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------ brute force topk

@query(
    "sim_topk_bruteforce",
    oracle=(
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings"
        f"  WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM embeddings e, q WHERE e.vec_id <> q.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    ),
)
def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query batch, one scan of the
    corpus, per-query heap via window row_number. At 100 TB this is the
    gold-standard baseline: cost = one pass per query batch, perfectly
    parallel, zero index maintenance."""
    emb = _emb(spark, sf_dir)
    # Norms once per row, not once per pair (round 15, guide §1.2):
    # inline cosine folds the query norm N times and each corpus norm
    # Q times; precomputing the squared norms on each side before the
    # pair join leaves only the dot-product fold in the Q×N stage.
    # cosine_prenormed runs the identical IEEE sequence on the same
    # doubles → bit-identical scores.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm2_spark_sql("embedding")).alias("qn2"),
    )
    scored = (
        emb.select(
            "vec_id", "embedding",
            F.expr(norm2_spark_sql("embedding")).alias("en2"),
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.expr(cosine_prenormed_spark_sql("qv", "embedding", "qn2", "en2")),
        )
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


# ------------------------------------------------------- filtered search

#: Metadata predicate for the filtered-search family: top-k among the
#: vectors whose `label` equals this (≈10% of the corpus — each of the
#: 10 labels is roughly uniform in the driver data). The production
#: feature every vector store ships as "filtered vector search".
FILTER_LABEL = 3


@query(
    "sim_topk_filtered",
    oracle=(
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings"
        f"  WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM embeddings e, q WHERE e.vec_id <> q.query_id"
        f"   AND e.label = {FILTER_LABEL})"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    ),
)
def q_sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact top-k — the PRE-FILTER strategy: apply
    the attribute predicate FIRST (label = FILTER_LABEL), then exact
    cosine over the survivors. Correct by construction (recall 1.0 by
    definition); cost ∝ selectivity × corpus, so it is the right plan
    whenever the predicate is selective — the strategy pgvector calls
    exact filtered scan and FAISS users implement with IDSelector.

    Scale shape: one corpus scan with BOTH the label predicate and the
    column projection pushed to parquet (PushedFilters does the row-
    group skipping), broadcast query batch, window top-k — i.e. it
    inherits sim_topk_bruteforce's perfectly-parallel shape with the
    scan shrunk by the filter. The post-filter twin served from the
    partitioned index is sim_topk_filtered_ivf; sim_filtered_stats
    publishes the selectivity/recall numbers a query planner would
    switch strategies on."""
    emb = _emb(spark, sf_dir)
    # Same norms-once-per-row rewrite as sim_topk_bruteforce (round 15).
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm2_spark_sql("embedding")).alias("qn2"),
    )
    scored = (
        emb.filter(F.col("label") == FILTER_LABEL)
        .select(
            "vec_id", "embedding",
            F.expr(norm2_spark_sql("embedding")).alias("en2"),
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.expr(cosine_prenormed_spark_sql("qv", "embedding", "qn2", "en2")),
        )
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


# --------------------------------------------------------- range search

#: Cosine radius for range search. On the isotropic driver corpus the
#: cosine of a random pair concentrates around 0 with sd ≈ 1/√dim =
#: 0.125, so τ = 0.25 (≈2σ) returns a small true-neighbor set per
#: query rather than the whole corpus; real embedding deployments run
#: the same query at τ ≈ 0.8–0.95.
RANGE_TAU = 0.25


@query(
    "sim_range_search",
    oracle=(
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings"
        f"  WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM embeddings e, q WHERE e.vec_id <> q.query_id)"
        f" SELECT query_id, vec_id, score FROM s WHERE score >= {RANGE_TAU}"
    ),
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the OTHER similarity query shape every
    vector store serves (FAISS range_search, pgvector `<=>` with a
    WHERE): return ALL vectors within a similarity radius of each
    query, not a fixed k. Unlike top-k there is no per-query window at
    all: one corpus scan, broadcast query batch, a scalar predicate —
    embarrassingly parallel, no shuffle, no skew surface (a dense
    query just emits more rows). NULL vectors drop out through NULL
    score in both dialects. At 100 TB the same query runs against the
    cell-partitioned index with probes covering every cell whose
    centroid cap-angle intersects the radius — the top-k machinery's
    pruning applies unchanged; the exact one-scan form here is the
    gold-standard baseline and the right plan for offline batch use
    (e.g. harvesting all near-duplicates of a blocklist)."""
    emb = _emb(spark, sf_dir)
    # Same norms-once-per-row rewrite as sim_topk_bruteforce (round 15).
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm2_spark_sql("embedding")).alias("qn2"),
    )
    return (
        emb.select(
            "vec_id", "embedding",
            F.expr(norm2_spark_sql("embedding")).alias("en2"),
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.expr(cosine_prenormed_spark_sql("qv", "embedding", "qn2", "en2")),
        )
        .filter(F.col("score") >= RANGE_TAU)
        .select("query_id", "vec_id", "score")
    )


# ------------------------------------------------------------- LSH topk

def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped LSH candidate set (query_id, vec_id, score) — the part of
    sim_topk_lsh before the top-k window; shared with the candidate-
    fraction audit in plans/ann_index.py so 'what the index examines'
    has exactly one definition."""
    sig = _emb(spark, sf_dir)
    for t in range(N_TABLES):
        sig = sig.withColumn(
            f"b{t}", F.expr(_bucket_spark("embedding", PLANES[t]))
        )
    corpus = sig.select(
        "vec_id",
        "embedding",
        # Norm once per row, not once per collision (round 15; same
        # rewrite as sim_topk_bruteforce — scores stay bit-identical).
        F.expr(norm2_spark_sql("embedding")).alias("en2"),
        F.explode(
            F.array(*[F.expr(f"{SIG_STRIDE * t} + b{t}") for t in range(N_TABLES)])
        ).alias("sig"),
    )
    probe_exprs: list[str] = []
    for t in range(N_TABLES):
        probe_exprs.append(f"{SIG_STRIDE * t} + b{t}")
        probe_exprs.extend(
            f"{SIG_STRIDE * t} + (b{t} ^ {1 << i})" for i in range(N_PLANES)
        )
    probes = (
        sig.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.expr(norm2_spark_sql("embedding")).alias("qn2"),
            F.explode(F.array(*[F.expr(e) for e in probe_exprs])).alias("qsig"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(probes),
            (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "score",
            F.expr(cosine_prenormed_spark_sql("qv", "embedding", "qn2", "en2")),
        )
        .select("query_id", "vec_id", "score")
    )
    # A pair colliding in several tables scores identically each time;
    # max() is a pure dedup and the shuffle carries 3 narrow columns.
    return scored.groupBy("query_id", "vec_id").agg(F.max("score").alias("score"))


@query(
    "sim_topk_lsh",
    oracle=(
        # sig AS MATERIALIZED: the 128 hyperplane folds per row are the
        # oracle's dominant cost and the CTE is referenced by both e and
        # q — DuckDB inlines plain CTEs, recomputing the pass (measured
        # 1.58 s → 0.54 s at sf0.01, identical rows).
        f"WITH sig AS MATERIALIZED (SELECT vec_id, embedding,"
        f" {_lsh_sig_cols_duckdb()}"
        f"  FROM embeddings),"
        f" e AS (SELECT vec_id, embedding,"
        f"  {_lsh_corpus_sigs_duckdb()} AS sigs FROM sig),"
        f" q AS (SELECT vec_id AS query_id, embedding AS qv,"
        f"  {_lsh_probe_sigs_duckdb()} AS probes"
        f"  FROM sig WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM e JOIN q ON list_has_any(e.sigs, q.probes)"
        f"   AND e.vec_id <> q.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    ),
)
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table, multi-probe random-hyperplane
    LSH: each of N_TABLES independent tables hashes a vector to the
    sign pattern of its N_PLANES hyperplane dot products; a corpus
    vector is a candidate if ANY table puts it in the query's bucket or
    a Hamming-1 neighbor of it (multi-probe). OR-amplification is the
    standard recall lever — recall@10 measured at 0.92 (sf0.01 AND
    sf0.1) with the deployed 8 tables, vs 0.74 for 5 tables and 0.10
    for a single 4-plane table. Deterministic seeded
    planes keep the approximate result exactly oracle-checkable.

    Scale shape: corpus signatures explode to (sig, vec) rows, query
    probes explode to (sig, query) rows, and candidate generation is a
    plain equi-join on sig — shuffle-friendly, no all-pairs anywhere.
    Duplicate candidates (a pair colliding in several tables) collapse
    in a (query_id, vec_id) aggregate that carries only the score, not
    the vectors. At 100 TB the N_TABLES sigs are precomputed at ingest
    and the corpus is bucketed by sig, so probing = partition pruning;
    recall/candidate-count tunes via (N_TABLES, N_PLANES, probe radius)
    without touching the plan shape."""
    dedup = lsh_candidates(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        dedup.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


# -------------------------------------------------------------- IVF topk

CENT_MOD = 41   # deterministic "sampled" centroid set: vec_id % 41 == 3
CENT_REM = 3
CENT_CAP = CENT_MOD * 64  # ≤64 centroids: k is FIXED, not ∝ corpus size
# n_probe from a measured sweep at sf0.1 (49 cells): 8 → 0.48 recall
# at 16% of the corpus examined, 16 → 0.70/33%, 24 → 0.90/50%,
# 32 → 0.94/66%. Deployed 24: recall comparable to the 8-table LSH at
# comparable examined fraction. At sf0.01 the corpus has only 13
# cells, so probing min(n_probe, k) of them degenerates to exact
# search (recall 1.0) — the textbook small-corpus behavior: IVF only
# prunes once k > n_probe, i.e. exactly the 100 TB regime where the
# quantizer caps at 64 cells and queries touch 24/64 = 37%. On isotropic data the IVF recall/cost
# frontier sits below the multi-probe LSH above — cells capture no real
# cluster structure; production embedding corpora (which cluster) do
# far better at the same n_probe.
N_PROBE = 24

# Cell ranking uses dot/|c| (NOT full cosine): the query row's own norm
# is a positive per-row constant, so dividing by it cannot change which
# centroid ranks where — and leaving it out means both engines rank on
# the IDENTICAL expression with no per-row norm to recompute k times.
# Search scores below remain full cosine. The CTE fragments are shared
# with plans/ann_index.py (sim_index_build / sim_topk_ivf_pruned) so
# the cell-assignment semantics have exactly ONE definition.
#: The nearest-centroid assignment CTEs (sc/rkd/cells) shared VERBATIM
#: by the sampled and the trained quantizer chains — whatever defines
#: `cent (cent_id, cvec)` upstream, assignment semantics (dot/|c|
#: ranking, cent_id tie-break, NULL rows to the lowest cent_id) have
#: exactly ONE definition. The lifecycle oracles' frozen-quantizer
#: surgery (.replace on "FROM embeddings e, cent c") lands here.
_IVF_ASSIGN_CTES = (
    f" sc AS (SELECT e.vec_id, e.embedding, c.cent_id,"
    f"  ({_dot_duckdb('e.embedding', 'c.cvec')}"
    f"   / sqrt({_dot_duckdb('c.cvec', 'c.cvec')})) AS cscore"
    f"  FROM embeddings e, cent c),"
    f" rkd AS (SELECT *, row_number() OVER (PARTITION BY vec_id"
    f"  ORDER BY cscore DESC, cent_id) AS crk FROM sc),"
    f" cells AS (SELECT vec_id, embedding, cent_id AS cell"
    f"  FROM rkd WHERE crk = 1)"
)

IVF_CELLS_CTE = (
    # embedding IS NOT NULL: a corrupt (NULL-vector) row that happens
    # to land on the deterministic centroid predicate must not become
    # a centroid — it would NULL every cscore it touches. Mirrored in
    # ivf_cent_rows (the Python collect would also crash on float(None)).
    f"cent AS (SELECT vec_id AS cent_id, embedding AS cvec"
    f"  FROM embeddings WHERE vec_id % {CENT_MOD} = {CENT_REM}"
    f"  AND vec_id < {CENT_CAP} AND embedding IS NOT NULL),"
    + _IVF_ASSIGN_CTES
)
def ivf_probes_cte(n_queries: int) -> str:
    """The probes CTE parameterized by query-batch size — the batched
    serving query (plans/ann_index.py sim_serve_batch) runs the same
    oracle at a larger batch to prove the one-plan join path."""
    return (
        f"probes AS (SELECT vec_id AS query_id, embedding AS qv,"
        f"  cent_id AS pcell FROM rkd"
        f"  WHERE vec_id < {n_queries} AND crk <= {N_PROBE})"
    )


def ivf_topk_oracle(n_queries: int) -> str:
    """IVF top-k oracle for an arbitrary query-batch size."""
    return (
        f"WITH {IVF_CELLS_CTE},"
        f" {ivf_probes_cte(n_queries)},"
        f" s AS (SELECT p.query_id, cl.vec_id,"
        f"  {cosine_duckdb_sql('p.qv', 'cl.embedding')} AS score"
        f"  FROM cells cl JOIN probes p"
        f"   ON cl.cell = p.pcell AND cl.vec_id <> p.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    )


IVF_TOPK_ORACLE = ivf_topk_oracle(N_QUERIES)


def ivf_cent_rows(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Pull the deterministic centroid subset to the driver (≤64 rows ×
    64 floats regardless of corpus size — CENT_CAP bounds the predicate
    in both dialects)."""
    return sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") % CENT_MOD == CENT_REM)
            & (F.col("vec_id") < CENT_CAP)
            & F.col("embedding").isNotNull()
        ).select("vec_id", "embedding").collect()
    )


def py_dot(a: list[float], b: list[float]) -> float:
    """The engines' sequential left fold, replayed in IEEE doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_norm(vec: list[float]) -> float:
    # The oracle's sqrt(left-fold of v·v) replayed in IEEE doubles.
    import math

    return math.sqrt(py_dot(vec, vec))


#: Guard band for the ranked prefix (mirror of knn_graph's
#: _GEMM_PAIR_EPS): BLAS and the oracle's sequential fold agree to
#: ~dim·ulp ≈ 1.4e-14 on unit-scale cosines, so 1e-9 over-covers by
#: ~5 orders of magnitude while still never triggering on real score
#: gaps.
_GEMM_RANK_EPS = 1e-9


def gemm_rank_block(vmat, cmat, norms, cvecs, r: int):
    """Indices (b×r) of the top-``r`` centroids of every row of ``vmat``
    (b×dim, all finite) by dot/|c| DESC, then index ASC — the package's
    one centroid-ranking kernel. ``cmat`` (k×dim) and ``cvecs`` hold the
    cid-sorted centroids, ``norms`` their exact _py_norm doubles.

    GEMM, then /|c|, then a stable argsort (r = 1 takes argmax, whose
    first-index rule is the stable sort's first column). BLAS and the
    oracle's sequential fold agree only to ~dim·ulp, so a row where a
    centroid outside the prefix scores within _GEMM_RANK_EPS of the
    r-th best, or two prefix neighbours sit within it, is flagged by
    one array pass, and only the flagged rows re-rank their contender
    band (score >= r-th best − EPS) by the EXACT fold (py_dot /
    _py_norm). Normal data (score gaps >> 1e-9) never pays."""
    import numpy as _np

    scores = vmat @ cmat.T      # the GEMM
    scores /= norms             # dot/|c|
    if r == 1:
        top = _np.argmax(scores, axis=1)[:, None]
    else:
        top = _np.argsort(-scores, axis=1, kind="stable")[:, :r]
    pref = _np.take_along_axis(scores, top, axis=1)
    band = pref[:, -1:] - _GEMM_RANK_EPS
    near = (scores >= band).sum(axis=1) > r
    if r > 1:
        near |= (pref[:, :-1] - pref[:, 1:]).min(axis=1) <= _GEMM_RANK_EPS
    for b in _np.nonzero(near)[0]:
        v = vmat[b].tolist()
        exact = sorted(
            (-(py_dot(v, cvecs[c]) / norms[c]), int(c))
            for c in _np.nonzero(scores[b] >= band[b, 0])[0]
        )
        top[b] = [c for _s, c in exact[:r]]
    return top


def gemm_rank_cells(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    r: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``rcells`` (the top-``r`` centroid ids by dot/|c| DESC,
    cent_id ASC — the oracle's rkd order, crk <= r) to every row of
    ``df``, ranked by gemm_rank_block over each Arrow batch. Every
    centroid ranking in the package goes through here: r = 1 is cell
    assignment (assign_cells), r = n is a probe or residency prefix
    (probe_cells).

    Contract with the oracle's ranking:
    - valid rows (len == dim, all elements finite) take the kernel's
      order, near-ties finalized by the exact sequential fold.
    - degenerate rows (NULL vector, ragged length, NULL/NaN element)
      fold every oracle score to NULL, so ALL centroids tie and the r
      SMALLEST cent_ids win — replicated verbatim.
    - a ±inf ELEMENT raises ValueError: the fold can rank a real
      winner there (inf·0 = NaN for some centroids, ±inf for others),
      so rather than silently misplacing such vectors this path
      refuses them loudly; the embedding_audit ingest gate is the
      upstream fix.
    - a zero-norm CENTROID makes dot/|c| abort under ANSI
      (DIVIDE_BY_ZERO), so this path raises ValueError up front
      rather than inventing semantics the oracle lacks.

    Preserves every input column; no shuffle (mapInPandas is
    partition-preserving — repartition upstream for CPU spread, as
    assign_cells does)."""
    import numpy as _np

    if not cent_rows:
        raise ValueError("gemm_rank_cells: no centroids")
    cids = [cid for cid, _ in cent_rows]
    # Explicit raise, not assert: this guard protects tie CORRECTNESS
    # (index order is the min-cent_id tiebreak only in sorted order)
    # and must survive `python -O`.
    if cids != sorted(cids):
        raise ValueError(
            "gemm_rank_cells: cent_rows must be cent_id-sorted —"
            " stable argsort is the min-cent_id tiebreak only in"
            " sorted order"
        )
    r = min(r, len(cent_rows))
    dim = len(cent_rows[0][1])
    cmat = _np.asarray([cv for _, cv in cent_rows], dtype=_np.float64)
    # EXACT norms (the oracle's sqrt of the left fold), so the only
    # BLAS-vs-oracle divergence left is the dot's fold order — that is
    # what the kernel's near-tie rescore absorbs.
    norms = _np.asarray([_py_norm(cv) for _, cv in cent_rows])
    if bool((norms == 0.0).any()):
        raise ValueError(
            "gemm_rank_cells: zero-norm centroid — the oracle's"
            " ranking aborts on this too (ANSI DIVIDE_BY_ZERO)"
        )
    cvecs = [list(map(float, cv)) for _, cv in cent_rows]
    cid_arr = _np.asarray(cids, dtype=_np.int64)
    # Bound the score matrix to ~32 MB whatever the Arrow batch size × k
    # (at K_MAX=4096 a 10k-row batch would otherwise allocate 327 MB).
    blk = max(1, (4 << 20) // len(cent_rows))
    # A FRESH StructType: StructType.add mutates in place, and
    # df.schema returns the DataFrame's cached instance.
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("rcells", ArrayType(LongType()))]
    )

    def _rank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # All-NULL tie (degenerate rows) → the r smallest cids.
            top = _np.tile(_np.arange(r), (len(pdf), 1))
            vals = pdf[vec_col].to_numpy()
            ok = _np.nonzero(
                [v is not None and len(v) == dim for v in vals]
            )[0]
            if ok.size:
                # NULL elements arrive as NaN through the float64
                # conversion; NaN folds the oracle's dot to NULL →
                # min-cent_id, replicated by leaving the row out.
                vmat = _np.array(list(vals[ok]), dtype=_np.float64)
                if bool(_np.isinf(vmat).any()):
                    raise ValueError(
                        "gemm_rank_cells: embedding with a ±inf"
                        " element — outside the GEMM path's"
                        " contract (the oracle's fold can rank a real"
                        " winner here); reject such rows upstream"
                        " (embedding_audit) before assignment"
                    )
                fin = _np.isfinite(vmat).all(axis=1)
                ok, vmat = ok[fin], vmat[fin]
                for lo in range(0, ok.size, blk):
                    top[ok[lo:lo + blk]] = gemm_rank_block(
                        vmat[lo:lo + blk], cmat, norms, cvecs, r
                    )
            pdf["rcells"] = list(cid_arr[top])
            yield pdf

    return df.mapInPandas(_rank, out_schema)


def assign_cells(
    spark: SparkSession,
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` (the nearest centroid, gemm_rank_cells at r = 1)
    to ``df``. Repartitions first: assignment is CPU-bound per row and
    the source parquet's split count must not serialize it."""
    df = spread(df)
    return gemm_rank_cells(df, cent_rows, 1, vec_col).withColumn(
        "cell", F.col("rcells")[0]
    ).drop("rcells")


def assigned_cell_ids(
    spark: SparkSession,
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
) -> list[int]:
    """The sorted distinct cells assign_cells gives ``df`` — the
    affected-cell pull of every index mutation (bounded by k; only
    the vector column is assigned)."""
    rows = assign_cells(spark, df.select("embedding"), cent_rows)
    return sorted(int(r["cell"]) for r in rows.select("cell").distinct().collect())


def probe_cells(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n: int,
    vec_col: str = "embedding",
    out_col: str = "pcell",
) -> DataFrame:
    """Every row of ``df`` exploded to its ``n`` nearest cells
    (gemm_rank_cells' prefix) as ``out_col``."""
    return gemm_rank_cells(df, cent_rows, n, vec_col).withColumn(
        out_col, F.explode("rcells")
    ).drop("rcells")


def ivf_probes_df(
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_queries: int = N_QUERIES,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """(query_id, qv, pcell) — each query row exploded to its n_probe
    nearest cells, ranked on a `vec_id < n_queries`-pruned scan."""
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return probe_cells(queries, cent_rows, n_probe, vec_col="qv")


def ivf_py_probe_cells(
    cent_rows: list[tuple[int, list[float]]], qv: list[float], n_probe: int
) -> list[int]:
    """The oracle's probe ranking (dot/|c| DESC, cent_id ASC) replayed
    on the driver in IEEE doubles — used by the pruned-serving variant
    where the probe list must be a LITERAL partition filter.

    A zero-norm centroid scores 0/0 = NaN in the SQL twins, and NaN
    sorts GREATER than every other double in both Spark and DuckDB —
    i.e. last under this ascending key. Python float division raises
    instead, so replay that ordering explicitly: zero-norm centroids go
    after all finite/inf scores, tie-broken by cent_id, rather than
    crashing the driver."""
    scored: list[tuple[float, int]] = []
    zero_norm: list[int] = []
    for cid, cv in cent_rows:
        nrm = _py_norm(cv)
        if nrm == 0.0:
            zero_norm.append(cid)
        else:
            scored.append((-(py_dot(qv, cv) / nrm), cid))
    ranked = [cid for _, cid in sorted(scored)] + sorted(zero_norm)
    return ranked[:n_probe]


# ---------------------- trained default coarse quantizer (round 9)
#
# The DEFAULT quantizer behind the whole index/serving family
# (sim_index_build and everything reading it) is now TRAINED: the
# fixed-point integer k-means trainer (plans/iterative.py — exact
# int64 Lloyd's, bit-reproducible, oracle-replayable) produces K
# centroids, which are dequantized to EXACT doubles (int / 2^20 — a
# power-of-two division, one exact IEEE op) and flow through the SAME
# dot/|c| assignment/probing machinery as before — so everything
# downstream (pure-map cell assignment, partition-pruned
# probes, the lifecycle oracles' frozen-quantizer surgery) is
# unchanged; only the centroid SET changed from a vec_id-predicate
# sample to density-tracking trained centroids. The measured round-8
# win (candidate fraction 0.498 → 0.367 at recall 0.90 → 0.96,
# docs/SCALE.md) motivated the flip; sim_cand_stats / sim_recall
# re-certify it on the new default. The sampled path stays available
# as `sim_topk_ivf_sampled` (and is still the blocking heuristic for
# the kNN-graph family, which has its own stress-tested caps).
#
# K follows the corpus size (round-9 verdict item #3): the fixed K=8
# under-partitions as N grows and over-partitions relative to its
# 3-probe budget at small N. Rule, mirrored EXACTLY in the oracle:
#   k  = clamp(floor(sqrt(N)) // K_DIV, K_MIN, K_MAX)
#   np = min(k_eff, max(NPROBE_MIN, ceil(NPROBE_BUDGET·k_eff / N)))
# np keeps the EXPECTED candidate pool per query at ~NPROBE_BUDGET
# rows whatever the scale: at small N it saturates to every cell
# (serving degenerates to exact search, recall 1.0 — matching the
# sampled quantizer's small-corpus behavior), at large N the probed
# FRACTION shrinks as sqrt growth outpaces the budget. Both rules are
# exact integer/IEEE arithmetic from one table statistic (count(*)),
# so the driver replay and the oracle's scalar subqueries agree
# bit-for-bit.

K_MIN = 8
K_MAX = 4096
K_DIV = 3
NPROBE_MIN = 3
NPROBE_BUDGET = 50 * TOP_K   # expected scored candidates per query

# Training sample (round 10): the trainer runs on the deterministic
# md5-stride sample that iterative.TRAIN_SAMPLE_CAP defines (stride 1
# at every gate scale; the 20×+ stress corpora are where it binds —
# measured: the x20 dense index build fell from 234.7 s, training
# dominated, with the full-corpus trainer to the sampled cost recorded
# in docs/SCALE.md).
from dist_mapreduce_spark.plans.iterative import (  # noqa: E402
    KMEANS_SCALE,
    N_ITER,
    TRAIN_NSTAT_CTE,
    TRAIN_SRULE_CTE,
    kmeans_quantize_col,
    kmeans_train_ctes,
    train_kmeans_centroids_df,
    train_sample,
    train_sample_pred_duck,
)

_CLAST = f"c{N_ITER}"

#: count(*) statistic + the K rule + the training-sample stride as
#: scalar CTEs.
_TRAINED_RULE_CTES = (
    f"{TRAIN_NSTAT_CTE},"
    f" krule AS (SELECT greatest(least(CAST(floor(sqrt(CAST(greatest(n, 1)"
    f" AS DOUBLE))) AS BIGINT) // {K_DIV}, {K_MAX}), {K_MIN}) AS k"
    f" FROM nstat),"
    f" {TRAIN_SRULE_CTE}"
)

#: Trained centroids dequantized to exact doubles, feeding the SHARED
#: assignment suffix under the same `cent (cent_id, cvec)` contract.
_TRAINED_CENT_CTE = (
    f" cent AS MATERIALIZED (SELECT cid AS cent_id,"
    f" list_transform(cq, x -> CAST(x AS DOUBLE) / {float(KMEANS_SCALE)})"
    f" AS cvec FROM {_CLAST})"
)

#: Full trained chain: statistics → K rule → 5-round integer Lloyd's
#: (NULL-guarded, LIMIT from the rule) → dequantized cent → the shared
#: sc/rkd/cells assignment. Drop-in replacement for IVF_CELLS_CTE.
TRAINED_CELLS_CTE = (
    _TRAINED_RULE_CTES
    + ", "
    + ", ".join(
        kmeans_train_ctes(
            k_sql="(SELECT k FROM krule)",
            null_guard=True,
            extra_where=train_sample_pred_duck(),
        )
    )
    + ","
    + _TRAINED_CENT_CTE
    + ","
    + _IVF_ASSIGN_CTES
)

#: k_eff (trained centroid count — ≤ k when the corpus is tiny) and
#: the probe-count rule. Requires TRAINED_CELLS_CTE in scope.
TRAINED_NPROBE_CTES = (
    f"keff AS (SELECT CAST(count(*) AS BIGINT) AS ke FROM {_CLAST}),"
    f" npr AS (SELECT least(ke, greatest({NPROBE_MIN},"
    f" ({NPROBE_BUDGET} * ke + greatest(n, 1) - 1) // greatest(n, 1)))"
    f" AS np FROM keff, nstat)"
)


def trained_probes_cte(n_queries: int) -> str:
    """The probes CTE over the trained rkd at the rule's probe depth."""
    return (
        f"probes AS (SELECT vec_id AS query_id, embedding AS qv,"
        f"  cent_id AS pcell FROM rkd"
        f"  WHERE vec_id < {n_queries} AND crk <= (SELECT np FROM npr))"
    )


def trained_topk_oracle(n_queries: int) -> str:
    """Trained-quantizer IVF top-k oracle for an arbitrary batch size."""
    return (
        f"WITH {TRAINED_CELLS_CTE},"
        f" {TRAINED_NPROBE_CTES},"
        f" {trained_probes_cte(n_queries)},"
        f" s AS (SELECT p.query_id, cl.vec_id,"
        f"  {cosine_duckdb_sql('p.qv', 'cl.embedding')} AS score"
        f"  FROM cells cl JOIN probes p"
        f"   ON cl.cell = p.pcell AND cl.vec_id <> p.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    )


#: Trained quantizers already built by THIS process, keyed on the
#: source frame's (semantic plan hash, source-file stat fingerprint) —
#: training runs once per corpus, serving queries reuse the k×dim
#: literals (the build_ivf_index memoization convention; the file-stat
#: component makes an in-place corpus rewrite force a retrain). LRU,
#: bounded at _TRAINED_MEMO_CAP entries (knn_graph._RES_MEMO's cap): a
#: loop over fresh corpora adds one key per corpus and never revisits
#: the old ones.
_TRAINED_MEMO: "OrderedDict" = OrderedDict()
_TRAINED_MEMO_CAP = 16


def stat_hash(paths) -> str:
    """md5 over (path, size, mtime_ns) of every file in ``paths`` — an
    os.stat sweep, no data read: the freshness signal a table format's
    snapshot id provides at scale (ns mtimes, so even an immediate
    in-place rewrite changes it). A path that cannot be stat'ed hashes
    by name."""
    import hashlib as _hl
    import os as _os

    h = _hl.md5()
    for p in sorted(paths):
        try:
            st = _os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(p.encode())
    return h.hexdigest()


def _frame_fingerprint(emb: DataFrame) -> tuple:
    paths = []
    for p in emb.inputFiles():
        for pre in ("file://", "file:"):
            if p.startswith(pre):
                p = p[len(pre):]
                break
        paths.append(p)
    try:
        sh = emb.semanticHash()
    except Exception:
        sh = None
    return (sh, stat_hash(paths))


def trained_quantizer(
    emb: DataFrame,
    key: tuple | None = None,
    materialized: bool = False,
    derived: bool = False,
) -> tuple[list[tuple[int, list[float]]], int]:
    """(cent_rows, n_corpus) for the default trained quantizer:
    count the corpus (the one exact statistic both rules read), derive
    K, run the integer Lloyd's trainer on the NULL-guarded frame, and
    dequantize the centroids to the exact doubles the oracle's cent
    CTE computes. cent_rows plugs into the UNCHANGED float machinery
    (assign_cells / ivf_probes_df / ivf_py_probe_cells). Memoized per
    corpus fingerprint.

    Scale note: the trainer needs ~k·10³ points, not N — above
    2·TRAIN_SAMPLE_CAP rows it trains on the deterministic md5-stride
    sample (round 10; the srule/predicate twins keep the sample —
    hence the centroids — hash-exact cross-engine), while K, n_probe,
    and every serving stage still use the full corpus. Training is one
    count plus one collect of the sample (≤ 2·TRAIN_SAMPLE_CAP×64
    integers on the driver) whatever N_ITER is; the rounds run in
    numpy (iterative.train_kmeans_centroids_df)."""
    import math as _math

    # `key` lets a caller that pre-materialized the frame pass the
    # fingerprint of the UNDERIVED twin (a localCheckpoint has no
    # inputFiles and a fresh semanticHash, so fingerprinting it would
    # defeat the cross-query memo); `materialized=True` says the caller
    # already checkpointed the frame.
    if key is None:
        key = _frame_fingerprint(emb)
    hit = _TRAINED_MEMO.get(key)
    if hit is not None:
        _TRAINED_MEMO.move_to_end(key)
        return hit
    # `derived=True` (round 16, guide §5 / round-15 verdict item #2):
    # the frame is EXPENSIVE to derive (the dense chunk corpus runs the
    # stub encoder), so materialize it ONCE — the corpus count and the
    # training sample below then consume the same checkpointed blocks,
    # where before count() and the sample materialization each
    # re-derived it from scratch (~3–5 s per pass at sf0.1). Raw-scan
    # callers keep the old path: their count() is parquet-metadata
    # cheap and a checkpoint copy would only cost. Memoized-key hits
    # above never reach this, so the warm path allocates nothing.
    if derived and not materialized:
        emb = emb.localCheckpoint()
    n = int(emb.count())
    k = max(
        K_MIN,
        min(K_MAX, int(_math.floor(_math.sqrt(float(max(n, 1))))) // K_DIV),
    )
    # Training sample (round 10): above 2·TRAIN_SAMPLE_CAP rows, train
    # on the deterministic md5-stride subset — stride 1 (= everything)
    # at every gate scale, capped cost at any larger one. K and all
    # serving statistics still derive from the FULL count n. The
    # trainer collects the sample in one action, so nothing needs
    # materializing first.
    q = train_sample(emb.filter(F.col("embedding").isNotNull()), n).select(
        "vec_id", kmeans_quantize_col().alias("q")
    )
    ints = train_kmeans_centroids_df(q, k)
    cent_rows = [
        (cid, [c / float(KMEANS_SCALE) for c in cq])
        for cid, cq in enumerate(ints)
    ]
    out = (cent_rows, n)
    _TRAINED_MEMO[key] = out
    while len(_TRAINED_MEMO) > _TRAINED_MEMO_CAP:
        _TRAINED_MEMO.popitem(last=False)
    return out


def trained_n_probe(ke: int, n: int) -> int:
    """The probe-count rule, exactly as npr computes it."""
    nn = max(n, 1)
    return min(ke, max(NPROBE_MIN, (NPROBE_BUDGET * ke + nn - 1) // nn))


@query("sim_topk_ivf", oracle=trained_topk_oracle(N_QUERIES))
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN on the TRAINED default quantizer
    (round 9): K k-means centroids (K from the corpus-size rule),
    every vector assigned to its nearest centroid cell (argmax
    dot/|c|, centroid-id tiebreak), queries probe their np closest
    cells (np from the candidate-budget rule) and run exact cosine
    only inside them. The oracle replays the ENTIRE training run —
    statistics, K rule, 5 integer Lloyd's rounds, dequantization —
    as a CTE chain, so the trained index stays hash-exact.

    Scale shape (re-planned in round 4, was 10 shuffles / 3 corpus
    scans): the quantizer is k ≤ K_MAX centroids — small enough to
    pull to the driver once (k×dim floats, the same pull
    `kmeans_embeddings` makes), so cell assignment becomes a PURE MAP
    over one corpus scan: a numpy GEMM stage (assign_cells) picks the
    nearest cell with the oracle's exact tie-break, no N·k join and no
    corpus-wide window shuffle. Queries rank the centroids through the
    same kernel (ivf_probes_df) on a second, `vec_id < N_QUERIES`-pruned
    scan and explode their np nearest cells; search is a broadcast equi-join
    on cell id touching ~np/k of the corpus. At 100 TB the cell id is
    precomputed at ingest and the table is partitioned by it, so
    probing = partition pruning; training runs once on a sample
    (~k·10³ points) and amortizes across every query.

    Arithmetic (stress-tuned at 20×): cells are ranked by dot/|c|,
    not full cosine — the row's own norm is a positive per-row
    constant that cannot change the ranking, and ranking WITHOUT it
    means no per-row norm fold at all. The oracle ranks by the
    identical expression; centroid norms are driver-computed doubles
    (the same left fold in IEEE doubles). Search scores remain full
    cosine. The sampled-quantizer original stays value-oracled as
    sim_topk_ivf_sampled."""
    emb = _emb(spark, sf_dir)
    cent_rows, n = trained_quantizer(emb)
    if not cent_rows:
        # Zero trainable vectors (empty corpus / all-NULL embeddings):
        # the oracle's c0 CTE is empty and yields zero rows.
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, score double, rk int"
        )
    cells = assign_cells(spark, emb.select("vec_id", "embedding"), cent_rows)
    probes = ivf_probes_df(
        emb, cent_rows, n_probe=trained_n_probe(len(cent_rows), n)
    )
    scored = (
        cells.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


@query("sim_topk_ivf_sampled", oracle=IVF_TOPK_ORACLE)
def q_sim_topk_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED-quantizer IVF path, kept as the named fallback
    after the round-9 trained-default flip: centroids are the
    deterministic vec_id % {CENT_MOD} == {CENT_REM} subset (closed
    form — no training pass at all), probes are the fixed N_PROBE.
    This is the quantizer a deployment uses before its first training
    run (or when training data is unrepresentative), and it remains
    the blocking heuristic for the kNN-graph family. Same plan shape
    as sim_topk_ivf: pure-map GEMM assignment, broadcast
    probes, one window top-k."""
    emb = _emb(spark, sf_dir)
    cent_rows = ivf_cent_rows(emb)
    if not cent_rows:
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, score double, rk int"
        )
    cells = assign_cells(spark, emb.select("vec_id", "embedding"), cent_rows)
    probes = ivf_probes_df(emb, cent_rows)
    scored = (
        cells.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


# -------------------------------------------------------- ANN recall eval

from dist_mapreduce_spark.plans.registry import ORACLES as _ORACLES  # noqa: E402


def _def_sim_recall():
    # Defined via a closure so the brute-force/LSH/IVF oracles are
    # already registered when this oracle string is assembled.
    # AS MATERIALIZED + single-count restructure (round 6): DuckDB
    # INLINES plain CTEs, so the old scalar-subquery form evaluated
    # each ANN oracle twice (once for n_hit, once inside the recall
    # division) — measured 5.85 s → 2.31 s at sf0.01 with identical
    # rows. Each heavy oracle now runs exactly once.
    return query(
        "sim_recall",
        oracle=(
            f"WITH bf AS MATERIALIZED ({_ORACLES['sim_topk_bruteforce']}),"
            f" l AS MATERIALIZED ({_ORACLES['sim_topk_lsh']}),"
            f" i AS MATERIALIZED ({_ORACLES['sim_topk_ivf']}),"
            f" p AS MATERIALIZED ({_ORACLES['sim_topk_pq']}),"
            f" nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf),"
            f" hl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf t JOIN l a"
            f"  ON t.query_id = a.query_id AND t.vec_id = a.vec_id),"
            f" hi AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf t JOIN i a"
            f"  ON t.query_id = a.query_id AND t.vec_id = a.vec_id),"
            f" hp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf t JOIN p a"
            f"  ON t.query_id = a.query_id AND t.vec_id = a.vec_id)"
            f" SELECT 'lsh' AS method, nt.n AS n_truth, hl.n AS n_hit,"
            f"  CAST(hl.n AS DOUBLE) / CAST(nt.n AS DOUBLE) AS recall"
            f"  FROM nt, hl"
            f" UNION ALL SELECT 'ivf', nt.n, hi.n,"
            f"  CAST(hi.n AS DOUBLE) / CAST(nt.n AS DOUBLE) FROM nt, hi"
            f" UNION ALL SELECT 'pq', nt.n, hp.n,"
            f"  CAST(hp.n AS DOUBLE) / CAST(nt.n AS DOUBLE) FROM nt, hp"
        ),
    )(q_sim_recall)


def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k — the quality metric every approximate-similarity
    deployment monitors: of the exact brute-force top-k pairs, what
    fraction does each index variant (hyperplane LSH, IVF) return?
    Truth and candidates reuse the registered queries verbatim, so this
    certifies the exact metric a user would compute; integer hit counts
    plus one derived double (same division of the same ints on both
    engines). At 100 TB the brute-force truth runs on a sampled query
    set — exactly this shape: recall estimation never needs the full
    corpus, only the query batch."""
    # cache(): the truth frame joins against all three ANN variants
    # below — without it the brute-force scan re-runs per method. Safe
    # to cache (reads only the immutable source parquet, never a
    # scratch path this query rewrites).
    truth = (
        q_sim_topk_bruteforce(spark, sf_dir)
        .select("query_id", "vec_id")
        .cache()
    )
    rows = []
    for method, fn in (
        ("lsh", q_sim_topk_lsh),
        ("ivf", q_sim_topk_ivf),
        ("pq", q_sim_topk_pq),
    ):
        approx = fn(spark, sf_dir).select("query_id", "vec_id")
        flagged = truth.join(
            approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        rows.append(
            flagged.agg(
                F.lit(method).alias("method"),
                F.count("*").alias("n_truth"),
                F.count("hit").alias("n_hit"),
                (
                    F.count("hit").cast("double")
                    / F.count("*").cast("double")
                ).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# NOTE: _def_sim_recall() is invoked at the END of this module, after
# sim_topk_pq registers — its oracle nests all three ANN oracles.


# ----------------------------------------------------- embedding dedup

@query(
    "dedup_embedding",
    oracle=(
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,"
        f" {cosine_duckdb_sql('a.embedding', 'b.embedding')} AS cos_sim"
        f" FROM embeddings a JOIN embeddings b"
        f"  ON a.label = b.label AND a.vec_id < b.vec_id"
        f" WHERE {cosine_duckdb_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS}"
    ),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with label blocking:
    candidate pairs share a label (the blocking key — at 100 TB this is
    a cluster/bucket id from LSH or k-means), exact cosine filters at
    the threshold. Shape: self-equi-join on the block key, never an
    unblocked cross product."""
    emb = _emb(spark, sf_dir)
    # Norms once per row before the block self-join (round 15, guide
    # §1.2): the in-block pair count is quadratic in block size, so the
    # inline form folded each row's norm once per PARTNER; precomputing
    # the squared norm per side leaves only the dot-product fold in the
    # pair stage. Identical IEEE sequence → bit-identical cos_sim.
    en = emb.select(
        "vec_id", "label", "embedding",
        F.expr(norm2_spark_sql("embedding")).alias("n2"),
    )
    a = en.alias("a")
    b = en.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.expr(
                cosine_prenormed_spark_sql(
                    "a.embedding", "b.embedding", "a.n2", "b.n2"
                )
            ),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cos_sim",
        )
    )


# ---------------------------------------------------- multimodal columns

@query(
    "multimodal_cols",
    oracle=(
        "SELECT doc_id, 'text/utf-8' AS fmt, octet_length(encode(text)) AS n_bytes,"
        " sha256(text) AS payload_sha FROM documents WHERE text IS NOT NULL"
    ),
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal layout: opaque binary payload + typed metadata struct
    (the binaryFile shape). Returns the metadata projection plus a
    content hash computed from the binary column."""
    from dist_mapreduce_spark.operators.multimodal import attach_payload

    docs = load_table(spark, sf_dir, "documents")
    mm = attach_payload(docs)
    return mm.select(
        "doc_id",
        F.col("meta.fmt").alias("fmt"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    )


@query(
    "multimodal_features",
    oracle=(
        "SELECT doc_id, octet_length(encode(text)) AS n_bytes,"
        " ascii(substr(text, 1, 1)) AS first_byte,"
        " ascii(substr(text, length(text), 1)) AS last_byte,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "  list_transform(range(1, length(text) + 1),"
        "   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),"
        "  (a, b) -> (a + b) % 997) AS INT) AS byte_sum_mod"
        " FROM documents WHERE text IS NOT NULL"
    ),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads through the Arrow
    mapInPandas path (operators.multimodal.fake_decode_features). The
    oracle recomputes the same features from the text (the corpus is
    ASCII, so char codes == bytes) — proving the binary plumbing
    preserves content exactly. Real decoders slot into the same UDF
    signature (stubbed: decode_image / decode_audio_frames)."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        fake_decode_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fake_decode_features(attach_payload(docs))


@query(
    "multimodal_decode",
    oracle=(
        # Closed form of the BMP geometry: 16px × 24bpp rows = 48 bytes
        # (4-byte aligned, no padding term), height = ceil(bytes/48)
        # with a 1-row floor, header = 54 bytes. pixel_sum_mod re-folds
        # the text's char codes (ASCII corpus ⇒ codes == bytes); the
        # zero padding contributes nothing to the sum.
        "SELECT doc_id, CAST(16 AS INT) AS width,"
        " CAST(greatest(1, (octet_length(encode(text)) + 47) // 48) AS INT)"
        "  AS height,"
        " CAST(54 + 48 * greatest(1, (octet_length(encode(text)) + 47) // 48)"
        "  AS BIGINT) AS bmp_file_size,"
        " CAST(48 * greatest(1, (octet_length(encode(text)) + 47) // 48)"
        "  AS BIGINT) AS n_pixel_bytes,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "  list_transform(range(1, length(text) + 1),"
        "   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),"
        "  (a, b) -> (a + b) % 997) AS INT) AS pixel_sum_mod"
        " FROM documents WHERE text IS NOT NULL"
    ),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (operators.multimodal.decode_image):
    payloads are containerized as uncompressed 24-bit BMPs and decoded
    back by a pure-Python header/pixel-array parser inside the Arrow
    batch, with a round-trip assertion. The oracle independently derives
    every output — dimensions, file size, pixel byte count, and a
    content checksum — from the text column, so a decoder bug in any
    field (stride, bottom-up row order, header offsets, padding) is a
    hash mismatch. Fills the §2.12 decode step the earlier rounds left
    stubbed."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        decode_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_features(attach_payload(docs))


@query(
    "multimodal_resize",
    oracle=(
        # Closed form of the 8×8 nearest-neighbor sample over the BMP
        # packing (16px × 48-byte rows, height H = ceil(bytes/48), 1-row
        # floor): thumbnail byte p ∈ [0,192) maps to out-row r = p//24,
        # out-col c = (p%24)//3, channel k = p%3, and samples source
        # byte (r·H//8)·48 + 6c + k — ascii code when inside the text,
        # 0 in the zero padding. Folded mod 997, same as the UDF.
        "SELECT doc_id,"
        " CAST(h AS INT) AS src_height,"
        " CAST(8 AS INT) AS out_width, CAST(8 AS INT) AS out_height,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "  list_transform(range(0, 192),"
        "   p -> CAST(CASE WHEN ((p // 24) * h // 8) * 48"
        "     + ((p % 24) // 3) * 6 + (p % 3) < l"
        "    THEN ascii(substr(text, ((p // 24) * h // 8) * 48"
        "     + ((p % 24) // 3) * 6 + (p % 3) + 1, 1))"
        "    ELSE 0 END AS BIGINT))),"
        "  (a, b) -> (a + b) % 997) AS INT) AS resized_sum_mod"
        " FROM (SELECT doc_id, text, octet_length(encode(text)) AS l,"
        "  greatest(1, (octet_length(encode(text)) + 47) // 48) AS h"
        "  FROM documents WHERE text IS NOT NULL)"
    ),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize end-to-end (operators.multimodal.
    resize_image_features): decode the BMP for real, nearest-neighbor
    downsample to an 8×8 thumbnail with integer index math, checksum
    the sampled bytes. The oracle re-derives the exact same sampled
    positions from the text column, so an off-by-one in row stride,
    channel interleave, or the H-scaling ratio is a hash mismatch.
    Covers §2.12's resize step with a REAL implementation (the
    instructions' decode→resize→embed chain: decode and resize are now
    both exercised; embed is the embeddings table)."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        resize_image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_image_features(attach_payload(docs))


@query(
    "multimodal_audio",
    oracle=(
        # Closed form of PCM16-mono geometry: n_samples = ceil(bytes/2)
        # (odd payloads gain one zero pad), duration = n·10⁶/16000 in
        # integer µs. amp_sum re-derives each little-endian sample as
        # lo + 256·hi from the char codes (ASCII corpus ⇒ codes ==
        # bytes; 1-based odd index = low byte), folded mod 997.
        "SELECT doc_id, CAST(16000 AS INT) AS sample_rate,"
        " CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS n_samples,"
        " CAST(((octet_length(encode(text)) + 1) // 2) * 1000000 // 16000"
        "  AS BIGINT) AS duration_us,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "  list_transform(range(1, length(text) + 1),"
        "   i -> CAST(CASE WHEN i % 2 = 1 THEN ascii(substr(text, i, 1))"
        "    ELSE 256 * ascii(substr(text, i, 1)) END AS BIGINT))),"
        "  (a, b) -> (a + b) % 997) AS INT) AS amp_sum_mod"
        " FROM documents WHERE text IS NOT NULL"
    ),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (operators.multimodal.
    decode_audio_frames): payloads are containerized as PCM16-mono WAV
    and decoded back by a pure-Python RIFF parser inside the Arrow
    batch, with a round-trip assertion on the int16 samples. The oracle
    independently re-derives sample count, integer-µs duration, and an
    amplitude checksum from the text column, so a parser bug in any
    field (chunk offsets, endianness, pad handling) is a hash mismatch.
    Completes §2.12's decode surface — no stubbed codec remains."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        decode_audio_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_features(attach_payload(docs))


@query(
    "multimodal_video",
    oracle=(
        # Closed form of the AVI packing: 16×4 24-bpp DIB frames = 192
        # bytes, n_frames = ceil(bytes/192) with a 1-frame floor,
        # stride-2 sampling keeps ceil(n/2) frames. frame0_first_byte
        # re-derives the first logical byte (ascii of char 1 — catches
        # a missed bottom-up row restore); sampled_sum folds the char
        # codes of positions living in even-index frames, mod 997
        # (zero padding contributes nothing).
        "SELECT doc_id,"
        " CAST(greatest(1, (l + 191) // 192) AS BIGINT) AS n_frames,"
        " CAST(16 AS INT) AS width, CAST(4 AS INT) AS height,"
        " CAST(CASE WHEN l > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END"
        "  AS INT) AS frame0_first_byte,"
        " CAST((greatest(1, (l + 191) // 192) + 1) // 2 AS BIGINT)"
        "  AS n_sampled,"
        " CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "  list_transform(range(1, l + 1),"
        "   i -> CAST(CASE WHEN ((i - 1) // 192) % 2 = 0"
        "    THEN ascii(substr(text, i, 1)) ELSE 0 END AS BIGINT))),"
        "  (a, b) -> (a + b) % 997) AS INT) AS sampled_sum_mod"
        " FROM (SELECT doc_id, text, octet_length(encode(text)) AS l"
        "  FROM documents WHERE text IS NOT NULL)"
    ),
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode end-to-end (operators.multimodal.
    decode_video_frames): payloads are containerized as uncompressed-DIB
    AVI (RIFF chunk tree: hdrl/avih geometry + movi '00db' frames),
    parsed back by a pure-Python chunk walker with per-frame bottom-up
    row restore and a byte round-trip assertion, then frame-sampled at
    stride 2. The oracle re-derives frame counts, geometry, the first
    logical byte, and a sampled checksum from the text column, so chunk
    offsets, frame-count consistency, row order, and the sampling
    stride are each hash-checked. Completes the image/audio/video
    container trio — every §2.12 modality decodes for real."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        video_frame_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_features(attach_payload(docs))


@query(
    "multimodal_frames",
    oracle=(
        "SELECT doc_id, n_frames,"
        " CASE WHEN n_frames = 0 THEN 0 ELSE (n_frames + 3) // 4 END AS n_sampled,"
        " CASE WHEN n_frames = 0 THEN 0 ELSE"
        "  1024 * ((n_frames + 3) // 4)"
        "  - (CASE WHEN r > 0 AND (n_frames - 1) % 4 = 0 THEN 1024 - r ELSE 0 END)"
        " END AS sampled_bytes"
        " FROM (SELECT doc_id,"
        "        (octet_length(encode(text)) + 1023) // 1024 AS n_frames,"
        "        octet_length(encode(text)) % 1024 AS r"
        "       FROM documents WHERE text IS NOT NULL)"
    ),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (operators.multimodal.
    frame_sample): 1 KiB frames, keep every 4th — the video-frame-
    sampling shape with byte slicing standing in for a codec. The
    Python sampler's per-doc accounting must land exactly on the
    oracle's closed-form arithmetic (frame count, sampled count,
    sampled byte total incl. the short final frame) — any off-by-one
    in the chunking shows up as a hash mismatch."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_payload(docs))


# ------------------------------------------------- product quantization

# PQ (Jégou et al., IEEE TPAMI 2011) — the third ANN family next to the
# hyperplane LSH and IVF above, and the one production vector stores
# actually ship for memory-bound corpora: each vector is represented by
# PQ_M one-byte codes (nearest codeword per 8-dim subspace), queries
# score candidates through a per-query lookup table (ADC — asymmetric
# distance computation), and the top PQ_RERANK candidates are re-ranked
# with exact cosine. Codebooks are a deterministic corpus sample
# (vec_id % PQ_MOD == PQ_REM, first PQ_K by vec_id) so the whole
# approximate pipeline stays exactly oracle-checkable.
PQ_M = 8        # subspaces (64-dim embedding → 8 × 8-dim)
PQ_DSUB = DIM // PQ_M
PQ_K = 16       # codewords per subspace → 4-bit codes, 8 × 16 table
PQ_MOD = 29
PQ_REM = 5
PQ_CAP = PQ_MOD * PQ_K  # codebook sample bounded in BOTH dialects: the
#                         driver pull is ≤ PQ_K rows regardless of
#                         corpus size (the IVF CENT_CAP lesson) — ids
#                         ≥ PQ_CAP would rank past cid PQ_K-1 anyway
#                         on a dense id space
PQ_RERANK = 512  # exact-rerank depth, from a measured sweep at sf0.1
#                  (5 000 vectors): 128 → recall@10 0.52 at 6% of the
#                  corpus exactly reranked, 256 → 0.72/13%,
#                  384 → 0.84/19%, 512 → 0.90/26%, 768 → 0.98/38%.
#                  Deployed 512: recall parity with the 8-table LSH and
#                  24-probe IVF at HALF their examined fraction — the
#                  ADC pre-ranking is the part doing the work
#                  (isotropic embeddings, the hard regime; clustered
#                  production corpora do far better at fixed depth)

from dist_mapreduce_spark.functions.vectors import (  # noqa: E402
    dot_duckdb_sql,
    l2sq_duckdb_sql,
    l2sq_spark_sql,
)


def pq_cb_rows(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """Deterministic PQ codebook sample — ≤ PQ_K rows pulled to the
    driver regardless of corpus size (PQ_CAP bounds the predicate in
    both dialects; NULL vectors excluded like ivf_cent_rows)."""
    return sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") % PQ_MOD == PQ_REM)
            & (F.col("vec_id") < PQ_CAP)
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )[:PQ_K]


def pq_codebook(cb_rows: list[tuple[int, list[float]]]) -> list[list[list[float]]]:
    """codebook[m][c] = PQ_DSUB-dim codeword (nested literal source)."""
    return [
        [cv[m * PQ_DSUB : (m + 1) * PQ_DSUB] for _, cv in cb_rows]
        for m in range(PQ_M)
    ]


def _arr(vals: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def pq_cells_expr(codebook: list[list[list[float]]], col: str = "embedding") -> str:
    """Spark SQL: encode a row's ``col`` vector to its PQ_M 4-bit codes
    — per subspace, argmin_c ||sub − codeword||² with cid tie-break
    (array_sort over (d, c) structs, the IVF cell pick applied per
    subspace). One definition of the squared-L2 fold for both dialects
    (functions/vectors.py) so the fold order cannot drift. ``col``
    defaults to the raw embedding; the residual IVF-PQ variant passes
    its residual column instead."""
    k = len(codebook[0])
    cb_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(_arr(cw) for cw in codebook[m]) + ")"
            for m in range(PQ_M)
        )
        + ")"
    )
    l2 = l2sq_spark_sql(
        f"slice({col}, m*{PQ_DSUB}+1, {PQ_DSUB})",
        "element_at(element_at(__cb, m+1), c+1)",
    )
    return (
        f"transform(sequence(0, {PQ_M - 1}), m ->"
        f" array_sort(transform(sequence(0, {k - 1}), c ->"
        f"  named_struct('d', {l2}, 'c', c)))[0].c)"
    ).replace("__cb", cb_lit)


def pq_lut(qv: list[float], codebook: list[list[list[float]]]) -> list[list[float]]:
    """Per-query ADC lookup table (PQ_M × k doubles) — the engines'
    sequential IEEE fold replayed on the driver (py_dot)."""
    k = len(codebook[0])
    return [
        [py_dot(qv[m * PQ_DSUB : (m + 1) * PQ_DSUB], codebook[m][c]) for c in range(k)]
        for m in range(PQ_M)
    ]


def _pq_oracle() -> str:
    adc_terms = " + ".join(
        f"sum(CASE WHEN c.m = {m} THEN pdot END)" for m in range(PQ_M)
    )
    lo = f"(m*{PQ_DSUB}+1)"
    hi = f"(m*{PQ_DSUB}+{PQ_DSUB})"
    return (
        f"WITH cw AS (SELECT cid, cv FROM (SELECT row_number()"
        f"   OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv"
        f"  FROM embeddings WHERE vec_id % {PQ_MOD} = {PQ_REM}"
        f"   AND vec_id < {PQ_CAP})"
        f"  WHERE cid < {PQ_K}),"
        f" cb AS (SELECT cid, m, cv[{lo}:{hi}] AS cvec"
        f"  FROM cw, unnest(range(0, {PQ_M})) AS u(m)),"
        f" sub AS (SELECT vec_id, m, embedding[{lo}:{hi}] AS sv"
        f"  FROM embeddings, unnest(range(0, {PQ_M})) AS u(m)),"
        f" asg AS (SELECT vec_id, m, cid,"
        f"   {l2sq_duckdb_sql('sv', 'cvec', PQ_DSUB)} AS d"
        f"  FROM sub JOIN cb USING (m)),"
        f" cells AS (SELECT vec_id, m, cid FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rk FROM asg)"
        f"  WHERE rk = 1),"
        f" lut AS (SELECT s.vec_id AS query_id, s.m, cb.cid,"
        f"   {dot_duckdb_sql('s.sv', 'cb.cvec', PQ_DSUB)} AS pdot"
        f"  FROM sub s JOIN cb USING (m) WHERE s.vec_id < {N_QUERIES}),"
        f" adc AS (SELECT l.query_id, c.vec_id, ({adc_terms}) AS adc"
        f"  FROM cells c JOIN lut l ON l.m = c.m AND l.cid = c.cid"
        f"   AND c.vec_id <> l.query_id"
        f"  GROUP BY l.query_id, c.vec_id),"
        f" cand AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS ark"
        f"  FROM adc) WHERE ark <= {PQ_RERANK}),"
        f" s AS (SELECT cand.query_id, cand.vec_id,"
        f"   {cosine_duckdb_sql('q.embedding', 'e.embedding')} AS score"
        f"  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id"
        f"  JOIN embeddings q ON q.vec_id = cand.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    )


@query("sim_topk_pq", oracle=_pq_oracle())
def q_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank.

    Plan shape (the IVF lesson applied from the start): the codebook is
    PQ_M × PQ_K × PQ_DSUB = 1,024 floats — small enough to pull to the
    driver once and inline as literals, so ENCODING IS A PURE MAP: one
    corpus scan computes each row's PQ_M cell ids via an array_sort of
    (distance, cid) structs per subspace (the oracle's ORDER BY d, cid
    tie-break, exactly), with no N·k join and no corpus-wide window
    shuffle. The query batch's ADC lookup tables (N_QUERIES × PQ_M ×
    PQ_K doubles, driver-computed with the same sequential IEEE fold
    the oracle uses) are likewise literals, so scoring every corpus row
    against every query is STILL map-side: fold the 8 cell ids through
    the query's table. Shuffles: a deliberate round-robin repartition
    before the encode (local-mode ergonomics — spreads the CPU-bound
    literal-expression evaluation when the source parquet arrives as
    few splits; at ingest scale the encode runs once and this exchange
    is the write path's anyway), then the per-query top-R window over
    narrow (vec_id, query_id, adc) rows and the top-k window after
    exact re-rank of PQ_RERANK survivors.

    At 100 TB: codes are computed at ingest (this plan's encode stage,
    run once) and stored as 8 bytes/vector — a 32× memory compression
    over float32; serving cost per query batch is one scan of the CODE
    table (not the vectors), plus exact re-rank on PQ_RERANK rows
    fetched by id. Recall@10 is certified by `sim_recall` alongside
    LSH and IVF."""
    emb = _emb(spark, sf_dir)
    cb_rows = pq_cb_rows(emb)
    q_rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") < N_QUERIES) & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not cb_rows or not q_rows:
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, score double, rk int"
        )

    codebook = pq_codebook(cb_rows)
    k = len(cb_rows)
    cells_expr = pq_cells_expr(codebook)
    luts = {qid: pq_lut(qv, codebook) for qid, qv in q_rows}
    per_query = ", ".join(
        "named_struct('query_id', CAST({qid} AS BIGINT), 'adc',"
        " aggregate(sequence(0, {mm}), cast(0.0 as double), (acc, m) ->"
        "  acc + element_at(element_at({lut}, m+1),"
        "   element_at(cells, m+1) + 1)))".format(
            qid=qid,
            mm=PQ_M - 1,
            lut="array("
            + ", ".join(_arr(luts[qid][m]) for m in range(PQ_M))
            + ")",
        )
        for qid, _ in q_rows
    )
    scored = (
        spread(emb)
        .withColumn("cells", F.expr(cells_expr))
        .select(
            "vec_id",
            F.explode(F.expr(f"array({per_query})")).alias("qa"),
        )
        .select("vec_id", "qa.query_id", "qa.adc")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    cand = (
        scored.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= PQ_RERANK)
        .select("query_id", "vec_id")
    )
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    reranked = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        reranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


# ------------------------------------------------- SQ8 (scalar quantization)

# SQ8 — the FOURTH quantization family next to LSH/IVF/PQ, and the one
# FAISS ships as ScalarQuantizer(QT_8bit) and Milvus/Lucene as their
# default compressed storage: each dimension is quantized to one
# byte independently against per-dimension [min, max] trained on the corpus. 64
# bytes/vector (vs PQ's 8) buys a much finer reconstruction, so the
# ADC pre-rank is closer to exact and the rerank depth can be shallow.
# Train/encode/reconstruct are closed-form deterministic corpus
# functions, so the whole pipeline stays exactly oracle-checkable.
SQ_RERANK = 32      # exact-rerank depth: SQ8's ADC ranks on 64 bytes
#                     (vs PQ's 8), and the measured sf0.1 sweep is
#                     recall@10 = 1.0 at EVERY depth 16/32/64/128 —
#                     the per-dim reconstruction error is tiny against
#                     this corpus's cosine gaps, so ADC ordering is
#                     near-exact. Deployed 32 (2x top-k safety margin)
#                     vs PQ's 512: a 16x shallower exact stage — the
#                     byte budget doing the work (see sim_recall_sq8).


def sq8_stats(emb: DataFrame) -> tuple[list[float], list[float]] | None:
    """Per-dimension (lo, hi) trained over the conforming corpus (non-
    NULL, exactly DIM dims) — ONE aggregate row of 2·DIM doubles pulled
    to the driver (the bounded-pull convention of ivf_cent_rows /
    pq_cb_rows; at 100 TB this is a map-side min/max tree aggregate).
    Returns None when no conforming vector exists."""
    conf = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == DIM)
    )
    aggs = []
    for i in range(1, DIM + 1):
        aggs.append(
            F.min(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)")).alias(
                f"lo{i}"
            )
        )
        aggs.append(
            F.max(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)")).alias(
                f"hi{i}"
            )
        )
    row = conf.agg(*aggs).collect()[0]
    if row[f"lo{1}"] is None:
        return None
    lo = [float(row[f"lo{i}"]) for i in range(1, DIM + 1)]
    hi = [float(row[f"hi{i}"]) for i in range(1, DIM + 1)]
    return lo, hi


def sq8_codes_expr(lo: list[float], hi: list[float]) -> str:
    """Spark SQL: quantize `embedding` to DIM one-byte codes —
    clamp(floor((x − lo) · 255 / (hi − lo))), code 0 on a degenerate
    (hi = lo) dimension. The identical expression text runs in the
    oracle, so codes are bit-equal by construction."""
    step = [h - l for l, h in zip(lo, hi)]
    lo_lit, step_lit = _arr(lo), _arr(step)
    return (
        f"transform(sequence(1, {DIM}), i -> CAST("
        f" CASE WHEN element_at(__step, i) = CAST(0.0 AS DOUBLE)"
        f" THEN CAST(0.0 AS DOUBLE)"
        f" ELSE least(greatest(floor((CAST(element_at(embedding, i) AS DOUBLE)"
        f"  - element_at(__lo, i)) * CAST(255.0 AS DOUBLE)"
        f"  / element_at(__step, i)),"
        f"  CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) END AS INT))"
    ).replace("__lo", lo_lit).replace("__step", step_lit)


def sq8_recon_expr(lo: list[float], hi: list[float]) -> str:
    """Spark SQL: reconstruct the quantized vector from `codes` —
    lo + (code + 0.5) · (hi − lo) / 255 (midpoint-of-bucket, the
    standard SQ decoder)."""
    step = [h - l for l, h in zip(lo, hi)]
    lo_lit, step_lit = _arr(lo), _arr(step)
    return (
        f"transform(sequence(1, {DIM}), i -> element_at(__lo, i)"
        f" + (CAST(element_at(codes, i) AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * element_at(__step, i) / CAST(255.0 AS DOUBLE))"
    ).replace("__lo", lo_lit).replace("__step", step_lit)


def _sq8_oracle_ctes() -> str:
    """The train/encode/reconstruct CTE chain of the SQ8 oracle —
    explicit per-dimension lists (no DuckDB list lambdas in the hot
    path; the round-5 lesson) mirroring the Spark expressions term by
    term: st trains per-dim min/max, enc quantizes, rcn reconstructs."""
    lo_aggs = ", ".join(
        f"min(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    )
    hi_aggs = ", ".join(
        f"max(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    )
    code_terms = ", ".join(
        f"CAST(CASE WHEN (st.hi[{i}] - st.lo[{i}]) = CAST(0.0 AS DOUBLE)"
        f" THEN CAST(0.0 AS DOUBLE)"
        f" ELSE least(greatest(floor((CAST(embedding[{i}] AS DOUBLE)"
        f"  - st.lo[{i}]) * CAST(255.0 AS DOUBLE)"
        f"  / (st.hi[{i}] - st.lo[{i}])),"
        f"  CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) END AS INT)"
        for i in range(1, DIM + 1)
    )
    recon_terms = ", ".join(
        f"st.lo[{i}] + (CAST(codes[{i}] AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * (st.hi[{i}] - st.lo[{i}]) / CAST(255.0 AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return (
        f"st AS MATERIALIZED (SELECT [{lo_aggs}] AS lo, [{hi_aggs}] AS hi"
        f"  FROM embeddings WHERE embedding IS NOT NULL"
        f"   AND len(embedding) = {DIM}),"
        f" enc AS MATERIALIZED (SELECT vec_id, [{code_terms}] AS codes"
        f"  FROM embeddings, st WHERE embedding IS NOT NULL"
        f"   AND len(embedding) = {DIM}),"
        f" rcn AS MATERIALIZED (SELECT vec_id, [{recon_terms}] AS rv"
        f"  FROM enc, st)"
    )


def _sq8_oracle() -> str:
    return (
        f"WITH {_sq8_oracle_ctes()},"
        f" q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings"
        f"  WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL"
        f"   AND len(embedding) = {DIM}),"
        f" adc AS (SELECT q.query_id, r.vec_id,"
        f"  {dot_duckdb_sql('q.qv', 'r.rv')} AS adc"
        f"  FROM rcn r, q WHERE r.vec_id <> q.query_id),"
        f" cand AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS ark"
        f"  FROM adc) WHERE ark <= {SQ_RERANK}),"
        f" s AS (SELECT cand.query_id, cand.vec_id,"
        f"   {cosine_duckdb_sql('qq.embedding', 'e.embedding')} AS score"
        f"  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id"
        f"  JOIN embeddings qq ON qq.vec_id = cand.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    )


@query("sim_topk_sq8", oracle=_sq8_oracle())
def q_sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 approximate top-k with exact re-rank — scalar quantization:
    train per-dim [lo, hi] (one bounded aggregate pull, 2·DIM doubles),
    quantize every dimension to one byte as a PURE MAP over one corpus
    scan (the lo/step vectors are literals — no join, no shuffle,
    exactly the IVF/PQ encode discipline), rank candidates by the dot
    of the query against the RECONSTRUCTED vector (ADC), exact-rerank
    the top SQ_RERANK.

    Why it earns its slot next to PQ: SQ8 spends 64 bytes/vector where
    PQ spends 8, so its ADC ordering is near-exact — measured
    recall@10 = 1.0 at rerank depth 16 through 128 on the sf0.1
    corpus, deployed at 32 vs PQ's 512 (a 16× shallower exact stage;
    see the SQ_RERANK note).
    That is the production trade Lucene/FAISS users actually tune:
    byte budget vs rerank depth. At 100 TB codes are computed at
    ingest and stored (8× compression over float64, 4× over float32);
    serving scans the byte table, never the floats, except for the
    SQ_RERANK·batch rows the rerank fetches by id.

    NULL / ragged vectors are excluded from train, encode and the
    query batch in BOTH dialects (an index stores conforming vectors;
    embedding_audit is the gate that finds the rest)."""
    emb = _emb(spark, sf_dir)
    q_rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") < N_QUERIES)
            & F.col("embedding").isNotNull()
            & (F.size("embedding") == DIM)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    empty = spark.createDataFrame(
        [], "query_id bigint, vec_id bigint, score double, rk int"
    )
    if not q_rows:
        return empty
    stats = sq8_stats(emb)
    if stats is None:
        return empty
    lo, hi = stats
    conf = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == DIM)
    )
    per_query = ", ".join(
        "named_struct('query_id', CAST({qid} AS BIGINT), 'adc',"
        " aggregate(zip_with({qv}, recon, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, v) -> acc + v))".format(
            qid=qid, qv=_arr(qv)
        )
        for qid, qv in q_rows
    )
    scored = (
        spread(conf)
        .withColumn("codes", F.expr(sq8_codes_expr(lo, hi)))
        .withColumn("recon", F.expr(sq8_recon_expr(lo, hi)))
        .select(
            "vec_id", F.explode(F.expr(f"array({per_query})")).alias("qa")
        )
        .select("vec_id", "qa.query_id", "qa.adc")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    cand = (
        scored.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= SQ_RERANK)
        .select("query_id", "vec_id")
    )
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    reranked = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        reranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


@query(
    "sim_recall_sq8",
    oracle=(
        f"WITH bf AS MATERIALIZED ({{BF}}),"
        f" a AS MATERIALIZED ({_sq8_oracle()}),"
        f" nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf),"
        f" nh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf t JOIN a"
        f"  ON t.query_id = a.query_id AND t.vec_id = a.vec_id)"
        f" SELECT 'sq8' AS method, nt.n AS n_truth, nh.n AS n_hit,"
        f"  CAST(nh.n AS DOUBLE) / CAST(greatest(nt.n, 1) AS DOUBLE)"
        f"   AS recall"
        f" FROM nt, nh"
    ).replace(
        "{BF}",
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv"
        f"  FROM embeddings WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM embeddings e, q WHERE e.vec_id <> q.query_id)"
        f" SELECT query_id, vec_id FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}",
    ),
)
def q_sim_recall_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k certification for the SQ8 pipeline against the exact
    brute-force truth — the published-metric contract every ANN
    variant in this repo carries (sim_recall, sim_recall_ivfpq). One
    hash-checked row proves the byte-budget-vs-rerank-depth claim in
    sim_topk_sq8's docstring: recall 1.0 at depth 32 where PQ needs
    512 for 0.90."""
    truth = q_sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    approx = q_sim_topk_sq8(spark, sf_dir).select("query_id", "vec_id")
    flagged = truth.join(
        approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return flagged.agg(
        F.lit("sq8").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.count("hit").cast("long").alias("n_hit"),
        (
            F.count("hit").cast("double")
            / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")
        ).alias("recall"),
    )


# ------------------------------------------------- binary quantization
# FIFTH ANN family: 1 bit per dimension. bit_i = (x_i > mid_i) where
# mid_i is the per-dimension MIDRANGE (lo+hi)/2 — midrange, not mean,
# because min/max are order-independent aggregates (the SQ8 lesson:
# avg of doubles is summation-order-dependent across engines, midrange
# is not). The 64 bits pack into TWO 32-bit halves held in BIGINTs
# (a single 64-bit word would need 2^63, which overflows the signed
# BIGINT literal both engines share), and the pre-rank metric is
# Hamming distance = bit_count(xor(lo)) + bit_count(xor(hi)) — integer
# arithmetic, so the candidate ordering is bit-exact across engines by
# construction, stronger than the double-ADC families. 8 bytes/vector
# (vs SQ8's 64, PQ's 8): the cheapest storage tier of the quantization
# spectrum, the shape Lucene's RaBitQ/binary index and FAISS's
# IndexBinaryFlat serve. One bit per dim preserves cosine order only
# roughly on this near-orthogonal corpus (true neighbors at cosine
# 0.24-0.40 — the hard regime, same physics LSH fights), so the rerank
# runs deeper than SQ8's: measured recall@10 at sf0.1 =
# {0.58 @ 128, 0.78 @ 256, 0.86 @ 384, 0.88 @ 512, 0.98 @ 768,
# 1.0 @ 1024}. Deployed 512 — PQ's exact same rerank depth and byte
# budget (8 B/vector) at essentially PQ's recall (0.88 vs 0.90), but
# the pre-rank is two-instruction integer Hamming instead of a
# 64-term double ADC fold, and is bit-exact cross-engine for free.
BIN_RERANK = 512


def _bin_mid(lo: list[float], hi: list[float]) -> list[float]:
    """Per-dimension midrange threshold (one double division each —
    IEEE-identical in Python, Spark and DuckDB)."""
    return [(l + h) / 2.0 for l, h in zip(lo, hi)]


def _bin_sig_expr(mid: list[float], half: int) -> str:
    """Spark SQL: one 32-bit signature half as a BIGINT — half 0 packs
    dims 1..32 (bit value 2^(i-1)), half 1 packs dims 33..64. Explicit
    per-dim CASE terms, the SQ8 oracle discipline, so the identical
    term list can be emitted for DuckDB."""
    base = 32 * half
    terms = [
        f"(CASE WHEN CAST(element_at(embedding, {base + j}) AS DOUBLE)"
        f" > CAST({mid[base + j - 1]!r} AS DOUBLE)"
        f" THEN CAST({1 << (j - 1)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(1, 33)
    ]
    return "(" + " + ".join(terms) + ")"


def _bin_sig_duckdb(half: int) -> str:
    """DuckDB twin of _bin_sig_expr against the st CTE's mid list."""
    base = 32 * half
    terms = [
        f"(CASE WHEN CAST(embedding[{base + j}] AS DOUBLE)"
        f" > st.mid[{base + j}]"
        f" THEN CAST({1 << (j - 1)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(1, 33)
    ]
    return "(" + " + ".join(terms) + ")"


def _bin_sig_py(vec: list[float], mid: list[float], half: int) -> int:
    """Driver twin for the query batch (floats collected from Spark are
    the exact float32→double upcasts both SQL dialects compare)."""
    base = 32 * half
    return sum(
        (1 << (j - 1))
        for j in range(1, 33)
        if float(vec[base + j - 1]) > mid[base + j - 1]
    )


def _bin_oracle() -> str:
    mid_terms = ", ".join(
        f"(min(CAST(embedding[{i}] AS DOUBLE))"
        f" + max(CAST(embedding[{i}] AS DOUBLE))) / CAST(2.0 AS DOUBLE)"
        for i in range(1, DIM + 1)
    )
    return (
        f"WITH st AS MATERIALIZED (SELECT [{mid_terms}] AS mid"
        f"  FROM embeddings WHERE embedding IS NOT NULL"
        f"   AND len(embedding) = {DIM}),"
        f" enc AS MATERIALIZED (SELECT vec_id,"
        f"  {_bin_sig_duckdb(0)} AS sig_lo, {_bin_sig_duckdb(1)} AS sig_hi"
        f"  FROM embeddings, st WHERE embedding IS NOT NULL"
        f"   AND len(embedding) = {DIM}),"
        f" q AS (SELECT vec_id AS query_id, sig_lo AS qlo, sig_hi AS qhi"
        f"  FROM enc WHERE vec_id < {N_QUERIES}),"
        f" h AS (SELECT q.query_id, e.vec_id,"
        f"  bit_count(xor(e.sig_lo, q.qlo)) + bit_count(xor(e.sig_hi, q.qhi))"
        f"   AS ham"
        f"  FROM enc e, q WHERE e.vec_id <> q.query_id),"
        f" cand AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY query_id ORDER BY ham, vec_id) AS ark"
        f"  FROM h) WHERE ark <= {BIN_RERANK}),"
        f" s AS (SELECT cand.query_id, cand.vec_id,"
        f"   {cosine_duckdb_sql('qq.embedding', 'e.embedding')} AS score"
        f"  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id"
        f"  JOIN embeddings qq ON qq.vec_id = cand.query_id)"
        f" SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
    )


@query("sim_topk_binary", oracle=_bin_oracle())
def q_sim_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized approximate top-k with exact re-rank — the
    fifth ANN family (after LSH, IVF, PQ, SQ8), 1 bit per dimension:
    train per-dim midrange thresholds (ONE bounded min/max pull, the
    sq8_stats aggregate reused verbatim), pack sign bits into two
    32-bit BIGINT halves as a PURE MAP over one corpus scan, pre-rank
    by Hamming distance (bit_count of xor — pure integer, bit-exact
    cross-engine by construction), exact-rerank the top BIN_RERANK.

    Why it earns the fifth slot: 8 bytes/vector is the storage floor
    of the quantization spectrum — at 100 TB of float32 embeddings the
    binary sketch is ~1.5 TB, small enough to PIN IN CLUSTER MEMORY
    and scan at memory bandwidth while every other family pages from
    disk; Hamming on two longs is ~2 machine instructions/candidate.
    The price is a deeper exact rerank on this near-orthogonal corpus
    (measured recall@10 0.58/0.78/0.86/0.88/0.98/1.0 at depth
    128/256/384/512/768/1024 — deployed 512, PQ's own depth and byte
    budget, at essentially PQ's recall: 0.88 vs 0.90). This is
    precisely Lucene's binary-quantization + rescore architecture and
    FAISS's IndexBinaryFlat→refine pattern.

    NULL / ragged vectors are excluded from train, encode and the
    query batch in BOTH dialects (embedding_audit finds them)."""
    emb = _emb(spark, sf_dir)
    stats = sq8_stats(emb)
    empty = spark.createDataFrame(
        [], "query_id bigint, vec_id bigint, score double, rk int"
    )
    if stats is None:
        return empty
    mid = _bin_mid(*stats)
    q_rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            (F.col("vec_id") < N_QUERIES)
            & F.col("embedding").isNotNull()
            & (F.size("embedding") == DIM)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        return empty
    conf = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == DIM)
    )
    per_query = ", ".join(
        "named_struct('query_id', CAST({qid} AS BIGINT), 'ham',"
        " bit_count(sig_lo ^ CAST({qlo} AS BIGINT))"
        " + bit_count(sig_hi ^ CAST({qhi} AS BIGINT)))".format(
            qid=qid,
            qlo=_bin_sig_py(qv, mid, 0),
            qhi=_bin_sig_py(qv, mid, 1),
        )
        for qid, qv in q_rows
    )
    hammed = (
        spread(conf)
        .withColumn("sig_lo", F.expr(_bin_sig_expr(mid, 0)))
        .withColumn("sig_hi", F.expr(_bin_sig_expr(mid, 1)))
        .select(
            "vec_id", F.explode(F.expr(f"array({per_query})")).alias("qa")
        )
        .select("vec_id", "qa.query_id", "qa.ham")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("vec_id"))
    cand = (
        hammed.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= BIN_RERANK)
        .select("query_id", "vec_id")
    )
    qdf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    reranked = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        reranked.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rk")
    )


@query(
    "sim_recall_binary",
    oracle=(
        f"WITH bf AS MATERIALIZED ({{BF}}),"
        f" a AS MATERIALIZED ({_bin_oracle()}),"
        f" nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf),"
        f" nh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bf t JOIN a"
        f"  ON t.query_id = a.query_id AND t.vec_id = a.vec_id)"
        f" SELECT 'binary' AS method, nt.n AS n_truth, nh.n AS n_hit,"
        f"  CAST(nh.n AS DOUBLE) / CAST(greatest(nt.n, 1) AS DOUBLE)"
        f"   AS recall"
        f" FROM nt, nh"
    ).replace(
        "{BF}",
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv"
        f"  FROM embeddings WHERE vec_id < {N_QUERIES}),"
        f" s AS (SELECT q.query_id, e.vec_id,"
        f"  {cosine_duckdb_sql('q.qv', 'e.embedding')} AS score"
        f"  FROM embeddings e, q WHERE e.vec_id <> q.query_id)"
        f" SELECT query_id, vec_id FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}",
    ),
)
def q_sim_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k certification for the binary pipeline against the exact
    brute-force truth — the published-metric contract every ANN family
    in this repo carries. One hash-checked row proves the
    byte-floor-vs-rerank-depth claim in sim_topk_binary's docstring."""
    truth = q_sim_topk_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    approx = q_sim_topk_binary(spark, sf_dir).select("query_id", "vec_id")
    flagged = truth.join(
        approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return flagged.agg(
        F.lit("binary").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.count("hit").cast("long").alias("n_hit"),
        (
            F.count("hit").cast("double")
            / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")
        ).alias("recall"),
    )


_def_sim_recall()


@query(
    "embedding_audit",
    oracle=(
        "SELECT vec_id, label,"
        " CAST(len(embedding) AS BIGINT) AS dim,"
        f" sqrt({_dot_duckdb('embedding', 'embedding')}) AS norm,"
        " len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0"
        "  AS has_nan"
        " FROM embeddings"
    ),
)
def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding hygiene audit — the ingest gate a vector
    corpus needs before any ANN index build: dimensionality (catches
    ragged arrays from a bad producer), L2 norm (zero-norm vectors
    poison cosine; wildly off-scale norms flag an unnormalized
    model), and NaN presence (one NaN silently absorbs every
    similarity it touches). Norms use the house sequential double
    fold (functions/vectors.py), so the doubles are bit-identical to
    the DuckDB oracle; NULL vectors surface as NULL dim/norm rows
    rather than vanishing — an auditor must show the bad rows.

    Plan: pure map over one pruned scan — 0 shuffles, py=0; at 100 TB
    this fuses into whatever scan ships vectors to the index
    builder."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.expr(f"sqrt({_dot_spark('embedding', 'embedding')})").alias("norm"),
        F.exists(
            "embedding", lambda x: F.isnan(x.cast("double"))
        ).alias("has_nan"),
    )


def _ahash_gray_duck(p: str) -> str:
    """DuckDB closed form for thumbnail pixel ``p``'s gray value (sum
    of the 3 sampled channel bytes of the BMP packing — same index
    math as the multimodal_resize oracle: src byte = (row·h//8)·48 +
    6·col + k, ascii code inside the text, 0 in the padding)."""
    terms = []
    for k in range(3):
        idx = f"((({p})//8)*h//8)*48 + (({p})%8)*6 + {k}"
        terms.append(
            f"CASE WHEN {idx} < l"
            f" THEN ascii(substr(text, {idx} + 1, 1)) ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


#: Shared DuckDB CTE chain deriving every document's 64-bit average
#: hash (hsh: doc_id, ahash_hi, ahash_lo) from the text bytes in
#: closed form — ONE definition for both image-dedup oracles.
_AHASH_CTE = (
    "WITH base AS (SELECT doc_id, text,"
    "  octet_length(encode(text)) AS l,"
    "  greatest(1, (octet_length(encode(text)) + 47) // 48) AS h"
    "  FROM documents WHERE text IS NOT NULL),"
    " g AS (SELECT doc_id,"
    f"  list_transform(range(0, 64), p -> {_ahash_gray_duck('p')})"
    "   AS gl FROM base),"
    " s AS (SELECT doc_id, gl,"
    "  list_reduce(list_prepend(CAST(0 AS BIGINT), gl),"
    "   (a, b) -> a + b) AS tot FROM g),"
    " hsh AS (SELECT doc_id,"
    "  list_reduce(list_prepend(CAST(0 AS BIGINT),"
    "   list_transform(range(0, 32), p ->"
    "    CASE WHEN gl[p + 1] * 64 > tot"
    "     THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)),"
    "   (a, b) -> a + b) AS ahash_lo,"
    "  list_reduce(list_prepend(CAST(0 AS BIGINT),"
    "   list_transform(range(32, 64), p ->"
    "    CASE WHEN gl[p + 1] * 64 > tot"
    "     THEN CAST(1 AS BIGINT) << (p - 32)"
    "     ELSE CAST(0 AS BIGINT) END)),"
    "   (a, b) -> a + b) AS ahash_hi"
    "  FROM s)"
)


@query(
    "dedup_image_phash",
    oracle=(
        _AHASH_CTE +
        " SELECT doc_id, ahash_hi, ahash_lo,"
        "  CAST(count(*) OVER (PARTITION BY ahash_hi, ahash_lo)"
        "   AS BIGINT) AS group_size,"
        "  min(doc_id) OVER (PARTITION BY ahash_hi, ahash_lo)"
        "   AS canonical_id,"
        "  min(doc_id) OVER (PARTITION BY ahash_hi, ahash_lo) <> doc_id"
        "   AS is_dup"
        " FROM hsh"
    ),
)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection — the visual twin of dedup_exact:
    each image payload is REALLY decoded (BMP chunk parse, not a stub),
    reduced to a 64-bit perceptual average-hash
    (operators.multimodal.image_ahash: 8×8 thumbnail grays,
    mean-threshold bits, all integer), and grouped by hash; min doc_id
    per group is the canonical survivor. At thumbnail scale this
    collapses re-encoded/resized copies of the same image that a byte
    hash (dedup_exact) can never see. The oracle re-derives every hash
    bit from the text bytes in closed form, so a single off-by-one in
    the decode, the sample grid, or the bit packing is a value-hash
    mismatch — the image pipeline's equivalent of the winnowing
    property test. Near-dup (small Hamming distance) retrieval stacks
    the same banding trick as dedup_simhash on these keys.

    Scale shape: hash extraction is map-side Arrow batches fused into
    the scan (py=1 by design, like every multimodal decode); the only
    shuffle is the 2-bigint-key window — the corpus never moves with
    its payloads."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        image_ahash,
    )

    docs = load_table(spark, sf_dir, "documents")
    ah = image_ahash(attach_payload(docs))
    w = Window.partitionBy("ahash_hi", "ahash_lo")
    canonical = F.min("doc_id").over(w)
    return ah.select(
        "doc_id",
        "ahash_hi",
        "ahash_lo",
        F.count(F.lit(1)).over(w).alias("group_size"),
        canonical.alias("canonical_id"),
        (canonical != F.col("doc_id")).alias("is_dup"),
    )


#: Hamming threshold for image near-duplicates and the 16-bit band
#: arithmetic shared (as one constant pair) by query and oracle.
AHASH_HAM_T = 6

#: Skew cap per (band, value) bucket — same role as dedup_minhash's
#: BAND_BUCKET_CAP: a viral image (millions of byte-identical or
#: near-identical copies) would otherwise make one bucket emit
#: C(copies, 2) candidate pairs. Keep-lowest-doc_id keeps the cap
#: deterministic and oracle-mirrorable.
AHASH_BAND_CAP = 200


def _ahash_band(idiv: str) -> str:
    """16-bit band extraction; ``idiv`` is the dialect's integer
    division ('//' DuckDB, 'DIV' Spark) — one template, two dialects."""
    return (
        "CASE band_id WHEN 0 THEN ahash_lo % 65536"
        f" WHEN 1 THEN ahash_lo {idiv} 65536"
        " WHEN 2 THEN ahash_hi % 65536"
        f" ELSE ahash_hi {idiv} 65536 END"
    )


@query(
    "dedup_image_near",
    oracle=(
        _AHASH_CTE +
        ", bands0 AS (SELECT doc_id, ahash_hi, ahash_lo, band_id,"
        f"  {_ahash_band('//')} AS bv"
        "  FROM hsh, range(0, 4) t(band_id)),"
        " bands AS (SELECT * FROM ("
        "  SELECT doc_id, band_id, bv, row_number() OVER ("
        "   PARTITION BY band_id, bv ORDER BY doc_id) AS rn FROM bands0)"
        f" WHERE rn <= {AHASH_BAND_CAP}),"
        " cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        "  FROM bands a JOIN bands b"
        "   ON a.band_id = b.band_id AND a.bv = b.bv"
        "    AND a.doc_id < b.doc_id),"
        " scored AS (SELECT doc_a, doc_b,"
        "  CAST(bit_count(xor(ha.ahash_lo, hb.ahash_lo))"
        "   + bit_count(xor(ha.ahash_hi, hb.ahash_hi)) AS BIGINT)"
        "   AS hamming"
        "  FROM cand JOIN hsh ha ON ha.doc_id = cand.doc_a"
        "   JOIN hsh hb ON hb.doc_id = cand.doc_b)"
        f" SELECT doc_a, doc_b, hamming FROM scored"
        f" WHERE hamming <= {AHASH_HAM_T}"
    ),
)
def q_dedup_image_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-duplicate pairs within Hamming distance
    {AHASH_HAM_T} of the 64-bit perceptual hash — dedup_image_phash
    finds exact perceptual matches; this finds the re-compressed /
    slightly-edited copies whose hashes differ in a few bits. Same
    LSH-banding trick as dedup_simhash: 4 bands of 16 bits, candidates
    = pairs agreeing on ≥1 band (an equi-join, NEVER an all-pairs
    product), verified by exact popcount of the hash XOR. The band
    condition is part of the declared semantics and mirrored in the
    oracle, exactly like dedup_minhash's banding (a ≤6-bit pair with
    no agreeing band is out of contract by design — pigeonhole admits
    it only when the diffs spread 4 ways). Each bucket is capped at
    AHASH_BAND_CAP lowest doc_ids, mirrored in the oracle — the same
    viral-duplicate skew guard as dedup_minhash's BAND_BUCKET_CAP
    (one boilerplate logo must not emit C(copies, 2) pairs).

    Scale shape: hashes are extracted once (map-side Arrow, fused into
    the scan) and pinned — the 3-bigint hash frame is thousands of
    times smaller than the payloads, and the self-join shuffles only
    (band_id, bv, doc_id) triples; popcount verification touches
    candidate pairs, not the corpus. The exact shape of the minhash
    banding pipeline, at image scale."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        image_ahash,
    )

    docs = load_table(spark, sf_dir, "documents")
    ah = image_ahash(attach_payload(docs)).cache()
    bands = ah.selectExpr(
        "doc_id", "ahash_hi", "ahash_lo",
        "explode(sequence(0, 3)) AS band_id",
    ).selectExpr("doc_id", "band_id", f"{_ahash_band('DIV')} AS bv")
    # Skew cap (AHASH_BAND_CAP): deterministic keep-lowest per bucket;
    # the row_number shuffles on the same (band_id, bv) key the
    # self-join hashes on, so the exchange is reused.
    wcap = Window.partitionBy("band_id", "bv").orderBy("doc_id")
    bands = (
        bands.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= AHASH_BAND_CAP)
        .drop("rn")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ha = ah.selectExpr(
        "doc_id AS doc_a", "ahash_hi AS hi_a", "ahash_lo AS lo_a"
    )
    hb = ah.selectExpr(
        "doc_id AS doc_b", "ahash_hi AS hi_b", "ahash_lo AS lo_b"
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "cast(bit_count(lo_a ^ lo_b)"
                " + bit_count(hi_a ^ hi_b) as bigint)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= AHASH_HAM_T)
    )


#: DuckDB closed form for audio sample j (0-based): little-endian
#: PCM16 re-derived from the character codes (ASCII corpus ⇒ codes ==
#: bytes; odd tail zero-padded), same idiom as the multimodal_audio
#: oracle.
_AFP_SAMPLE = (
    "CAST(CASE WHEN 2*i+1 <= L THEN ascii(substr(text, 2*i+1, 1))"
    " ELSE 0 END"
    " + 256 * CASE WHEN 2*i+2 <= L THEN ascii(substr(text, 2*i+2, 1))"
    " ELSE 0 END AS BIGINT)"
)

_AFP_FRAME_SUM = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(f*n//64, (f+1)*n//64),"
    f"  i -> {_AFP_SAMPLE})), (a, b) -> a + b)"
)


@query(
    "dedup_audio_fp",
    oracle=(
        "WITH base AS (SELECT doc_id, text, length(text) AS L,"
        "  (length(text) + 1) // 2 AS n"
        "  FROM documents WHERE text IS NOT NULL),"
        " fr AS (SELECT doc_id,"
        f"  list_transform(range(0, 64), f -> {_AFP_FRAME_SUM}) AS fss,"
        "  list_transform(range(0, 64),"
        "   f -> (f+1)*n//64 - f*n//64) AS fls,"
        "  n FROM base),"
        " t AS (SELECT doc_id, fss, fls, n,"
        "  list_reduce(list_prepend(CAST(0 AS BIGINT), fss),"
        "   (a, b) -> a + b) AS tot FROM fr),"
        " hsh AS (SELECT doc_id,"
        "  list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "   list_transform(range(0, 32), p ->"
        "    CASE WHEN fss[p + 1] * n > tot * fls[p + 1]"
        "     THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)),"
        "   (a, b) -> a + b) AS afp_lo,"
        "  list_reduce(list_prepend(CAST(0 AS BIGINT),"
        "   list_transform(range(32, 64), p ->"
        "    CASE WHEN fss[p + 1] * n > tot * fls[p + 1]"
        "     THEN CAST(1 AS BIGINT) << (p - 32)"
        "     ELSE CAST(0 AS BIGINT) END)),"
        "   (a, b) -> a + b) AS afp_hi"
        "  FROM t)"
        " SELECT doc_id, afp_hi, afp_lo,"
        "  CAST(count(*) OVER (PARTITION BY afp_hi, afp_lo)"
        "   AS BIGINT) AS group_size,"
        "  min(doc_id) OVER (PARTITION BY afp_hi, afp_lo)"
        "   AS canonical_id,"
        "  min(doc_id) OVER (PARTITION BY afp_hi, afp_lo) <> doc_id"
        "   AS is_dup"
        " FROM hsh"
    ),
)
def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate detection — the acoustic member of the
    multimodal dedup trio (dedup_exact = bytes, dedup_image_phash =
    pixels, this = samples): each payload is REALLY decoded as
    PCM16-mono WAV, fingerprinted by 64 time-frame energy bits
    (operators.multimodal.audio_fingerprint — mean-threshold in
    cross-multiplied integers, the Shazam-family construction at its
    cheapest), and grouped by the 64-bit fingerprint; min doc_id per
    group survives. Robust to the re-encodings that preserve coarse
    energy contour while changing bytes. The oracle re-derives every
    frame sum and threshold bit from the character codes in closed
    form — one wrong frame boundary (the i·n DIV 64 integer split) or
    a signedness slip is a value-hash mismatch.

    Scale shape: identical to dedup_image_phash — map-side Arrow
    extraction fused into the scan (py=1 by design), one
    2-bigint-key window shuffle; Hamming-banded near-matching stacks
    on these keys exactly as dedup_image_near does on the image
    hashes."""
    from dist_mapreduce_spark.operators.multimodal import (
        attach_payload,
        audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = audio_fingerprint(attach_payload(docs))
    w = Window.partitionBy("afp_hi", "afp_lo")
    canonical = F.min("doc_id").over(w)
    return fp.select(
        "doc_id",
        "afp_hi",
        "afp_lo",
        F.count(F.lit(1)).over(w).alias("group_size"),
        canonical.alias("canonical_id"),
        (canonical != F.col("doc_id")).alias("is_dup"),
    )
