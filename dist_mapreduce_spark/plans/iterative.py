"""Deterministic sampling + iterative algorithms — the two remaining
operator classes a 100 TB pipeline needs beyond one-pass SQL.

Sampling: rand()-based TABLESAMPLE is irreproducible across runs,
engines and partitionings. The scale-correct pattern is a hash-mod
filter on a stable key — the same rows are selected on every engine,
every run, every cluster size, and the predicate pushes down to the
scan. (This is how training corpora hold out eval slices: membership
is a pure function of the key.)

Iteration: Lloyd's k-means over the embeddings table in exact int64
fixed point. The trainer collects its md5-stride training sample (at
most 2·TRAIN_SAMPLE_CAP rows) to the driver once and runs every round
in numpy; the full corpus is then assigned by one GEMM map stage over
one scan. Seeding is deterministic (first k by vec_id), so results are
reproducible run-to-run and replayable by the DuckDB oracle. The graph
algorithms (components, PageRank) run as per-round DataFrame plans
over one symmetric edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_mapreduce_spark.functions.hashing import (
    md5_prefix_long_duckdb_sql,
    md5_prefix_long_spark_sql,
)
from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.sources.tables import load_table

# ------------------------------------------------------------- sampling


@query(
    "sample_deterministic",
    oracle=(
        f"SELECT o_orderkey, o_totalprice FROM orders"
        f" WHERE {md5_prefix_long_duckdb_sql('CAST(o_orderkey AS VARCHAR)', 4)}"
        f" % 100 < 10"
    ),
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample of orders: md5(key) mod 100 < 10.
    Engine-portable (md5 is md5 everywhere), partition-invariant, and
    rerunnable — unlike rand()/TABLESAMPLE. At 100 TB the same
    predicate defines train/eval membership forever."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.expr(md5_prefix_long_spark_sql("cast(o_orderkey as string)", 4)) % 100
    )
    return o.filter(bucket < 10).select("o_orderkey", "o_totalprice")


# Per-language sampling rates (percent): downsample the dominant
# language, keep the tails — the standard corpus-rebalancing move.
STRATA_PCT = {"en": 20, "zh": 50, "es": 80, "de": 80, "fr": 80}
DEFAULT_PCT = 100


@query(
    "sample_stratified",
    oracle=(
        f"SELECT doc_id, lang FROM documents WHERE"
        f" {md5_prefix_long_duckdb_sql('CAST(doc_id AS VARCHAR)', 4)}"
        " % 100 < CASE lang"
        + "".join(f" WHEN '{k}' THEN {v}" for k, v in STRATA_PCT.items())
        + f" ELSE {DEFAULT_PCT} END"
    ),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language rates applied
    through the same md5-bucket predicate as sample_deterministic, so
    membership is reproducible and partition-invariant. This is the
    language-rebalancing pass of a corpus pipeline; unlike
    df.sampleBy (seeded RNG per partition — resample on any repartition)
    the hash-mod predicate gives the same sample on any cluster
    topology. Map-side only: a filter over the scan, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.expr(md5_prefix_long_spark_sql("cast(doc_id as string)", 4)) % 100
    )
    rate = F.lit(DEFAULT_PCT)
    for k, v in reversed(STRATA_PCT.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return d.filter(bucket < rate).select("doc_id", "lang")


# -------------------------------------------------------------- k-means

K = 8
N_ITER = 5
DIM = 64
# Fixed-point scale 2^20: multiplying a float32 (exactly representable
# in double) by a power of two is EXACT in IEEE double, and floor() is
# unambiguous — so quantization is bit-identical on every engine, with
# no round-half mode to disagree about. Value range ±0.53 → |q| < 2^20,
# squared-distance sums < 64·2^42 ≪ 2^63: all arithmetic stays exact
# in int64.
KMEANS_SCALE = 1 << 20

#: Training-sample cap (round 10): Lloyd's needs ~k·10³ points, not N —
#: above this corpus size every trainer runs on a deterministic
#: md5-stride sample (stride = n // CAP, keeping 2^17..2^18 rows, ≥32
#: points per centroid at similarity.K_MAX) while K, n_probe,
#: ASSIGNMENT and every serving stage still use the FULL corpus. The
#: rule is identical in both dialects (the stride is exact integer
#: division of the same count(*) statistic; membership is an
#: md5-prefix mod — the house cross-engine hash), so trained centroids
#: stay hash-exact. Below 2·CAP rows the stride is 1 and the sample is
#: every row with a non-NULL vec_id. The cap also bounds the frame the
#: trainer collects to the driver (train_kmeans_centroids_df).
TRAIN_SAMPLE_CAP = 1 << 17

#: The count(*) statistic and the sample stride as scalar CTEs (the
#: oracle twins of train_sample's count and train_sample_stride).
TRAIN_NSTAT_CTE = (
    "nstat AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)"
)
TRAIN_SRULE_CTE = (
    f"srule AS (SELECT greatest(1, n // {TRAIN_SAMPLE_CAP}) AS st FROM nstat)"
)


def train_sample_pred_duck() -> str:
    """Deterministic training-sample membership, DuckDB dialect: the
    48-bit md5 prefix of the vector id mod the srule stride."""
    h = md5_prefix_long_duckdb_sql("CAST(vec_id AS VARCHAR)")
    return f"({h} % (SELECT st FROM srule)) = 0"


def train_sample_pred_spark(stride: int) -> str:
    """The Spark twin with the driver-computed stride inlined."""
    h = md5_prefix_long_spark_sql("CAST(vec_id AS STRING)")
    return f"({h} % {stride}) = 0"


def train_sample_stride(n: int) -> int:
    """The srule rule, exactly: stride over the full-table count."""
    return max(1, n // TRAIN_SAMPLE_CAP)


def train_sample(df: DataFrame, n: int) -> DataFrame:
    """The rows of `df` (which has vec_id) in the training sample of a
    corpus of `n` rows."""
    return df.filter(F.expr(train_sample_pred_spark(train_sample_stride(n))))


def kmeans_dist_duck(lhs: str = "e.q", rhs: str = "c.cq") -> str:
    """DuckDB int64 squared-L2 between two quantized-vector columns.

    UNROLLED to explicit terms (round 9): int64 addition is exact and
    associative, so the left-associative `t1 + t2 + …` chain is
    VALUE-IDENTICAL to the old list_reduce fold (unlike the float dot
    twins, where only the identical fold ORDER guarantees parity) but
    ~60× faster — DuckDB's interpreted per-row lambda machinery cost
    ~0.5 ms per 64-element fold, which priced the 5-round training
    replay at N·k·5 folds per oracle. Bounds: |q| < 2^20 per
    coordinate, per-term < 2^42, 64 terms < 2^48 ≪ 2^63. Out-of-range
    indexing on a ragged vector yields NULL exactly like the fold over
    range(1, 65) did."""
    terms = " + ".join(
        f"({lhs}[{j}] - {rhs}[{j}]) * ({lhs}[{j}] - {rhs}[{j}])"
        for j in range(1, DIM + 1)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def kmeans_quantized_duck(source: str = "embeddings") -> str:
    """DuckDB (vec_id, q) over `source`: the kmeans_quantize_col twin."""
    return (
        f"SELECT vec_id, list_transform(embedding,"
        f" x -> CAST(floor(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)) AS q"
        f" FROM {source}"
    )


def kmeans_assign_duck(clast: str) -> str:
    """(vec_id, cid): every corpus vector (not just the training
    sample) at its nearest `clast` centroid, rank-1 over (dist, cid) —
    the same deterministic argmin tie-break the Spark side uses."""
    return (
        f"SELECT vec_id, cid FROM ("
        f" SELECT e.vec_id, c.cid,"
        f" row_number() OVER (PARTITION BY e.vec_id"
        f"  ORDER BY {kmeans_dist_duck()}, c.cid) AS rn"
        f" FROM ({kmeans_quantized_duck()}) e CROSS JOIN {clast} c)"
        f" sub WHERE rn = 1"
    )


def kmeans_train_ctes(
    k_sql: str | None = None,
    null_guard: bool = False,
    materialized: bool = True,
    prefix: str = "",
    source: str = "embeddings",
    extra_where: str = "",
) -> list[str]:
    """The unrolled Lloyd's-training CTE chain (e, c0, a1/u1/c1 …
    c{N_ITER}) — shared verbatim by the kmeans_embeddings oracle, the
    trained-quantizer oracles in plans/trained_quantizer.py, and the
    DEFAULT serving quantizer (plans/similarity.py, round 9), so
    'trained centroids' has exactly ONE cross-engine definition.

    ``k_sql`` overrides the centroid-count LIMIT (a constant or a
    scalar subquery like ``(SELECT k FROM krule)`` — the data-scaled
    K rule); ``null_guard`` excludes NULL-embedding rows from training
    (a NULL row in the first K would otherwise poison a centroid);
    ``materialized`` (default) marks each round MATERIALIZED — with
    the unrolled distance expression, letting DuckDB INLINE the chain
    re-expands c{r} (referenced twice per round) exponentially and
    the planner OOMs; materialization also means an oracle that
    references the trained cells many times replays training once.
    ``prefix`` renames every CTE ({p}e, {p}c0, {p}a1, …) so an oracle
    can replay TWO independent training runs in one query (DuckDB CTE
    names are query-global — the staleness monitor needs frozen + fresh
    chains side by side); ``source`` swaps the trained table (the
    post-upsert corpus, a chunk-vector CTE, …). Inner aliases stay `e`
    and `c`, so the distance expression is prefix-invariant.
    ``extra_where`` appends a predicate to the e CTE — the round-10
    TRAINING SAMPLE (the trainer needs ~k·10³ points, not N; every
    trained chain passes the deterministic md5-stride rule,
    train_sample_pred_duck, so training cost is capped at any corpus
    size)."""
    dist = kmeans_dist_duck()
    limit = k_sql if k_sql is not None else str(K)
    guard = " WHERE embedding IS NOT NULL" if null_guard else ""
    if extra_where:
        guard = (
            f"{guard} AND {extra_where}"
            if guard
            else f" WHERE {extra_where}"
        )
    mat = " MATERIALIZED" if materialized else ""
    p = prefix
    parts = [
        f"{p}e AS{mat} ({kmeans_quantized_duck(source)}{guard})",
        f"{p}c0 AS{mat} (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq"
        f" FROM {p}e ORDER BY vec_id LIMIT {limit})",
    ]
    for r in range(1, N_ITER + 1):
        prev = f"{p}c{r - 1}"
        parts.append(
            f"{p}a{r} AS{mat} (SELECT vec_id, q, cid FROM ("
            f" SELECT e.vec_id, e.q, c.cid,"
            f" row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, c.cid)"
            f" AS rn FROM {p}e e CROSS JOIN {prev} c) sub WHERE rn = 1)"
        )
        parts.append(
            f"{p}u{r} AS{mat} (SELECT cid, j AS dim,"
            f" CAST(sum(q[j]) AS BIGINT) AS s, count(*) AS n"
            f" FROM {p}a{r} CROSS JOIN range(1, {DIM} + 1) t(j) GROUP BY cid, j)"
        )
        parts.append(
            f"{p}c{r} AS{mat} (SELECT p.cid, COALESCE(w.newq, p.cq) AS cq"
            f" FROM {prev} p LEFT JOIN (SELECT cid,"
            f" list((s - (((s % n) + n) % n)) // n ORDER BY dim) AS newq"
            f" FROM {p}u{r} GROUP BY cid) w ON w.cid = p.cid)"
        )
    return parts


def _duck_kmeans_oracle() -> str:
    """The N_ITER-round unrolled Lloyd's iteration as one DuckDB
    WITH-chain (kmeans_train_ctes) over the md5-stride training sample
    (nstat/srule — the train_sample twins): c0 = first K sampled
    quantized vectors; per round an assignment CTE (rank-1 over
    (dist, cid) — the same deterministic argmin tie-break the Spark
    side uses) and an update CTE (per-dim integer floor-division mean
    via the sign-safe (s - nonneg_mod) // n construction, COALESCE
    keeps empty clusters' previous centroid); the final assignment of
    the FULL corpus against c{N} yields sizes + integer centroid
    checksums. Exact integer math end-to-end = full value oracle for
    an iterative ML algorithm."""
    last = f"c{N_ITER}"
    parts = [TRAIN_NSTAT_CTE, TRAIN_SRULE_CTE] + kmeans_train_ctes(
        extra_where=train_sample_pred_duck()
    )
    parts.append(f"af AS ({kmeans_assign_duck(last)})")
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT c.cid AS cluster, cnt.n_vectors,"
        f" CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c.cq),"
        f"  (a, b) -> a + b) AS BIGINT) AS centroid_sum,"
        f" CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f"  list_transform(c.cq, x -> x * x)), (a, b) -> a + b) AS BIGINT)"
        f"  AS centroid_norm2"
        f" FROM {last} c JOIN (SELECT cid, CAST(count(*) AS BIGINT)"
        f"  AS n_vectors FROM af GROUP BY cid) cnt ON cnt.cid = c.cid"
    )


def kmeans_quantize_col(col: str = "embedding"):
    """floor(x · 2^20) as int64 — the exact fixed-point quantization
    every trainer and oracle in this family shares (one definition)."""
    return F.transform(
        F.col(col),
        lambda x: F.floor(x.cast("double") * F.lit(float(KMEANS_SCALE))).cast(
            "long"
        ),
    )


def kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q): embeddings floor-quantized to int64 at 2^-20 — the
    exact fixed-point frame every k-means stage (and the trained
    quantizer in plans/trained_quantizer.py) computes on."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", kmeans_quantize_col().alias("q")
    )


def _kmeans_centroid_lit(c: list[int]):
    return F.array(*[F.lit(x).cast("long") for x in c])


def kmeans_sqdist(vec, c: list[int]):
    """Exact int64 squared L2 between a quantized vector column and an
    integer centroid literal."""
    return F.aggregate(
        F.zip_with(vec, _kmeans_centroid_lit(c), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_argmin(vmat, cmat):
    """Row-wise argmin over centroids of the int64 squared L2 between
    the rows of `vmat` (n×dim) and `cmat` (k×dim), EXACT: ||v−c||²
    expands to ||v||² − 2v·c + ||c||², the per-row constant ||v||²
    drops out, and the rest is integer arithmetic with np.argmin's
    first index winning ties (= the oracle's lexicographic (d, cid)
    minimum, the centroid index being the cid).

    The score ||c||² − 2v·c runs in float64 (one BLAS GEMM against
    −2c, plus ||c||²) when every partial sum is provably an integer
    below 2^53 — dim·max|c|·(max|c| + 2·max|v|) < 2^53; at the 2^-20
    quantization |q| < 2^21, so the scores stay below 2^50 — which
    makes it exact in any summation order; otherwise it runs as int64
    matmul. Measured on one 131,072×64 sample against 4,096 centroids
    (4 vCPU, 2 BLAS threads): int64 matmul ~31 s per round, float64
    2.5–3.1 s, identical argmins. Rows run in blocks so the n×k score
    matrix is never whole."""
    import numpy as _np

    out = _np.zeros(len(vmat), dtype=_np.int64)
    if vmat.size == 0:
        return out
    c2 = (cmat * cmat).sum(axis=1)                       # ||c||², exact
    mv, mc = int(_np.abs(vmat).max()), int(_np.abs(cmat).max())
    exact_f64 = cmat.shape[1] * mc * (mc + 2 * mv) < (1 << 53)
    if exact_f64:
        cneg2 = (-2.0 * cmat.astype(_np.float64)).T
        c2 = c2.astype(_np.float64)
    step = max(1, (1 << 20) // len(cmat))    # 8 MB score blocks
    for lo in range(0, len(vmat), step):
        blk = vmat[lo:lo + step]
        if exact_f64:
            scores = blk.astype(_np.float64) @ cneg2
        else:
            scores = -2 * (blk @ cmat.T)
        scores += c2
        out[lo:lo + step] = _np.argmin(scores, axis=1)
    return out


def kmeans_assign_gemm(df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, q, cluster): nearest-centroid assignment by exact int64
    squared L2 (kmeans_argmin) per Arrow batch. Unlike the FLOAT
    serving assignment (similarity.gemm_assign_cells, whose BLAS
    accumulation order differs from the oracle's sequential fold),
    this is BIT-IDENTICAL to the DuckDB replay BY CONSTRUCTION: the
    quantized frame and centroids are int64 and every distance term is
    exact. Degenerate rows (q NULL / ragged length / NULL element)
    make EVERY SQL distance NULL, so the struct minimum falls to cid 0
    — replicated here. Pinned against a SQL reference by
    tests/test_gemm_assign.py."""
    import numpy as _np

    cmat = _np.asarray(centroids, dtype=_np.int64)      # k×dim
    dim = cmat.shape[1]
    # Fresh StructType — StructType.add mutates the frame's cached
    # schema instance (see similarity.gemm_assign_cells).
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster", IntegerType())]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            clusters = _np.zeros(len(pdf), dtype=_np.int32)
            idx, rows = [], []
            for i, v in enumerate(pdf["q"]):
                if v is None:
                    continue
                a = _np.asarray(v)
                if a.shape != (dim,) or a.dtype.kind not in "iu":
                    # object dtype = a None element rode along; ragged
                    # lengths NULL every SQL distance — both fall to
                    # cluster 0 like the oracle.
                    continue
                idx.append(i)
                rows.append(a.astype(_np.int64, copy=False))
            if idx:
                clusters[_np.asarray(idx)] = kmeans_argmin(
                    _np.stack(rows), cmat
                )
            out = pdf.copy()
            out["cluster"] = clusters
            yield out

    return df.mapInPandas(_assign, out_schema).select(
        "vec_id", "q", "cluster"
    )


def train_kmeans_centroids(
    spark: SparkSession, sf_dir: str
) -> list[list[int]]:
    """Run the N_ITER fixed-point Lloyd's loop on the md5-stride
    training sample of the embeddings table and return the trained
    integer centroids (k_eff ≤ K lists of DIM int64) — the shared
    trainer behind kmeans_embeddings and the trained-quantizer index
    family. Deterministic and bit-reproducible: seeded from the first
    K sampled vectors by vec_id, every round exact int64."""
    emb = kmeans_quantized(spark, sf_dir)
    return train_kmeans_centroids_df(train_sample(emb, emb.count()), K)


def train_kmeans_centroids_df(emb: DataFrame, k: int) -> list[list[int]]:
    """The fixed-point Lloyd's loop over a DRIVER-SIZED quantized frame
    (vec_id, q) with an arbitrary centroid count — the trainer behind
    train_kmeans_centroids and the DEFAULT serving quantizer
    (plans/similarity.py), whose K follows the corpus-size rule.
    Callers bound the frame with train_sample (≤ 2·TRAIN_SAMPLE_CAP
    rows).

    ONE Spark job collects the frame as Arrow; the N_ITER rounds then
    run in numpy, bit-identical to the oracle's CTE chain
    (kmeans_train_ctes):
    - c0 = the first k rows by vec_id (NULLs first, Spark's ASC order);
    - assignment = kmeans_argmin, exact, first index wins ties;
    - update = per-(cluster, dim) integer sums s and counts n, new
      centroid s // n (Python/numpy floor division IS the oracle's
      sign-safe (s - nonneg_mod) DIV n for n > 0); an empty cluster
      keeps its previous centroid.
    A row that is not a full-length integer vector sits in cluster 0
    (every SQL distance is NULL) and adds what posexplode + sum/count
    adds: a NULL q nothing, each element position one to n and its
    value, unless NULL, to s. Rounds run on the driver because the
    sample cap makes the frame driver-sized, while per-round Spark jobs
    (two per round) cost more in fixed per-stage overhead than the
    k×dim arithmetic at benchmark scale."""
    import numpy as _np
    import pyarrow.compute as _pc

    tbl = emb.select("vec_id", "q").toArrow()
    ids = tbl.column("vec_id").combine_chunks()
    q = tbl.column("q").combine_chunks()
    order = _np.lexsort((
        _pc.fill_null(ids, 0).to_numpy(zero_copy_only=False),
        ids.is_valid().to_numpy(zero_copy_only=False),
    ))
    centroids = [[int(x) for x in r] for r in q.take(order[:k]).to_pylist()]
    # Fewer rows than K: the oracle's LIMIT K simply yields fewer
    # centroids and completes; run with what exists.
    k_eff = len(centroids)
    if k_eff == 0:
        return []
    dim = _np.asarray(centroids, dtype=_np.int64).shape[1]

    # Element layout: the elements of the non-NULL rows back to back
    # (a NULL q has none), each tagged with its row and its dim.
    lens = _pc.fill_null(_pc.list_value_length(q), 0).to_numpy(
        zero_copy_only=False
    ).astype(_np.int64)
    flat = q.flatten()
    ok = flat.is_valid().to_numpy(zero_copy_only=False)
    vals = _pc.fill_null(flat, 0).to_numpy(zero_copy_only=False).astype(
        _np.int64, copy=False
    )
    row = _np.repeat(_np.arange(len(lens)), lens)
    pos = _np.arange(len(vals)) - _np.repeat(_np.cumsum(lens) - lens, lens)
    full = (lens == dim) & (_np.bincount(row[~ok], minlength=len(lens)) == 0)
    xmat = vals[full[row]].reshape(-1, dim)
    width = max(dim, int(lens.max()))
    cells = k_eff * width

    for _ in range(N_ITER):
        cluster = _np.zeros(len(lens), dtype=_np.int64)
        cluster[full] = kmeans_argmin(
            xmat, _np.asarray(centroids, dtype=_np.int64)
        )
        key = cluster[row] * width + pos
        n = _np.bincount(key, minlength=cells).reshape(k_eff, width)
        s = _np.zeros(cells, dtype=_np.int64)
        _np.add.at(s, key[ok], vals[ok])
        s = s.reshape(k_eff, width)
        has = _np.bincount(key[ok], minlength=cells).reshape(k_eff, width) > 0
        # Each row fills dims 0..len-1, so a cluster's dims are a
        # prefix and a cluster with any element has one at dim 0;
        # empty clusters keep their previous centroid.
        new = list(centroids)
        for c in _np.flatnonzero(n[:, 0]):
            w = int(_np.count_nonzero(n[c]))
            means = (s[c, :w] // n[c, :w]).tolist()
            # sum() over only-NULL values is NULL: a NULL mean.
            new[c] = [m if h else None for m, h in zip(means, has[c, :w])]
        centroids = new
    return centroids


@query("kmeans_embeddings", oracle=_duck_kmeans_oracle())
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, k=8, 5 fixed rounds, over embeddings
    (array<float>, dim 64) — in FIXED-POINT integer arithmetic, which
    upgrades the one formerly rows-only iterative query to a full value
    oracle: floor-quantize each coordinate to 2^-20 (exact in IEEE
    double — scale is a power of two), squared-L2 and centroid means
    are then pure int64 (mean = sign-safe integer floor division), so
    every round is bit-reproducible and DuckDB replays the identical
    5 rounds as an unrolled CTE chain (_duck_kmeans_oracle).

    Training (train_kmeans_centroids): one count fixes the md5-stride
    sample (every vector below 2·TRAIN_SAMPLE_CAP), one Arrow collect
    brings it to the driver, and the 5 rounds run in numpy — exact
    int64 argmin (kmeans_argmin; first index = the oracle's (dist, cid)
    tie-break), per-(cluster, dim) integer sums, floor-div means.
    Final assignment of the FULL corpus: one GEMM map stage
    (kmeans_assign_gemm) + one k-row aggregate.

    Scale: training costs two Spark jobs whatever N_ITER is, and the
    driver holds at most 2·TRAIN_SAMPLE_CAP×64 integers; the corpus is
    scanned once more for the final assignment. Quantization error is
    bounded by 2^-20 per coordinate — far below any clustering signal —
    and buys exactness: the 100 TB lesson is that deterministic
    integer ML (same trick as graph_pagerank) is re-runnable and
    auditable across engines, while float avg() depends on partition
    merge order."""
    emb = kmeans_quantized(spark, sf_dir)
    centroids = train_kmeans_centroids(spark, sf_dir)
    if not centroids:
        return spark.createDataFrame(
            [],
            "cluster int, n_vectors bigint, centroid_sum bigint,"
            " centroid_norm2 bigint",
        )
    final = kmeans_assign_gemm(emb, centroids)
    sizes = final.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    sum_lit = F.array(*[F.lit(sum(c)).cast("long") for c in centroids])
    norm2_lit = F.array(
        *[F.lit(sum(x * x for x in c)).cast("long") for c in centroids]
    )
    return sizes.select(
        "cluster",
        "n_vectors",
        F.element_at(sum_lit, F.col("cluster") + 1).alias("centroid_sum"),
        F.element_at(norm2_lit, F.col("cluster") + 1).alias("centroid_norm2"),
    )


# ------------------------------------------------- connected components

CC_MAX_ITERS = 20


@query(
    "graph_components",
    oracle=(
        "SELECT s_suppkey AS node,"
        " min(s_suppkey) OVER (PARTITION BY s_nationkey) AS component"
        " FROM supplier"
    ),
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by iterative min-label propagation (the
    Pregel/GraphX pattern as plain DataFrame rounds).

    Graph: suppliers are nodes; each supplier links to the supplier at
    half its rank within its nation — a binary tree per nation, so the
    TRUE components are exactly the nation groups and the oracle can
    state them in closed form, while the Spark side runs the general
    algorithm with no knowledge of that structure.

    Per round: join labels into the symmetric edge list (one shuffle on
    node id), union with self-labels, min-aggregate — converged when
    sum(label) stops falling (it is monotone non-increasing).
    localCheckpoint truncates lineage each round so the plan does not
    grow with iterations. Tree diameter is O(log n) — ~9 rounds at
    SF 1, ~15 at SF 100; CC_MAX_ITERS=20 covers up to ~2^20 suppliers
    per nation and the loop RAISES if it ever exits unconverged
    (silently returning partial labels would be wrong answers). At
    100 TB scale the same loop runs with the edge list pre-partitioned
    by src and AQE handling skew."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rk_w = F.row_number().over(
        Window.partitionBy("s_nationkey").orderBy("s_suppkey")
    )
    ranked = s.select(
        F.col("s_suppkey").alias("node"), "s_nationkey", rk_w.alias("rk")
    )
    child = ranked.filter(F.col("rk") >= 2).alias("c")
    parent = ranked.alias("p")
    edges = child.join(
        parent,
        (F.col("c.s_nationkey") == F.col("p.s_nationkey"))
        & (F.col("p.rk") == F.expr("c.rk DIV 2")),
    ).select(F.col("c.node").alias("src"), F.col("p.node").alias("dst"))
    # Lazy checkpoint (round 16): the round-0 frontier count is the
    # first action, so one job materializes edges and init labels.
    edges_sym = symmetric_edges(edges, "src", "dst").localCheckpoint(
        eager=False
    )

    # Round-0 fusion (round 15, same rewrite as propagate_min_labels):
    # with identity initial labels, the first round reduces to
    # label0(v) = min({v} ∪ neighbors(v)) — one aggregation + one join
    # instead of a full propagation round; singleton nodes (no edges)
    # fall through the left join and keep themselves (least() skips the
    # NULL). Identical labeling after round 0, identical fixpoint.
    # FRONTIER (delta) propagation (round 16, guide §2.3, the same
    # rewrite as propagate_min_labels): `chg` marks the nodes whose
    # label changed this round; only those message neighbors next round
    # (a label that did not change was already delivered the round
    # after it was acquired, and min-folds are monotone, so re-sending
    # it can never change anything). Per round the edge join touches
    # frontier-incident edges only — instead of ALL edges × ALL labels,
    # the dominant shuffle term — while the min-fold keeps the one
    # union-aggregate exchange of the full algorithm (same stage count
    # per round; `old` is the unique labels-side value per node, so the
    # frontier flag falls out of the same aggregation). Per-round
    # labelings, round count, and the fixpoint are identical;
    # singletons keep mn NULL → chg NULL → never frontier members.
    nbr_min = edges_sym.groupBy("src").agg(F.min("dst").alias("mn"))
    labels = (
        ranked.select("node")
        .join(nbr_min, F.col("node") == nbr_min["src"], "left")
        .select(
            "node",
            F.least(F.col("node"), F.col("mn")).alias("label"),
            (F.col("mn") < F.col("node")).alias("chg"),
        )
        .localCheckpoint(eager=False)
    )
    # Lazy checkpoint: the frontier-count action below materializes the
    # round's label blocks AND returns the convergence test in ONE job
    # (labels are monotone non-increasing, so `frontier empty` ⇔ the
    # old sum(label)-unchanged test).
    n_changed = labels.filter("chg").count()
    converged = n_changed == 0
    for _ in range(1, CC_MAX_ITERS):
        if converged:
            break
        delta = labels.filter("chg").select("node", "label")
        msgs = edges_sym.join(delta, edges_sym["src"] == delta["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        folded = labels.select(
            "node", "label", F.lit(0).alias("src")
        ).union(msgs.select("node", "label", F.lit(1).alias("src")))
        labels = (
            folded.groupBy("node")
            .agg(
                F.min("label").alias("mn"),
                F.min(F.when(F.col("src") == 0, F.col("label"))).alias(
                    "old"
                ),
            )
            .select(
                "node",
                F.col("mn").alias("label"),
                (F.col("mn") < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = labels.filter("chg").count()
        converged = n_changed == 0
    if not converged:
        # Min-label propagation moves a root's label one hop per round,
        # so convergence needs ~diameter rounds. Returning silently
        # here would hand back WRONG components; fail loudly so the
        # caller raises CC_MAX_ITERS (or pre-contracts the graph)
        # instead of trusting unconverged labels.
        raise RuntimeError(
            f"graph_components did not converge in {CC_MAX_ITERS} rounds;"
            " raise CC_MAX_ITERS for graphs with larger diameter"
        )
    return labels.select("node", F.col("label").alias("component"))


# Temperature-based language rebalancing (the multilingual-corpus
# mixing rule): sample language l with probability ∝ p_l^alpha, here
# alpha = 0.5 so the weight is sqrt — chosen deliberately because sqrt
# and division are IEEE correctly-rounded in every engine, while pow()
# is not; the acceptance threshold is therefore bit-identical on Spark
# and DuckDB. Acceptance rate a_l = sqrt(n_min / n_l) (the rarest
# language keeps 100%), quantized to a 1e6-bucket integer threshold.
TEMP_BUCKETS = 1_000_000


@query(
    "sample_temperature",
    oracle=(
        "WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),"
        " m AS (SELECT min(n_l) AS n_min FROM c),"
        " r AS (SELECT lang,"
        "   CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))"
        f"        * {TEMP_BUCKETS}) AS BIGINT) AS thresh"
        "  FROM c, m)"
        " SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang"
        f" WHERE {md5_prefix_long_duckdb_sql('CAST(d.doc_id AS VARCHAR)')}"
        f" % {TEMP_BUCKETS} < r.thresh"
    ),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha=0.5) over the documents corpus:
    per-language acceptance rate sqrt(n_min/n_l), membership decided by
    the same md5-bucket predicate as sample_deterministic — so the
    sample is reproducible on any engine, run, or cluster topology.

    Plan shape at 100 TB: one tiny groupBy(lang) to get counts (a few
    hundred rows), a broadcast join of the per-language threshold back
    onto the corpus, and a map-side filter. No large shuffle; the only
    pass over the data is the final filtered scan."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    # n_min as a global window over the tiny post-agg counts frame
    # (round 15, guide §2.4): the former counts.agg(min) branch was a
    # SEPARATE subtree — Catalyst planned a second full documents scan
    # + aggregation pipeline + BroadcastNestedLoopJoin just to attach
    # one scalar (plan audit: operators 8-16). The window reuses the
    # one aggregated frame; its single-partition exchange moves ≤
    # n_languages rows. Same min, same floor(sqrt(...)) → bit-identical
    # thresholds.
    n_min = F.min("n_l").over(Window.partitionBy())
    rates = counts.select(
        "lang",
        F.floor(
            F.sqrt(n_min.cast("double") / F.col("n_l").cast("double"))
            * TEMP_BUCKETS
        ).alias("thresh"),
    )
    bucket = (
        F.expr(md5_prefix_long_spark_sql("cast(doc_id as string)")) % TEMP_BUCKETS
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("thresh"))
        .select("doc_id", "lang")
    )


# ------------------------------------------------------------- pagerank

#: Fixed-point scale for integer PageRank: ranks are stored as
#: rank * 1e12 in BIGINT. Integer sums are order-independent and floor
#: division is identical across engines, so an ITERATIVE float-free
#: PageRank gets a full value-hash oracle — no rows-only escape hatch.
PR_SCALE = 10**12
PR_ITERS = 5


def _pr_oracle() -> str:
    """Unrolled DuckDB mirror of the Spark loop (recursive CTEs cannot
    aggregate in the recursive term, and the iteration count is a fixed
    constant, so unrolling is both legal and clearer)."""
    s = PR_SCALE
    parts = [
        "WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,"
        " l_suppkey * 2 + 1 AS dst FROM lineitem),"
        " edges AS (SELECT src, dst FROM e0"
        "           UNION ALL SELECT dst AS src, src AS dst FROM e0),"
        " deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),"
        " nn AS (SELECT count(*) AS n FROM deg),"
        f" r0 AS (SELECT src AS node, {s} // n AS rank FROM deg, nn)"
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f", r{i} AS (SELECT e.dst AS node,"
            f" (SELECT (15 * {s}) // (100 * n) FROM nn)"
            f" + sum((85 * r.rank) // (100 * d.d)) AS rank"
            f" FROM edges e JOIN r{i-1} r ON r.node = e.src"
            f" JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
    parts.append(
        f" SELECT node, CAST(rank AS BIGINT) AS rank_fp FROM r{PR_ITERS}"
    )
    return "".join(parts)


@query("graph_pagerank", oracle=_pr_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 rounds) over the bipartite
    part↔supplier graph from distinct lineitem pairs, in FIXED-POINT
    integer arithmetic: rank_fp = rank·1e12 as BIGINT, contributions
    (85·r) DIV (100·outdeg), teleport (15·SCALE) DIV (100·N).

    Why fixed-point: float PageRank is partition-order-dependent (FP
    addition does not commute), which would force a rows-only check.
    Integer sums commute and DIV is floor on both engines, so every bit
    of the result is deterministic — the oracle-parity discipline
    applied to an iterative algorithm.

    Scale shape: per round = one join of the edge list with the rank
    frame (both hash-partitioned on src — co-partitioned after round 1)
    + one (dst) aggregation; lineage cut per round with localCheckpoint
    so the plan stays O(1). The symmetric bipartite graph has no
    dangling nodes (in-degree = out-degree ≥ 1), so no lost-mass term.
    N is a driver-side scalar (one count per job, like the k-means
    centroid fetch). Part/supplier ids interleave as 2k / 2k+1 to make
    the node-id space disjoint."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    e0 = (
        li.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = symmetric_edges(e0, "src", "dst")
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    edges_deg = edges.join(deg, "src").localCheckpoint()

    n = deg.count()
    base = (15 * PR_SCALE) // (100 * n)
    ranks = deg.select("src", F.lit(PR_SCALE // n).cast("long").alias("rank"))
    ranks = ranks.withColumnRenamed("src", "node").localCheckpoint()

    for _ in range(PR_ITERS):
        contrib = edges_deg.join(
            ranks, edges_deg["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("(85 * rank) DIV (100 * d)").alias("c"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select("node", (F.lit(base) + F.col("s")).cast("long").alias("rank"))
            .localCheckpoint()
        )
    return ranks.select("node", F.col("rank").alias("rank_fp"))


# ------------------------------------------- fixed-k reservoir sample

#: Reservoir capacity per stratum (language).
RESERVOIR_K = 20


@query(
    "sample_reservoir",
    oracle=(
        "SELECT doc_id, lang FROM ("
        " SELECT doc_id, lang, row_number() OVER ("
        "  PARTITION BY lang"
        "  ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS LAST,"
        "   doc_id NULLS LAST) AS rn"
        " FROM documents)"
        f" WHERE rn <= {RESERVOIR_K}"
    ),
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k reservoir per stratum: exactly
    RESERVOIR_K documents per language, chosen by ranking on a content
    hash — the distributed replacement for sequential reservoir
    sampling (Vitter's algorithm R needs a single pass with shared
    state; ranking on a uniform hash draws the identical distribution
    and is embarrassingly parallel). Complements the rate-based
    samplers: sample_deterministic/stratified keep a PERCENTAGE (count
    scales with the data), this keeps a CARDINALITY (eval sets,
    human-review batches — budgets that must not grow with the
    corpus). md5-ranking makes membership partition- and
    topology-invariant, and the explicit NULLS LAST pins the one
    cross-engine divergence (Spark sorts ASC nulls FIRST, DuckDB
    LAST).

    Scale shape: one shuffle (window on the stratum key). With heavy
    strata the refinement is the standard two-phase top-k: a map-side
    per-partition top-RESERVOIR_K before the exchange bounds the
    shuffle to k rows per partition per stratum — Spark's
    TakeOrderedAndProject does exactly this for the global case."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc_nulls_last(),
        F.col("doc_id").asc_nulls_last(),
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select("doc_id", "lang")
    )


# ------------------------------------------------- triangle counting

from dist_mapreduce_spark.plans.llm_pipeline import (  # noqa: E402
    _duck_minhash_oracle,
    symmetric_edges,
)


@query(
    "graph_triangles",
    oracle=(
        "WITH p AS ({mh}),"
        " pairs AS (SELECT doc_a, doc_b FROM p),"
        " edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
        "  UNION ALL SELECT doc_b, doc_a FROM pairs),"
        " deg AS (SELECT a, count(*) AS d FROM edges GROUP BY a),"
        " tri AS (SELECT count(*) AS t FROM pairs p1"
        "  JOIN pairs p2 ON p2.doc_a = p1.doc_b"
        "  JOIN pairs p3 ON p3.doc_a = p1.doc_a"
        "   AND p3.doc_b = p2.doc_b)"
        " SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,"
        "  CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)"
        "   AS n_wedges,"
        "  CAST(tri.t AS BIGINT) AS n_triangles,"
        "  CAST(tri.t * 3 * 1000000"
        "   // greatest((SELECT sum(d * (d - 1) // 2) FROM deg), 1)"
        "   AS BIGINT) AS transitivity_ppm"
        " FROM tri"
    ).format(mh=_duck_minhash_oracle()),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the minhash
    near-dup graph — the transitivity audit of the dedup pipeline:
    near-duplication should be (approximately) transitive, so a LOW
    coefficient on these edges means the banding is linking documents
    whose similarity doesn't agree pairwise — a quality alarm before
    dedup_cluster merges them. Classic two-join triangle enumeration
    over the a<b-ordered edge list (each triangle x<y<z materializes
    exactly once); wedges from per-node degrees (Σ C(d, 2)), and the
    coefficient 3·triangles/wedges reported in exact integer ppm.

    Scale shape: the edge list is the ALREADY-thresholded near-dup
    graph (orders of magnitude smaller than the corpus — same premise
    as dedup_cluster), so the self-joins shuffle pair tuples only;
    degrees are one aggregate. Enumeration uses DEGREE-ORDERED
    orientation (round 5, per the round-4 verdict): every edge is
    directed from its lower-(degree, id) endpoint to the higher, wedges
    are opened only at the SOURCE of two out-edges, and the closing
    edge is looked up in the same oriented list. Out-degree under this
    orientation is O(√E) regardless of clique structure, so wedge count
    is O(E^1.5) — the doc_id-ordered join it replaces degenerated on
    replicated dup-cliques (a rep-clique's lowest doc_id opened C(rep,2)
    wedges; 20× stress 30.1 s → 9.5 s with orientation, n_triangles
    bit-identical). The reported n_wedges column stays Σ C(d,2) over
    UNDIRECTED degrees — it is the transitivity denominator, a graph
    property, not an artifact of the enumeration order."""
    from dist_mapreduce_spark.plans.llm_pipeline import q_dedup_minhash

    pairs = (
        q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").cache()
    )
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    )
    deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges")
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    # Orient: src = lower (deg, id) endpoint. Ties on degree break by
    # id, so the orientation is a strict total order and acyclic.
    da = deg.select(F.col("doc_a").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("doc_a").alias("doc_b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
        )
        .cache()
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedge (v, w) at u with k(v) < k(w); the closing edge {v, w} is
    # then oriented v→w by construction, so one equi-join closes it.
    lt = (F.col("e1.dd") < F.col("e2.dd")) | (
        (F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedge = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & lt).select(
        F.col("e1.dst").alias("src"), F.col("e2.dst").alias("dst")
    )
    tri = wedge.join(oriented.select("src", "dst"), ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    return (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "n_triangles * 3 * 1000000 DIV greatest(n_wedges, 1)"
            ).alias("transitivity_ppm"),
        )
    )


@query(
    "graph_degree_hist",
    oracle=(
        "WITH p AS ({mh}),"
        " edges AS (SELECT doc_a AS v FROM p"
        "  UNION ALL SELECT doc_b FROM p),"
        " deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM edges"
        "  GROUP BY v),"
        " bkt AS (SELECT length(bin(d)) - 1 AS lb, d FROM deg),"
        " tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg)"
        " SELECT CAST(lb AS BIGINT) AS log2_bucket,"
        "  CAST(1 << lb AS BIGINT) AS bucket_lo,"
        "  CAST(count(*) AS BIGINT) AS n_nodes,"
        "  CAST(min(d) AS BIGINT) AS min_deg,"
        "  CAST(max(d) AS BIGINT) AS max_deg,"
        "  CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_ppm"
        " FROM bkt, tot GROUP BY lb, tot.n"
    ).format(mh=_duck_minhash_oracle()),
)
def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph in log2 buckets — the
    power-law audit that complements graph_triangles' transitivity
    check: a healthy near-dup graph is sparse with a thin tail, while
    a heavy high-degree bucket means a template/boilerplate cluster is
    snowballing (exactly the hot-cell class the collapse pre-passes
    and caps exist for — this table is the alarm that fires BEFORE a
    build blows up). Buckets are floor(log2(d)) via the house
    length(bin(d))−1 trick, pure integers, with exact ppm node shares.

    Scale shape: degrees are one aggregate over the already-
    thresholded edge list; the histogram is a ≤64-row rollup —
    strictly cheaper than any consumer of the same graph."""
    from dist_mapreduce_spark.plans.llm_pipeline import q_dedup_minhash

    pairs = q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    # Both endpoints from one evaluation of the pair lineage (a union
    # would run dedup_minhash's band and verify stages once per branch).
    edges = pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("v"))
    deg = edges.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    bkt = deg.select(
        (F.length(F.bin("d")) - 1).cast("long").alias("log2_bucket"), "d"
    )
    tot = deg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        bkt.crossJoin(F.broadcast(tot))
        .groupBy("log2_bucket", "n")
        .agg(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(log2_bucket AS INT))"
                   " AS BIGINT)").alias("bucket_lo"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
            F.expr("count(*) * 1000000 DIV n").alias("share_ppm"),
        )
        .select(
            "log2_bucket", "bucket_lo", "n_nodes", "min_deg", "max_deg",
            "share_ppm",
        )
    )
