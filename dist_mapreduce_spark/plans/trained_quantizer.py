"""TRAINED coarse quantizer for the IVF index (round-8 frontier ask).

HISTORY NOTE (round 9): this module's k=8 / int-L2 trained family was
the round-8 evidence that training the coarse quantizer beats the
deterministic sample (candidate fraction 0.367 at recall 0.96 vs
0.498 at 0.90). Round 9 promoted the idea to the DEFAULT — the whole
index/serving family now trains via plans/similarity.py's
trained_quantizer (rule-scaled K, rule-derived probe count, the same
integer trainer dequantized into the float assignment machinery).
These rows remain as the fixed-K=8, int64-L2-probing variant whose
before/after comparison against the SAMPLED quantizer is the
measured justification for the flip.

Production FAISS/ScaNN indexes train the coarse quantizer with
k-means first: trained centroids track the corpus density, cells come
out balanced, and the probed fraction drops at equal recall. This
module closes that loop with the repo's own fixed-point k-means
(plans/iterative.py — exact int64 Lloyd's, so the "trained" centroids
are bit-reproducible and the DuckDB oracle replays the ENTIRE
training run as an unrolled CTE chain — an oracle-checkable trained
index, which float k-means could never be):

- ``sim_index_build_trained``: train → assign → materialize the corpus
  hive-partitioned by TRAINED cell → per-cell read-back audit (same
  audit row shape as sim_index_build, same Mersenne id checksum).
- ``sim_topk_ivf_trained``: serving twin — queries rank the k trained
  centroids by exact int64 L2 on the driver (integer replay, no FP
  divergence), the probed-cell union lands as a literal partition
  filter on the trained index, exact cosine inside probed cells.
- ``sim_cand_stats_trained``: the before/after evidence row pair the
  round-7 verdict asked for — candidate fraction AND recall@k for the
  trained quantizer vs the deterministic-sample quantizer on the same
  corpus, exact integer counts (numbers published in docs/SCALE.md).

Reference parity note: the reference has no vector surface (its data
plane is word count — /root/reference/internal/worker/worker.go:24-44);
this is north-star extension surface, fully value-oracled.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_mapreduce_spark.functions.vectors import (
    cosine_duckdb_sql,
    cosine_spark_sql,
)
from dist_mapreduce_spark.plans.ann_index import (
    CHECKSUM_MOD,
    _corpus_fingerprint,
    _index_dir,
)
from dist_mapreduce_spark.plans.iterative import (
    KMEANS_SCALE,
    N_ITER,
    TRAIN_NSTAT_CTE,
    TRAIN_SRULE_CTE,
    kmeans_assign_duck,
    kmeans_assign_gemm,
    kmeans_dist_duck,
    kmeans_quantized,
    kmeans_train_ctes,
    train_kmeans_centroids,
    train_sample_pred_duck,
)
from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.plans.similarity import (
    IVF_CELLS_CTE,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    ivf_cells_df,
    ivf_cent_rows,
    ivf_probes_df,
    ivf_ranked_cells_sql,
)
from dist_mapreduce_spark.sources.tables import load_table

#: Probes into the K=8 trained cells. 3/8 nominal fraction when cells
#: balance — vs the sampled quantizer's 24-of-≤64 (measured 0.498 at
#: sf0.1); the stats row publishes what trained balance actually buys.
TRAINED_N_PROBE = 3

#: The final trained-centroid CTE name from kmeans_train_ctes.
_CLAST = f"c{N_ITER}"

#: Assignment + indexable-cell CTEs shared by every oracle here:
#: af = full-corpus nearest-trained-centroid assignment (EXACTLY the
#: kmeans final-assignment CTE — training reads only the md5-stride
#: sample e, assignment every vector); tcells = the indexable rows (NULL
#: embeddings cannot be indexed — same exclusion the materialized
#: sampled index applies on write).
_TRAINED_CELLS_CTES = (
    # MATERIALIZED like the training rounds (round 9): with the
    # unrolled distance expression, letting DuckDB inline a
    # multi-referenced CTE re-expands the 64-term chains and blows up
    # planner memory.
    f"af AS MATERIALIZED ({kmeans_assign_duck(_CLAST)}),"
    f" tcells AS MATERIALIZED (SELECT a.vec_id, em.embedding, a.cid AS cell"
    f"  FROM af a JOIN embeddings em ON em.vec_id = a.vec_id"
    f"  WHERE em.embedding IS NOT NULL)"
)


def _with_trained(*extra: str) -> str:
    return "WITH " + ", ".join(
        [TRAIN_NSTAT_CTE, TRAIN_SRULE_CTE]
        + kmeans_train_ctes(extra_where=train_sample_pred_duck())
        + [_TRAINED_CELLS_CTES]
        + list(extra)
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


_BUILT: dict[str, str] = {}


def build_trained_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str | None, list[list[int]]]:
    """Train the quantizer (fixed-point Lloyd's on the training sample,
    shared trainer) and materialize the corpus hive-partitioned by
    trained cell. Memoized per corpus fingerprint like build_ivf_index
    — ingest runs once, serving reads."""
    centroids = train_kmeans_centroids(spark, sf_dir)
    if not centroids:
        return None, []
    path = _index_dir("trained_ivf", sf_dir)
    key = _corpus_fingerprint(sf_dir)
    if _BUILT.get(path) == key and os.path.isdir(path):
        return path, centroids
    cells = kmeans_assign_gemm(
        kmeans_quantized(spark, sf_dir), centroids
    ).select("vec_id", F.col("cluster").alias("cell"))
    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    if os.path.isdir(path):
        shutil.rmtree(path)
    (
        emb.join(cells, "vec_id")
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    _BUILT[path] = key
    return path, centroids


@query(
    "sim_index_build_trained",
    oracle=(
        _with_trained()
        + f" SELECT CAST(cell AS BIGINT) AS cell,"
        f" CAST(count(*) AS BIGINT) AS n_vecs,"
        f" CAST(sum(CAST(vec_id AS DECIMAL(38,0))) % {CHECKSUM_MOD}"
        f"  AS BIGINT) AS id_sum,"
        f" min(vec_id) AS min_id, max(vec_id) AS max_id,"
        f" CAST(sum(CAST(len(embedding) AS BIGINT)) AS BIGINT) AS dim_sum"
        f" FROM tcells GROUP BY cell"
    ),
)
def q_sim_index_build_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the TRAINED-quantizer IVF index and audit it from
    the read-back files — sim_index_build with k-means centroids in
    place of the deterministic sample. The oracle replays the entire
    5-round integer Lloyd's training run as CTEs, re-derives every
    vector's trained-cell assignment, and hash-checks the per-cell
    counts/id-checksums against what Spark actually wrote: a PASS
    proves the trained index layout is exactly the trained assignment.

    Scale shape: training is one count + one collect of the md5-stride
    sample (k-means needs ~k·1000 points, not N; the rounds run on the
    driver — the kmeans_embeddings trainer); the build itself is one
    scan through the GEMM assignment stage + a directory-partitioned
    write — training never becomes the bottleneck."""
    path, centroids = build_trained_index(spark, sf_dir)
    if path is None:
        return spark.createDataFrame(
            [],
            "cell bigint, n_vecs bigint, id_sum bigint, min_id bigint,"
            " max_id bigint, dim_sum bigint",
        )
    back = spark.read.parquet(path)
    return back.groupBy(F.col("cell").cast("long").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr(
            f"CAST(sum(CAST(vec_id AS DECIMAL(38,0))) % {CHECKSUM_MOD}"
            f" AS BIGINT)"
        ).alias("id_sum"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
        F.sum(F.size("embedding").cast("long")).alias("dim_sum"),
    )


def _py_quantize(vec: list[float]) -> list[int]:
    """floor(x · 2^20) replayed on the driver — float32→double is
    exact, the power-of-two product is exact, floor is unambiguous, so
    this is bit-identical to both engines' quantization."""
    return [int(math.floor(float(x) * KMEANS_SCALE)) for x in vec]


def _py_probe_cells(
    centroids: list[list[int]], qq: list[int], n_probe: int
) -> list[int]:
    """Exact-integer probe ranking (dist ASC, cid ASC) — pure int64
    arithmetic, so the driver replay IS the oracle's ranking (no IEEE
    subtlety at all, unlike the sampled quantizer's dot/|c| replay)."""
    scored = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qq, c)), cid)
        for cid, c in enumerate(centroids)
    )
    return [cid for _, cid in scored[:n_probe]]


_TRAINED_PROBES_CTE = (
    f"tq AS (SELECT vec_id AS query_id, embedding AS qv,"
    f" list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    f"  * {KMEANS_SCALE}) AS BIGINT)) AS qq"
    f" FROM embeddings WHERE vec_id < {N_QUERIES}"
    f"  AND embedding IS NOT NULL),"
    f" tpr AS (SELECT query_id, qv, cid AS pcell FROM ("
    f"  SELECT q.query_id, q.qv, c.cid,"
    f"  row_number() OVER (PARTITION BY q.query_id"
    f"   ORDER BY {kmeans_dist_duck('q.qq', 'c.cq')}, c.cid) AS crk"
    f"  FROM tq q CROSS JOIN {_CLAST} c)"
    f" WHERE crk <= {TRAINED_N_PROBE})"
)

_TRAINED_TOPK_ORACLE = (
    _with_trained(
        _TRAINED_PROBES_CTE,
        f"s AS (SELECT p.query_id, cl.vec_id,"
        f" {cosine_duckdb_sql('p.qv', 'cl.embedding')} AS score"
        f" FROM tcells cl JOIN tpr p"
        f"  ON cl.cell = p.pcell AND cl.vec_id <> p.query_id)",
    )
    + f" SELECT query_id, vec_id, score, rk FROM ("
    f"  SELECT *, row_number() OVER (PARTITION BY query_id"
    f"   ORDER BY score DESC, vec_id) AS rk FROM s) WHERE rk <= {TOP_K}"
)


@query("sim_topk_ivf_trained", oracle=_TRAINED_TOPK_ORACLE)
def q_sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving twin of the trained index: each query ranks the k
    trained centroids by EXACT int64 squared-L2 (the k-means metric —
    pure integer, so the driver-side replay has zero FP risk), probes
    its TRAINED_N_PROBE nearest cells as a literal ``cell IN (...)``
    partition filter on the materialized trained index, and runs exact
    cosine only inside them. One pruned scan, one broadcast join, one
    window top-k — the sim_topk_ivf_pruned plan with a trained
    quantizer behind it."""
    emb = _emb(spark, sf_dir)
    path, centroids = build_trained_index(spark, sf_dir)
    empty = spark.createDataFrame(
        [], "query_id bigint, vec_id bigint, score double, rk int"
    )
    if path is None:
        return empty
    qrows = (
        emb.filter(
            (F.col("vec_id") < N_QUERIES) & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        return empty
    probe_pairs = []  # (query_id, pcell)
    for r in qrows:
        qq = _py_quantize(list(r["embedding"]))
        for c in _py_probe_cells(centroids, qq, TRAINED_N_PROBE):
            probe_pairs.append((int(r["vec_id"]), c))
    probes = spark.createDataFrame(
        probe_pairs, "query_id bigint, pcell int"
    ).join(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        "query_id",
    )
    union_cells = sorted({c for _, c in probe_pairs})
    scan = spark.read.parquet(path).filter(F.col("cell").isin(union_cells))
    scored = (
        scan.join(
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


_STATS_ORACLE = (
    _with_trained(
        _TRAINED_PROBES_CTE,
        # Trained candidates + top-k.
        f"tcand AS (SELECT p.query_id, cl.vec_id,"
        f" {cosine_duckdb_sql('p.qv', 'cl.embedding')} AS score"
        f" FROM tcells cl JOIN tpr p"
        f"  ON cl.cell = p.pcell AND cl.vec_id <> p.query_id)",
        f"ttop AS (SELECT query_id, vec_id FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY query_id"
        f"  ORDER BY score DESC, vec_id) AS rk FROM tcand)"
        f" WHERE rk <= {TOP_K})",
        # Sampled-quantizer candidates + top-k (IVF_CELLS_CTE names:
        # cent/sc/rkd/cells — disjoint from the kmeans chain's names).
        IVF_CELLS_CTE,
        f"spr AS (SELECT vec_id AS query_id, embedding AS qv,"
        f" cent_id AS pcell FROM rkd"
        f" WHERE vec_id < {N_QUERIES} AND crk <= {N_PROBE})",
        f"scand AS (SELECT p.query_id, cl.vec_id,"
        f" {cosine_duckdb_sql('p.qv', 'cl.embedding')} AS score"
        f" FROM cells cl JOIN spr p"
        f"  ON cl.cell = p.pcell AND cl.vec_id <> p.query_id)",
        f"stop AS (SELECT query_id, vec_id FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY query_id"
        f"  ORDER BY score DESC, vec_id) AS rk FROM scand)"
        f" WHERE rk <= {TOP_K})",
        # Exact truth on the same query set.
        f"tru AS (SELECT query_id, vec_id FROM ("
        f" SELECT q.vec_id AS query_id, e.vec_id,"
        f" row_number() OVER (PARTITION BY q.vec_id ORDER BY"
        f"  {cosine_duckdb_sql('q.embedding', 'e.embedding')} DESC,"
        f"  e.vec_id) AS rk"
        f" FROM embeddings e, embeddings q"
        f" WHERE q.vec_id < {N_QUERIES} AND q.embedding IS NOT NULL"
        f"  AND e.embedding IS NOT NULL AND e.vec_id <> q.vec_id)"
        f" WHERE rk <= {TOP_K})",
        f"tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),"
        f" nq AS (SELECT CAST(count(*) AS BIGINT) AS q FROM embeddings"
        f"  WHERE vec_id < {N_QUERIES}),"
        f" ntru AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tru),"
        f" tc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tcand),"
        f" th AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tru t"
        f"  JOIN ttop k ON k.query_id = t.query_id AND k.vec_id = t.vec_id),"
        f" sc2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scand),"
        f" sh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tru t"
        f"  JOIN stop k ON k.query_id = t.query_id AND k.vec_id = t.vec_id)",
    )
    + f" SELECT 'ivf_trained' AS method, tc.n AS n_cand, tot.n AS n_corpus,"
    f"  CAST(tc.n AS DOUBLE)"
    f"   / CAST(greatest(nq.q * (tot.n - 1), 1) AS DOUBLE) AS cand_frac,"
    f"  CAST(th.n AS DOUBLE) / CAST(greatest(ntru.n, 1) AS DOUBLE) AS recall"
    f" FROM tc, th, tot, nq, ntru"
    f" UNION ALL SELECT 'ivf_sampled', sc2.n, tot.n,"
    f"  CAST(sc2.n AS DOUBLE)"
    f"   / CAST(greatest(nq.q * (tot.n - 1), 1) AS DOUBLE),"
    f"  CAST(sh.n AS DOUBLE) / CAST(greatest(ntru.n, 1) AS DOUBLE)"
    f" FROM sc2, sh, tot, nq, ntru"
)


@query("sim_cand_stats_trained", oracle=_STATS_ORACLE)
def q_sim_cand_stats_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The before/after row pair for quantizer training: candidate
    fraction AND recall@{TOP_K} for the TRAINED quantizer
    (k-means cells, TRAINED_N_PROBE probes) vs the SAMPLED quantizer
    (vec_id-predicate centroids, N_PROBE probes) against the same
    exact brute-force truth — one hash-checked frame, exact integer
    counts, the evidence whether training the coarse quantizer buys a
    lower examined fraction at comparable recall on this corpus
    (published per scale in docs/SCALE.md)."""
    emb = _emb(spark, sf_dir)
    one = F.lit(1)

    # Trained candidates (query_id, vec_id, score).
    trained_top = q_sim_topk_ivf_trained(spark, sf_dir)
    path, centroids = build_trained_index(spark, sf_dir)
    if path is None:
        return spark.createDataFrame(
            [],
            "method string, n_cand bigint, n_corpus bigint,"
            " cand_frac double, recall double",
        )
    qrows = (
        emb.filter(
            (F.col("vec_id") < N_QUERIES) & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )
    probe_pairs = [
        (int(r["vec_id"]), c)
        for r in qrows
        for c in _py_probe_cells(
            centroids, _py_quantize(list(r["embedding"])), TRAINED_N_PROBE
        )
    ]
    tcand = (
        spark.read.parquet(path)
        .join(
            F.broadcast(
                spark.createDataFrame(probe_pairs, "query_id bigint, pcell int")
            ),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
    )

    # Sampled candidates: the sim_cand_stats IVF definition verbatim.
    cent_rows = ivf_cent_rows(emb)
    ranked = ivf_ranked_cells_sql(cent_rows)
    scand = (
        ivf_cells_df(spark, emb, cent_rows)
        .join(
            F.broadcast(ivf_probes_df(emb, ranked).select("query_id", "pcell")),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "embedding")
    )
    sqv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    stop = (
        scand.join(F.broadcast(sqv), "query_id")
        .withColumn("score", F.expr(cosine_spark_sql("qv", "embedding")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id")
    )

    # Exact truth.
    corpus = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ev")
    )
    probe = emb.filter(
        (F.col("vec_id") < N_QUERIES) & F.col("embedding").isNotNull()
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    tru = (
        corpus.join(F.broadcast(probe), F.col("cand_id") != F.col("query_id"))
        .withColumn("score", F.expr(cosine_spark_sql("qv", "ev")))
        .select("query_id", F.col("cand_id").alias("vec_id"), "score")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id")
        # eager localCheckpoint, not cache(): reused by both hit joins,
        # blocks released with the frame across long gate sweeps (the
        # round-9 advice class).
        .localCheckpoint(eager=True)
    )

    def cnt(df: DataFrame, col: str) -> DataFrame:
        return df.agg(F.count(one).cast("long").alias(col)).withColumn("j", one)

    ttop = trained_top.select("query_id", "vec_id")
    base = (
        cnt(emb, "n_corpus")
        .join(cnt(emb.filter(F.col("vec_id") < N_QUERIES), "nq"), "j")
        .join(cnt(tru, "ntru"), "j")
        .join(cnt(tcand, "tc"), "j")
        .join(cnt(tru.join(ttop, ["query_id", "vec_id"]), "th"), "j")
        .join(cnt(scand, "sc2"), "j")
        .join(cnt(tru.join(stop, ["query_id", "vec_id"]), "sh"), "j")
    )
    denom = F.greatest(F.col("nq") * (F.col("n_corpus") - one), one).cast(
        "double"
    )
    ntru_d = F.greatest(F.col("ntru"), one).cast("double")
    return base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("ivf_trained").alias("method"),
                    F.col("tc").alias("n_cand"),
                    F.col("n_corpus").alias("n_corpus"),
                    (F.col("tc").cast("double") / denom).alias("cand_frac"),
                    (F.col("th").cast("double") / ntru_d).alias("recall"),
                ),
                F.struct(
                    F.lit("ivf_sampled").alias("method"),
                    F.col("sc2").alias("n_cand"),
                    F.col("n_corpus").alias("n_corpus"),
                    (F.col("sc2").cast("double") / denom).alias("cand_frac"),
                    (F.col("sh").cast("double") / ntru_d).alias("recall"),
                ),
            )
        ).alias("r")
    ).select("r.*")
