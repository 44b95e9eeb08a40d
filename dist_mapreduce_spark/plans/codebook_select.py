"""Raw-vs-residual codebook AUTO-SELECTION for the composed IVF-PQ
index (round-9 verdict item #8).

Round 8 measured that the better PQ code family is REGIME-DEPENDENT:
on the near-isotropic driver corpus the raw-vector codebook wins
(recall 0.90 vs 0.84 at the deployed rerank depth — residuals of a
quantizer that explains nothing are just worse-conditioned raw
vectors), while on a clustered corpus residual coding wins at every
depth (in-cell raw subvectors all quantize to the cluster's codeword;
the residual IS the within-cell signal). This module turns that
finding into a DECISION STATISTIC and wires the composed index to it:

- ``sim_codebook_stats``: the fraction of total corpus variance the
  trained coarse quantizer explains, in EXACT integer arithmetic over
  the fixed-point k-means frame (the 2^-20 quantization every trainer
  in this repo shares): wss = Σ‖q_v − cq(cell(v))‖² (int64 per vector,
  DECIMAL/HUGEINT sums), tss = Σ‖q_v − g‖² against the sign-safe
  integer floor-mean vector g, explained_ppm = 10⁶·(tss−wss)//tss.
  Measured: driver corpus ≈ 70 000 ppm (7% — the quantizer explains
  almost nothing), clustered fixture ≈ 997 000 ppm (99.7%). The
  decision threshold sits at the midpoint.
- ``sim_topk_ivfpq_auto``: the composed serving row — computes the
  statistic, picks the codebook family, and serves the query batch
  through the chosen encode; the output carries the choice. The
  oracle replays the statistic AND BOTH serving pipelines over one
  shared trained chain (MATERIALIZED CTE names are query-global in
  DuckDB, so the chain appears once), guarding each arm's final
  SELECT with the decision — whichever side the data picks, the
  values must match.

Reference parity note: the reference has no vector surface
(worker.go:24-44 is word count); north-star extension surface, fully
value-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_mapreduce_spark.functions.vectors import (
    cosine_duckdb_sql,
    dot_duckdb_sql,
)
from dist_mapreduce_spark.plans.ann_index import (
    IVFPQ_RERANK,
    IVFPQ_RES_RERANK,
    _pq_codes_tail,
    _res_codes_tail,
    _res_cw_ctes,
)
from dist_mapreduce_spark.plans.iterative import (
    KMEANS_SCALE,
    N_ITER,
    kmeans_dist_duck,
    kmeans_quantize_col,
    kmeans_sqdist,
)
from dist_mapreduce_spark.plans.registry import query
from dist_mapreduce_spark.plans.similarity import (
    DIM,
    N_QUERIES,
    TOP_K,
    TRAINED_CELLS_CTE,
    TRAINED_NPROBE_CTES,
    assign_cells,
    trained_quantizer,
)
from dist_mapreduce_spark.sources.tables import load_table

#: Pick the residual codebook when the trained quantizer explains at
#: least this fraction (ppm) of total corpus variance. Measured
#: separation: driver corpus ≈ 70k ppm (raw wins its recall sweep),
#: clustered fixture ≈ 997k ppm (residual wins every depth) — the
#: midpoint is maximally far from both.
CODEBOOK_RES_PPM = 500_000

_CLAST = f"c{N_ITER}"

#: Exact-integer variance-decomposition CTEs over the trained chain's
#: e (NULL-guarded quantized vectors), cells (serving assignment), and
#: c{N} (integer trained centroids). gm is the per-dim sign-safe
#: integer floor mean (the k-means update construction); st sums the
#: int64 per-vector distances in HUGEINT.
_STAT_CTES = (
    # count(q[j]), not count(*): out-of-range positions of a ragged /
    # short vector are NULL here, while the Spark side posexplodes
    # (emitting only in-range elements) — counting non-NULL keeps the
    # per-dim n identical between engines on ragged corpora.
    f"gm AS (SELECT j, (s - (((s % n) + n) % n)) // n AS g FROM ("
    f"  SELECT j, CAST(sum(q[j]) AS BIGINT) AS s,"
    f"   CAST(count(q[j]) AS BIGINT) AS n"
    f"  FROM e CROSS JOIN range(1, {DIM} + 1) t(j) GROUP BY j)),"
    f" gv AS (SELECT list(g ORDER BY j) AS g FROM gm),"
    f" st AS (SELECT CAST(count(*) AS HUGEINT) AS n_vecs,"
    f"   CAST(sum(CAST({kmeans_dist_duck('e.q', 'c.cq')} AS HUGEINT))"
    f"    AS HUGEINT) AS wss,"
    f"   CAST(sum(CAST({kmeans_dist_duck('e.q', 'gv.g')} AS HUGEINT))"
    f"    AS HUGEINT) AS tss"
    f"  FROM e JOIN cells cl ON cl.vec_id = e.vec_id"
    f"  JOIN {_CLAST} c ON c.cid = cl.cell CROSS JOIN gv),"
    f" dec AS (SELECT CAST(n_vecs AS BIGINT) AS n_vecs,"
    f"   CAST(tss // greatest(n_vecs, 1) AS BIGINT) AS tss_mean,"
    f"   CAST(wss // greatest(n_vecs, 1) AS BIGINT) AS wss_mean,"
    f"   CAST(((tss - wss) * 1000000) // greatest(tss, 1) AS BIGINT)"
    f"    AS explained_ppm"
    f"  FROM st),"
    f" pick AS (SELECT CASE WHEN explained_ppm >= {CODEBOOK_RES_PPM}"
    f"  THEN 'residual' ELSE 'raw' END AS cb FROM dec)"
)


@query(
    "sim_codebook_stats",
    oracle=(
        f"WITH {TRAINED_CELLS_CTE},"
        f" {_STAT_CTES}"
        # n_vecs > 0: on an empty / all-NULL-embedding corpus the
        # driver returns zero rows (no trained centroids), while these
        # global aggregates would emit one (0, NULL, NULL, ...) row —
        # the guard keeps the degenerate row counts identical.
        f" SELECT d.n_vecs, d.tss_mean, d.wss_mean, d.explained_ppm,"
        f"  p.cb AS codebook"
        f" FROM dec d CROSS JOIN pick p WHERE d.n_vecs > 0"
    ),
)
def q_sim_codebook_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codebook decision statistic, hash-checked: how much of the
    corpus's total variance do the trained coarse-quantizer centroids
    explain? wss sums each vector's exact int64 squared-L2 to its own
    cell's INTEGER trained centroid (the fixed-point k-means frame —
    no floats anywhere), tss the distance to the integer floor-mean of
    the corpus; explained_ppm = 10⁶·(tss−wss)//tss. High explained
    fraction ⟹ residuals carry the within-cell signal ⟹ residual
    codebooks win (the clustered regime, ≈997k ppm here); low ⟹ the
    quantizer explains nothing and residual coding only worsens
    conditioning (this driver corpus, ≈70k ppm). The published row is
    (n_vecs, per-vector mean scatters, explained_ppm, the decision).

    Scale shape: one corpus scan computes the per-dim sums for g
    (map-side combinable, 64 rows), one scan the two distance sums
    (the centroid table broadcasts as k×dim literals) — both
    statistics jobs, no shuffle wider than 64 rows. At 100 TB this
    runs on the same sample the trainer uses."""
    from dist_mapreduce_spark.plans.iterative import train_sample

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows, _n = trained_quantizer(emb)
    if not cent_rows:
        return spark.createDataFrame(
            [],
            "n_vecs bigint, tss_mean bigint, wss_mean bigint,"
            " explained_ppm bigint, codebook string",
        )
    ints = {
        cid: [int(x * KMEANS_SCALE) for x in fv] for cid, fv in cent_rows
    }
    cells = assign_cells(
        spark,
        emb.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding"),
        cent_rows,
    )
    # The statistic runs on the TRAINER'S SAMPLE (round 10 — the
    # oracle's gm/st read the e frame, which is the sampled trainer
    # input; stride 1 = the whole corpus at gate scales).
    q = train_sample(cells, _n).select(
        "vec_id", "cell", kmeans_quantize_col().alias("q")
    )
    gvec = [
        int(r["g"])
        for r in (
            q.select(F.posexplode("q").alias("j", "v"))
            .groupBy("j")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("g", F.expr("(s - (((s % n) + n) % n)) DIV n"))
            .orderBy("j")
            .collect()
        )
    ]
    cent_df = spark.createDataFrame(
        [(int(cid), cq) for cid, cq in ints.items()],
        "cell long, cq array<long>",
    )
    wss_col = F.expr(
        "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    row = (
        q.join(F.broadcast(cent_df), "cell")
        .select(
            wss_col.cast("decimal(38,0)").alias("w"),
            kmeans_sqdist(F.col("q"), gvec).cast("decimal(38,0)").alias("t"),
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_vecs"),
            F.sum("w").alias("wss"),
            F.sum("t").alias("tss"),
        )
    )
    one = F.lit(1).cast("decimal(38,0)")
    return row.select(
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.expr("tss DIV greatest(n_vecs, CAST(1 AS DECIMAL(38,0)))")
        .cast("long")
        .alias("tss_mean"),
        F.expr("wss DIV greatest(n_vecs, CAST(1 AS DECIMAL(38,0)))")
        .cast("long")
        .alias("wss_mean"),
        F.expr(
            "((tss - wss) * 1000000)"
            " DIV greatest(tss, CAST(1 AS DECIMAL(38,0)))"
        )
        .cast("long")
        .alias("explained_ppm"),
        F.when(
            F.expr(
                "((tss - wss) * 1000000)"
                " DIV greatest(tss, CAST(1 AS DECIMAL(38,0)))"
            )
            >= CODEBOOK_RES_PPM,
            F.lit("residual"),
        )
        .otherwise(F.lit("raw"))
        .alias("codebook"),
    )


def _auto_oracle() -> str:
    """One trained chain + the decision + BOTH serving arms (raw names
    from _pq_codes_tail over the residual family's cw — a column
    superset — and the residual arm's CTEs r-prefixed), each arm's
    final SELECT guarded by the decision."""
    from dist_mapreduce_spark.plans.similarity import PQ_DSUB, PQ_M

    lo = f"(m*{PQ_DSUB}+1)"
    hi = f"(m*{PQ_DSUB}+{PQ_DSUB})"
    adc_terms = " + ".join(
        f"sum(CASE WHEN pc.m = {m} THEN pdot END)" for m in range(PQ_M)
    )
    return (
        f"WITH {TRAINED_CELLS_CTE},"
        f" {TRAINED_NPROBE_CTES},"
        f" {_STAT_CTES},"
        # shared codeword sample + raw codes + residual codes
        f" {_res_cw_ctes()},"
        f" {_pq_codes_tail()},"
        f" {_res_codes_tail()},"
        # ---- raw arm (sim_topk_ivfpq's pipeline, trained probes)
        f" probes AS (SELECT vec_id AS query_id, cent_id AS pcell FROM rkd"
        f"  WHERE vec_id < {N_QUERIES}"
        f"   AND crk <= (SELECT np FROM npr)),"
        f" lut AS (SELECT s.vec_id AS query_id, s.m, cb.cid,"
        f"   {dot_duckdb_sql('s.sv', 'cb.cvec', PQ_DSUB)} AS pdot"
        f"  FROM sub s JOIN cb USING (m) WHERE s.vec_id < {N_QUERIES}),"
        f" cnd AS (SELECT p.query_id, c.vec_id FROM cells c JOIN probes p"
        f"  ON c.cell = p.pcell AND c.vec_id <> p.query_id),"
        f" adc AS (SELECT n2.query_id, n2.vec_id, ({adc_terms}) AS adc"
        f"  FROM cnd n2 JOIN codes pc ON pc.vec_id = n2.vec_id"
        f"  JOIN lut l ON l.query_id = n2.query_id AND l.m = pc.m"
        f"   AND l.cid = pc.cid"
        f"  GROUP BY n2.query_id, n2.vec_id),"
        f" cand AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS ark"
        f"  FROM adc) WHERE ark <= {IVFPQ_RERANK}),"
        f" s AS (SELECT cand.query_id, cand.vec_id,"
        f"   {cosine_duckdb_sql('q.embedding', 'e2.embedding')} AS score"
        f"  FROM cand JOIN embeddings e2 ON e2.vec_id = cand.vec_id"
        f"  JOIN embeddings q ON q.vec_id = cand.query_id),"
        f" rawtop AS (SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM s)"
        f"  WHERE rk <= {TOP_K}),"
        # ---- residual arm (sim_topk_ivfpq_res's pipeline, r-prefixed)
        f" rprobes AS (SELECT r.vec_id AS query_id, r.cent_id AS pcell,"
        f"   {dot_duckdb_sql('r.embedding', 'ct.cvec')} AS qc"
        f"  FROM rkd r JOIN cent ct ON ct.cent_id = r.cent_id"
        f"  WHERE r.vec_id < {N_QUERIES}"
        f"   AND r.crk <= (SELECT np FROM npr)),"
        f" qsub AS (SELECT vec_id AS query_id, m, embedding[{lo}:{hi}] AS qsv"
        f"  FROM embeddings, unnest(range(0, {PQ_M})) AS u(m)"
        f"  WHERE vec_id < {N_QUERIES}),"
        f" rlut AS (SELECT q.query_id, q.m, r.cid,"
        f"   {dot_duckdb_sql('q.qsv', 'r.rcvec', PQ_DSUB)} AS pdot"
        f"  FROM qsub q JOIN rcb r USING (m)),"
        f" rcnd AS (SELECT p.query_id, c.vec_id, p.qc FROM cells c"
        f"  JOIN rprobes p ON c.cell = p.pcell AND c.vec_id <> p.query_id),"
        f" radc AS (SELECT n2.query_id, n2.vec_id, ({adc_terms}) AS adc,"
        f"   max(n2.qc) AS qc"
        f"  FROM rcnd n2 JOIN rcodes pc ON pc.vec_id = n2.vec_id"
        f"  JOIN rlut l ON l.query_id = n2.query_id AND l.m = pc.m"
        f"   AND l.cid = pc.cid"
        f"  GROUP BY n2.query_id, n2.vec_id),"
        f" rcand AS (SELECT query_id, vec_id FROM (SELECT *, row_number()"
        f"   OVER (PARTITION BY query_id ORDER BY (adc + qc) DESC, vec_id)"
        f"   AS ark FROM radc) WHERE ark <= {IVFPQ_RES_RERANK}),"
        f" rs AS (SELECT rcand.query_id, rcand.vec_id,"
        f"   {cosine_duckdb_sql('q.embedding', 'e2.embedding')} AS score"
        f"  FROM rcand JOIN embeddings e2 ON e2.vec_id = rcand.vec_id"
        f"  JOIN embeddings q ON q.vec_id = rcand.query_id),"
        f" restop AS (SELECT query_id, vec_id, score, rk FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY query_id"
        f"   ORDER BY score DESC, vec_id) AS rk FROM rs)"
        f"  WHERE rk <= {TOP_K})"
        # ---- the guarded union: exactly one arm emits
        f" SELECT query_id, vec_id, score, rk, 'raw' AS codebook"
        f" FROM rawtop WHERE (SELECT cb FROM pick) = 'raw'"
        f" UNION ALL"
        f" SELECT query_id, vec_id, score, rk, 'residual' AS codebook"
        f" FROM restop WHERE (SELECT cb FROM pick) = 'residual'"
    )


@query("sim_topk_ivfpq_auto", oracle=_auto_oracle())
def q_sim_topk_ivfpq_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index with the CODE FAMILY CHOSEN FROM THE
    DATA: compute sim_codebook_stats' explained-variance statistic,
    pick residual coding when the trained quantizer explains ≥
    CODEBOOK_RES_PPM of corpus variance (the clustered regime, where
    round 8 measured residual winning every rerank depth) and raw
    coding otherwise (the near-isotropic regime, where raw won 0.90
    vs 0.84), then serve the standard query batch through the chosen
    encode. Output rows carry the decision, and the oracle replays
    the statistic plus BOTH pipelines with each arm guarded by the
    same decision — so a wrong pick on either engine is a hash
    mismatch, not a silent quality regression.

    Scale shape: the statistic is two statistics scans (one for the
    integer mean, one for the distance sums — at 100 TB, on the
    trainer's sample); the serving arm is exactly sim_topk_ivfpq /
    sim_topk_ivfpq_res, whose shapes are pinned separately. The
    decision is a build-time artifact in production — recomputed only
    when the index retrains, not per query."""
    stats = q_sim_codebook_stats(spark, sf_dir).collect()
    empty = spark.createDataFrame(
        [],
        "query_id bigint, vec_id bigint, score double, rk int,"
        " codebook string",
    )
    if not stats:
        return empty
    choice = stats[0]["codebook"]
    if choice == "residual":
        from dist_mapreduce_spark.plans.ann_index import q_sim_topk_ivfpq_res

        served = q_sim_topk_ivfpq_res(spark, sf_dir)
    else:
        from dist_mapreduce_spark.plans.ann_index import q_sim_topk_ivfpq

        served = q_sim_topk_ivfpq(spark, sf_dir)
    return served.withColumn("codebook", F.lit(choice))
