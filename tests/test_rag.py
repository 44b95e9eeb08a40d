"""RAG-prep operators: chunking invariants, MMR diversification
properties, and the plan shapes that matter at scale. Value parity is
the gate's job; these pin the semantic contracts the oracle compare
cannot see."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dist_mapreduce_spark.plans.rag import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    MMR_K,
    MMR_QUERIES,
    q_chunk_documents,
    q_sim_topk_mmr,
)
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    df.collect()
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )


def test_chunks_cover_every_token_and_overlap(spark):
    from dist_mapreduce_spark.operators.text_analysis import ws_tokens
    from dist_mapreduce_spark.sources.tables import load_table

    chunks = q_chunk_documents(spark, SF_SMOKE)
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.size(ws_tokens(F.col("text"))).alias("n"))
        .collect()
    )
    n_by_doc = {r["doc_id"]: r["n"] for r in docs}
    got = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tok").alias("tok_sum"),
        F.max("n_tok").alias("max_tok"),
    ).collect()
    for r in got:
        n = n_by_doc[r["doc_id"]]
        # One chunk per stride start strictly below n.
        import math

        assert r["n_chunks"] == math.ceil(n / CHUNK_STRIDE), (r, n)
        assert r["max_tok"] <= CHUNK_SIZE
        # Window sum identity: every token counted once per window it
        # falls in — Σ|chunk| = Σ_starts min(size, n - s).
        expect = sum(
            min(CHUNK_SIZE, n - s) for s in range(0, n, CHUNK_STRIDE)
        )
        assert r["tok_sum"] == expect, (r, n)


def test_chunk_text_reconstructs_prefix(spark):
    # chunk 0 of each doc must be exactly the first CHUNK_SIZE tokens
    # joined by single spaces.
    from dist_mapreduce_spark.operators.text_analysis import ws_tokens
    from dist_mapreduce_spark.sources.tables import load_table

    first = {
        r["doc_id"]: r["t"]
        for r in q_chunk_documents(spark, SF_SMOKE)
        .filter(F.col("chunk_id") == 0)
        .select("doc_id", F.col("chunk_text").alias("t"))
        .collect()
    }
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", ws_tokens(F.col("text")).alias("toks"))
        .collect()
    )
    for r in docs:
        toks = r["toks"]
        if not toks:
            assert r["doc_id"] not in first
            continue
        assert first[r["doc_id"]] == " ".join(toks[:CHUNK_SIZE])


def test_chunking_is_pure_map(spark):
    plan = _plan(q_chunk_documents(spark, SF_SMOKE))
    assert "Exchange" not in plan, "chunking must not shuffle"
    assert "PythonUDF" not in plan


def test_mmr_first_pick_is_relevance_argmax(spark):
    from dist_mapreduce_spark.plans.registry import QUERIES, load_all

    load_all()
    rows = q_sim_topk_mmr(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["step"]] = r
    bf = QUERIES["sim_topk_bruteforce"](spark, SF_SMOKE).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in bf if r["rk"] == 1}
    for qid, steps in by_q.items():
        assert sorted(steps) == list(range(1, MMR_K + 1)), steps
        assert steps[1]["vec_id"] == top1[qid], qid
        # Selected ids are distinct within a query.
        ids = [steps[t]["vec_id"] for t in range(1, MMR_K + 1)]
        assert len(set(ids)) == MMR_K, ids


def test_mmr_actually_diversifies(spark):
    """The point of the operator: average pairwise similarity among
    the MMR picks must not exceed that of the plain top-MMR_K — on
    every query."""
    from dist_mapreduce_spark.plans.registry import QUERIES, load_all
    from dist_mapreduce_spark.plans.similarity import py_dot
    from dist_mapreduce_spark.sources.tables import load_table

    load_all()
    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .collect()
    }

    def cos(a, b):
        import math

        return py_dot(a, b) / (
            math.sqrt(py_dot(a, a)) * math.sqrt(py_dot(b, b))
        )

    def avg_pair(ids):
        sims = [
            cos(emb[a], emb[b])
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
        ]
        return sum(sims) / len(sims)

    mmr_rows = q_sim_topk_mmr(spark, SF_SMOKE).collect()
    bf = QUERIES["sim_topk_bruteforce"](spark, SF_SMOKE).collect()
    for qid in range(MMR_QUERIES):
        mmr_ids = [r["vec_id"] for r in mmr_rows if r["query_id"] == qid]
        top_ids = [
            r["vec_id"] for r in bf if r["query_id"] == qid and r["rk"] <= MMR_K
        ]
        if len(mmr_ids) < MMR_K or len(top_ids) < MMR_K:
            continue
        assert avg_pair(mmr_ids) <= avg_pair(top_ids) + 1e-12, qid


def test_ccnet_buckets_are_terciles(spark):
    from dist_mapreduce_spark.plans.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["quality_ccnet_bucket"](spark, SF_SMOKE).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs = sorted(rs, key=lambda r: r["bucket"])
        assert [r["bucket"] for r in rs] == [1, 2, 3], (lang, rs)
        # ntile balance: bucket sizes differ by at most one.
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # Score ranges must be ordered head <= middle <= tail.
        assert rs[0]["max_milli"] <= rs[1]["min_milli"] or sizes[0] == 0
        assert rs[1]["max_milli"] <= rs[2]["min_milli"] or sizes[1] == 0


def test_mmr_survives_zero_norm_vector_in_pool(spark, tmp_path):
    """Round-10 advice: a zero-norm embedding must neither crash the
    query (Spark 4 ANSI `/` aborts on the 0.0 divisor — try_divide
    yields NULL, matching DuckDB) nor enter the MMR pool (NULL rel is
    excluded in both dialects); the Arrow greedy additionally guards
    _cos_seq/dmax with engine NaN semantics as defense-in-depth."""
    import os

    base = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)], 1)
        for i in range(30)
    ]
    zero = [(40, [0.0] * 8, 1)]
    sfdir = str(tmp_path / "zn")
    os.makedirs(sfdir, exist_ok=True)
    spark.createDataFrame(
        base + zero, "vec_id long, embedding array<float>, label int"
    ).write.parquet(sfdir + "/embeddings.parquet")
    rows = q_sim_topk_mmr(spark, sfdir).collect()
    assert rows, "query must not crash and must emit picks"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["step"]] = r
    for qid, steps in by_q.items():
        # The zero vector scores NULL rel (try_divide ↔ DuckDB /0) and
        # is excluded from every pool — never selected, never a crash.
        assert all(s["vec_id"] != 40 for s in steps.values()), (qid, steps)
        assert all(s["rel"] is not None and s["mmr"] is not None
                   for s in steps.values()), (qid, steps)
        assert len(steps) == MMR_K, steps


def test_dense_pruned_scan_has_partition_filters(spark):
    """Round-10: dense retrieval served from the materialized trained
    index must be a partition-pruned read — the probed-cell IN-list
    lands in PartitionFilters on the dense index scan (directory-level
    pruning), and the executed plan contains exactly one scan of the
    index (the chunk corpus is NOT re-scanned at serving time beyond
    the query batch)."""
    import os

    from dist_mapreduce_spark.plans.rag import (
        build_dense_index,
        q_search_dense_maxp_pruned,
    )

    path, cent_rows, _n = build_dense_index(spark, SF_SMOKE)
    assert cent_rows, "smoke corpus must train centroids"
    assert os.path.isdir(path)
    assert any(d.startswith("cell=") for d in os.listdir(path))
    df = q_search_dense_maxp_pruned(spark, SF_SMOKE)
    df.collect()
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "PartitionFilters" in plan and "cell" in plan, plan[:3000]


def test_dense_pruned_is_subset_and_recall_row_consistent(spark):
    """The pruned serving's per-(query, doc) scores must agree with the
    full scan wherever both retrieve the document (pruning can DROP
    candidates, never rescore them), and the recall row must equal the
    directly-computed hit fraction."""
    from dist_mapreduce_spark.plans.rag import (
        q_search_dense_maxp,
        q_search_dense_maxp_pruned,
        q_search_dense_recall,
    )

    full = {
        (r["query_id"], r["doc_id"]): (r["chunk_id"], r["score"])
        for r in q_search_dense_maxp(spark, SF_SMOKE).collect()
    }
    pruned = {
        (r["query_id"], r["doc_id"]): (r["chunk_id"], r["score"])
        for r in q_search_dense_maxp_pruned(spark, SF_SMOKE).collect()
    }
    hits = set(full) & set(pruned)
    for k in hits:
        # MaxP over a SUBSET of the doc's chunks can pick a different
        # (lower-scoring) chunk, but never a higher score than truth.
        assert pruned[k][1] <= full[k][1] + 1e-12, (k, full[k], pruned[k])
    row = q_search_dense_recall(spark, SF_SMOKE).collect()[0]
    assert row["n_truth"] == len(full)
    assert row["n_hit"] == len(hits)
    if row["n_truth"]:
        assert abs(row["recall"] - len(hits) / len(full)) < 1e-12


def test_mapinpandas_encoder_matches_expression_stub(spark):
    """Round-10 verdict item #4 pinned: vectors produced by the Arrow-
    batched mapInPandas encoder are BIT-EQUAL to the in-plan expression
    stub's on every chunk — the schema/batching/float contract a real
    model fleet inherits — and the plan actually contains the
    MapInPandas stage (the integration point executed, not asserted)."""
    from dist_mapreduce_spark.plans.rag import (
        _dense_chunk_texts,
        _dense_embed_spark,
        encode_chunks_mapinpandas,
    )

    ck = _dense_chunk_texts(spark, SF_SMOKE)
    via_py = encode_chunks_mapinpandas(ck)
    assert "MapInPandas" in _plan(via_py)
    got = {
        (r["doc_id"], r["chunk_id"]): list(r["v"])
        for r in via_py.collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"]): list(r["v"])
        for r in ck.select(
            "doc_id",
            "chunk_id",
            F.expr(_dense_embed_spark("ctext")).alias("v"),
        ).collect()
    }
    assert got == want  # bit-exact, not approx
    assert len(got) > 0


def test_dense_mmr_first_pick_is_pruned_top1(spark):
    """The full-stack row's step 1 must be exactly the pruned
    retrieval's rank-1 document per query (MMR's first pick is the
    relevance argmax), later steps distinct documents from the pruned
    pool, and the Arrow greedy stage present in the plan."""
    from dist_mapreduce_spark.plans.rag import (
        q_search_dense_maxp_pruned,
        q_search_dense_mmr_pruned,
    )

    df = q_search_dense_mmr_pruned(spark, SF_SMOKE)
    assert "FlatMapGroupsInPandas" in _plan(df)
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["step"]] = r
    top1 = {
        r["query_id"]: r["doc_id"]
        for r in q_search_dense_maxp_pruned(spark, SF_SMOKE).collect()
        if r["rk"] == 1
    }
    for qid, steps in by_q.items():
        assert steps[1]["doc_id"] == top1[qid], (qid, steps[1])
        ids = [s["doc_id"] for s in steps.values()]
        assert len(set(ids)) == len(ids), ids


def test_dense_compact_reduces_fragments_and_preserves_content(spark):
    """Round-11 dense compaction: after dense_index_compact every cell
    directory sits at or under the fragment threshold (hot cells
    rewritten to ONE file), and the per-cell stats equal the appended
    index's — layout changed, content did not."""
    from dist_mapreduce_spark.plans.ann_index import (
        COMPACT_MIN_FILES,
        _cell_fragments,
    )
    from dist_mapreduce_spark.plans.rag import (
        build_dense_index_incr,
        q_dense_index_append,
        q_dense_index_compact,
    )

    sf = SF_SMOKE
    before = {
        int(r["cell"]): (int(r["n_vecs"]), int(r["id_sum"]))
        for r in q_dense_index_append(spark, sf).collect()
    }
    after = {
        int(r["cell"]): (int(r["n_vecs"]), int(r["id_sum"]))
        for r in q_dense_index_compact(spark, sf).collect()
    }
    assert before == after
    path, cent_rows, _n = build_dense_index_incr(spark, sf)
    assert cent_rows
    frags = _cell_fragments(path)
    assert frags, "no cell directories found"
    assert all(n <= COMPACT_MIN_FILES for n in frags.values()), frags


def test_dense_upsert_changes_chunk_cardinality(spark, tmp_path):
    """The dense upsert is delete-n-insert-m, NOT a 1:1 swap: a
    30-token document in the upsert batch (doc_id % 97 == 11) gains a
    chunk from the 5-token edit suffix (30 tokens → 2 chunks;
    35 → 3), so the post-upsert index holds one MORE vector than the
    pre-upsert build — pinned here on a constructed corpus, with the
    oracle-level equality to a full rebuild held by the gate row."""
    import os

    from pyspark.sql import functions as G

    from dist_mapreduce_spark.plans.rag import (
        _dense_chunk_vectors,
        q_dense_index_upsert,
    )
    from dist_mapreduce_spark.plans.similarity import trained_quantizer
    from tests.test_gemm_assign import ivf_ranked_cells_sql

    rows = [(11, " ".join(f"w{j}" for j in range(30)), "en", "webA")]
    for i in range(2, 30):  # none of these hit i % 97 == 11
        rows.append((i * 100, " ".join(f"t{i}_{j}" for j in range(40)),
                     "en", "webA"))
    sfdir = str(tmp_path / "upsx")
    os.makedirs(sfdir, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(sfdir + "/documents.parquet")

    cv = _dense_chunk_vectors(spark, sfdir)
    n_before = cv.count()
    out = q_dense_index_upsert(spark, sfdir)
    n_after = sum(int(r["n_vecs"]) for r in out.collect())
    assert n_after == n_before + 1

    # And the audited index equals an independent frozen-quantizer
    # assignment of the post-edit corpus, vector for vector.
    cent_rows, _n = trained_quantizer(cv.select("vec_id", "embedding"))
    post = _dense_chunk_vectors(spark, sfdir).filter(
        G.col("doc_id") % 97 != 11
    )
    from dist_mapreduce_spark.plans.rag import (
        DENSE_EDIT_SUFFIX,
        _dense_chunk_vectors_from_docs,
    )
    from dist_mapreduce_spark.sources.tables import load_table

    edited = _dense_chunk_vectors_from_docs(
        spark,
        load_table(spark, sfdir, "documents")
        .filter(G.col("doc_id") % 97 == 11)
        .select(
            "doc_id",
            G.concat(G.col("text"), G.lit(DENSE_EDIT_SUFFIX)).alias("text"),
        ),
    )
    # Reference: the oracle's cell expression evaluated directly.
    ranked = ivf_ranked_cells_sql(cent_rows)
    want = {
        int(r["vec_id"]): int(r["cell"])
        for r in post.unionByName(edited)
        .select("vec_id", G.expr(f"{ranked}[0].c").alias("cell"))
        .collect()
    }
    from dist_mapreduce_spark.plans.index_commit import index_data_dir

    got_rows = spark.read.parquet(
        index_data_dir(
            __import__(
                "dist_mapreduce_spark.plans.ann_index", fromlist=["_index_dir"]
            )._index_dir("dense_index_ups", sfdir)
        )
    )
    got = {
        int(r["vec_id"]): int(r["cell"])
        for r in got_rows.select("vec_id", "cell").collect()
    }
    assert got == want


def _write_docs(spark, tmp_path, name, rows):
    import os

    sfdir = str(tmp_path / name)
    os.makedirs(sfdir, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        sfdir + "/documents.parquet"
    )
    return sfdir


def test_dense_staleness_zero_when_nothing_upserted(spark, tmp_path):
    """The dense monitor's exact control: a corpus with NO documents in
    the upsert batch makes the post-churn chunk corpus IDENTICAL to
    the frozen one, the deterministic trainer reproduces the quantizer
    bit-for-bit, and stale_ppm is EXACTLY 0 / decision 'keep' (integer
    arithmetic end to end — no tolerance)."""
    from dist_mapreduce_spark.plans.rag import (
        DENSE_UPSERT_MOD,
        DENSE_UPSERT_REM,
        q_dense_index_staleness,
    )

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(8)))
        for i in range(40)
        if i % DENSE_UPSERT_MOD != DENSE_UPSERT_REM
    ]
    sfdir = _write_docs(spark, tmp_path, "noups", rows)
    out = q_dense_index_staleness(spark, sfdir).collect()
    assert len(out) == 1
    r = out[0]
    assert r["stale_ppm"] == 0, r
    assert r["moved_ppm"] == 0, r
    assert r["decision"] == "keep", r
    assert r["wss_frozen_mean"] == r["wss_fresh_mean"], r


def test_dense_staleness_fires_when_edits_rewrite_the_corpus(
    spark, tmp_path
):
    """The monitor must FIRE when churn moves the chunk mass: every
    non-query document sits in the upsert batch with IDENTICAL text,
    so pre-edit the corpus is one repeated stub point and post-edit a
    DIFFERENT repeated point the frozen centroids never saw — a fresh
    run recovers essentially all of it."""
    from dist_mapreduce_spark.plans.ann_index import RETRAIN_STALE_PPM
    from dist_mapreduce_spark.plans.rag import (
        DENSE_UPSERT_MOD,
        DENSE_UPSERT_REM,
        q_dense_index_staleness,
    )

    rows = [(i, " ".join(f"q{i}_{j}" for j in range(8))) for i in range(3)]
    rows += [
        (DENSE_UPSERT_REM + k * DENSE_UPSERT_MOD, "same text every copy")
        for k in range(60)
    ]
    sfdir = _write_docs(spark, tmp_path, "shiftd", rows)
    r = q_dense_index_staleness(spark, sfdir).collect()[0]
    assert r["stale_ppm"] >= RETRAIN_STALE_PPM, r
    assert r["decision"] == "retrain", r
    assert r["moved_ppm"] > 0, r


def test_dense_retrain_walk_fires_rebuilds_and_serves(spark, tmp_path):
    """Round-12 item #3's full walk on the shifted fixture: (1) the
    dense monitor fires 'retrain'; (2) dense_index_retrain's read-back
    stats equal an independently computed fresh assignment of the
    post-upsert chunk corpus (retrain == from-scratch rebuild); (3) a
    SECOND training run on the same corpus reproduces the retrained
    quantizer and placement exactly — nothing left to recover; (4)
    pruned dense serving over the RETRAINED layout is green: every
    query doc retrieves a full contiguous top-k ranking."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.rag import (
        DENSE_UPSERT_MOD,
        DENSE_UPSERT_REM,
        _dense_cu_frame,
        q_dense_index_retrain,
        q_dense_index_staleness,
        q_search_dense_maxp_retrained,
    )
    from dist_mapreduce_spark.plans.similarity import trained_quantizer
    from tests.test_gemm_assign import ivf_ranked_cells_sql

    rows = [(i, " ".join(f"q{i}_{j}" for j in range(8))) for i in range(3)]
    rows += [
        (DENSE_UPSERT_REM + k * DENSE_UPSERT_MOD, "same text every copy")
        for k in range(60)
    ]
    sfdir = _write_docs(spark, tmp_path, "walkd", rows)

    # (1) monitor fires.
    assert (
        q_dense_index_staleness(spark, sfdir).collect()[0]["decision"]
        == "retrain"
    )

    # (2) retrain == fresh rebuild of the post-upsert chunk corpus.
    got = {
        int(r["cell"]): (int(r["n_vecs"]), int(r["id_sum"]))
        for r in q_dense_index_retrain(spark, sfdir).collect()
    }
    cu = _dense_cu_frame(spark, sfdir)
    cent_fresh, _n = trained_quantizer(cu.select("vec_id", "embedding"))
    # Reference: the oracle's cell expression evaluated directly.
    want_cells = cu.withColumn(
        "cell", F.expr(f"{ivf_ranked_cells_sql(cent_fresh)}[0].c")
    )
    want = {
        int(r["cell"]): (int(r["n"]), int(r["s"]))
        for r in want_cells.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(vec_id AS DECIMAL(38,0)))"
                " % 2305843009213693951 AS BIGINT)"
            ).alias("s"),
        )
        .collect()
    }
    assert got == want

    # (3) deterministic trainer: nothing left to recover after retrain.
    cent_again, _n2 = trained_quantizer(cu.select("vec_id", "embedding"))
    assert cent_again == cent_fresh

    # (4) serving over the retrained layout: every query doc gets a
    # contiguous 1..k ranking over the post-upsert corpus.
    served = q_search_dense_maxp_retrained(spark, sfdir).collect()
    by_q = {}
    for r in served:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["rk"]))
    assert set(by_q) == {0, 1, 2}
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), (q, rks)
        assert len(rks) >= 1


def test_dense_maintain_policy_picks_the_right_arm(spark, tmp_path):
    """sim_index_maintain's twin walked on the dense fixtures: no
    churn → 'keep' with the frozen post-upsert audit; a corpus-
    rewriting edit → 'retrain' with the retrain audit."""
    from dist_mapreduce_spark.plans.rag import (
        DENSE_UPSERT_MOD,
        DENSE_UPSERT_REM,
        q_dense_index_maintain,
        q_dense_index_retrain,
        q_dense_index_upsert,
    )

    def stats(rows):
        return {
            int(r["cell"]): (int(r["n_vecs"]), int(r["id_sum"]))
            for r in rows
        }

    keep_rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(8)))
        for i in range(40)
        if i % DENSE_UPSERT_MOD != DENSE_UPSERT_REM
    ]
    keep_dir = _write_docs(spark, tmp_path, "mkeep", keep_rows)
    out = q_dense_index_maintain(spark, keep_dir).collect()
    assert out and all(r["decision"] == "keep" for r in out)
    assert stats(out) == stats(q_dense_index_upsert(spark, keep_dir).collect())

    fire_rows = [
        (i, " ".join(f"q{i}_{j}" for j in range(8))) for i in range(3)
    ] + [
        (DENSE_UPSERT_REM + k * DENSE_UPSERT_MOD, "same text every copy")
        for k in range(60)
    ]
    fire_dir = _write_docs(spark, tmp_path, "mfire", fire_rows)
    out2 = q_dense_index_maintain(spark, fire_dir).collect()
    assert out2 and all(r["decision"] == "retrain" for r in out2)
    assert stats(out2) == stats(
        q_dense_index_retrain(spark, fire_dir).collect()
    )


def test_staleness_fresh_train_memo_key_shared(spark, tmp_path):
    """Round 16: q_dense_index_staleness pre-materializes the
    post-upsert chunk frame (one derivation for trainer + statistic)
    but keys the trainer memo on the UNDERIVED frame's fingerprint —
    so an identically constructed cu (the retrain/maintain path) must
    HIT that memo entry instead of training again, and the centroids
    must be the ones the monitor trained."""
    from dist_mapreduce_spark.plans import similarity as S
    from dist_mapreduce_spark.plans.rag import (
        _dense_cu_frame,
        q_dense_index_staleness,
    )

    rows = [(i, " ".join(f"memo{i}_{j}" for j in range(8))) for i in range(12)]
    sfdir = _write_docs(spark, tmp_path, "memokey", rows)
    assert q_dense_index_staleness(spark, sfdir).collect()
    n_before = len(S._TRAINED_MEMO)
    cu = _dense_cu_frame(spark, sfdir).select("vec_id", "embedding")
    key = S._frame_fingerprint(cu)
    assert key in S._TRAINED_MEMO, "underived-cu fingerprint missed the memo"
    cent_again, _n = S.trained_quantizer(cu, derived=True)
    assert len(S._TRAINED_MEMO) == n_before, (
        "retrain-path cu fingerprint created a second memo entry"
    )
    assert cent_again == S._TRAINED_MEMO[key][0]
