"""Property-based tests (hypothesis) — the framework-backed version of
the reference's hand-rolled property test ("same key should hash to
same value", /root/reference/internal/worker/worker_test.go:57-70).

Each property runs a small number of examples, batching all generated
rows into ONE Spark job per example (per-row jobs would be ~1 s each).
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

_EXAMPLES = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=60,
    ),
    min_size=1,
    max_size=30,
)


def _py_tokenize(text: str) -> list[str]:
    """Pure-Python model of the reference tokenizer (MapFunc,
    worker.go:24-38): split on non-alphabetic runs, keep case, drop
    empties."""
    return [w for w in re.split("[^a-zA-Z]+", text) if w]


def _py_fnv1a31(s: str) -> int:
    """Pure-Python FNV-1a-32 masked to 31 bits (ihash, worker.go:167-171)."""
    h = 2166136261
    for ch in s.encode():
        h = ((h ^ ch) * 16777619) % (1 << 32)
    return h & 0x7FFFFFFF


@settings(max_examples=5, deadline=None)
@given(_EXAMPLES)
def test_tokenize_matches_python_model(spark, texts):
    from collections import Counter

    from dist_mapreduce_spark.operators.wordcount import tokenize, word_count

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["word"]: r["cnt"] for r in word_count(df).collect()}
    want = Counter(w for t in texts for w in _py_tokenize(t))
    assert got == dict(want)


@settings(max_examples=5, deadline=None)
@given(_EXAMPLES)
def test_fnv1a_sql_matches_python_model(spark, texts):
    from dist_mapreduce_spark.functions.hashing import fnv1a_spark_sql

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [
        r["h"] for r in df.selectExpr(f"{fnv1a_spark_sql('s')} AS h").collect()
    ]
    assert got == [_py_fnv1a31(t) for t in texts]


def test_salted_join_equals_plain_join(spark):
    """Salting is execution-only: identical result to the plain join,
    any n_salts."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i % 7, i) for i in range(500)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "rk long, tag string"
    )
    for n_salts in (1, 4, 16):
        got = sorted(
            (r["k"], r["v"], r["tag"])
            for r in salted_join(
                left, right, F.col("k") == F.col("rk"), n_salts=n_salts
            ).collect()
        )
        want = sorted(
            (r["k"], r["v"], r["tag"])
            for r in left.join(right, F.col("k") == F.col("rk")).collect()
        )
        assert got == want


def test_salted_join_rejects_small_side_outer(spark):
    import pytest
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 1)], "k long, v long")
    right = spark.createDataFrame([(1, "a")], "rk long, tag string")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, F.col("k") == F.col("rk"), how=how)


def test_salted_join_left_outer_keeps_unmatched_large_rows(spark):
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    right = spark.createDataFrame([(1, "a")], "rk long, tag string")
    rows = sorted(
        (r["k"], r["tag"])
        for r in salted_join(
            left, right, F.col("k") == F.col("rk"), n_salts=4, how="left"
        ).collect()
    )
    assert rows == [(1, "a"), (2, None)]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key (few → collisions)
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=1,
        max_size=50,
    )
)
def test_salted_sum_equals_plain_groupby(spark, rows):
    """salted_sum_count is result-invariant: the salt only routes work.
    Exact integer values, so equality is bitwise."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators.skew import salted_sum_count

    df = spark.createDataFrame(rows, ["k", "cents"])
    got = {
        r["k"]: (r["sum_value"], r["n_rows"])
        for r in salted_sum_count(df, ["k"], F.col("cents"), n_salts=4).collect()
    }
    want = {}
    for k, c in rows:
        s, n = want.get(k, (0, 0))
        want[k] = (s + c, n + 1)
    assert got == want


_UNICODE_EXAMPLES = st.lists(
    st.text(
        # Latin-1/Latin-Extended letters, CJK, emoji, combining marks —
        # everything the ASCII-only [a-zA-Z] tokenizer must treat as a
        # separator, exactly as the reference's strings.FieldsFunc does
        # (worker.go:27-29 keeps only a-z/A-Z runes).
        alphabet=st.characters(
            codec="utf-8", categories=("L", "N", "P", "S", "Zs", "M")
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=5, deadline=None)
@given(_UNICODE_EXAMPLES)
def test_tokenize_matches_python_model_on_unicode(spark, texts):
    """Java regex (Spark) and Python re agree that [^a-zA-Z]+ means
    ASCII letters only — é, ß, CJK, emoji all split. The corpus tables
    are ASCII so the oracle gate never exercises this; a real crawl is
    not."""
    from collections import Counter

    from dist_mapreduce_spark.operators.wordcount import word_count

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["word"]: r["cnt"] for r in word_count(df).collect()}
    want = Counter(w for t in texts for w in _py_tokenize(t))
    assert got == dict(want)


@given(
    c=st.integers(min_value=1, max_value=10**12),
    n=st.integers(min_value=1, max_value=10**15),
)
@settings(max_examples=300)
def test_floor_log2_of_floor_div_identity(c, n):
    """quality_perplexity's integer surprisal rests on
    floor(log2(n/c)) == bit_length(n DIV c) - 1 for 1 <= c <= n (floor
    cannot cross a power-of-two boundary from above). Both engines
    compute length(bin(n DIV c)) - 1; pin the identity against exact
    fraction math."""
    import math

    if c > n:
        c, n = n, c  # ensure c <= n so n/c >= 1
    q = n // c
    got = q.bit_length() - 1
    # Exact floor(log2(n/c)) without floats: largest k with 2^k * c <= n.
    k = 0
    while (1 << (k + 1)) * c <= n:
        k += 1
    assert got == k, (c, n, q, got, k)
    # And the float intuition agrees away from boundaries.
    assert abs(got - math.floor(math.log2(n / c))) <= 1


# ----------------------------------------------- probe-ranking parity

_VEC = st.lists(
    st.floats(
        min_value=-8.0,
        max_value=8.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=8,
    max_size=8,
)


@settings(max_examples=30, deadline=None)
@given(
    cents=st.lists(st.tuples(st.integers(0, 500), _VEC), min_size=2, max_size=6,
                   unique_by=lambda t: t[0]),
    qv=_VEC,
)
def test_ivf_py_probe_cells_matches_sql_ranking(cents, qv):
    """The pruned-serving path replays the oracle's probe ranking
    (dot/|c| DESC, cent_id ASC) in driver-side Python — the one
    driver arithmetic not guarded by a registered oracle on arbitrary
    inputs. Property: for random float32 vectors, the Python ranking
    equals DuckDB evaluating the same fold (zero-norm centroids
    excluded: cosine ranking is undefined there and the corpus
    sampler never yields them)."""
    import math

    import duckdb

    from dist_mapreduce_spark.plans.similarity import (
        ivf_py_probe_cells,
        py_dot,
    )

    cents = [
        (cid, [float(v) for v in cv])
        for cid, cv in cents
        if py_dot(cv, cv) > 0.0
    ]
    if len(cents) < 2:
        return
    cents = sorted(cents)
    got = ivf_py_probe_cells(cents, [float(v) for v in qv], len(cents))
    con = duckdb.connect()
    rows = ", ".join(
        f"({cid}, {list(cv)!r}::DOUBLE[])" for cid, cv in cents
    )
    qlit = f"{[float(v) for v in qv]!r}::DOUBLE[]"
    dot = (
        "(CAST(0.0 AS DOUBLE) + "
        + " + ".join(f"q[{i}] * cv[{i}]" for i in range(1, 9))
        + ")"
    )
    norm = (
        "(CAST(0.0 AS DOUBLE) + "
        + " + ".join(f"cv[{i}] * cv[{i}]" for i in range(1, 9))
        + ")"
    )
    want = [
        r[0]
        for r in con.execute(
            f"SELECT cid FROM (SELECT cid, cv, {qlit} AS q"
            f" FROM (VALUES {rows}) t(cid, cv))"
            f" ORDER BY {dot} / sqrt({norm}) DESC, cid"
        ).fetchall()
    ]
    assert got == want
    # sanity: the Python fold really is the IEEE sequential fold
    for cid, cv in cents:
        acc = 0.0
        for x, y in zip(qv, cv):
            acc += float(x) * float(y)
        assert py_dot([float(v) for v in qv], cv) == acc
        assert math.isfinite(acc) or True


# ----------------------------------------- binary signature parity

_VEC64 = st.lists(
    st.floats(
        min_value=-8.0,
        max_value=8.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=64,
    max_size=64,
)


@settings(max_examples=25, deadline=None)
@given(vec=_VEC64, mid_seed=_VEC64)
def test_binary_sig_py_matches_duckdb_terms(vec, mid_seed):
    """sim_topk_binary computes the QUERY batch's signatures in driver
    Python (_bin_sig_py) while the corpus side runs the SQL term list —
    the one arithmetic pair not guarded by a registered oracle on
    arbitrary inputs. Property: for random float32 vectors and random
    thresholds, the Python packing equals DuckDB evaluating the same
    explicit per-dim CASE sum, for both 32-bit halves."""
    import duckdb

    from dist_mapreduce_spark.plans.similarity import _bin_sig_py

    vec = [float(v) for v in vec]
    mid = [float(v) for v in mid_seed]
    con = duckdb.connect()
    for half in (0, 1):
        base = 32 * half
        terms = " + ".join(
            f"(CASE WHEN CAST(v[{base + j}] AS DOUBLE)"
            f" > CAST({mid[base + j - 1]!r} AS DOUBLE)"
            f" THEN CAST({1 << (j - 1)} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(1, 33)
        )
        want = con.execute(
            f"SELECT {terms} FROM (SELECT {vec!r}::DOUBLE[] AS v)"
        ).fetchone()[0]
        assert _bin_sig_py(vec, mid, half) == want, (half, vec, mid)


# ----------------------------------------------- round-8 property pins

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def test_hll_partitioned_merge_equals_global(spark):
    """The mergeability contract sketch_hll sells, demonstrated: the
    max-merge of per-event_type register sets (zz_merged) must carry
    EXACTLY the same registers — hence reg_sum, v_zero, and estimate —
    as the sketch computed over the undivided corpus (zz_global)."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    rows = {
        r["part"]: r
        for r in registry.QUERIES["sketch_hll_merge"](
            spark, SF_SMOKE_DIR
        ).collect()
    }
    merged, global_ = rows["zz_merged"], rows["zz_global"]
    assert merged["reg_sum"] == global_["reg_sum"]
    assert merged["v_zero"] == global_["v_zero"]
    assert merged["hll_estimate"] == global_["hll_estimate"]
    # And the per-part sketches are genuine subsketches: every part's
    # v_zero >= the global's (fewer elements can only leave MORE
    # registers empty), reg_sum >= global's (registers only grow).
    for name, r in rows.items():
        if not name.startswith("zz_"):
            assert r["v_zero"] >= global_["v_zero"], name
            assert r["reg_sum"] >= global_["reg_sum"], name


def test_hll_merge_associative_across_regroupings(spark):
    """Register-wise max-merge must be grouping-independent: folding
    the per-part sketches in ANY bracketing yields the same registers.
    Checked by comparing pairwise-folded register maxima (parts split
    into two arbitrary groups, each max-merged, then merged) against
    the flat merge — on the raw (part, j, mj) register rows derived
    exactly as sketch_hll_merge derives them."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.relational import HLL_M, HLL_WBITS, _t

    ev = _t(spark, SF_SMOKE_DIR, "events").filter(F.col("user_id").isNotNull())
    h = ev.select(
        F.coalesce(F.col("event_type"), F.lit("(null)")).alias("part"),
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("hv"),
    ).distinct()
    rho = h.select(
        "part",
        (F.col("hv") % HLL_M).alias("j"),
        F.when(F.floor(F.col("hv") / HLL_M) == 0, F.lit(HLL_WBITS + 1))
        .otherwise(
            F.lit(HLL_WBITS + 1)
            - F.length(F.bin(F.floor(F.col("hv") / HLL_M).cast("bigint")))
        )
        .alias("r"),
    )
    mx = rho.groupBy("part", "j").agg(F.max("r").alias("mj")).cache()
    flat = {r["j"]: r["mj"] for r in mx.groupBy("j").agg(F.max("mj").alias("mj")).collect()}
    parts = sorted(r["part"] for r in mx.select("part").distinct().collect())
    assert len(parts) >= 2, "fixture needs >=2 event types"
    for split in (1, len(parts) // 2, len(parts) - 1):
        ga = mx.filter(F.col("part").isin(parts[:split]))
        gb = mx.filter(F.col("part").isin(parts[split:]))
        fold = {}
        for g in (ga, gb):
            for r in g.groupBy("j").agg(F.max("mj").alias("mj")).collect():
                fold[r["j"]] = max(fold.get(r["j"], 0), r["mj"])
        assert fold == flat, f"split at {split} diverged"


def test_epoch_shuffle_is_bijective_and_replayable(spark):
    """sample_epoch_shuffle's three contracts: (1) each epoch is a
    PERMUTATION — every doc_id appears exactly once per epoch and the
    (bucket, pos) address is unique within an epoch; (2) epochs
    genuinely differ — consecutive epochs order the docs differently;
    (3) replay is bit-deterministic — a second run yields the
    identical frame."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    q = registry.QUERIES["sample_epoch_shuffle"]
    rows = q(spark, SF_SMOKE_DIR).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    n_docs = {e: len(v) for e, v in by_epoch.items()}
    assert len(set(n_docs.values())) == 1, n_docs  # same corpus each epoch
    for e, v in by_epoch.items():
        docs = [r["doc_id"] for r in v]
        assert len(set(docs)) == len(docs), f"epoch {e}: doc repeated"
        addrs = [(r["bucket"], r["pos"]) for r in v]
        assert len(set(addrs)) == len(addrs), f"epoch {e}: address collision"
        # pos is dense 1..n within each bucket (a shard is streamable
        # with no gaps).
        from collections import defaultdict

        per_bucket = defaultdict(list)
        for b, p in addrs:
            per_bucket[b].append(p)
        for b, ps in per_bucket.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), (e, b)
    epochs = sorted(by_epoch)
    for e0, e1 in zip(epochs, epochs[1:]):
        o0 = [r["doc_id"] for r in sorted(by_epoch[e0], key=lambda r: (r["bucket"], r["pos"]))]
        o1 = [r["doc_id"] for r in sorted(by_epoch[e1], key=lambda r: (r["bucket"], r["pos"]))]
        assert o0 != o1, f"epochs {e0}/{e1} share an order"
    replay = q(spark, SF_SMOKE_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, replay))


def test_knn_cell_subsplit_is_inert_below_cap(spark):
    """On every gate corpus the largest residency cell sits far below
    KNN_CELL_CAP, so nsplit = 1 everywhere and the sub-split build is
    byte-identical to the unsplit one (the gate's oracle PASS proves
    cross-engine parity of that definition; this pins that the split
    had nothing to bite)."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.knn_graph import (
        KNN_CELL_CAP,
        KNN_RESIDENCY,
        _emb,
    )
    from dist_mapreduce_spark.plans.similarity import ivf_cent_rows
    from tests.test_gemm_assign import ivf_ranked_cells_sql

    emb = _emb(spark, SF_SMOKE_DIR).filter(F.col("embedding").isNotNull())
    ranked = ivf_ranked_cells_sql(ivf_cent_rows(emb))
    res = emb.select(
        F.explode(
            F.expr(f"transform(slice({ranked}, 1, {KNN_RESIDENCY}), x -> x.c)")
        ).alias("rcell")
    )
    biggest = (
        res.groupBy("rcell").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]["m"]
    )
    assert biggest < KNN_CELL_CAP, (biggest, KNN_CELL_CAP)


def test_knn_cell_subsplit_vertex_complete_and_oracle_parity(
    spark, tmp_path
):
    """The round-9 coverage contract for hot-cell handling: on a
    corpus whose residency cells EXCEED KNN_CELL_CAP, (a) EVERY vector
    still emits edges (round 8's cap silently dropped out-of-cap
    vertices — 130k of 500k edges at the 100× stress), (b) no
    (rcell, sub) block exceeds the cap (the hard pair-volume bound),
    and (c) Spark and the DuckDB oracle agree value-for-value with the
    split arm actually binding (the gate corpora never reach the cap,
    so without this fixture the oracle's split branch would be
    unexercised)."""
    import duckdb

    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.knn_graph import (
        KNN_CELL_CAP,
        _knn_oracle,
        q_knn_graph,
    )

    n = 1100  # > KNN_CELL_CAP so the hot cells force nsplit = 3
    dim = 64

    def vec(vid: int) -> list[float]:
        if vid % 41 == 3:
            k = vid // 41
            if k == 0:      # centroid 3: the cluster direction
                return [1.0] * dim
            if k == 1:      # centroid 44: the universal second choice
                return [1.0] * 32 + [0.0] * 32
            # remaining centroids ~orthogonal to the cluster
            return [
                1.0 if ((j >> (k % 6)) & 1) == 0 else -1.0
                for j in range(dim)
            ]
        # cluster members: near-parallel with tiny deterministic noise
        return [
            1.0 + ((vid * 31 + j * 7) % 101) * 1e-4 for j in range(dim)
        ]

    rows = [(vid, vec(vid), vid % 10) for vid in range(n)]
    sf = tmp_path / "skew"
    sf.mkdir()
    spark.createDataFrame(
        [(v, [float(x) for x in e], lb) for v, e, lb in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf / "embeddings.parquet"))

    got = q_knn_graph(spark, str(sf)).collect()
    # (a) vertex-complete: every vector has at least one edge.
    assert {r["src_id"] for r in got} == set(range(n))
    # (b) sub-cell hard bound: recompute the split and check ≤ CAP.
    from dist_mapreduce_spark.plans.knn_graph import KNN_RESIDENCY, _emb
    from dist_mapreduce_spark.plans.similarity import ivf_cent_rows
    from tests.test_gemm_assign import ivf_ranked_cells_sql

    emb = _emb(spark, str(sf)).filter(F.col("embedding").isNotNull())
    ranked = ivf_ranked_cells_sql(ivf_cent_rows(emb))
    res0 = emb.select(
        "vec_id",
        F.explode(
            F.expr(f"transform(slice({ranked}, 1, {KNN_RESIDENCY}), x -> x.c)")
        ).alias("rcell"),
    )
    sizes = {
        int(r["n"])
        for r in res0.groupBy("rcell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(sizes) > KNN_CELL_CAP, "fixture failed to create a hot cell"
    # (c) full value parity against the oracle with the split binding.
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{sf}/embeddings.parquet/*.parquet')"
    )
    want = con.execute(_knn_oracle()).fetchall()
    got_t = sorted((r["src_id"], r["dst_id"], r["rk"], r["score"]) for r in got)
    want_t = sorted((a, b, rk, s) for a, b, s, rk in want)
    assert got_t == want_t


def test_cms_never_underestimates(spark):
    """The Count-Min invariant: estimates are exact counts plus
    collision mass — an underestimate is structurally impossible."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["sketch_cms"](spark, SF_SMOKE_DIR).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["overestimate"] >= 0, r


def test_cms_merged_equals_global(spark):
    """Sum-merge of per-partition CMS counter tables must equal the
    sketch built over the undivided stream — checksum pins every
    counter cell, not just the mass."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    rows = {
        r["part"]: r
        for r in registry.QUERIES["sketch_cms_merge"](spark, SF_SMOKE_DIR).collect()
    }
    m, g = rows["zz_merged"], rows["zz_global"]
    assert m["mass"] == g["mass"]
    assert m["checksum"] == g["checksum"]
    part_mass = sum(
        r["mass"] for k, r in rows.items() if not k.startswith("zz_")
    )
    assert part_mass == g["mass"]


def test_quantile_hist_error_bounded_by_bin_width(spark):
    """The fixed-bin guarantee: the exact rank statistic lies inside
    the bin the cumulative walk selects, so 0 <= err < width."""
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["sketch_quantile_hist"](spark, SF_SMOKE_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["err_cents"] < r["width_cents"], r
        assert r["est_lo_cents"] <= r["exact_cents"], r


def test_quantile_merged_equals_global(spark):
    from dist_mapreduce_spark.plans import registry

    registry.load_all()
    rows = {
        r["part"]: r
        for r in registry.QUERIES["sketch_quantile_merge"](spark, SF_SMOKE_DIR).collect()
    }
    m, g = rows["zz_merged"], rows["zz_global"]
    assert m["mass"] == g["mass"] and m["checksum"] == g["checksum"]


def test_train_sample_predicate_cross_engine_parity(spark):
    """Round-10 training sample: the md5-stride membership predicate
    must select the IDENTICAL id set in both dialects at a stride > 1
    (hash-prefix parity is what keeps the trained centroids hash-exact
    once the sample binds), and the stride rule must be the exact
    integer division of the same count."""
    import duckdb

    from pyspark.sql import functions as F

    from dist_mapreduce_spark.functions.hashing import (
        md5_prefix_long_duckdb_sql,
    )
    from dist_mapreduce_spark.plans.iterative import (
        TRAIN_SAMPLE_CAP,
        train_sample_pred_spark,
        train_sample_stride,
    )

    ids = list(range(0, 5000))
    got_spark = {
        r["vec_id"]
        for r in spark.createDataFrame([(i,) for i in ids], "vec_id long")
        .filter(F.expr(train_sample_pred_spark(7)))
        .collect()
    }
    h = md5_prefix_long_duckdb_sql("CAST(vec_id AS VARCHAR)")
    got_duck = {
        r[0]
        for r in duckdb.sql(
            f"SELECT vec_id FROM (SELECT unnest(range(0, 5000)) AS vec_id)"
            f" WHERE ({h} % 7) = 0"
        ).fetchall()
    }
    assert got_spark == got_duck
    # ~1/7 of ids selected (deterministic, not a tolerance check —
    # just guards against a degenerate always/never predicate).
    assert 500 < len(got_spark) < 1000, len(got_spark)
    # The stride rule: exact integer division, floor at 1.
    assert train_sample_stride(TRAIN_SAMPLE_CAP - 1) == 1
    assert train_sample_stride(2 * TRAIN_SAMPLE_CAP) == 2
    assert train_sample_stride(0) == 1


def test_knn_append_equals_rebuild_gate_and_hot_cell(spark, tmp_path):
    """Round-12 incremental graph maintenance: knn_graph_append must
    equal the from-scratch knn_graph BIT-FOR-BIT (scores included) on
    (a) the gate corpus — the pure incremental path (no cell exceeds
    the cap, so the base graph + batch-involving pairs suffice) — and
    (b) the hot-cell fixture, where the sub-split binds and the
    AFFECTED re-derive path must fire (asserted, so the fixture can't
    silently stop exercising it)."""
    from dist_mapreduce_spark.plans.knn_graph import (
        KNN_CELL_CAP,
        _emb,
        knn_res_frame,
        q_knn_graph,
        q_knn_graph_append,
    )
    from dist_mapreduce_spark.plans.similarity import ivf_cent_rows

    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    # (a) gate corpus: pure incremental path.
    assert rows_of(q_knn_graph_append(spark, SF_SMOKE)) == rows_of(
        q_knn_graph(spark, SF_SMOKE)
    )

    # (b) hot-cell fixture (the subsplit test's corpus shape).
    n, dim = 1100, 64

    def vec(vid: int) -> list[float]:
        if vid % 41 == 3:
            k = vid // 41
            if k == 0:
                return [1.0] * dim
            if k == 1:
                return [1.0] * 32 + [0.0] * 32
            return [
                1.0 if ((j >> (k % 6)) & 1) == 0 else -1.0
                for j in range(dim)
            ]
        return [
            1.0 + ((vid * 31 + j * 7) % 101) * 1e-4 for j in range(dim)
        ]

    sf = tmp_path / "kapp"
    sf.mkdir()
    spark.createDataFrame(
        [(v, [float(x) for x in vec(v)], v % 10) for v in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf / "embeddings.parquet"))
    # The affected path must actually fire: some grown cell sub-splits.
    emb = _emb(spark, str(sf)).filter(F.col("embedding").isNotNull())
    cent_rows = ivf_cent_rows(emb)
    _res, rsplit = knn_res_frame(spark, emb, cent_rows)
    assert rsplit.filter(F.col("nsplit") > 1).count() >= 1, (
        f"fixture no longer exceeds KNN_CELL_CAP={KNN_CELL_CAP}"
    )
    assert rows_of(q_knn_graph_append(spark, str(sf))) == rows_of(
        q_knn_graph(spark, str(sf))
    )


def test_knn_delete_equals_survivor_rebuild_gate_and_hot_cell(
    spark, tmp_path
):
    """knn_graph_delete must equal a from-scratch knn_graph build on
    the SURVIVING corpus bit-for-bit: (a) on the gate corpus (pure
    keep-edges path), via a physically survivor-only copy of the
    table; (b) on the hot-cell fixture where the sub-split binds and
    the affected re-derive arm fires (asserted)."""
    import os

    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans.knn_graph import (
        _emb,
        _knn_del_pred,
        knn_res_frame,
        q_knn_graph,
        q_knn_graph_delete,
    )
    from dist_mapreduce_spark.plans.similarity import ivf_cent_rows
    from tests.conftest import SF_SMOKE

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    def survivor_dir(src_dir, name):
        out = str(tmp_path / name)
        os.makedirs(out, exist_ok=True)
        (
            spark.read.parquet(src_dir + "/embeddings.parquet")
            .filter(~_knn_del_pred())
            .write.parquet(out + "/embeddings.parquet")
        )
        return out

    # (a) gate corpus.
    want = rows_of(q_knn_graph(spark, survivor_dir(SF_SMOKE, "surv_gate")))
    assert rows_of(q_knn_graph_delete(spark, SF_SMOKE)) == want

    # (b) hot-cell fixture (the subsplit corpus shape).
    n, dim = 1100, 64

    def vec(vid: int) -> list[float]:
        if vid % 41 == 3:
            k = vid // 41
            if k == 0:
                return [1.0] * dim
            if k == 1:
                return [1.0] * 32 + [0.0] * 32
            return [
                1.0 if ((j >> (k % 6)) & 1) == 0 else -1.0
                for j in range(dim)
            ]
        return [
            1.0 + ((vid * 31 + j * 7) % 101) * 1e-4 for j in range(dim)
        ]

    sf = str(tmp_path / "kdel")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [(v, [float(x) for x in vec(v)], v % 10) for v in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(sf + "/embeddings.parquet")
    emb = _emb(spark, sf).filter(F.col("embedding").isNotNull())
    _res, rsplit = knn_res_frame(spark, emb, ivf_cent_rows(emb))
    assert rsplit.filter(F.col("nsplit") > 1).count() >= 1
    want2 = rows_of(q_knn_graph(spark, survivor_dir(sf, "surv_hot")))
    assert rows_of(q_knn_graph_delete(spark, sf)) == want2


def test_graph_serving_walk_stays_on_graph_edges(spark):
    """sim_topk_graph (round-13; round-14 IVF-seeded): every served
    candidate must be a SEED (own node's IVF probe-cell entry points)
    or REACHABLE from the seed set within GRAPH_HOPS hops of the
    symmetrized stored graph — the walk never teleports off the edge
    list beyond its declared entry points — and the recall row
    publishes an honest [0, 1] fraction against the exact truth."""
    from collections import defaultdict

    from dist_mapreduce_spark.plans.knn_graph import (
        GRAPH_HOPS,
        graph_seed_candidates,
        q_knn_graph,
        q_sim_recall_graph,
        q_sim_topk_graph,
    )

    sf = SF_SMOKE_DIR
    edges = defaultdict(set)
    for r in q_knn_graph(spark, sf).collect():
        s, d = int(r["src_id"]), int(r["dst_id"])
        edges[s].add(d)
        edges[d].add(s)
    seeds = defaultdict(set)
    for r in graph_seed_candidates(spark, sf).collect():
        seeds[int(r["query_id"])].add(int(r["vec_id"]))
    served = q_sim_topk_graph(spark, sf).collect()
    assert served, "graph serving returned nothing"
    by_q = defaultdict(set)
    for r in served:
        by_q[int(r["query_id"])].add(int(r["vec_id"]))
    for qid, got in by_q.items():
        frontier = {qid} | seeds[qid]
        reach = set(seeds[qid])
        for _ in range(GRAPH_HOPS):
            frontier = {
                n for f in frontier for n in edges[f]
            } - {qid}
            reach |= frontier
        assert got <= reach, (qid, got - reach)
        assert qid not in got
    rec = q_sim_recall_graph(spark, sf).collect()
    assert len(rec) == 1
    assert 0.0 < rec[0]["recall"] <= 1.0
    assert rec[0]["n_hit"] <= rec[0]["n_truth"]


def test_knn_maintain_policy_picks_the_right_arm_on_both_regimes(
    spark, tmp_path
):
    """knn_graph_maintain (round-15): the graph maintenance policy must
    REFINE on the gate corpus (near-orthogonal embeddings — probe
    recall ~0.48, under the KNN_MAINTAIN_RECALL_MILLI floor; output ==
    one NN-Descent sweep over the appended graph, i.e.
    knn_graph_refine's rows) and KEEP on a clustered corpus (in-cluster
    neighbors all share a cell, recall 1.0; output == the appended
    graph verbatim, == the rebuild by the append lemma)."""
    import os

    from dist_mapreduce_spark.plans.knn_graph import (
        q_knn_graph,
        q_knn_graph_maintain,
        q_knn_graph_refine,
    )
    from tests.conftest import SF_SMOKE

    def rows_of(df, drop_decision=False):
        cols = [c for c in df.columns if c != "decision"] if drop_decision else df.columns
        return sorted(tuple(r) for r in df.select(*cols).collect())

    # (a) gate corpus: low recall -> REFINE; rows == refine-over-rebuild.
    out = q_knn_graph_maintain(spark, SF_SMOKE)
    got = out.collect()
    assert got and all(r["decision"] == "refine" for r in got)
    assert rows_of(out, drop_decision=True) == rows_of(
        q_knn_graph_refine(spark, SF_SMOKE)
    )

    # (b) clustered corpus: 8 orthogonal one-hot cluster bases + tiny
    # deterministic jitter; every cluster holds >= 1 deterministic
    # centroid id (vec_id % 41 == 3, cluster = vec_id % 8), so each
    # member's nearest cell is its own cluster's centroid and all true
    # neighbors cohabit -> probe recall ~1.0 -> KEEP.
    n, dim = 400, 64

    def vec(vid: int) -> list[float]:
        c = vid % 8
        base = [1.0 if j == c * 8 else 0.0 for j in range(dim)]
        return [
            v + ((vid * 13 + j * 7) % 11 - 5) * 1e-3
            for j, v in enumerate(base)
        ]

    sf = tmp_path / "kmaint"
    sf.mkdir()
    spark.createDataFrame(
        [(v, [float(x) for x in vec(v)], v % 10) for v in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf / "embeddings.parquet"))
    out2 = q_knn_graph_maintain(spark, str(sf))
    got2 = out2.collect()
    assert got2 and all(r["decision"] == "keep" for r in got2)
    assert rows_of(out2, drop_decision=True) == rows_of(
        q_knn_graph(spark, str(sf))
    )
