"""Property tests (hypothesis) for the pure-Python media codecs and
the winnowing fingerprint.

The oracle gate cross-checks Spark against DuckDB on the driver corpus;
these tests cross-check the ALGORITHMS against independent references
on adversarial inputs (random bytes / strings) that the corpus never
produces — codec round-trips for arbitrary payloads, and the winnowing
SQL expression against a naive Python implementation of MOSS.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dist_mapreduce_spark.operators.multimodal import (
    _AVI_FRAME_BYTES,
    BMP_WIDTH,
    decode_audio_frames,
    decode_image,
    decode_video_frames,
    encode_avi,
    encode_bmp,
    encode_wav,
)
from dist_mapreduce_spark.plans.llm_pipeline import (
    ROLL_P,
    ROLL_POW,
    WINNOW_K,
    WINNOW_W,
)

BYTES = st.binary(min_size=0, max_size=600)


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_bmp_roundtrip_property(payload):
    img = decode_image(encode_bmp(payload))
    row = BMP_WIDTH * 3
    assert img["height"] == max(1, -(-len(payload) // row))
    assert img["pixels"][: len(payload)] == payload
    assert not any(img["pixels"][len(payload) :])


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_wav_roundtrip_property(payload):
    import struct

    wav = decode_audio_frames(encode_wav(payload))
    padded = payload if len(payload) % 2 == 0 else payload + b"\x00"
    assert wav["n_samples"] == len(padded) // 2
    assert tuple(wav["samples"]) == struct.unpack(f"<{len(padded) // 2}h", padded)


@settings(max_examples=200, deadline=None)
@given(BYTES)
def test_avi_roundtrip_property(payload):
    vid = decode_video_frames(encode_avi(payload))
    assert vid["n_frames"] == max(1, -(-len(payload) // _AVI_FRAME_BYTES))
    joined = b"".join(vid["frames"])
    assert joined[: len(payload)] == payload
    assert not any(joined[len(payload) :])


def test_word_shingles_safe_on_blank_docs(spark):
    """ANSI-mode regression: the SQL shingle builder (the reference
    the MinHash kernel is tested against) must not throw
    INVALID_ARRAY_INDEX on empty or sub-k token arrays — blank
    documents exist in real corpora even though the driver corpus has
    none."""
    from pyspark.sql import functions as F

    from dist_mapreduce_spark.operators.text_analysis import ws_tokens
    from tests.test_minhash_kernel import _word_shingles

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "one two"),
         (4, "one two three"), (5, "a b c d")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            _word_shingles(ws_tokens(F.col("text"))).alias("s"),
        ).collect()
    }
    assert rows[0] == [] and rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4] == ["one two three"]
    assert rows[5] == ["a b c", "b c d"]


def _winnow_reference(norm: str) -> tuple[int, set[int]]:
    """Naive MOSS: k-gram polynomial hashes + per-window distinct minima
    — independent arithmetic path (per-gram loop, not the SQL fold)."""
    n_grams = max(len(norm) - (WINNOW_K - 1), 0)
    hs = [
        sum(p * ord(norm[i + j]) for j, p in enumerate(ROLL_POW)) % ROLL_P
        for i in range(n_grams)
    ]
    n_wins = max(len(hs) - (WINNOW_W - 1), 0)
    return n_grams, {min(hs[i : i + WINNOW_W]) for i in range(n_wins)}


@pytest.mark.parametrize(
    "text",
    [
        "",
        "short",
        "exactly8",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaaaaaa",  # degenerate: all windows share one hash
        "ab" * 30,
    ],
)
def test_winnow_sql_matches_reference(spark, text):
    """The Spark SQL expression pipeline must produce exactly the naive
    reference's fingerprint set (count, min, mod-997 fold)."""
    import re

    from pyspark.sql import functions as F

    from dist_mapreduce_spark.plans import llm_pipeline as lp

    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    # Run the same expression chain the query uses, on an inline frame.
    norm_s = re.sub(r"\s+", " ", text.strip().lower())
    n_grams_ref, sel_ref = _winnow_reference(norm_s)

    norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
    n_grams = f"greatest(length(norm) - {lp.WINNOW_K - 1}, 0)"
    hs = (
        f"slice(transform(sequence(1, greatest({n_grams}, 1)),"
        f" i -> ({lp._GRAM_SUM}) % {lp.ROLL_P}), 1, {n_grams})"
    )
    n_wins = f"greatest(size(hs) - {lp.WINNOW_W - 1}, 0)"
    mins = ", ".join(f"try_element_at(hs, i + {o})" for o in range(lp.WINNOW_W))
    sel = (
        f"array_distinct(slice(transform(sequence(1, greatest({n_wins}, 1)),"
        f" i -> least({mins})), 1, {n_wins}))"
    )
    row = (
        df.selectExpr("doc_id", f"{norm} AS norm")
        .selectExpr("doc_id", f"{hs} AS hs")
        .selectExpr("size(hs) AS n_grams", f"{sel} AS sel")
        .collect()[0]
    )
    assert row["n_grams"] == n_grams_ref
    assert set(row["sel"]) == sel_ref


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=80))
def test_winnow_reference_density_bound(text):
    """MOSS selection bound: at most one fingerprint per window."""
    import re

    norm = re.sub(r"\s+", " ", text.strip().lower())
    n_grams, sel = _winnow_reference(norm)
    assert len(sel) <= max(n_grams - (WINNOW_W - 1), 0)


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "ab", "ba", "aa", "bb", "</w>", "aab"]),
        min_size=0,
        max_size=14,
    ),
    st.sampled_from([("a", "b"), ("a", "a"), ("ab", "a"), ("b", "</w>"),
                     ("aa", "b"), ("b", "b")]),
)
def test_bpe_wrapped_replace_equals_list_merge(syms, pair):
    """The identity bpe_train_merges rests on: replacing '|a||b|' with
    '|ab|' in the wrapped symbol string equals the textbook greedy
    leftmost-nonoverlapping list merge — including aliasing symbols
    ('a' vs 'aa' vs 'ab') and adjacent/overlapping occurrences, which
    plain space-joined replace gets WRONG (a consumed separator hides
    the next match; substring matches cross symbol boundaries).
    str.replace shares SQL replace's leftmost-nonoverlap semantics, so
    this pins the algorithm both engines run."""
    a, b = pair
    wrapped = "".join(f"|{s}|" for s in syms)
    got = wrapped.replace(f"|{a}||{b}|", f"|{a}{b}|")
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    assert got == "".join(f"|{s}|" for s in out)
