"""BM25 unit fixtures + property tests (TestBM25Similarity /
BaseSimilarityTestCase style, reference tests/search/similarities/)."""

import math

import numpy as np
import pytest
from hypothesis import given, strategies as st

from lucene_spark.search.similarity import BM25Similarity
from lucene_spark.util.smallfloat import int_to_byte4

SIM = BM25Similarity()
f32 = np.float32


def _score(doc_count, df, sum_ttf, field_len, freq, boost=1.0):
    idf = SIM.idf(df, doc_count)
    w = SIM.weight(boost, idf)
    avgdl = SIM.avgdl(sum_ttf, doc_count)
    cache = SIM.norm_inv_cache(avgdl)
    return SIM.score(
        np.array([freq], dtype=np.float32),
        cache[np.array([int_to_byte4(field_len)])],
        w,
    )[0]


def test_idf_formula_float32():
    # idf computed in float64, cast to float32
    assert SIM.idf(1, 100) == f32(math.log(1.0 + (100 - 1 + 0.5) / 1.5))
    assert SIM.idf(100, 100) == f32(math.log(1.0 + 0.5 / 100.5))
    assert SIM.idf(0, 0) == f32(math.log(1.0 + 0.5 / 0.5))


def test_score_known_fixture():
    # hand-computed: docCount=2, df=1, sumTTF=8 -> avgdl=4; len=4, freq=2
    idf = f32(math.log(1.0 + (2 - 1 + 0.5) / 1.5))
    inv = f32(f32(1.0) / (f32(1.2) * ((f32(1.0) - f32(0.75)) + f32(0.75) * f32(4.0) / f32(4.0))))
    expected = f32(idf - idf / (f32(1.0) + f32(2.0) * inv))
    assert _score(2, 1, 8, 4, 2) == expected


@given(
    doc_count=st.integers(1, 10**9),
    df_frac=st.floats(0.0, 1.0),
    sum_ttf_mult=st.integers(1, 1000),
    field_len=st.integers(0, 10**6),
    freq=st.integers(1, 10**4),
)
def test_score_properties(doc_count, df_frac, sum_ttf_mult, field_len, freq):
    df = max(1, int(doc_count * df_frac))
    sum_ttf = doc_count * sum_ttf_mult
    s = _score(doc_count, df, sum_ttf, field_len, freq)
    assert np.isfinite(s) and s >= 0  # BaseSimilarityTestCase invariants
    # monotone increasing in freq
    s2 = _score(doc_count, df, sum_ttf, field_len, freq + 1)
    assert s2 >= s
    # monotone decreasing in field length
    s3 = _score(doc_count, df, sum_ttf, field_len + 1000, freq)
    assert s3 <= s


def test_block_upper_bound_dominates():
    """A block bound is the score at a competitive (freq, norm) impact; with
    one impact (max freq 7, shortest length 3) it dominates every doc."""
    avgdl = SIM.avgdl(10_000, 1_000)
    w = SIM.weight(1.0, SIM.idf(50, 1000))
    cache = SIM.norm_inv_cache(avgdl)
    ub = SIM.score(np.array([7], np.float32), cache[np.array([int_to_byte4(3)])], w)[0]
    for freq in (1, 3, 7):
        for ln in (3, 10, 500):
            s = SIM.score(
                np.array([freq], np.float32),
                cache[np.array([int_to_byte4(ln)])],
                w,
            )[0]
            assert s <= ub


# ---- pluggable similarities (ClassicSimilarity / BooleanSimilarity) --------


def test_classic_similarity_kernel_hand_computed():
    """ClassicSimilarity.java:27 / TFIDFSimilarity.java:451 semantics:
    idf = float(ln((docCount+1)/(df+1)) + 1); normTable[b] =
    float(1/sqrt(LENGTH_TABLE[b])); score = float(float(sqrt(f))*w)*norm."""
    import math

    from lucene_spark.search.similarity import ClassicSimilarity
    from lucene_spark.util.smallfloat import LENGTH_TABLE

    sim = ClassicSimilarity()
    idf = sim.idf(9, 999)
    assert idf == np.float32(math.log(1000 / 10.0) + 1.0)
    w = sim.weight(2.0, idf)
    assert w == np.float32(np.float32(2.0) * idf)
    cache = sim.norm_inv_cache(np.float32(1.0))
    b = int_to_byte4(16)
    assert cache[b] == np.float32(1.0 / math.sqrt(float(LENGTH_TABLE[b])))
    # normTable[0] = 1f/normTable[255] (TFIDFSimilarity.java:446)
    assert cache[0] == np.float32(1.0) / cache[255]
    got = sim.score(np.array([4], np.float32), cache[np.array([b])], w)[0]
    tf = np.float32(math.sqrt(4.0))
    assert got == np.float32(np.float32(tf * w) * cache[b])
    # monotone: up in freq, down in length (impact-order contract)
    s_more = sim.score(np.array([9], np.float32), cache[np.array([b])], w)[0]
    s_longer = sim.score(
        np.array([4], np.float32), cache[np.array([int_to_byte4(400)])], w
    )[0]
    assert s_more > got > s_longer


def test_boolean_similarity_kernel():
    from lucene_spark.search.similarity import BooleanSimilarity

    sim = BooleanSimilarity()
    w = sim.weight(3.5, sim.idf(123, 456))
    assert w == np.float32(3.5)
    got = sim.score(np.array([1, 50, 900], np.float32), np.ones(3, np.float32), w)
    assert (got == np.float32(3.5)).all()


@given(
    doc_count=st.integers(1, 10**7),
    df_frac=st.floats(0.0001, 1.0),
    field_len=st.integers(1, 10**6),
    freq=st.integers(1, 10**4),
)
def test_classic_score_properties(doc_count, df_frac, field_len, freq):
    """BaseSimilarityTestCase invariants for ClassicSimilarity: finite,
    non-negative, monotone up in freq and down in field length."""
    from lucene_spark.search.similarity import ClassicSimilarity

    sim = ClassicSimilarity()
    df = max(1, int(doc_count * df_frac))
    w = sim.weight(1.0, sim.idf(df, doc_count))
    cache = sim.norm_inv_cache(np.float32(1.0))

    def score(f, ln):
        return sim.score(
            np.array([f], np.float32), cache[np.array([int_to_byte4(ln)])], w
        )[0]

    s = score(freq, field_len)
    assert np.isfinite(s) and s >= 0
    assert score(freq + 1, field_len) >= s
    assert score(freq, field_len + 1000) <= s


def test_sweet_spot_similarity_kernel():
    """misc/SweetSpotSimilarity.java: plateau lengthNorm (1.0 inside
    [ln_min, ln_max], sloping at steepness outside) and baselineTf."""
    import math

    from lucene_spark.search.similarity import SweetSpotSimilarity
    from lucene_spark.util.smallfloat import LENGTH_TABLE

    sim = SweetSpotSimilarity(ln_min=4, ln_max=64, ln_steep=0.5)
    cache = sim.norm_inv_cache(np.float32(1.0))
    # inside the sweet spot: |l-4| + |l-64| - 60 == 0 -> norm == 1.0
    for ln in (4, 16, 64):
        b = int_to_byte4(ln)
        if 4 <= int(LENGTH_TABLE[b]) <= 64:
            assert cache[b] == np.float32(1.0)
    # outside: matches the hand formula
    b = int_to_byte4(400)
    l = float(LENGTH_TABLE[b])
    inner = np.float32(0.5) * np.float32(abs(l - 4) + abs(l - 64) - 60) + np.float32(1.0)
    assert cache[b] == np.float32(1.0 / math.sqrt(float(inner)))
    # default tf == sqrt(freq) (tf_base=0, tf_min=0 reduce baselineTf)
    w = sim.weight(1.0, sim.idf(10, 1000))
    got = sim.score(np.array([9], np.float32), cache[np.array([b])], w)[0]
    assert got == np.float32(np.float32(np.float32(3.0) * w) * cache[b])
    # baselineTf plateau: freq <= tf_min scores tf_base
    sim2 = SweetSpotSimilarity(tf_base=1.5, tf_min=3.0)
    c2 = sim2.norm_inv_cache(np.float32(1.0))
    lo = sim2.score(np.array([2], np.float32), c2[np.array([b])], w)[0]
    assert lo == np.float32(np.float32(np.float32(1.5) * w) * c2[b])
