"""FOR / PFor / delta codec round-trips (roles of codecs/lucene104/ForUtil,
PForUtil in the reference)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_spark.index import forutil


@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=0, max_size=300)
)
@settings(max_examples=200)
def test_for_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint32)
    assert np.array_equal(forutil.for_decode(forutil.for_encode(arr)), arr)


@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=0, max_size=256)
)
@settings(max_examples=200)
def test_pfor_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint32)
    assert np.array_equal(forutil.pfor_decode(forutil.pfor_encode(arr)), arr)


def test_pfor_patches_outliers_compactly():
    # 250 small values + 3 outliers: patched width must beat full width
    vals = np.array([1] * 250 + [2**30, 2**29, 2**28], dtype=np.uint32)
    buf = forutil.pfor_encode(vals)
    assert buf[0] == 1  # low width stays 1 bit
    assert buf[3] == 3  # three exceptions
    assert len(buf) < len(forutil.for_encode(vals))
    assert np.array_equal(forutil.pfor_decode(buf), vals)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**31), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=100)
def test_delta_roundtrip(docs):
    arr = np.sort(np.array(docs, dtype=np.int64))
    first, gaps = forutil.delta_encode(arr)
    assert np.array_equal(forutil.delta_decode(first, gaps), arr)


@pytest.mark.parametrize(
    "docs",
    [
        [31, 1 << 40],  # batch id next to an NRT id: gap >= 2**32
        [0, 1 << 32],  # smallest gap that wraps
        [3, 5, 5],  # duplicate id: gap 0
        [9, 4],  # unsorted: negative gap
    ],
)
def test_delta_encode_rejects_gaps_outside_uint32(docs):
    with pytest.raises(ValueError, match="uint32 gap format"):
        forutil.delta_encode(np.array(docs, dtype=np.int64))


def test_delta_encode_keeps_largest_uint32_gap():
    arr = np.array([1 << 40, (1 << 40) + 0xFFFFFFFF], dtype=np.int64)
    first, gaps = forutil.delta_encode(arr)
    assert np.array_equal(forutil.delta_decode(first, gaps), arr)
