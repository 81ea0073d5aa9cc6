"""Bloom-filtered term lookups (codecs/bloom/BloomFilteringPostingsFormat.java
+ FuzzySet.java): per-segment fast-fail sets for point lookups."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from lucene_spark.index.bloom import (
    DEFAULT_FPP,
    FuzzySet,
    attach_blooms,
    build_bloom_filters,
)
from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.search import query as Q
from lucene_spark.search.searcher import IndexSearcher


def test_fuzzyset_sizing_matches_reference_arithmetic():
    """createOptimalSet (FuzzySet.java:100-107): setSize =
    ceil(n*ln(fpp)/ln(1/2^ln2)) doubled then rounded down to all-ones;
    k = round(setSize/n * ln2)."""
    fz = FuzzySet.create_optimal_set(1024, DEFAULT_FPP)
    # n=1024: raw setSize = ceil(1024*ln(.1023)/-0.480453) = 4860;
    # 2*4860 = 9720 -> nearest all-ones below = 2^13-1 = 8191
    assert fz.bloom_size == 8191
    # k = round(8191/1024 * ln2) = round(5.5446) = 6
    assert fz.hash_count == 6
    # bitset sizes are 2^k - 1 (usableBitSetSizes :68-75)
    for n in (10, 100, 10_000, 1_000_000):
        s = FuzzySet.create_optimal_set(n).bloom_size
        assert (s & (s + 1)) == 0 and s >= 63


def test_fuzzyset_no_false_negatives_and_some_nos():
    fz = FuzzySet.create_optimal_set(64)
    added = [f"term{i}".encode() for i in range(64)]
    for t in added:
        fz.add_value(t)
    assert all(fz.contains(t) for t in added)  # MAYBE for every added value
    # definitively-NO must exist for most absent values at fpp ~0.1
    absent = [f"absent{i}".encode() for i in range(200)]
    nos = sum(not fz.contains(t) for t in absent)
    assert nos > 120


@pytest.fixture(scope="module")
def bloom_idx(spark):
    # 4 segments of 8 docs; 'needle' only in segment 2, 'haystack' everywhere
    rows = []
    for i in range(32):
        text = "haystack common words here"
        if i == 17:
            text += " needle"
        rows.append(Row(doc_id=i, text=text))
    docs = spark.createDataFrame(rows)
    cfg = IndexConfig(
        text_col="text", field_name="text", doc_id_col="doc_id", docs_per_segment=8
    )
    idx = build_index(spark, docs, cfg)
    attach_blooms(idx)
    return idx


def test_bloom_prunes_segments_and_preserves_results(bloom_idx):
    s = IndexSearcher(bloom_idx)
    s.collect_stats = True
    hits = s.search(Q.TermQuery("text", "needle"), k=10).collect()
    assert [r.doc_id for r in hits] == [17]
    st = s.last_stats
    assert st["segments_with_bloom"] == 4
    # fpp 0.1023 -> the 3 needle-free segments are overwhelmingly NO;
    # require at least pruning of one (no false negatives is the hard bound)
    assert st["segments_excluded"] >= 1
    # a term present everywhere prunes nothing and loses nothing
    s2 = IndexSearcher(bloom_idx)
    with_bloom = {r.doc_id for r in s2.search(Q.TermQuery("text", "haystack"), k=40).collect()}
    assert with_bloom == set(range(32))


def test_bloom_absent_term_excludes_all_segments(bloom_idx):
    s = IndexSearcher(bloom_idx)
    s.collect_stats = True
    assert s.search(Q.TermQuery("text", "zzzznotaterm"), k=10).count() == 0
    assert s.last_stats["segments_excluded"] == 4


def test_bloom_plan_prunes_before_decode(bloom_idx):
    """The exclusion predicate must land in the postings filter (scan
    side), not after decode — check the analyzed plan mentions seg_id."""
    s = IndexSearcher(bloom_idx)
    df = s.search(Q.TermQuery("text", "needle"), k=10)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "seg_id" in plan


def test_term_in_set_uses_union_of_blooms(bloom_idx):
    s = IndexSearcher(bloom_idx)
    s.collect_stats = True
    got = {
        r.doc_id
        for r in s.search(
            Q.TermInSetQuery("text", ("needle", "zzzznotaterm")), k=40
        ).collect()
    }
    assert got == {17}


def test_build_bloom_filters_shapes(bloom_idx):
    blooms = build_bloom_filters(bloom_idx)
    assert set(blooms) == {0, 1, 2, 3}
    for fz in blooms.values():
        assert isinstance(fz.bits, np.ndarray) and fz.bits.dtype == np.uint64
        assert fz.hash_count >= 1


def test_fuzzy_like_this_tf_mode(spark):
    """FuzzyLikeThisQuery default (tf-scored) mode: variants score with
    the SOURCE term's idf folded into the boost (misspellings are NOT
    favoured by their own rarity, FuzzyLikeThisQuery.java:62-66), and
    the artificial df=1 TermStates drives the per-clause BM25 weight
    (:268-277)."""
    from pyspark.sql import Row

    from lucene_spark.search.extras import fuzzy_like_this

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="spark engine plan here"),
            Row(doc_id=1, text="sparks engine plan here"),  # 1 edit variant
            Row(doc_id=2, text="nothing relevant at all"),
            Row(doc_id=3, text="spark spark engine plan"),  # higher tf
        ]
    )
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.search.searcher import IndexSearcher

    idx = build_index(
        spark,
        docs,
        IndexConfig(text_col="text", field_name="text", doc_id_col="doc_id",
                    docs_per_segment=16),
    )
    s = IndexSearcher(idx)
    rows = fuzzy_like_this(s, "spark", k=10, max_edits=1).collect()
    got = [r.doc_id for r in rows]
    assert set(got) == {0, 1, 3}
    # same tf/length: exact term (boost 1.0) outranks the 1-edit variant
    # (boost (1-1/5)^2); doc 3 has tf=2 of the exact term -> ranks first
    assert got[0] == 3 and got.index(0) < got.index(1)
    # ignoreTF: tf stops mattering -> docs 0 and 3 tie on the constant
    # clause score (tie-break doc_id asc)
    rows = fuzzy_like_this(s, "spark", k=10, max_edits=1, ignore_tf=True).collect()
    by_doc = {r.doc_id: r.score for r in rows}
    assert by_doc[0] == by_doc[3]
    # a query with NO dictionary variants matches nothing
    assert fuzzy_like_this(s, "zzzqqq", k=10, max_edits=1).count() == 0


def test_id_version_index_seek_exact(spark):
    """idversion codec role (sandbox/codecs/idversion/
    IDVersionPostingsFormat.java:33-50): seekExact(id, minVersion)
    returns the live (max-version) row only when newer than minVersion;
    per-segment max-version metadata + blooms fail fast."""
    from pyspark.sql import Row

    from lucene_spark.index.idversion import build_id_version_index

    rows = [Row(doc_id=i, key=f"k{i % 4}", ver=i * 10) for i in range(16)]
    ividx = build_id_version_index(
        spark.createDataFrame(rows), "key", "ver", docs_per_segment=4
    )
    assert set(ividx.seg_max_version) == {0, 1, 2, 3}
    assert ividx.seg_max_version[3] == 150
    # live row per id = the newest version (doc 12..15 hold k0..k3)
    got = {(r.id, r.version, r.doc_id) for r in ividx.seek_exact(["k0", "k2"]).collect()}
    assert got == {("k0", 120, 12), ("k2", 140, 14)}
    # minVersion gate: k0's live version is 120 -> > 120 finds nothing
    assert ividx.seek_exact("k0", min_version=120).count() == 0
    assert ividx.seek_exact("k0", min_version=119).count() == 1
    # segment fail-fast: min_version >= global max prunes every segment
    # with ZERO jobs (empty candidate list -> lit(False) filter)
    assert ividx._candidate_segments(["k0"], 150) == []
    # unknown id: blooms exclude all segments driver-side
    assert ividx._candidate_segments(["nope"], -1) == []
    # negative versions refuse to build (MIN_VERSION)
    import pytest as _pt

    with _pt.raises(ValueError):
        build_id_version_index(
            spark.createDataFrame([Row(doc_id=0, key="a", ver=-1)]),
            "key", "ver", docs_per_segment=4,
        )
