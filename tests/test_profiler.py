"""Query profiler: tree shape mirrors the query AST, rows are true match
counts, timings are positive (QueryProfilerIndexSearcher analog)."""

import os

import pytest

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.search import query as Q
from lucene_spark.search.profiler import profile
from lucene_spark.search.searcher import IndexSearcher

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def s(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    idx = build_index(
        spark,
        docs,
        IndexConfig(text_col="text", field_name="text", doc_id_col="doc_id"),
    )
    return IndexSearcher(idx)


def test_profile_boolean_tree(s):
    q = Q.BooleanQuery.of(
        should=(Q.TermQuery("text", "spark"), Q.TermQuery("text", "table")),
    )
    node = profile(s, q)
    assert node.type == "BooleanQuery"
    assert [c.type for c in node.children] == ["TermQuery", "TermQuery"]
    # per-node rows are the real standalone match counts
    t1 = s.scored(Q.TermQuery("text", "spark")).count()
    assert node.children[0].rows == t1
    # the disjunction matches at least as many docs as either clause
    assert node.rows >= max(c.rows for c in node.children)
    for _, _, _, cw, ex, rows in node.table():
        assert cw >= 0 and ex > 0 and rows >= 0


def test_profile_wrapped_and_filter_nodes(s):
    q = Q.BoostQuery(Q.ConstantScoreQuery(Q.PointRangeQuery("n_chars", 0, 500)), 2.0)
    node = profile(s, q)
    assert node.type == "BoostQuery"
    assert node.children[0].type == "ConstantScoreQuery"
    assert node.children[0].children[0].type == "PointRangeQuery"
    # all three levels count the same underlying filter set
    leaf = node.children[0].children[0]
    assert node.rows == leaf.rows > 0


def test_profile_dismax_depth(s):
    q = Q.DisjunctionMaxQuery(
        (Q.TermQuery("text", "spark"), Q.PhraseQuery("text", ("hash", "join"))),
        tie_breaker=0.3,
    )
    node = profile(s, q)
    flat = node.table()
    assert len(flat) == 3 and flat[0][0] == 0 and flat[1][0] == 1


def test_profile_match_only_boolean_tree(s):
    """scored=False runs every node's match subplan through the public
    ``matches()``; row counts equal the scored profile's."""
    q = Q.BooleanQuery.of(
        must=(Q.TermQuery("text", "spark"),),
        should=(Q.TermQuery("text", "table"),),
        must_not=(Q.TermQuery("text", "join"),),
    )
    node = profile(s, q, scored=False)
    assert node.type == "BooleanQuery"
    assert [c.type for c in node.children] == ["TermQuery"] * 3
    assert node.rows == s.matches(q).count() == profile(s, q).rows
    assert node.children[0].rows == s.matches(Q.TermQuery("text", "spark")).count()
