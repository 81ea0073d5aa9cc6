"""Classic query-string parser → AST (grammar QueryParser.jj:196-224)."""

import pytest

from lucene_spark.search import query as Q
from lucene_spark.search.queryparser import QueryParser, QueryParseError

P = QueryParser("text")


def occurs(bq):
    return sorted((c.occur.value, repr(c.query)) for c in bq.clauses)


def test_single_term():
    assert P.parse("Spark") == Q.TermQuery("text", "spark")


def test_default_or():
    q = P.parse("spark join")
    assert isinstance(q, Q.BooleanQuery)
    assert {c.occur for c in q.clauses} == {Q.Occur.SHOULD}
    assert [c.query for c in q.clauses] == [
        Q.TermQuery("text", "spark"),
        Q.TermQuery("text", "join"),
    ]


def test_and_promotes_to_must():
    q = P.parse("spark AND join")
    assert {c.occur for c in q.clauses} == {Q.Occur.MUST}


def test_plus_minus_occurs():
    q = P.parse("+key spark -slow")
    by = {c.occur: c.query for c in q.clauses}
    assert by[Q.Occur.MUST] == Q.TermQuery("text", "key")
    assert by[Q.Occur.SHOULD] == Q.TermQuery("text", "spark")
    assert by[Q.Occur.MUST_NOT] == Q.TermQuery("text", "slow")


def test_field_and_boost():
    assert P.parse("lang:java^2.5") == Q.BoostQuery(Q.TermQuery("lang", "java"), 2.5)


def test_phrase_with_slop():
    assert P.parse('"table part"~2') == Q.PhraseQuery("text", ("table", "part"), slop=2)
    assert P.parse('"Quick Fox"') == Q.PhraseQuery("text", ("quick", "fox"))


def test_prefix_wildcard_regex_fuzzy_range():
    assert P.parse("sc*") == Q.PrefixQuery("text", "sc")
    assert P.parse("t?ble*") == Q.WildcardQuery("text", "t?ble*")
    assert P.parse("/c.*er/") == Q.RegexpQuery("text", "c.*er")
    assert P.parse("scan~1") == Q.FuzzyQuery("text", "scan", max_edits=1)
    assert P.parse("scan~") == Q.FuzzyQuery("text", "scan", max_edits=2)
    assert P.parse("[key TO merge}") == Q.TermRangeQuery(
        "text", "key", "merge", include_lower=True, include_upper=False
    )
    assert P.parse("[* TO merge]") == Q.TermRangeQuery(
        "text", None, "merge", include_lower=True, include_upper=True
    )


def test_grouping_and_not():
    q = P.parse("(spark OR join) AND NOT slow")
    by = {c.occur: c.query for c in q.clauses}
    inner = by[Q.Occur.MUST]
    assert isinstance(inner, Q.BooleanQuery)
    assert by[Q.Occur.MUST_NOT] == Q.TermQuery("text", "slow")


def test_hyphenated_token_analyzes_to_or():
    q = P.parse("foo-bar")
    assert isinstance(q, Q.BooleanQuery)
    assert [c.query for c in q.clauses] == [
        Q.TermQuery("text", "foo"),
        Q.TermQuery("text", "bar"),
    ]


def test_snake_case_stays_single():
    assert P.parse("foo_bar") == Q.TermQuery("text", "foo_bar")


def test_errors():
    with pytest.raises(QueryParseError):
        P.parse("")
    with pytest.raises(QueryParseError):
        P.parse("(unbalanced")
    with pytest.raises(QueryParseError):
        P.parse("field:")


def test_parse_then_search_end_to_end(spark):
    """Parsed query executes identically to the hand-built AST."""
    from lucene_spark.entry_impl import get_searcher

    _, s = get_searcher(spark, "/root/testdata/sf0.001")
    parsed = s.search(P.parse("spark AND join"), k=10).collect()
    built = s.search(
        Q.BooleanQuery.of(
            must=[Q.TermQuery("text", "spark"), Q.TermQuery("text", "join")]
        ),
        k=10,
    ).collect()
    assert [tuple(r) for r in parsed] == [tuple(r) for r in built]


def test_multi_field_query_parser():
    """classic/MultiFieldQueryParser.java:33: unfielded clauses expand to
    a SHOULD over all fields with per-field boosts; explicit field:
    prefixes stay single-field."""
    from lucene_spark.search.queryparser import MultiFieldQueryParser

    qp = MultiFieldQueryParser(["title", "body"], boosts={"title": 2.0})
    q = qp.parse("fox +body:dog")
    assert isinstance(q, Q.BooleanQuery)
    [fox_clause] = [c for c in q.clauses if c.occur is Q.Occur.SHOULD]
    [dog_clause] = [c for c in q.clauses if c.occur is Q.Occur.MUST]
    fox = fox_clause.query
    assert isinstance(fox, Q.BooleanQuery)
    kinds = sorted(
        (type(c.query).__name__,
         getattr(c.query, "field", None)
         or getattr(getattr(c.query, "query", None), "field", None))
        for c in fox.clauses
    )
    assert kinds == [("BoostQuery", "title"), ("TermQuery", "body")]
    boosted = [c.query for c in fox.clauses if isinstance(c.query, Q.BoostQuery)][0]
    assert boosted.boost == 2.0 and boosted.query.field == "title"
    assert dog_clause.occur is Q.Occur.MUST
    assert dog_clause.query.field == "body"  # explicit prefix untouched
    # multi-term + phrase expansion
    q2 = MultiFieldQueryParser(["a", "b"]).parse('"quick fox"')
    assert isinstance(q2, Q.BooleanQuery)
    assert {c.query.field for c in q2.clauses} == {"a", "b"}
    assert all(isinstance(c.query, Q.PhraseQuery) for c in q2.clauses)


# ---- reference behaviour the shared flexible grammar gives the classic parser


def test_fielded_group_applies_field_to_members():
    """QueryParser.jj Clause passes the field prefix into the group."""
    assert P.parse("title:(spark join)") == Q.BooleanQuery.of(
        should=[Q.TermQuery("title", "spark"), Q.TermQuery("title", "join")]
    )


def test_star_colon_star_is_match_all():
    """QueryParserBase.getWildcardQuery: ``*:*`` -> MatchAllDocsQuery."""
    assert P.parse("*:*") == Q.MatchAllDocsQuery()


def test_analyzer_emptied_must_clause_is_dropped():
    """QueryParserBase.addClause skips a clause the analyzer emptied, so
    the conjunction does not turn into zero hits."""
    assert P.parse("spark AND ...") == Q.BooleanQuery.of(
        must=[Q.TermQuery("text", "spark")]
    )
    # a boosted multi-field copy the analyzer emptied is empty too
    from lucene_spark.search.queryparser import MultiFieldQueryParser

    qp = MultiFieldQueryParser(["title", "body"], boosts={"title": 2.0})
    assert qp.parse("spark AND ...") == Q.BooleanQuery.of(
        must=[qp.parse("spark")]
    )


def test_leading_wildcard_rejected():
    """allowLeadingWildcard defaults to false in the reference."""
    for s in ("*", "*ing", "?ing"):
        with pytest.raises(QueryParseError):
            P.parse(s)


def test_flexible_only_syntax_rejected():
    """The classic grammar has neither interval functions nor @N groups."""
    for s in ("fn:ordered(a b)", "(a b)@2"):
        with pytest.raises(QueryParseError):
            P.parse(s)


def test_multi_field_explicit_field_stays_unboosted():
    """MultiFieldQueryParser.getFieldQuery boosts only the copies an
    unfielded clause expands into."""
    from lucene_spark.search.queryparser import MultiFieldQueryParser

    qp = MultiFieldQueryParser(["title", "body"], boosts={"title": 2.0})
    assert qp.parse("title:fox") == Q.TermQuery("title", "fox")
    assert qp.parse("fox title:dog") == Q.BooleanQuery.of(
        should=[
            Q.BooleanQuery.of(
                should=[
                    Q.BoostQuery(Q.TermQuery("title", "fox"), 2.0),
                    Q.TermQuery("body", "fox"),
                ]
            ),
            Q.TermQuery("title", "dog"),
        ]
    )
