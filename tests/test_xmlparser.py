"""XML CoreParser (queryparser/xml/CoreParser.java:46) — element-by-element
match fixtures over a deterministic corpus, mirroring the shapes of the
reference's test XML files (TermQuery.xml, BooleanQuery.xml, RangeQuery.xml,
UserInputQuery.xml, SpanQuery.xml, SpanPositionRangeQuery ...), plus the
reference's guard behaviors: DOCTYPE/ENTITY rejection
(TestCoreParser.test_DOCTYPE_TermQueryXML) and SpanNear-without-slop
(testSpanNearQueryWithoutSlopXML)."""

import pytest

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.search import xmlparser as XP
from lucene_spark.search.searcher import IndexSearcher

DOCS = [
    (1, "bank of england raised rates", "19870409", 10),
    (2, "sumitomo bank merger talks", "19870410", 20),
    (3, "merger of miners and workers", "19870411", 30),
    (4, "fire burn in the mine killed three", "19870412", 40),
    (5, "workers killed in mine accident", "19870413", 50),
    (6, "bank of england cut rates again", "19870414", 60),
]


@pytest.fixture(scope="module")
def searchers(spark):
    df = spark.createDataFrame(
        DOCS, "doc_id long, contents string, date string, price long"
    )
    out = {}
    for fld in ("contents", "date"):
        cfg = IndexConfig(
            text_col=fld, field_name=fld, doc_id_col="doc_id",
            docs_per_segment=8,
        )
        out[fld] = IndexSearcher(build_index(spark, df, cfg))
    return out


def _ids(searchers, xml, **kw):
    df = XP.execute(searchers, xml, k=10, default_field="contents", **kw)
    return {int(r["doc_id"]) for r in df.collect()}


def test_term_query(searchers):
    assert _ids(searchers, '<TermQuery fieldName="contents">sumitomo</TermQuery>') == {2}


def test_terms_query(searchers):
    xml = '<TermsQuery fieldName="contents">sumitomo miners</TermsQuery>'
    assert _ids(searchers, xml) == {2, 3}


def test_boolean_query(searchers):
    xml = """<BooleanQuery fieldName="contents">
      <Clause occurs="should"><TermQuery>merger</TermQuery></Clause>
      <Clause occurs="mustnot"><TermQuery>sumitomo</TermQuery></Clause>
      <Clause occurs="must"><TermQuery>bank</TermQuery></Clause>
    </BooleanQuery>"""
    # must bank {1,2,6}, not sumitomo {2} -> {1,6}
    assert _ids(searchers, xml) == {1, 6}


def test_range_query_as_filter(searchers):
    xml = """<BooleanQuery>
      <Clause occurs="must"><UserQuery fieldName="contents">"bank of england"</UserQuery></Clause>
      <Clause occurs="filter"><RangeQuery fieldName="date" lowerTerm="19870409" upperTerm="19870412"/></Clause>
    </BooleanQuery>"""
    assert _ids(searchers, xml) == {1}


def test_match_all_plus_filter(searchers):
    xml = """<BooleanQuery>
      <Clause occurs="must"><MatchAllDocsQuery/></Clause>
      <Clause occurs="filter"><RangeQuery fieldName="date" lowerTerm="19870412" upperTerm="19870414"/></Clause>
    </BooleanQuery>"""
    assert _ids(searchers, xml) == {4, 5, 6}


def test_dismax_and_constant_score(searchers):
    xml = """<DisjunctionMaxQuery fieldName="contents" tieBreaker="0.3">
      <TermQuery>merger</TermQuery>
      <TermQuery>fire</TermQuery>
    </DisjunctionMaxQuery>"""
    assert _ids(searchers, xml) == {2, 3, 4}
    xml2 = '<ConstantScoreQuery><TermQuery fieldName="contents">mine</TermQuery></ConstantScoreQuery>'
    assert _ids(searchers, xml2) == {4, 5}


def test_span_query(searchers):
    # killed/died/dead near miner(s)/workers within 8 unordered
    xml = """<SpanNear fieldName="contents" slop="8" inOrder="false">
      <SpanOr>
        <SpanTerm>killed</SpanTerm><SpanTerm>died</SpanTerm><SpanTerm>dead</SpanTerm>
      </SpanOr>
      <SpanOrTerms>miner miners workers</SpanOrTerms>
    </SpanNear>"""
    assert _ids(searchers, xml) == {5}


def test_span_not_and_first(searchers):
    xml = """<SpanNot fieldName="contents">
      <Include><SpanTerm>bank</SpanTerm></Include>
      <Exclude><SpanNear slop="0" inOrder="true">
        <SpanTerm>sumitomo</SpanTerm><SpanTerm>bank</SpanTerm>
      </SpanNear></Exclude>
    </SpanNot>"""
    assert _ids(searchers, xml) == {1, 6}
    xml2 = '<SpanFirst fieldName="contents" end="1"><SpanTerm>fire</SpanTerm></SpanFirst>'
    assert _ids(searchers, xml2) == {4}


def test_span_position_range(searchers):
    xml = """<SpanPositionRange fieldName="contents" start="1" end="3">
      <SpanTerm>killed</SpanTerm>
    </SpanPositionRange>"""
    # 'killed' at position 1 in doc 5, position 5 in doc 4
    assert _ids(searchers, xml) == {5}


def test_boosting_term_in_span_context(searchers):
    xml = """<SpanNear fieldName="contents" slop="6" inOrder="false">
      <SpanTerm>mine</SpanTerm>
      <BoostingTermQuery>killed</BoostingTermQuery>
    </SpanNear>"""
    assert _ids(searchers, xml) == {4, 5}


def test_parse_as_span_equals_query_position(searchers):
    from lucene_spark.search import spans as SP

    sq = XP.parse_span('<SpanTerm fieldName="contents">bank</SpanTerm>')
    got = {
        int(r["doc_id"])
        for r in SP.span_count(searchers["contents"], sq).collect()
    }
    assert got == _ids(searchers, '<SpanTerm fieldName="contents">bank</SpanTerm>')


def test_guards(searchers):
    with pytest.raises(XP.XmlParseError):
        XP.parse('<!DOCTYPE x [<!ENTITY e SYSTEM "file:///etc/passwd">]><TermQuery fieldName="a">&e;</TermQuery>')
    with pytest.raises(XP.XmlParseError):  # SpanNear requires slop
        XP.parse('<SpanNear fieldName="contents"><SpanTerm>a</SpanTerm></SpanNear>')
    with pytest.raises(XP.XmlParseError):
        XP.parse("<NoSuchElement/>")


def test_core_plus_boosting_query(searchers):
    """CorePlusQueriesParser's BoostingQuery (BoostingQueryBuilder.java):
    docs matching the context query stay in the result but score lower by
    the boost factor; docs not matching it keep their base score."""
    xml = """
<BoostingQuery>
  <Query><TermQuery fieldName="contents">bank</TermQuery></Query>
  <BoostQuery boost="0.01">
    <TermQuery fieldName="contents">sumitomo</TermQuery>
  </BoostQuery>
</BoostingQuery>"""
    df = XP.execute(searchers, xml, k=10, default_field="contents")
    rows = {int(r["doc_id"]): float(r["score"]) for r in df.collect()}
    assert set(rows) == {1, 2, 6}  # demoted, not excluded
    assert rows[2] < rows[1] and rows[2] < rows[6]
    # demotion is multiplicative: doc 2's score ~= base * 0.01
    base = {
        int(r["doc_id"]): float(r["score"])
        for r in XP.execute(
            searchers,
            '<TermQuery fieldName="contents">bank</TermQuery>',
            k=10,
            default_field="contents",
        ).collect()
    }
    assert rows[2] == pytest.approx(base[2] * 0.01, rel=1e-6)


def test_core_plus_fuzzy_like_this(searchers):
    """FuzzyLikeThisQueryBuilder: a misspelled term still finds its docs
    through the fuzzified variant expansion."""
    xml = """
<FuzzyLikeThisQuery maxNumTerms="10" minSimilarity="0.5">
  <Field fieldName="contents">mergor</Field>
</FuzzyLikeThisQuery>"""
    assert _ids(searchers, xml) >= {2, 3}


def test_fuzzy_like_this_reads_per_field_attributes(searchers):
    """Reference format (FuzzyLikeThisQueryBuilder.java): minSimilarity
    and prefixLength are read per <Field>, inheriting from the root;
    minSimilarity >= 1 is an edit count (default 2), prefixLength
    defaults to 1. 'margor' is two edits from 'merger'."""
    xml = """
<FuzzyLikeThisQuery maxNumTerms="10" minSimilarity="1" prefixLength="0">
  <Field fieldName="contents" minSimilarity="2">margor</Field>
  <Field fieldName="contents">margor</Field>
</FuzzyLikeThisQuery>"""
    q = XP.parse(xml, default_field="contents")
    assert [f[2:] for f in q.fields] == [(2, 0), (1, 0)]
    bare = XP.parse(
        '<FuzzyLikeThisQuery><Field fieldName="contents">x</Field>'
        "</FuzzyLikeThisQuery>"
    )
    assert bare.fields[0][2:] == (2, 1)  # reference defaults
    two_edits = (
        '<FuzzyLikeThisQuery><Field fieldName="contents" minSimilarity="2">'
        "margor</Field></FuzzyLikeThisQuery>"
    )
    assert _ids(searchers, two_edits) >= {2, 3}
    assert not _ids(searchers, two_edits.replace('"2"', '"1"')) & {2, 3}
    with pytest.raises(XP.XmlParseError):  # edit counts are integers
        XP.parse(two_edits.replace('"2"', '"1.5"'))


def test_like_this_field_names_are_comma_delimited(searchers):
    """Reference format (LikeThisQueryBuilder.java): fieldNames is a
    comma-delimited list. In dict mode every listed field contributes
    terms to one queue, and percentTermsToMatch counts matched clauses
    across fields: at 100% only doc 5 holds 'workers' and 'killed' in
    contents AND '19870413' in date."""

    def xml(pct):
        return (
            '<LikeThisQuery fieldNames="contents, date" maxQueryTerms="6" '
            f'percentTermsToMatch="{pct}">workers killed 19870413'
            "</LikeThisQuery>"
        )

    assert XP.parse(xml(30)).fields == ("contents", "date")
    assert _ids(searchers, xml(30)) == {3, 4, 5}
    assert _ids(searchers, xml(100)) == {5}
    single = xml(100).replace("contents, date", "contents")
    assert _ids(searchers, single) == {5}  # workers AND killed
    scores = {
        int(r["doc_id"]): float(r["score"])
        for r in XP.execute(searchers, xml(30), k=10).collect()
    }
    assert max(scores, key=scores.get) == 5


def test_core_plus_like_this_query(searchers):
    """LikeThisQueryBuilder: free text selects interesting index terms
    and matches similar docs with percentTermsToMatch as msm."""
    xml = (
        '<LikeThisQuery fieldNames="contents" maxQueryTerms="6" '
        'percentTermsToMatch="30">workers killed in a mine</LikeThisQuery>'
    )
    got = _ids(searchers, xml)
    assert 5 in got  # the near-duplicate doc
    assert got <= {3, 4, 5}
    with pytest.raises(XP.XmlParseError):
        XP.parse("<BoostingQuery><Query/></BoostingQuery>")


def test_like_this_percent_terms_to_match_is_a_percent(searchers):
    """Reference format (LikeThisQueryBuilder.java): percentTermsToMatch
    is a percentage, default 30 — "30" resolves to the same
    minimum-should-match as the default, "100" requires every term."""
    from lucene_spark.search.extras import like_this_query

    text = "workers killed in a mine"

    def xml(attr):
        return (
            f'<LikeThisQuery fieldNames="contents" maxQueryTerms="6"{attr}>'
            f"{text}</LikeThisQuery>"
        )

    def resolved(attr):
        q = XP.parse(xml(attr), default_field="contents")
        return like_this_query(
            searchers["contents"],
            q.text,
            max_query_terms=q.max_query_terms,
            min_term_freq=q.min_term_freq,
            percent_terms_to_match=q.percent_terms_to_match,
        )

    default, thirty = resolved(""), resolved(' percentTermsToMatch="30"')
    assert thirty == default
    n = len(default.clauses)
    assert n >= 2 and default.minimum_should_match == int(n * 0.3)
    assert resolved(' percentTermsToMatch="100"').minimum_should_match == n
    assert _ids(searchers, xml(' percentTermsToMatch="30"')) == _ids(
        searchers, xml("")
    )


def test_classic_parser_ext_syntax(searchers):
    """queryparser/ext ExtendableQueryParser: field:key:value routes the
    value to the registered extension builder; unregistered keys keep the
    plain field:term parse; ^boost applies to the extension's query."""
    from lucene_spark.search import query as Q
    from lucene_spark.search.queryparser import QueryParser

    calls = []

    def lit_ext(field, raw):
        calls.append((field, raw))
        return Q.TermQuery(field, raw.lower())

    p = QueryParser("contents", extensions={"lit": lit_ext})
    q = p.parse("contents:lit:SUMITOMO")
    assert isinstance(q, Q.TermQuery) and q.term == "sumitomo"
    assert calls == [("contents", "SUMITOMO")]
    # key on the default field
    q2 = p.parse("lit:Bank")
    assert isinstance(q2, Q.TermQuery) and q2.field == "contents"
    assert q2.term == "bank"
    # boost suffix wraps the extension query
    q3 = p.parse("contents:lit:bank^2.5")
    assert isinstance(q3, Q.BoostQuery) and q3.boost == 2.5
    # unregistered key: plain field:term behavior unchanged
    q4 = QueryParser("contents").parse("contents:bank")
    assert isinstance(q4, Q.TermQuery) and q4.term == "bank"
    # quoted values reach the extension raw
    q5 = p.parse('contents:lit:"Bank Rates"')
    assert q5.term == "bank rates"
