"""XML query parser — the reference's ``queryparser/xml/CoreParser.java:46``
element DSL compiled onto the engine's Query / Span ASTs.

Element coverage (one builder per reference
``queryparser/xml/builders/*.java``):

- ``<TermQuery fieldName=..>text</TermQuery>``        TermQueryBuilder
- ``<TermsQuery>``  analyzed text -> SHOULD boolean   TermsQueryBuilder
- ``<BooleanQuery>`` + ``<Clause occurs=should|must|mustnot|filter>``
  with ``minimumNumberShouldMatch``                   BooleanQueryBuilder
- ``<RangeQuery lowerTerm/upperTerm includeLower/Upper>``
                                                      RangeQueryBuilder
- ``<PointRangeQuery lowerTerm/upperTerm type=int|long|float|double>``
                                                      PointRangeQueryBuilder
- ``<DisjunctionMaxQuery tieBreaker=..>``             DisjunctionMaxQueryBuilder
- ``<ConstantScoreQuery>``                            ConstantScoreQueryBuilder
- ``<MatchAllDocsQuery/>``                            MatchAllDocsQueryBuilder
- ``<UserQuery>`` classic-syntax text                 UserInputQueryBuilder
- ``<BoostingTermQuery>`` scored term (usable in span context)
                                                      BoostingTermBuilder
- span family: ``SpanTerm``, ``SpanOrTerms`` (analyzed), ``SpanOr``,
  ``SpanNear slop inOrder``, ``SpanNot`` (Include/Exclude),
  ``SpanFirst end``, ``SpanPositionRange start end``  Span*Builder

Every element honors the optional ``boost`` attribute (wrapped as
BoostQuery; span-level boosts only affect ranking, which this module's
executor — the surround/complexphrase span-count convention — does not
weight, documented simplification). ``fieldName`` inherits downward like
the reference's shared field state. A ``SpanNear`` without ``slop``
raises, as the reference's NumberFormatException does; DOCTYPE/ENTITY
declarations are rejected (External-Entity resolving unsupported,
CoreParser's DisallowDoctypeDecl handler) — ``xml.etree`` refuses entity
expansion by design and we reject ``<!DOCTYPE`` explicitly.

CorePlus extras (``queryparser/xml/CorePlusQueriesParser.java`` /
``CorePlusExtensionsParser.java`` — round-5 closes the fence):

- ``<BoostingQuery>`` with ``<Query>`` + ``<BoostQuery boost=..>``
  children (BoostingQueryBuilder): matches the main query; docs also
  matching the context query have their score multiplied by ``boost``
  (default 0.01 — a demotion, never an exclusion);
- ``<FuzzyLikeThisQuery maxNumTerms ignoreTF>`` with ``<Field
  fieldName=.. minSimilarity=.. prefixLength=..>text</Field>`` children
  (FuzzyLikeThisQueryBuilder) -> ``extras.fuzzy_like_this`` per field,
  scores summed across fields. ``minSimilarity`` and ``prefixLength``
  are read per ``<Field>``, inheriting from the root element, with the
  reference defaults 2 and 1;
- ``<LikeThisQuery fieldNames maxQueryTerms minTermFrequency
  percentTermsToMatch>`` free text (LikeThisQueryBuilder): the
  comma-delimited ``fieldNames`` each contribute ``extras.like_this_terms``
  candidates to ONE queue, as the multi-field MoreLikeThis does; the top
  ``maxQueryTerms`` (field, term) pairs form one SHOULD set with the msm
  counted across fields, resolved against the index at execution time
  (term selection needs df stats, exactly why the reference defers to
  rewrite()).

``minSimilarity >= 1`` is an integer edit count, as in the reference; a
fraction below 1 maps through FuzzyQuery's float-to-edits ramp: >= 0.5
-> 1 edit, < 0.5 -> 2 (documented simplification of the length-scaled
formula).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, functions as F

from lucene_spark.search import query as Q
from lucene_spark.search import spans as SP

__all__ = ["XmlParseError", "parse", "parse_span", "execute"]


class XmlParseError(ValueError):
    pass


def _field(el: ET.Element, inherited: str | None) -> str:
    f = el.get("fieldName") or inherited
    if not f:
        raise XmlParseError(f"<{el.tag}> needs fieldName")
    return f


def _boost(el: ET.Element, q: Q.Query) -> Q.Query:
    b = el.get("boost")
    return Q.BoostQuery(q, float(b)) if b else q


def _text(el: ET.Element) -> str:
    return (el.text or "").strip()


def _children(el: ET.Element) -> list[ET.Element]:
    return [c for c in el if isinstance(c.tag, str)]


_OCCURS = {
    "should": Q.Occur.SHOULD,
    "must": Q.Occur.MUST,
    "mustnot": Q.Occur.MUST_NOT,
    "filter": Q.Occur.FILTER,
}


def _analyzer(analyzer):
    if analyzer is None:
        from lucene_spark.analysis.tokenizer import StandardAnalyzer

        analyzer = StandardAnalyzer()
    return analyzer


def _build_query(el: ET.Element, field: str | None, analyzer) -> Q.Query:
    tag = el.tag
    if tag == "TermQuery":
        return _boost(el, Q.TermQuery(_field(el, field), _text(el).lower()))
    if tag == "BoostingTermQuery":
        # scored-by-payload term (payloads/PayloadScoreQuery surface);
        # as a plain query it matches like a TermQuery
        return _boost(el, Q.TermQuery(_field(el, field), _text(el).lower()))
    if tag == "TermsQuery":
        f = _field(el, field)
        terms = _analyzer(analyzer).terms(_text(el))
        return _boost(
            el,
            Q.BooleanQuery.of(should=[Q.TermQuery(f, t) for t in terms])
            if terms
            else Q.MatchNoDocsQuery(),
        )
    if tag == "BooleanQuery":
        f = el.get("fieldName") or field
        clauses = []
        for c in _children(el):
            if c.tag != "Clause":
                raise XmlParseError(f"BooleanQuery child <{c.tag}> != Clause")
            occ = _OCCURS.get(c.get("occurs", "should"))
            if occ is None:
                raise XmlParseError(f"bad occurs={c.get('occurs')!r}")
            subs = _children(c)
            if len(subs) != 1:
                raise XmlParseError("Clause needs exactly one child query")
            clauses.append(
                Q.BooleanClause(_build_query(subs[0], f, analyzer), occ)
            )
        msm = int(el.get("minimumNumberShouldMatch", "0"))
        return _boost(el, Q.BooleanQuery(tuple(clauses), msm))
    if tag == "RangeQuery":
        return _boost(
            el,
            Q.TermRangeQuery(
                _field(el, field),
                el.get("lowerTerm"),
                el.get("upperTerm"),
                include_lower=el.get("includeLower", "true") == "true",
                include_upper=el.get("includeUpper", "true") == "true",
            ),
        )
    if tag == "PointRangeQuery":
        typ = el.get("type", "int")
        conv = float if typ in ("float", "double") else int
        lo, hi = el.get("lowerTerm"), el.get("upperTerm")
        return _boost(
            el,
            Q.PointRangeQuery(
                _field(el, field),
                conv(lo) if lo is not None else None,
                conv(hi) if hi is not None else None,
            ),
        )
    if tag == "DisjunctionMaxQuery":
        subs = [_build_query(c, el.get("fieldName") or field, analyzer)
                for c in _children(el)]
        return _boost(
            el,
            Q.DisjunctionMaxQuery(
                tuple(subs), tie_breaker=float(el.get("tieBreaker", "0.0"))
            ),
        )
    if tag == "ConstantScoreQuery":
        subs = _children(el)
        if len(subs) != 1:
            raise XmlParseError("ConstantScoreQuery needs one child")
        return _boost(
            el,
            Q.ConstantScoreQuery(
                _build_query(subs[0], el.get("fieldName") or field, analyzer)
            ),
        )
    if tag == "MatchAllDocsQuery":
        return _boost(el, Q.MatchAllDocsQuery())
    if tag == "UserQuery":
        from lucene_spark.search.queryparser import QueryParser

        f = el.get("fieldName") or field
        if not f:
            raise XmlParseError("<UserQuery> needs a field")
        return _boost(el, QueryParser(f, analyzer).parse(_text(el)))
    if tag == "BoostingQuery":
        main_el = boost_el = None
        for c in _children(el):
            if c.tag == "Query":
                main_el = c
            elif c.tag == "BoostQuery":
                boost_el = c
        if main_el is None or boost_el is None:
            raise XmlParseError(
                "BoostingQuery needs <Query> and <BoostQuery> children"
            )
        f = el.get("fieldName") or field
        main_subs = _children(main_el)
        ctx_subs = _children(boost_el)
        if len(main_subs) != 1 or len(ctx_subs) != 1:
            raise XmlParseError(
                "BoostingQuery's <Query>/<BoostQuery> need one child each"
            )
        return _boost(
            el,
            _BoostingWrapper(
                _build_query(main_subs[0], f, analyzer),
                _build_query(ctx_subs[0], f, analyzer),
                float(boost_el.get("boost", "0.01")),
            ),
        )
    if tag == "FuzzyLikeThisQuery":
        fields = []
        for c in _children(el):
            if c.tag != "Field":
                raise XmlParseError(
                    f"FuzzyLikeThisQuery child <{c.tag}> != Field"
                )
            # per-<Field> attributes, inheriting from the root element
            min_sim = c.get("minSimilarity") or el.get("minSimilarity") or "2"
            prefix = c.get("prefixLength") or el.get("prefixLength") or "1"
            fields.append(
                (_field(c, field), _text(c), _max_edits(float(min_sim)), int(prefix))
            )
        if not fields:
            raise XmlParseError("FuzzyLikeThisQuery needs >= 1 <Field>")
        return _boost(
            el,
            _FuzzyLikeThisWrapper(
                tuple(fields),
                max_num_terms=int(el.get("maxNumTerms", "50")),
                ignore_tf=el.get("ignoreTF", "false") == "true",
            ),
        )
    if tag == "LikeThisQuery":
        names = el.get("fieldNames")
        return _boost(
            el,
            _LikeThisWrapper(
                tuple(f.strip() for f in names.split(",") if f.strip())
                if names
                else (field,),
                _text(el),
                max_query_terms=int(el.get("maxQueryTerms", "20")),
                min_term_freq=int(el.get("minTermFrequency", "1")),
                # a PERCENT, like LikeThisQueryBuilder (default 30)
                percent_terms_to_match=float(
                    el.get("percentTermsToMatch", "30")
                )
                / 100,
            ),
        )
    if tag in _SPAN_TAGS:
        # span query used in scoring position -> execute() handles it
        return _SpanWrapper(
            _field(el, field), _build_span(el, analyzer)
        )
    raise XmlParseError(f"unknown element <{tag}>")


def _max_edits(min_similarity: float) -> int:
    """FuzzyLikeThis ``minSimilarity`` -> edit distance: >= 1 is an
    integer edit count (FuzzyLikeThisQueryBuilder.java); a fraction maps
    through the >= 0.5 -> 1, < 0.5 -> 2 ramp."""
    if min_similarity >= 1:
        if min_similarity != int(min_similarity):
            raise XmlParseError(
                f"minSimilarity {min_similarity} >= 1 must be an integer edit count"
            )
        return int(min_similarity)
    return 1 if min_similarity >= 0.5 else 2


class _SpanWrapper(Q.Query):
    """A span tree appearing where a Query is expected (the reference's
    SpanQuery IS-A Query; here the executor unwraps it)."""

    def __init__(self, field: str, span: SP.SpanQuery):
        self.field = field
        self.span = span


class _BoostingWrapper(Q.Query):
    """queries/BoostingQuery semantics deferred to the executor: match
    set and base score from ``main``; docs also matching ``context``
    multiply their score by ``boost`` (a demotion for boost < 1)."""

    def __init__(self, main: Q.Query, context: Q.Query, boost: float):
        self.main = main
        self.context = context
        self.boost = boost


class _FuzzyLikeThisWrapper(Q.Query):
    """FuzzyLikeThisQuery element deferred to the executor (variant
    discovery needs the term dictionary). ``fields`` holds one
    (field, text, max_edits, prefix_length) tuple per <Field>."""

    def __init__(self, fields, max_num_terms, ignore_tf):
        self.fields = fields
        self.max_num_terms = max_num_terms
        self.ignore_tf = ignore_tf


class _LikeThisWrapper(Q.Query):
    """LikeThisQuery element deferred to the executor (term selection
    needs df stats — the reference's MoreLikeThisQuery.rewrite role)."""

    def __init__(self, fields, text, max_query_terms, min_term_freq,
                 percent_terms_to_match):
        self.fields = fields
        self.text = text
        self.max_query_terms = max_query_terms
        self.min_term_freq = min_term_freq
        self.percent_terms_to_match = percent_terms_to_match


_SPAN_TAGS = {
    "SpanTerm", "SpanOrTerms", "SpanOr", "SpanNear", "SpanNot",
    "SpanFirst", "SpanPositionRange", "BoostingTermQuery",
}


def _build_span(el: ET.Element, analyzer) -> SP.SpanQuery:
    tag = el.tag
    if tag in ("SpanTerm", "BoostingTermQuery"):
        return SP.SpanTermQuery(_text(el).lower())
    if tag == "SpanOrTerms":
        terms = _analyzer(analyzer).terms(_text(el))
        if not terms:
            return SP.SpanTermQuery("\x00no-terms")
        if len(terms) == 1:
            return SP.SpanTermQuery(terms[0])
        return SP.SpanOrQuery(tuple(SP.SpanTermQuery(t) for t in terms))
    if tag == "SpanOr":
        return SP.SpanOrQuery(
            tuple(_build_span(c, analyzer) for c in _children(el))
        )
    if tag == "SpanNear":
        slop = el.get("slop")
        if slop is None:
            raise XmlParseError("SpanNear requires slop")  # NumberFormatException analog
        return SP.SpanNearQuery(
            tuple(_build_span(c, analyzer) for c in _children(el)),
            slop=int(slop),
            in_order=el.get("inOrder", "true") == "true",
        )
    if tag == "SpanNot":
        incl = excl = None
        for c in _children(el):
            inner = _children(c)
            if c.tag == "Include":
                incl = _build_span(inner[0], analyzer)
            elif c.tag == "Exclude":
                excl = _build_span(inner[0], analyzer)
        if incl is None or excl is None:
            raise XmlParseError("SpanNot needs Include and Exclude")
        return SP.SpanNotQuery(incl, excl)
    if tag == "SpanFirst":
        inner = _children(el)
        return SP.SpanFirstQuery(
            _build_span(inner[0], analyzer), end=int(el.get("end"))
        )
    if tag == "SpanPositionRange":
        inner = _children(el)
        return SP.SpanPositionRangeQuery(
            _build_span(inner[0], analyzer),
            start=int(el.get("start", "0")),
            end=int(el.get("end")),
        )
    raise XmlParseError(f"unknown span element <{tag}>")


def _root(xml_text: str) -> ET.Element:
    if "<!DOCTYPE" in xml_text or "<!ENTITY" in xml_text:
        raise XmlParseError("External Entity resolving unsupported")
    try:
        return ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise XmlParseError(str(e)) from e


def parse(xml_text: str, default_field: str | None = None, analyzer=None):
    """XML -> Query AST (span roots wrap into a query-position node)."""
    return _build_query(_root(xml_text), default_field, analyzer)


def parse_span(xml_text: str, default_field: str | None = None, analyzer=None):
    """XML -> SpanQuery (the reference CoreParser.parseAsSpanQuery)."""
    el = _root(xml_text)
    if el.tag not in _SPAN_TAGS:
        raise XmlParseError(f"<{el.tag}> is not a span element")
    return _build_span(el, analyzer)


# ---- execution (match sets + surround-style span-count ranking) ------------


def _exec(searchers, q: Q.Query, default_field: str | None) -> DataFrame:
    if isinstance(q, _SpanWrapper):
        s = _searcher_for(searchers, q.field)
        return SP.span_count(s, q.span).select(
            "doc_id", F.col("n_spans").cast("double").alias("score")
        )
    if isinstance(q, _BoostingWrapper):
        main = _exec(searchers, q.main, default_field)
        ctx = _exec(searchers, q.context, default_field).select("doc_id")
        # left join: context matches DEMOTE (multiply), never exclude
        return (
            main.alias("m")
            .join(ctx.withColumn("_hit", F.lit(1)).alias("c"), "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("_hit").isNotNull(),
                       F.col("score") * F.lit(q.boost))
                .otherwise(F.col("score"))
                .alias("score"),
            )
        )
    if isinstance(q, _FuzzyLikeThisWrapper):
        from lucene_spark.search.extras import fuzzy_like_this

        parts = []
        for f, text, max_edits, prefix_length in q.fields:
            s = _searcher_for(searchers, f or default_field)
            parts.append(
                fuzzy_like_this(
                    s,
                    text,
                    k=1 << 30,
                    max_edits=max_edits,
                    prefix_length=prefix_length,
                    max_num_terms=q.max_num_terms,
                    ignore_tf=q.ignore_tf,
                ).select("doc_id", F.col("score").cast("double").alias("score"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.groupBy("doc_id").agg(F.sum("score").alias("score"))
    if isinstance(q, _LikeThisWrapper):
        from lucene_spark.search.extras import like_this_terms

        # multi-field MoreLikeThis: every listed field's candidates rank
        # in ONE queue (tf desc, df asc, like extras.like_this_query), the
        # top max_query_terms (field, term) pairs form one SHOULD set, and
        # the minimum-should-match counts clauses across fields
        by_field = {}
        for f in q.fields:
            s = _searcher_for(searchers, f or default_field)
            by_field.setdefault(s.index.config.field_name, s)
        ranked = sorted(
            (-tf, df, fld, t)
            for fld, s in by_field.items()
            for tf, df, t in like_this_terms(s, q.text, q.min_term_freq)
        )[: q.max_query_terms]
        if not ranked:
            return s.index.docs.select(
                "doc_id", F.lit(0.0).alias("score")
            ).limit(0)
        msm = max(1, int(len(ranked) * q.percent_terms_to_match))
        u = None
        for _, _, fld, t in ranked:
            part = by_field[fld].scored(Q.TermQuery(fld, t))
            u = part if u is None else u.unionByName(part)
        # SHOULD-sum as _scored_boolean: double accumulation, one float round
        agg = u.groupBy("doc_id").agg(
            F.sum(F.col("score").cast("double")).alias("s"),
            F.count("*").alias("n"),
        )
        return agg.filter(F.col("n") >= msm).select(
            "doc_id", F.col("s").cast("float").cast("double").alias("score")
        )
    if isinstance(q, (Q.BoostQuery, Q.ConstantScoreQuery)):
        b = float(getattr(q, "boost", 1.0))
        inner = _exec(searchers, q.query, default_field)
        return inner.select(
            "doc_id", (F.col("score") * F.lit(b)).alias("score")
        )
    if isinstance(q, Q.BooleanQuery):
        required, optional, negated = [], [], []
        for c in q.clauses:
            part = _exec(searchers, c.query, default_field)
            if c.occur is Q.Occur.MUST_NOT:
                negated.append(part)
            elif c.occur in (Q.Occur.MUST, Q.Occur.FILTER):
                required.append(part)
            else:
                optional.append(part)
        if required:
            out = required[0]
            for p in required[1:]:
                out = (
                    out.alias("l").join(p.alias("r"), "doc_id")
                    .select("doc_id",
                            (F.col("l.score") + F.col("r.score")).alias("score"))
                )
            for p in optional:
                out = (
                    out.alias("l").join(p.alias("r"), "doc_id", "left_outer")
                    .select("doc_id",
                            (F.col("l.score")
                             + F.coalesce(F.col("r.score"), F.lit(0.0))
                             ).alias("score"))
                )
        elif optional:
            u = optional[0]
            for p in optional[1:]:
                u = u.unionByName(p)
            out = u.groupBy("doc_id").agg(F.sum("score").alias("score"))
            if q.minimum_should_match > 1:
                cnt = u.groupBy("doc_id").agg(F.count("*").alias("n"))
                out = out.join(
                    cnt.filter(F.col("n") >= q.minimum_should_match)
                    .select("doc_id"),
                    "doc_id",
                )
        else:
            raise XmlParseError("pure-negative boolean matches nothing")
        for p in negated:
            out = out.join(p.select("doc_id"), "doc_id", "left_anti")
        return out
    # plain leaf
    field = getattr(q, "field", None) or getattr(q, "column", None)
    s = _searcher_for(searchers, field or default_field)
    return s.matches(q).select("doc_id", F.lit(1.0).alias("score"))


def _searcher_for(searchers, field):
    if isinstance(searchers, dict):
        if field not in searchers:
            raise XmlParseError(f"no index for field {field!r}")
        return searchers[field]
    return searchers


def scored(searchers, xml_text: str, default_field: str | None = None,
           analyzer=None) -> DataFrame:
    """Parse + plan an XML query -> UNRANKED (doc_id, score).

    The pre-top-k plan, exposed so ``IndexSearcher.search_many`` can batch
    N parsed queries into one ranked Spark job."""
    if default_field is None and not isinstance(searchers, dict):
        default_field = searchers.index.config.field_name
    ast = parse(xml_text, default_field, analyzer)
    return _exec(searchers, ast, default_field)


def execute(searchers, xml_text: str, k: int = 10,
            default_field: str | None = None, analyzer=None) -> DataFrame:
    """Parse + run an XML query -> top-k (doc_id, score)."""
    return (
        scored(searchers, xml_text, default_field, analyzer)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
