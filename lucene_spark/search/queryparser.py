"""Classic query-string parser → Query AST (``queryparser/classic/
QueryParser.jj``, ``QueryParserBase.java``, ``MultiFieldQueryParser.java``).

The classic parser is a configuration of the flexible pipeline
(:mod:`lucene_spark.search.flexible`), so one lexer, one grammar, one
occur resolution and one multi-field expansion serve both. The syntax
(``QueryParser.jj:196-224``) is the shared ``StandardSyntaxParser``:

- occurs: ``+term`` (MUST), ``-term``/``!term``/``NOT term`` (MUST_NOT)
- operators: ``AND``/``&&``, ``OR``/``||`` (default operator OR,
  QueryParser.jj:109)
- ``field:term`` and ``field:( ... )`` (COLON :204), boost ``^2.5``
- quoted phrases ``"a b"`` with slop ``"a b"~2``
- fuzzy ``term~`` / ``term~1``; prefix ``ter*``; wildcard ``t?r*``
- regexp ``/re/``; ranges ``[a TO b]`` / ``{a TO b}``; ``*:*``

What the classic configuration sets:

- processors: ``DEFAULT_PROCESSORS`` without the interval and field-boost
  processors. Two classic hooks join them. The first step rejects the
  flexible-only syntax (``(...)@N``, ``fn:name(...)``), which the classic
  grammar lacks, and routes the ``extensions`` registry. Just before
  analysis, quoted text goes to the overridable ``_field_query``;
- ``MultiFieldQueryParser`` boosts only the copies an unfielded clause
  expands into (MultiFieldQueryParser.getFieldQuery);
- builders: the flexible builder map, plus one entry for hook-built leaves.

Text is analyzed with the SAME analyzer as indexing
(``QueryParserBase.java:439-446`` newFieldQuery): a bare token that
analyzes to several terms becomes an OR; quoted text becomes a
PhraseQuery over the analyzed terms.

The shared pipeline fixes four places where a separate classic grammar
departed from the reference:

- ``title:(a b)`` puts both terms on ``title`` (QueryParser.jj Clause);
- ``*:*`` is MatchAllDocsQuery (QueryParserBase.getWildcardQuery);
- a clause the analyzer empties is dropped, so ``a AND ...`` is ``+a``
  (QueryParserBase.addClause);
- a leading wildcard (``*``, ``*ing``) raises: allowLeadingWildcard
  defaults to false.
"""

from __future__ import annotations

from dataclasses import dataclass

from lucene_spark.analysis.tokenizer import StandardAnalyzer
from lucene_spark.search import flexible as FX
from lucene_spark.search import query as Q
from lucene_spark.search.flexible import QueryParseError

__all__ = ["QueryParser", "QueryParseError"]


@dataclass(frozen=True)
class _BuiltQueryNode(FX.QueryNode):
    """A leaf a classic hook already built into a ``Q.*`` query."""

    query: Q.Query


class _Hook:
    """A processor that applies ``fn(node, config)`` over the tree."""

    def __init__(self, fn):
        self.fn = fn

    def process(self, node, config):
        return FX._map(node, lambda n: self.fn(n, config))


class QueryParser:
    def __init__(
        self,
        default_field: str,
        analyzer: StandardAnalyzer | None = None,
        default_operator: str = "OR",
        extensions: dict | None = None,
    ):
        self.field = default_field
        self.analyzer = analyzer or StandardAnalyzer()
        self.default_operator = default_operator
        #: queryparser/ext ExtendableQueryParser's extension registry:
        #: {key: callable(field, raw_text) -> Query}. Syntax
        #: ``field:key:value`` routes ``value`` (term or quoted) to the
        #: registered key's builder with ``field``; ``key:value`` with a
        #: registered key uses the default field (the reference encodes
        #: the key into the field symbol with an escaped delimiter —
        #: plain-colon spelling here, registered keys take precedence
        #: over same-named fields, documented divergence).
        self.extensions = dict(extensions or {})
        procs = [_Hook(self._classic_syntax)]
        for cls in FX.DEFAULT_PROCESSORS:
            if cls in (FX.IntervalQueryNodeProcessor, FX.BoostQueryNodeProcessor):
                continue
            if cls is FX.AnalyzerQueryNodeProcessor:
                procs.append(_Hook(self._quoted_text))
            multi = cls is FX.MultiFieldQueryNodeProcessor
            procs.append(cls(boost_copies=True) if multi else cls())
        self._flexible = FX.StandardQueryParser(self.analyzer)
        self._flexible.processors = procs
        self._flexible.builders[_BuiltQueryNode] = lambda n, b, c: n.query

    def parse(self, text: str) -> Q.Query:
        cfg = self._flexible.config
        cfg.analyzer, cfg.default_operator = self.analyzer, self.default_operator
        return self._flexible.parse(text, self.field)

    def _classic_syntax(self, n, config):
        if isinstance(n, (FX.MinShouldMatchNode, FX.IntervalFnQueryNode)):
            raise QueryParseError(
                f"{type(n).__name__} is flexible-only syntax "
                "(use flexible.StandardQueryParser)"
            )
        ext = self.extensions
        if isinstance(n, FX.ExtensionQueryNode):
            if n.key not in ext:
                raise QueryParseError(f"no extension registered for {n.key!r}")
            return _BuiltQueryNode(ext[n.key](n.field, n.text))
        if isinstance(n, (FX.FieldQueryNode, FX.QuotedFieldQueryNode)) \
                and n.field in ext:
            return _BuiltQueryNode(ext[n.field](config.default_field, n.text))
        return n

    def _quoted_text(self, n, config):
        if not isinstance(n, FX.QuotedFieldQueryNode):
            return n
        q = self._field_query(n.field, n.text, n.slop)
        if isinstance(q, Q.MatchNoDocsQuery):
            return FX.MatchNoDocsQueryNode()
        return _BuiltQueryNode(q)

    def _field_query(self, field: str, body: str, slop: int) -> Q.Query:
        """Quoted-text factory (the reference's overridable
        ``QueryParser.getFieldQuery(String, String, int)`` — the
        ComplexPhraseQueryParser hook, ComplexPhraseQueryParser.java:85).
        Default: analyze to a PhraseQuery."""
        terms = tuple(self.analyzer.terms(body))
        if not terms:
            return Q.MatchNoDocsQuery()
        if len(terms) == 1:
            return Q.TermQuery(field, terms[0])
        return Q.PhraseQuery(field, terms, slop=slop)


class MultiFieldQueryParser(QueryParser):
    """classic/MultiFieldQueryParser.java:33 — clauses with no explicit
    ``field:`` prefix expand into a SHOULD-boolean over every configured
    field (per-field boosts applied as BoostQuery, :83-104); explicitly
    fielded clauses stay single-field and unboosted. The expansion applies
    to every leaf type (term/prefix/wildcard/fuzzy/range/phrase), exactly
    the set of getXQuery overrides the reference carries."""

    def __init__(self, fields, analyzer=None, boosts=None,
                 default_operator: str = "OR"):
        super().__init__(None, analyzer, default_operator)
        self.fields = tuple(fields)
        self.boosts = dict(boosts or {})

    def parse(self, text: str) -> Q.Query:
        cfg = self._flexible.config
        cfg.multi_fields, cfg.field_boosts = self.fields, self.boosts
        return super().parse(text)
