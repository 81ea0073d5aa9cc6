"""Flexible (standard) query parser — the reference's node-based parser
framework (``queryparser/flexible/standard/StandardQueryParser.java:116``,
``core/QueryParserHelper.java``) re-expressed as the same three-stage
pipeline it defines:

1. **StandardSyntaxParser** (``standard/parser/StandardSyntaxParser.jj``):
   pure syntax -> QueryNode tree. No analysis, no config — exactly the
   reference's split. It is the repo's one query-syntax grammar: the
   classic ``QueryParser`` parses with it too (``queryparser.py``). It
   reads the classic syntax plus the flexible additions: min-should-match
   groups ``(blue crab fish)@2``, interval functions
   ``fn:ordered(quick brown fox)`` (nestable, field-prefixable), regexp
   ``/re/``, ``*:*`` match-all, and ``field:key:value`` extension calls
   (``ExtensionQueryNode``; only the classic configuration builds them).
2. **Processor pipeline**
   (``standard/processors/StandardQueryNodeProcessorPipeline.java:48-69``):
   an ordered, user-editable LIST of tree transforms — the extension hook
   the flexible framework exists for. Each processor mirrors its reference
   namesake (wildcard split, multi-field expansion, fuzzy defaults,
   match-all, open ranges, points config, leading-wildcard gate, analysis,
   phrase slop, boolean->modifier resolution, empty-node removal, boost).
3. **StandardQueryTreeBuilder** (``standard/builders/...``): a node-class ->
   builder-function MAP (second extension hook) producing the engine's
   ``Q.*`` AST; interval functions build ``Q.IntervalQuery`` leaves that
   compose inside BooleanQuery like the reference's IntervalQuery.

What a migrating user gets: ``StandardQueryParser().parse(text, field)``
with ``set_multi_fields``, ``set_field_boosts``, ``set_points_config``,
``set_default_operator``, ``set_allow_leading_wildcard``,
``set_fuzzy_defaults``, ``set_phrase_slop`` — the CommonQueryParser
Configuration surface — plus ``parser.processors`` / ``parser.builders``
to extend, which is the part the classic parser cannot do.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field, replace

from lucene_spark.analysis.tokenizer import StandardAnalyzer
from lucene_spark.search import intervals as IV
from lucene_spark.search import query as Q

__all__ = [
    "StandardQueryParser",
    "StandardQueryConfigHandler",
    "StandardSyntaxParser",
    "QueryParseError",
]


class QueryParseError(ValueError):
    pass


# ---------------------------------------------------------------- nodes
# standard/nodes/*.java + core/nodes/*.java — one dataclass per node kind
# the pipeline distinguishes. field=None == "unfielded" (multi-field /
# default-field expansion decides later, like the reference's
# MultiFieldQueryNodeProcessor).


@dataclass(frozen=True)
class QueryNode:
    pass


@dataclass(frozen=True)
class FieldQueryNode(QueryNode):
    field: str | None
    text: str


@dataclass(frozen=True)
class QuotedFieldQueryNode(QueryNode):
    field: str | None
    text: str
    slop: int | None = None


@dataclass(frozen=True)
class PhraseQueryNode(QueryNode):  # post-analysis quoted node
    field: str | None
    terms: tuple[str, ...]
    slop: int = 0


@dataclass(frozen=True)
class FuzzyQueryNode(QueryNode):
    field: str | None
    term: str
    max_edits: int | None = None  # None -> FuzzyConfig default


@dataclass(frozen=True)
class WildcardQueryNode(QueryNode):
    field: str | None
    pattern: str


@dataclass(frozen=True)
class PrefixWildcardQueryNode(QueryNode):
    field: str | None
    prefix: str


@dataclass(frozen=True)
class RegexpQueryNode(QueryNode):
    field: str | None
    pattern: str


@dataclass(frozen=True)
class TermRangeQueryNode(QueryNode):
    field: str | None
    lower: str | None
    upper: str | None
    include_lower: bool
    include_upper: bool


@dataclass(frozen=True)
class PointRangeQueryNode(QueryNode):
    field: str
    lower: float | int | None
    upper: float | int | None
    include_lower: bool
    include_upper: bool


@dataclass(frozen=True)
class MatchAllDocsQueryNode(QueryNode):
    pass


@dataclass(frozen=True)
class MatchNoDocsQueryNode(QueryNode):
    pass


@dataclass(frozen=True)
class IntervalFnQueryNode(QueryNode):
    """A raw ``fn:name(args)`` call tree; the IntervalQueryNodeProcessor
    analyzes term arguments and folds it to ``source``."""

    field: str | None
    name: str
    args: tuple  # str | int | float | IntervalFnQueryNode | ("quoted", str)
    source: object | None = None  # IV.IntervalsSource after processing


@dataclass(frozen=True)
class ExtensionQueryNode(QueryNode):
    """``field:key:value``: the ExtendableQueryParser call syntax
    (``queryparser/ext/ExtendableQueryParser.java``); ``text`` is the raw
    value (a quoted value's body), never analyzed."""

    field: str
    key: str
    text: str


@dataclass(frozen=True)
class GroupQueryNode(QueryNode):
    child: QueryNode


@dataclass(frozen=True)
class BooleanQueryNode(QueryNode):
    """Flat clause list straight out of the syntax parser: per-item occur
    override (+/-/NOT) and the conjunction written BEFORE item i+1."""

    items: tuple  # tuple[(occur_override: str|None, QueryNode), ...]
    conj: tuple  # tuple[str, ...], len == len(items) - 1 ("AND"/"OR"/None)


@dataclass(frozen=True)
class ModifierQueryNode(QueryNode):  # core/nodes/ModifierQueryNode.java
    child: QueryNode
    modifier: str  # "MUST" | "SHOULD" | "MUST_NOT"


@dataclass(frozen=True)
class ResolvedBooleanQueryNode(QueryNode):
    children: tuple  # tuple[ModifierQueryNode, ...]
    min_should_match: int = 0


@dataclass(frozen=True)
class MinShouldMatchNode(QueryNode):  # standard/nodes/MinShouldMatchNode.java
    child: QueryNode
    min_match: int


@dataclass(frozen=True)
class BoostQueryNode(QueryNode):
    child: QueryNode
    boost: float


# ------------------------------------------------------------- the lexer

_LEX = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<and>AND\b|&&)
  | (?P<or>OR\b|\|\|)
  | (?P<not>NOT\b)
  | (?P<plus>\+)
  | (?P<minus>-)
  | (?P<bang>!)
  | (?P<quoted>"(?P<qbody>[^"]*)"(?:~(?P<qslop>\d+))?)
  | (?P<regex>/(?P<rbody>[^/]+)/)
  | (?P<range>(?P<rlo_b>[\[{])\s*(?P<rlo>[^\s\]}]+)\s+TO\s+(?P<rhi>[^\s\]}]+)\s*(?P<rhi_b>[\]}]))
  | (?P<fn>fn:(?P<fname>[A-Za-z]+)\()
  | (?P<atmsm>@(?P<msmn>\d+))
  | (?P<term>[^\s()+\-!^~:"][^\s()^~:"]*)
  | (?P<colon>:)
  | (?P<carat>\^(?P<boostv>[0-9]+(?:\.[0-9]+)?))
  | (?P<tilde>~(?P<fuzzn>[0-9]*))
    """,
    re.VERBOSE,
)

_OUTER = (
    "lparen", "rparen", "and", "or", "not", "plus", "minus", "bang",
    "quoted", "regex", "range", "fn", "atmsm", "term", "colon", "carat",
    "tilde",
)


@dataclass
class _Tok:
    kind: str
    text: str
    m: re.Match


def _lex(s: str) -> list[_Tok]:
    out, i = [], 0
    while i < len(s):
        m = _LEX.match(s, i)
        if not m:
            raise QueryParseError(f"cannot lex at {i}: {s[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        for outer in _OUTER:
            if m.group(outer) is not None:
                kind = outer
                break
        out.append(_Tok(kind, m.group(0), m))
    return out


# ----------------------------------------------------- the syntax parser


class StandardSyntaxParser:
    """Pure syntax -> QueryNode tree (StandardSyntaxParser.jj). Knows
    nothing about analyzers, fields configs or query classes."""

    def parse(self, text: str) -> QueryNode:
        toks = _lex(text)
        node, rest = self._expr(toks)
        if rest:
            raise QueryParseError(f"trailing input: {[t.text for t in rest]}")
        return node

    def _expr(self, toks):
        items, conj = [], []
        pending = None
        while toks:
            t = toks[0]
            if t.kind == "rparen":
                break
            if t.kind in ("and", "or"):
                pending = "AND" if t.kind == "and" else "OR"
                toks = toks[1:]
                continue
            occur = None
            if t.kind == "plus":
                occur, toks = "MUST", toks[1:]
            elif t.kind in ("minus", "bang", "not"):
                occur, toks = "MUST_NOT", toks[1:]
            if not toks:
                raise QueryParseError("dangling operator")
            node, toks = self._clause(toks)
            if items:
                conj.append(pending)
            pending = None
            items.append((occur, node))
        if not items:
            raise QueryParseError("empty query")
        if len(items) == 1 and items[0][0] is None:
            return items[0][1], toks
        return BooleanQueryNode(tuple(items), tuple(conj)), toks

    def _fn_args(self, toks):
        """Arguments inside fn:name( ... ) up to the matching rparen."""
        args = []
        while toks:
            t = toks[0]
            if t.kind == "rparen":
                return tuple(args), toks[1:]
            if t.kind == "fn":
                inner, toks = self._fn_args(toks[1:])
                args.append(
                    IntervalFnQueryNode(None, t.m.group("fname"), inner)
                )
                continue
            if t.kind == "quoted":
                args.append(("quoted", t.m.group("qbody")))
                toks = toks[1:]
                continue
            if t.kind == "term":
                args.append(t.text)
                toks = toks[1:]
                continue
            if t.kind == "minus":  # negative numbers in args
                if len(toks) > 1 and toks[1].kind == "term":
                    args.append("-" + toks[1].text)
                    toks = toks[2:]
                    continue
            raise QueryParseError(f"unexpected token in fn args: {t.text!r}")
        raise QueryParseError("unterminated fn:(...)")

    def _clause(self, toks):
        field = None
        if toks[0].kind == "term" and len(toks) >= 2 and toks[1].kind == "colon":
            field, toks = toks[0].text, toks[2:]
            if not toks:
                raise QueryParseError(f"dangling field '{field}:'")
        t = toks[0]
        if (field and t.kind == "term" and len(toks) >= 3
                and toks[1].kind == "colon" and toks[2].kind in ("term", "quoted")):
            v = toks[2]
            raw = v.m.group("qbody") if v.kind == "quoted" else v.text
            node, toks = ExtensionQueryNode(field, t.text, raw), toks[3:]
        elif t.kind == "fn":
            args, toks = self._fn_args(toks[1:])
            node = IntervalFnQueryNode(field, t.m.group("fname"), args)
        elif t.kind == "lparen":
            inner, rest = self._expr(toks[1:])
            if not rest or rest[0].kind != "rparen":
                raise QueryParseError("unbalanced parenthesis")
            toks = rest[1:]
            node = GroupQueryNode(_refield(inner, field) if field else inner)
            # (a b c)@2 — MinShouldMatchNode (StandardSyntaxParser.jj
            # MinShouldMatchNode production)
            if toks and toks[0].kind == "atmsm":
                node = MinShouldMatchNode(node, int(toks[0].m.group("msmn")))
                toks = toks[1:]
        elif t.kind == "quoted":
            node = QuotedFieldQueryNode(
                field,
                t.m.group("qbody"),
                int(t.m.group("qslop")) if t.m.group("qslop") else None,
            )
            toks = toks[1:]
        elif t.kind == "regex":
            node, toks = RegexpQueryNode(field, t.m.group("rbody")), toks[1:]
        elif t.kind == "range":
            lo, hi = t.m.group("rlo"), t.m.group("rhi")
            node = TermRangeQueryNode(
                field,
                lo,
                hi,
                include_lower=t.m.group("rlo_b") == "[",
                include_upper=t.m.group("rhi_b") == "]",
            )
            toks = toks[1:]
        elif t.kind == "term":
            raw = t.text
            toks = toks[1:]
            if toks and toks[0].kind == "tilde":
                n = toks[0].m.group("fuzzn")
                node = FuzzyQueryNode(field, raw, int(n) if n else None)
                toks = toks[1:]
            else:
                node = FieldQueryNode(field, raw)
        else:
            raise QueryParseError(f"unexpected token {t.text!r}")
        if toks and toks[0].kind == "carat":
            node = BoostQueryNode(node, float(toks[0].m.group("boostv")))
            toks = toks[1:]
        return node, toks


def _refield(node: QueryNode, field: str) -> QueryNode:
    """Push a ``field:(...)`` prefix down to unfielded leaves."""
    if hasattr(node, "field") and getattr(node, "field") is None:
        node = replace(node, field=field)
    for name in ("child",):
        if hasattr(node, name):
            node = replace(node, **{name: _refield(getattr(node, name), field)})
    if isinstance(node, BooleanQueryNode):
        node = replace(
            node,
            items=tuple((o, _refield(c, field)) for o, c in node.items),
        )
    if isinstance(node, GroupQueryNode):
        node = replace(node, child=_refield(node.child, field))
    return node


# ----------------------------------------------------------- the config


@dataclass
class StandardQueryConfigHandler:
    """standard/config/StandardQueryConfigHandler.java — the mutable
    configuration the processors consult."""

    analyzer: object = None  # StandardAnalyzer-compatible
    default_field: str | None = None
    default_operator: str = "OR"
    multi_fields: tuple[str, ...] | None = None
    field_boosts: dict = dc_field(default_factory=dict)
    fuzzy_max_edits: int = 2  # FuzzyConfig
    points_config: dict = dc_field(default_factory=dict)  # field -> "long"|"double"
    allow_leading_wildcard: bool = False
    phrase_slop: int = 0
    interval_pivot: float = 1.0

    def __post_init__(self):
        if self.analyzer is None:
            self.analyzer = StandardAnalyzer()


# -------------------------------------------------------- the processors
# Each mirrors its StandardQueryNodeProcessorPipeline namesake; a
# processor is `process(node, config) -> node` applied top-down via _map.


def _map(node: QueryNode, fn) -> QueryNode:
    """Apply ``fn`` bottom-up over the tree."""
    if isinstance(node, BooleanQueryNode):
        node = replace(
            node, items=tuple((o, _map(c, fn)) for o, c in node.items)
        )
    elif isinstance(node, ResolvedBooleanQueryNode):
        node = replace(node, children=tuple(_map(c, fn) for c in node.children))
    elif isinstance(node, (GroupQueryNode, ModifierQueryNode,
                           MinShouldMatchNode, BoostQueryNode)):
        node = replace(node, child=_map(node.child, fn))
    return fn(node)


class WildcardQueryNodeProcessor:
    """FieldQueryNode with * or ? -> Prefix/WildcardQueryNode, lowercased
    (WildcardQueryNodeProcessor.java)."""

    def process(self, node, config):
        def fn(n):
            if isinstance(n, FieldQueryNode) and ("*" in n.text or "?" in n.text):
                low = n.text.lower()
                if n.text == "*" and n.field == "*":
                    return n  # *:* handled by MatchAllDocs processor
                if (
                    low.endswith("*")
                    and "*" not in low[:-1]
                    and "?" not in low
                    and len(low) > 1
                ):
                    return PrefixWildcardQueryNode(n.field, low[:-1])
                return WildcardQueryNode(n.field, low)
            return n

        return _map(node, fn)


class MultiFieldQueryNodeProcessor:
    """Unfielded leaves expand over config.multi_fields into a SHOULD
    group (MultiFieldQueryNodeProcessor.java); otherwise the default
    field applies.

    ``boost_copies`` is set by the classic ``MultiFieldQueryParser``:
    config.field_boosts then go on the expanded copies only, and
    explicitly fielded clauses stay unboosted
    (classic/MultiFieldQueryParser.java:83-104). The standard parser
    leaves it off and boosts every node of a boosted field in
    BoostQueryNodeProcessor."""

    _LEAves = (
        FieldQueryNode, QuotedFieldQueryNode, FuzzyQueryNode,
        WildcardQueryNode, PrefixWildcardQueryNode, RegexpQueryNode,
        TermRangeQueryNode, IntervalFnQueryNode,
    )

    def __init__(self, boost_copies: bool = False):
        self.boost_copies = boost_copies

    def process(self, node, config):
        fields = config.multi_fields
        boosts = config.field_boosts if self.boost_copies else {}

        def copy(n, f):
            n = replace(n, field=f)
            return BoostQueryNode(n, float(boosts[f])) if boosts.get(f) else n

        def fn(n):
            if isinstance(n, self._LEAves) and n.field is None:
                if not fields:
                    return replace(n, field=config.default_field)
                per = tuple(copy(n, f) for f in fields)
                if len(per) == 1:
                    return per[0]
                return BooleanQueryNode(
                    tuple((None, p) for p in per), ("OR",) * (len(per) - 1)
                )
            return n

        return _map(node, fn)


class FuzzyQueryNodeProcessor:
    """Apply FuzzyConfig defaults (FuzzyQueryNodeProcessor.java)."""

    def process(self, node, config):
        def fn(n):
            if isinstance(n, FuzzyQueryNode) and n.max_edits is None:
                return replace(n, max_edits=config.fuzzy_max_edits)
            return n

        return _map(node, fn)


class MatchAllDocsQueryNodeProcessor:
    """``*:*`` -> MatchAllDocsQueryNode (MatchAllDocsQueryNodeProcessor)."""

    def process(self, node, config):
        def fn(n):
            if (
                isinstance(n, (FieldQueryNode, WildcardQueryNode))
                and n.field == "*"
                and getattr(n, "text", getattr(n, "pattern", None)) == "*"
            ):
                return MatchAllDocsQueryNode()
            return n

        return _map(node, fn)


class OpenRangeQueryNodeProcessor:
    """'*' endpoints become open (OpenRangeQueryNodeProcessor.java)."""

    def process(self, node, config):
        def fn(n):
            if isinstance(n, TermRangeQueryNode):
                lo = None if n.lower == "*" else n.lower
                hi = None if n.upper == "*" else n.upper
                if (lo, hi) != (n.lower, n.upper):
                    return replace(n, lower=lo, upper=hi)
            return n

        return _map(node, fn)


class PointQueryNodeProcessor:
    """Fields registered in config.points_config turn term ranges AND
    bare terms into numeric point ranges (PointQueryNodeProcessor.java +
    PointRangeQueryNodeProcessor.java)."""

    def process(self, node, config):
        pts = config.points_config

        def conv(field, v):
            if v is None:
                return None
            return int(v) if pts[field] == "long" else float(v)

        def fn(n):
            f = getattr(n, "field", None)
            if f in pts:
                if isinstance(n, TermRangeQueryNode):
                    return PointRangeQueryNode(
                        f, conv(f, n.lower), conv(f, n.upper),
                        n.include_lower, n.include_upper,
                    )
                if isinstance(n, FieldQueryNode):
                    v = conv(f, n.text)
                    return PointRangeQueryNode(f, v, v, True, True)
            return n

        return _map(node, fn)


class AllowLeadingWildcardProcessor:
    """Reject leading-* patterns unless allowed
    (AllowLeadingWildcardProcessor.java)."""

    def process(self, node, config):
        def fn(n):
            if (
                not config.allow_leading_wildcard
                and isinstance(n, WildcardQueryNode)
                and n.pattern[:1] in ("*", "?")
            ):
                raise QueryParseError(
                    f"leading wildcard not allowed: {n.pattern!r} "
                    "(set_allow_leading_wildcard)"
                )
            return n

        return _map(node, fn)


class AnalyzerQueryNodeProcessor:
    """Analyze FieldQueryNode text and quoted phrases
    (AnalyzerQueryNodeProcessor.java): one term stays a term, several
    become an OR group (bare) or a PhraseQueryNode (quoted), zero becomes
    MatchNoDocs (removed by the empty-node processor when nested)."""

    def process(self, node, config):
        an = config.analyzer

        def fn(n):
            if isinstance(n, FieldQueryNode):
                terms = an.terms(n.text)
                if not terms:
                    return MatchNoDocsQueryNode()
                if len(terms) == 1:
                    return replace(n, text=terms[0])
                sub = tuple(
                    (None, FieldQueryNode(n.field, t)) for t in terms
                )
                return BooleanQueryNode(sub, ("OR",) * (len(sub) - 1))
            if isinstance(n, QuotedFieldQueryNode):
                terms = tuple(an.terms(n.text))
                if not terms:
                    return MatchNoDocsQueryNode()
                return PhraseQueryNode(n.field, terms, n.slop or 0)
            if isinstance(n, FuzzyQueryNode):
                return replace(n, term=n.term.lower())
            return n

        return _map(node, fn)


class DefaultPhraseSlopQueryNodeProcessor:
    """Phrases with no explicit slop get config.phrase_slop
    (DefaultPhraseSlopQueryNodeProcessor.java)."""

    def process(self, node, config):
        def fn(n):
            if isinstance(n, QuotedFieldQueryNode) and n.slop is None:
                return replace(n, slop=config.phrase_slop)
            return n

        return _map(node, fn)


class BooleanQuery2ModifierNodeProcessor:
    """Resolve AND/OR conjunctions + explicit +/-/NOT into per-clause
    modifiers (BooleanQuery2ModifierNodeProcessor.java — classic occur
    semantics: AND promotes both neighbours to MUST; with default
    operator AND, bare clauses are MUST unless OR-joined)."""

    def process(self, node, config):
        default_and = config.default_operator.upper() == "AND"

        def fn(n):
            if not isinstance(n, BooleanQueryNode):
                return n
            items, conj = n.items, n.conj
            occurs = []
            for i, (ov, _) in enumerate(items):
                if ov is not None:
                    occurs.append(ov)
                    continue
                left = conj[i - 1] if i > 0 else None
                right = conj[i] if i < len(conj) else None
                eff_l = left or ("AND" if default_and else "OR")
                eff_r = right or ("AND" if default_and else "OR")
                is_and = (i > 0 and eff_l == "AND") or (
                    i < len(conj) and eff_r == "AND"
                )
                occurs.append("MUST" if is_and else "SHOULD")
            return ResolvedBooleanQueryNode(
                tuple(
                    ModifierQueryNode(c, o)
                    for o, (_, c) in zip(occurs, items)
                )
            )

        return _map(node, fn)


class RemoveEmptyNonLeafQueryNodeProcessor:
    """Drop MatchNoDocs children from booleans; collapse empty booleans
    (RemoveEmptyNonLeafQueryNodeProcessor.java +
    BooleanSingleChildOptimizationQueryNodeProcessor.java). A boosted
    MatchNoDocs is empty too, as the reference's handleBoost keeps a null
    query null."""

    def process(self, node, config):
        def fn(n):
            if isinstance(n, BoostQueryNode) and isinstance(
                n.child, MatchNoDocsQueryNode
            ):
                return n.child
            if isinstance(n, ResolvedBooleanQueryNode):
                kept = tuple(
                    c for c in n.children
                    if not isinstance(c.child, MatchNoDocsQueryNode)
                )
                if not kept:
                    return MatchNoDocsQueryNode()
                if len(kept) == 1 and kept[0].modifier == "SHOULD" and \
                        n.min_should_match <= 1:
                    return kept[0].child
                return replace(n, children=kept)
            if isinstance(n, GroupQueryNode):
                return n.child
            if isinstance(n, MinShouldMatchNode):
                child = n.child
                if isinstance(child, ResolvedBooleanQueryNode):
                    if any(c.modifier != "SHOULD" for c in child.children):
                        raise QueryParseError(
                            "@N applies only to pure disjunctions "
                            "(MinShouldMatchNode.java)"
                        )
                    return replace(child, min_should_match=n.min_match)
                raise QueryParseError("@N needs a boolean group")
            return n

        return _map(node, fn)


class IntervalQueryNodeProcessor:
    """Fold raw fn-call trees into IntervalsSource values, analyzing term
    arguments (IntervalQueryNodeProcessor.java + nodes/intervalfn/*).
    Supported functions mirror the intervalfn package; unknown names
    raise with the supported list."""

    _NUM_FIRST = {"atleast", "maxgaps", "maxwidth"}

    def process(self, node, config):
        an = config.analyzer

        def term_src(text):
            terms = an.terms(text)
            if len(terms) != 1:
                raise QueryParseError(
                    f"interval term {text!r} analyzes to {len(terms)} tokens"
                )
            return IV.Term(terms[0])

        def arg_src(a):
            if isinstance(a, IntervalFnQueryNode):
                return build(a)
            if isinstance(a, tuple) and a and a[0] == "quoted":
                terms = an.terms(a[1])
                if not terms:
                    raise QueryParseError("empty quoted interval arg")
                return IV.Phrase(*terms)
            return term_src(a)

        def build(n: IntervalFnQueryNode):
            name = n.name.lower()
            args = n.args
            if name in self._NUM_FIRST:
                if not args or not re.fullmatch(r"-?\d+", str(args[0])):
                    raise QueryParseError(f"fn:{n.name} needs a leading int")
                k = int(args[0])
                rest = [arg_src(a) for a in args[1:]]
                if name == "atleast":
                    return IV.AtLeast(k, *rest)
                if len(rest) != 1:
                    raise QueryParseError(f"fn:{n.name} takes one source")
                return (IV.MaxGaps if name == "maxgaps" else IV.MaxWidth)(
                    k, rest[0]
                )
            srcs = [arg_src(a) for a in args]
            if name == "ordered":
                return IV.Ordered(*srcs)
            if name == "unordered":
                return IV.Unordered(*srcs)
            if name == "phrase":
                flat = []
                for s in srcs:
                    if isinstance(s, IV.Term):
                        flat.append(s.term)
                    elif isinstance(s, IV.Phrase):
                        flat.extend(s.terms)
                    else:
                        raise QueryParseError("fn:phrase takes terms")
                return IV.Phrase(*flat)
            if name == "or":
                return IV.Or(*srcs)
            if name in ("containing", "containedby", "notcontaining",
                        "notcontainedby", "nonoverlapping", "overlapping",
                        "before", "after", "within", "notwithin"):
                if len(srcs) != 2:
                    raise QueryParseError(f"fn:{n.name} takes two sources")
                a, b = srcs
                return {
                    "containing": lambda: IV.Containing(a, b),
                    "containedby": lambda: IV.ContainedBy(a, b),
                    "notcontaining": lambda: IV.NotContaining(a, b),
                    "notcontainedby": lambda: IV.NotContainedBy(a, b),
                    "nonoverlapping": lambda: IV.NonOverlapping(a, b),
                    "overlapping": lambda: IV.Overlapping(a, b),
                    "before": lambda: IV.Before(a, b),
                    "after": lambda: IV.After(a, b),
                    # within(x, n, y) is not in this subset; the 2-arg
                    # containedBy approximation is NOT offered — raise
                    "within": lambda: _unsupported(n.name),
                    "notwithin": lambda: _unsupported(n.name),
                }[name]()
            if name == "extend":
                if len(args) != 3:
                    raise QueryParseError("fn:extend(src before after)")
                return IV.Extend(arg_src(args[0]), int(args[1]), int(args[2]))
            if name == "wildcard":
                if len(args) != 1:
                    raise QueryParseError("fn:wildcard(pattern)")
                return IV.Wildcard(str(args[0]).lower())
            if name == "prefix":
                if len(args) != 1:
                    raise QueryParseError("fn:prefix(term)")
                return IV.Prefix(str(args[0]).lower())
            _unsupported(n.name)

        def _unsupported(name):
            raise QueryParseError(
                f"unsupported interval function fn:{name} (supported: "
                "ordered unordered phrase or atLeast maxgaps maxwidth "
                "containing containedBy notContaining notContainedBy "
                "nonOverlapping overlapping before after extend wildcard "
                "prefix)"
            )

        def fn(n):
            if isinstance(n, IntervalFnQueryNode) and n.source is None:
                return replace(n, source=build(n))
            return n

        return _map(node, fn)


class BoostQueryNodeProcessor:
    """Per-field boosts from config.field_boosts
    (BoostQueryNodeProcessor.java + FieldBoostMapFCListener.java)."""

    def process(self, node, config):
        boosts = config.field_boosts
        if not boosts:
            return node

        def fn(n):
            f = getattr(n, "field", None)
            if f in boosts and not isinstance(n, BoostQueryNode):
                return BoostQueryNode(n, float(boosts[f]))
            return n

        return _map(node, fn)


DEFAULT_PROCESSORS = (
    WildcardQueryNodeProcessor,
    MultiFieldQueryNodeProcessor,
    FuzzyQueryNodeProcessor,
    MatchAllDocsQueryNodeProcessor,
    OpenRangeQueryNodeProcessor,
    PointQueryNodeProcessor,
    AllowLeadingWildcardProcessor,
    DefaultPhraseSlopQueryNodeProcessor,
    AnalyzerQueryNodeProcessor,
    BooleanQuery2ModifierNodeProcessor,
    RemoveEmptyNonLeafQueryNodeProcessor,
    IntervalQueryNodeProcessor,
    BoostQueryNodeProcessor,
)


# ----------------------------------------------------------- the builders


def _build_boolean(node, built, config):
    must, should, must_not = [], [], []
    for mod in node.children:
        q = built(mod.child)
        {"MUST": must, "SHOULD": should, "MUST_NOT": must_not}[mod.modifier
                                                               ].append(q)
    return Q.BooleanQuery.of(
        must=tuple(must),
        should=tuple(should),
        must_not=tuple(must_not),
        minimum_should_match=node.min_should_match,
    )


def default_builders() -> dict:
    """standard/builders/StandardQueryTreeBuilder.java — the node-class ->
    builder map. Extend or override entries to change what a node builds
    (the reference's QueryBuilder extension hook)."""

    return {
        FieldQueryNode: lambda n, b, c: Q.TermQuery(n.field, n.text),
        PhraseQueryNode: lambda n, b, c: (
            Q.TermQuery(n.field, n.terms[0])
            if len(n.terms) == 1
            else Q.PhraseQuery(n.field, n.terms, slop=n.slop)
        ),
        FuzzyQueryNode: lambda n, b, c: Q.FuzzyQuery(
            n.field, n.term, max_edits=n.max_edits
        ),
        PrefixWildcardQueryNode: lambda n, b, c: Q.PrefixQuery(
            n.field, n.prefix
        ),
        WildcardQueryNode: lambda n, b, c: Q.WildcardQuery(n.field, n.pattern),
        RegexpQueryNode: lambda n, b, c: Q.RegexpQuery(n.field, n.pattern),
        TermRangeQueryNode: lambda n, b, c: Q.TermRangeQuery(
            n.field, n.lower, n.upper, n.include_lower, n.include_upper
        ),
        PointRangeQueryNode: lambda n, b, c: Q.PointRangeQuery(
            n.field, n.lower, n.upper, n.include_lower, n.include_upper
        ),
        MatchAllDocsQueryNode: lambda n, b, c: Q.MatchAllDocsQuery(),
        MatchNoDocsQueryNode: lambda n, b, c: Q.MatchNoDocsQuery(),
        IntervalFnQueryNode: lambda n, b, c: Q.IntervalQuery(
            n.field, n.source, pivot=c.interval_pivot
        ),
        ResolvedBooleanQueryNode: _build_boolean,
        BoostQueryNode: lambda n, b, c: Q.BoostQuery(b(n.child), n.boost),
        GroupQueryNode: lambda n, b, c: b(n.child),
    }


# ------------------------------------------------------------- the helper


class StandardQueryParser:
    """QueryParserHelper assembly (StandardQueryParser.java:116): syntax
    parser + processor pipeline + tree builder, each independently
    replaceable. ``processors`` is an ordered list of processor INSTANCES
    and ``builders`` a node-class -> function dict — both plain Python
    collections callers mutate to extend the parser, which is the
    flexible framework's reason to exist."""

    def __init__(self, analyzer=None):
        self.config = StandardQueryConfigHandler(analyzer=analyzer)
        self.syntax_parser = StandardSyntaxParser()
        self.processors = [cls() for cls in DEFAULT_PROCESSORS]
        self.builders = default_builders()

    # --- CommonQueryParserConfiguration surface
    def set_default_operator(self, op: str):
        self.config.default_operator = op

    def set_multi_fields(self, fields):
        self.config.multi_fields = tuple(fields)

    def set_field_boosts(self, boosts: dict):
        self.config.field_boosts = dict(boosts)

    def set_points_config(self, points: dict):
        """{field: "long"|"double"} — PointsConfigListener.java."""
        self.config.points_config = dict(points)

    def set_allow_leading_wildcard(self, allowed: bool):
        self.config.allow_leading_wildcard = allowed

    def set_fuzzy_defaults(self, max_edits: int):
        self.config.fuzzy_max_edits = max_edits

    def set_phrase_slop(self, slop: int):
        self.config.phrase_slop = slop

    # --- QueryParserHelper.parse
    def parse(self, text: str, default_field: str | None = None) -> Q.Query:
        self.config.default_field = default_field
        tree = self.syntax_parser.parse(text)
        for proc in self.processors:
            tree = proc.process(tree, self.config)
        return self._build(tree)

    def _build(self, node: QueryNode) -> Q.Query:
        fn = self.builders.get(type(node))
        if fn is None:
            raise QueryParseError(
                f"no builder registered for {type(node).__name__}"
            )
        return fn(node, self._build, self.config)
