"""Higher-level search operators over the index tables.

Covers the reference's satellite-module surface (SURVEY §2.6b/§2.8b):
suggest (FSTCompletion analog), MoreLikeThis, FunctionScoreQuery,
QueryRescorer, DrillSideways, and a positions-based highlighter — each as a
plain DataFrame plan so Catalyst handles pushdown/broadcast/pruning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from lucene_spark.analysis.sql import sql_tokens
from lucene_spark.search import query as Q
from lucene_spark.search.searcher import IndexSearcher

__all__ = [
    "suggest",
    "scored_term_set",
    "more_like_this",
    "function_score",
    "rescore",
    "drill_sideways",
    "highlight_term",
]

F32 = np.float32

#: BooleanQuery.TooManyClauses bound (default 1024) — the same guard the
#: complexPhrase/surround expansions enforce: scored_term_set collects the
#: term column to the driver to build an isin pushdown, so an unbounded
#: terms_df would be a driver-side collect of arbitrary size.
MAX_TERM_SET = 1024


def suggest(
    searcher: IndexSearcher, prefix: str, n: int = 10, field: str | None = None
) -> DataFrame:
    """Prefix autocomplete: dictionary terms ranked by popularity (df), the
    role of suggest/FSTCompletion.java:48 — here a pure term-dictionary scan
    that parquet min/max stats prune to the prefix range. ``field`` defaults
    to the index's configured field (termstats is field-tagged on
    multi-field indexes; an unfiltered scan would return per-field
    duplicates)."""
    fld = field or searcher.index.config.field_name
    return (
        searcher.index.termstats.filter(
            (F.col("field") == fld) & F.col("term").startswith(prefix)
        )
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def scored_term_set(
    searcher: IndexSearcher, terms_df: DataFrame, field: str | None = None
) -> DataFrame:
    """BM25-score an arbitrary *DataFrame* of (term, weight:float) rows as a
    big SHOULD: per-(doc, term) score = w - w/(1 + freq*invNorm) with the
    weight coming from the joined column, then per-doc double-sum → float32.

    The vectorized path for large disjunctions (MultiTermQuery
    SCORING_BOOLEAN_REWRITE, MultiTermQuery.java:80-103): the term list is
    data, not plan nodes, so thousand-term expansions stay one broadcast
    join instead of a thousand-way union.
    """
    field = field or searcher.index.config.field_name
    rows = terms_df.select("term").limit(MAX_TERM_SET + 1).collect()
    if len(rows) > MAX_TERM_SET:
        raise ValueError(
            f"scored_term_set: terms_df holds more than {MAX_TERM_SET} "
            "terms (TooManyClauses semantics) — pre-rank and limit the "
            "expansion (e.g. by df or weight) before scoring"
        )
    terms = [r["term"] for r in rows]
    d = searcher._decoded(field, F.col("term").isin(terms))
    joined = d.join(F.broadcast(terms_df), "term")
    inv = F.element_at(
        searcher._cache_col[field], F.col("norm").cast("int") + F.lit(1)
    )
    w = F.col("weight").cast("float")
    one = F.lit(1.0).cast("float")
    denom = one + F.col("freq").cast("float") * inv
    per_term = (w - (w / denom).cast("float")).cast("float")
    return (
        joined.select("doc_id", per_term.alias("s"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("s").cast("double")).cast("float").alias("score"))
    )


def interesting_terms(
    searcher: IndexSearcher, doc_id: int, max_terms: int = 8
) -> DataFrame:
    """MoreLikeThis term selection (queries/mlt/MoreLikeThis.java): the
    doc's terms ranked by (tf desc, df asc, term asc) — an integer-only
    deterministic stand-in for tf·idf ranking (idf is monotone in 1/df, so
    within equal tf the order is identical)."""
    idx = searcher.index
    cfg = idx.config
    doc = idx.docs.filter(F.col("doc_id") == doc_id)
    toks = doc.select(
        F.explode(
            sql_tokens(F.col(cfg.text_col), cfg.max_token_length)
        ).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    return (
        tf.join(idx.termstats.select("term", "df"), "term")
        .orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
        .limit(max_terms)
    )


def more_like_this(
    searcher: IndexSearcher, doc_id: int, max_terms: int = 8, k: int = 10
) -> DataFrame:
    """Find docs similar to doc_id: select its interesting terms, score them
    as one weighted SHOULD, exclude the source doc, top-k."""
    fs = searcher.index.fieldstats[searcher.index.config.field_name]
    sel = interesting_terms(searcher, doc_id, max_terms)
    dc = F.lit(float(fs.doc_count))
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (dc - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    terms_df = sel.select("term", idf.cast("float").alias("weight"))
    scored = scored_term_set(searcher, terms_df)
    return (
        scored.filter(F.col("doc_id") != doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def like_this_terms(
    searcher: IndexSearcher, text: str, min_term_freq: int = 1
) -> list[tuple[int, int, str]]:
    """MoreLikeThis term candidates of free TEXT in the searcher's field:
    ``(tf, df, term)`` for every analyzed term with tf >= min_term_freq
    that exists in the index (df > 0). One term-dictionary lookup."""
    from collections import Counter

    an = searcher.index.config.analyzer
    tf = Counter(an.terms(text) if an else _std_terms(text))
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    if len(cand) > MAX_TERM_SET:
        raise ValueError(
            f"like_this_query: text yields {len(cand)} candidate terms "
            f"(cap {MAX_TERM_SET}) — trim the input"
        )
    stats = (
        searcher.index.termstats.filter(
            (F.col("field") == searcher.index.config.field_name)
            & F.col("term").isin(cand)
        )
        .select("term", "df")
        .collect()
    )
    return [(tf[r["term"]], int(r["df"]), r["term"]) for r in stats]


def like_this_query(
    searcher: IndexSearcher,
    text: str,
    max_query_terms: int = 20,
    min_term_freq: int = 1,
    percent_terms_to_match: float = 0.3,
) -> Q.Query:
    """MoreLikeThisQuery built from free TEXT (queries/mlt/
    MoreLikeThisQuery.java:38, the CorePlus ``<LikeThisQuery>`` element's
    target): analyze the text, keep terms with tf >= min_term_freq that
    exist in the index (:func:`like_this_terms`), rank (tf desc, df asc,
    term asc) like :func:`interesting_terms`, take ``max_query_terms``,
    and return a SHOULD boolean with minimumNumberShouldMatch =
    ``percent_terms_to_match * n_terms`` (MoreLikeThisQuery.java:66).
    Scoring is the engine's BM25 SHOULD sum — the reference's unboosted
    MoreLikeThis default."""
    ranked = sorted(
        (-tf, df, t) for tf, df, t in like_this_terms(searcher, text, min_term_freq)
    )[:max_query_terms]
    sel = [t for _, _, t in ranked]
    if not sel:
        return Q.MatchNoDocsQuery()
    msm = int(len(sel) * percent_terms_to_match)
    f = searcher.index.config.field_name
    return Q.BooleanQuery.of(
        should=tuple(Q.TermQuery(f, t) for t in sel),
        minimum_should_match=msm,
    )


def _std_terms(text: str) -> list[str]:
    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    return StandardAnalyzer().terms(text)


def function_score(
    searcher: IndexSearcher, query: Q.Query, expr: str
) -> DataFrame:
    """FunctionScoreQuery (queries/function/FunctionScoreQuery.java:44):
    match set from the query, score from an arbitrary SQL expression over
    the docs table (the expressions-module JavascriptCompiler analog —
    Spark SQL expressions are the compiled form)."""
    m = searcher.matches(query)
    return (
        searcher.index.docs.join(m, "doc_id", "semi")
        .select("doc_id", F.expr(expr).cast("double").alias("score"))
    )


def expression_score(
    searcher: IndexSearcher, query: Q.Query, expr: str
) -> DataFrame:
    """FunctionScoreQuery driven by a COMPILED expression with ``_score``
    bound to the wrapped query's BM25 score — the full
    JavascriptCompiler + SimpleBindings shape
    (``expressions/js/JavascriptCompiler.java:105``,
    ``expressions/SimpleBindings.java``; FunctionScoreQuery.java:44
    ``boostByValue``/expression rewrites). The expression string uses the
    JS-like grammar (``search/expressions.py``) and compiles to ONE
    codegen Column; free names resolve to docs-table columns."""
    from lucene_spark.search.expressions import compile_expression

    scored = searcher.scored(query)
    col = compile_expression(expr, {"_score": F.col("score").cast("double")})
    return (
        searcher.index.docs.join(scored, "doc_id")
        .select("doc_id", col.cast("double").alias("score"))
    )


def rescore(
    searcher: IndexSearcher,
    query: Q.Query,
    window: int = 50,
    expr: str = "0.0",
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """QueryRescorer (search/QueryRescorer.java): re-rank the top `window`
    first-pass hits with qw*score + rw*expr(docs columns), then top-k."""
    first = searcher.search(query, k=window)
    joined = first.join(searcher.index.docs, "doc_id")
    new_score = (
        F.lit(float(query_weight)) * F.col("score").cast("double")
        + F.lit(float(rescore_weight)) * F.expr(expr).cast("double")
    )
    return (
        joined.select("doc_id", new_score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def drill_sideways(
    searcher: IndexSearcher,
    base: Q.Query,
    filters: dict[str, object],
    dim: str,
) -> DataFrame:
    """DrillSideways (facet/DrillSideways.java): counts for `dim` computed
    with every OTHER drill-down filter applied but `dim`'s own filter off —
    'what would this facet show if I hadn't clicked it'."""
    m = searcher.matches(base)
    docs = searcher.index.docs.join(m, "doc_id", "semi")
    for col, val in filters.items():
        if col == dim:
            continue
        docs = docs.filter(val if isinstance(val, Column) else F.col(col) == val)
    return docs.groupBy(dim).agg(F.count("*").alias("cnt"))


def highlight_term(
    searcher: IndexSearcher, term: str, window: int = 2, k: int = 10
) -> DataFrame:
    """Positions-backed snippet extraction (UnifiedHighlighter.java:96
    analog): top-k docs for the term, snippet = +-window tokens around the
    FIRST occurrence, straight from the postings' position lists (no
    re-analysis of the stored text for locating the hit)."""
    cfg = searcher.index.config
    field = cfg.field_name
    top = searcher.search(Q.TermQuery(field, term), k=k)
    pos = (
        searcher._decoded(field, F.col("term") == term, with_positions=True)
        .select("doc_id", F.element_at("positions", 1).alias("first_pos"))
    )
    toks = sql_tokens(F.col(cfg.text_col), cfg.max_token_length)
    return (
        top.join(pos, "doc_id")
        .join(searcher.index.docs, "doc_id")
        .select(
            "doc_id",
            "score",
            "first_pos",
            F.concat_ws(
                " ",
                F.slice(
                    toks,
                    F.greatest(F.col("first_pos") - window, F.lit(0)) + 1,
                    2 * window + 1,
                ),
            ).alias("snippet"),
        )
    )


def phrase_wildcard(
    searcher: IndexSearcher,
    slots: "list[str]",
    slop: int = 0,
    max_expansions: int = 128,
    k: int = 10,
) -> DataFrame:
    """PhraseWildcardQuery (``sandbox/.../PhraseWildcardQuery.java``):
    a phrase where slots may be multi-term patterns (``*``/``?``
    wildcards). Each pattern slot expands against the term dictionary
    (capped like MultiTermQuery's 1024-clause limit, here
    `max_expansions`), then the phrase runs as a MultiPhraseQuery — the
    reference's own evaluation strategy (segment-based term expansion,
    then phrase matching over the unioned postings)."""
    from lucene_spark.search.searcher import _wildcard_to_regex

    expanded: list[tuple[str, ...]] = []
    for slot in slots:
        if "*" in slot or "?" in slot:
            rx = "^" + _wildcard_to_regex(slot) + "$"
            terms = [
                r["term"]
                for r in searcher.index.termstats.filter(
                    F.col("term").rlike(rx)
                )
                .select("term")
                .orderBy("term")
                .limit(max_expansions)
                .collect()
            ]
            if not terms:
                return searcher.index.docs.select("doc_id").limit(0).select(
                    "doc_id", F.lit(0.0).cast("float").alias("score")
                )
            expanded.append(tuple(terms))
        else:
            expanded.append((slot,))
    q = Q.MultiPhraseQuery(
        searcher.index.config.field_name, tuple(expanded), slop=slop
    )
    return searcher.search(q, k=k)


def taxonomy_counts(
    searcher: IndexSearcher,
    query: Q.Query,
    path_cols: list[str],
    sep: str = "/",
) -> DataFrame:
    """Hierarchical (taxonomy) facet counts
    (``facet/taxonomy/TaxonomyReader.java``, ``FastTaxonomyFacetCounts``):
    every match contributes a count to EVERY ancestor node of its category
    path. The taxonomy tree is implicit in the path columns (level i's
    node = the `sep`-joined prefix of length i+1); counting = explode the
    prefix array + one groupBy — no side taxonomy index needed, the
    ordinal->path role is played by the path string itself."""
    m = searcher.matches(query)
    docs = searcher.index.docs.join(m, "doc_id", "semi")
    prefixes = F.array(
        *[
            F.concat_ws(sep, *[F.col(c) for c in path_cols[: i + 1]])
            for i in range(len(path_cols))
        ]
    )
    return (
        docs.select(F.explode(prefixes).alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("cnt"))
    )


def taxonomy_associations(
    searcher: IndexSearcher,
    query: Q.Query,
    path_cols: list[str],
    value_col: str,
    sep: str = "/",
) -> DataFrame:
    """Association facets (``facet/taxonomy/TaxonomyFacetIntAssociations
    .java`` / ``TaxonomyFacetFloatAssociations.java``, AssociationAggregation
    SUM): every match contributes its per-doc association VALUE — not just
    a count — to every ancestor node of its category path. Same implicit
    taxonomy as ``taxonomy_counts`` (the path prefix plays the ordinal),
    one explode + one groupBy, aggregating count and value sum together."""
    m = searcher.matches(query)
    docs = searcher.index.docs.join(m, "doc_id", "semi")
    prefixes = F.array(
        *[
            F.concat_ws(sep, *[F.col(c) for c in path_cols[: i + 1]])
            for i in range(len(path_cols))
        ]
    )
    return (
        docs.select(F.explode(prefixes).alias("path"), F.col(value_col))
        .groupBy("path")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col(value_col).cast("long")).alias("assoc_sum"),
        )
    )


def suggest_infix(
    searcher: IndexSearcher, fragment: str, n: int = 10, field: str | None = None
) -> DataFrame:
    """Infix completion (``suggest/analyzing/AnalyzingInfixSuggester.java:82``
    role): dictionary terms CONTAINING the typed fragment anywhere, ranked
    by popularity (df) with prefix matches ranked first — the reference
    boosts exact-prefix hits the same way. Pure term-dictionary scan,
    filtered to one field (multi-field termstats carry per-field rows)."""
    fld = field or searcher.index.config.field_name
    starts = F.col("term").startswith(fragment).cast("int")
    return (
        searcher.index.termstats.filter(
            (F.col("field") == fld) & F.col("term").contains(fragment)
        )
        .select("term", "df", starts.alias("is_prefix"))
        .orderBy(F.desc("is_prefix"), F.desc("df"), F.asc("term"))
        .limit(n)
        .select("term", "df", "is_prefix")
    )


def suggest_fuzzy(
    searcher: IndexSearcher, prefix: str, n: int = 10, max_edits: int = 1
) -> DataFrame:
    """Fuzzy completion (``suggest/analyzing/FuzzySuggester.java``,
    AnalyzingSuggester family): dictionary terms whose length-|prefix|
    head is within `max_edits` Levenshtein of the typed prefix, ranked by
    popularity (df) like the FST weights. Pure term-dictionary scan."""
    p = prefix
    head = F.substring(F.col("term"), 1, len(p))
    pred = F.col("term").startswith(p) | (
        F.levenshtein(head, F.lit(p)) <= max_edits
    )
    fld = searcher.index.config.field_name
    return (
        searcher.index.termstats.filter((F.col("field") == fld) & pred)
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def sorted_index_topk(
    searcher: IndexSearcher,
    query: Q.Query,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
) -> DataFrame:
    """Index-sort early termination
    (``index/IndexWriterConfig.java:475`` setIndexSort +
    ``TopFieldCollector`` early exit): when the docs table is maintained
    sorted by the query sort, top-k = broadcast-semi-filter the sorted
    scan and stop after k rows — Spark's LocalLimit short-circuits each
    task's scan, so full-match-set sorting never happens. The caller
    provides the sorted layout via ``optimize_for_sort`` (or a sorted
    save); this plan is correct on any layout but early-terminates only
    on a sorted one."""
    sorted_docs = getattr(searcher.index, "_sorted_docs", {}).get(sort_col)
    if sorted_docs is None:
        sorted_docs = searcher.index.docs.orderBy(
            F.col(sort_col).asc() if ascending else F.col(sort_col).desc(),
            F.col("doc_id").asc(),
        )
    m = searcher.matches(query)
    return (
        sorted_docs.join(F.broadcast(m), "doc_id", "semi")
        .select("doc_id", sort_col)
        .limit(k)
    )


def optimize_for_sort(index, sort_col: str, ascending: bool = False) -> None:
    """Maintain a sort-ordered docs layout for early-terminating top-k
    (the setIndexSort analog: segments persisted in Sort order)."""
    order = [
        F.col(sort_col).asc() if ascending else F.col(sort_col).desc(),
        F.col("doc_id").asc(),
    ]
    layout = index.docs.orderBy(*order).persist()
    layout.count()
    if not hasattr(index, "_sorted_docs"):
        index._sorted_docs = {}
    index._sorted_docs[sort_col] = layout


def highlight_passages(
    searcher: IndexSearcher,
    terms: list[str],
    k: int = 5,
    passage_len: int = 10,
) -> DataFrame:
    """Passage-ranked highlighting (``uhighlight/UnifiedHighlighter.java:96``,
    ``FieldHighlighter``): for the query's top-k docs, split the stored
    text into fixed `passage_len`-token passages (the BreakIterator break
    policy, with fixed windows as our deterministic boundary rule), score
    each passage as the sum of matched terms' float32 idf weights
    (PassageScorer's term-weighted scoring), and return each doc's best
    passage with its token snippet.

    Offsets come from re-analysis of the stored text — the reference's
    OffsetSource.ANALYSIS path, chosen when offsets are not stored in
    postings — executed JVM-side via the SQL tokenizer expressions.

    Output: (doc_id, score, passage_idx, passage_score, snippet).
    """
    from pyspark.sql import Window as _W

    cfg = searcher.index.config
    field = cfg.field_name
    if len(terms) == 1:
        q: Q.Query = Q.TermQuery(field, terms[0])
    else:
        q = Q.BooleanQuery.of(should=[Q.TermQuery(field, t) for t in terms])
    top = searcher.search(q, k=k)
    fs = searcher.index.fieldstats[field]
    ctx = searcher._resolve_stats(q)
    weights = {
        t: float(
            searcher.sim.idf(
                ctx.term_stats.get((field, t), (0, 0))[0], fs.doc_count
            )
        )
        for t in terms
    }
    w_col = F.lit(0.0)
    for t, wv in weights.items():
        w_col = F.when(F.col("tok") == t, F.lit(wv)).otherwise(w_col)
    toks = (
        searcher.index.docs.join(F.broadcast(top), "doc_id")
        .select(
            "doc_id",
            "score",
            F.posexplode(
                sql_tokens(F.col(cfg.text_col), cfg.max_token_length)
            ).alias("pos", "tok"),
        )
        .withColumn("passage_idx", F.floor(F.col("pos") / passage_len).cast("int"))
    )
    passages = toks.groupBy("doc_id", "score", "passage_idx").agg(
        F.sum(w_col.cast("double")).cast("float").alias("passage_score"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("snippet"),
    )
    best = _W.partitionBy("doc_id").orderBy(
        F.desc("passage_score"), F.asc("passage_idx")
    )
    return (
        passages.filter(F.col("passage_score") > 0)
        .withColumn("_rk", F.row_number().over(best))
        .filter(F.col("_rk") == 1)
        .select("doc_id", "score", "passage_idx", "passage_score", "snippet")
    )


def _decode_offset_rows(batches):
    """Postings blocks -> one row per occurrence:
    (term, doc_id, start_off, end_off). Needs blocks built with
    ``IndexConfig.with_offsets=True``."""
    import numpy as np
    import pandas as pd

    from lucene_spark.index import forutil

    for pdf in batches:
        if len(pdf) == 0:
            continue
        terms, docs, s_off, e_off = [], [], [], []
        for row in pdf.itertuples(index=False):
            d = forutil.delta_decode(row.first_doc, forutil.for_decode(row.doc_gaps))
            f = forutil.pfor_decode(row.freqs).astype(np.int64)
            flat = forutil.for_decode(row.offsets).astype(np.int64)
            if len(flat) != 2 * int(f.sum()):
                raise ValueError(
                    "postings carry no stored offsets — build the index "
                    "with IndexConfig(with_offsets=True)"
                )
            pairs = flat.reshape(-1, 2)
            rep = np.repeat(d, f)
            terms.append(np.full(len(rep), row.term, dtype=object))
            docs.append(rep)
            s_off.append(pairs[:, 0])
            e_off.append(pairs[:, 1])
        if not terms:
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(terms),
                "doc_id": np.concatenate(docs),
                "start_off": np.concatenate(s_off).astype(np.int64),
                "end_off": np.concatenate(e_off).astype(np.int64),
            }
        )


def highlight_postings(
    searcher: IndexSearcher,
    terms: list[str],
    k: int = 5,
    passage_chars: int = 80,
) -> DataFrame:
    """POSTINGS-offset-source highlighting
    (``uhighlight/UnifiedHighlighter.java:96`` with
    ``OffsetSource.POSTINGS``): match offsets come from the index blocks —
    the stored text of the top-k docs is NEVER re-tokenized at query time
    (contrast ``highlight_passages``, the ANALYSIS offset source).

    Passages are fixed character windows of ``passage_chars`` (our
    deterministic BreakIterator stand-in); each hit contributes its term's
    float32 idf weight to its passage (PassageScorer term weighting);
    the snippet is a plain substring slice of the stored text.

    Output: (doc_id, score, passage_idx, passage_score, snippet).
    """
    from pyspark.sql import Window as _W

    cfg = searcher.index.config
    field = cfg.field_name
    if len(terms) == 1:
        q: Q.Query = Q.TermQuery(field, terms[0])
    else:
        q = Q.BooleanQuery.of(should=[Q.TermQuery(field, t) for t in terms])
    top = searcher.search(q, k=k)
    fs = searcher.index.fieldstats[field]
    ctx = searcher._resolve_stats(q)
    weights = {
        t: float(
            searcher.sim.idf(
                ctx.term_stats.get((field, t), (0, 0))[0], fs.doc_count
            )
        )
        for t in terms
    }
    w_col = F.lit(0.0)
    for t, wv in weights.items():
        w_col = F.when(F.col("term") == t, F.lit(wv)).otherwise(w_col)
    occ_schema = "term string, doc_id long, start_off long, end_off long"
    occ = (
        searcher._blocks(field, F.col("term").isin(list(terms)))
        .select("term", "first_doc", "doc_gaps", "freqs", "offsets")
        .mapInPandas(_decode_offset_rows, schema=occ_schema)
        .join(F.broadcast(top), "doc_id")
        .withColumn(
            "passage_idx",
            F.floor(F.col("start_off") / F.lit(passage_chars)).cast("int"),
        )
    )
    passages = occ.groupBy("doc_id", "score", "passage_idx").agg(
        F.sum(w_col.cast("double")).cast("float").alias("passage_score")
    )
    best = _W.partitionBy("doc_id").orderBy(
        F.desc("passage_score"), F.asc("passage_idx")
    )
    ranked = (
        passages.withColumn("_rk", F.row_number().over(best))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return ranked.join(searcher.index.docs, "doc_id").select(
        "doc_id",
        "score",
        "passage_idx",
        "passage_score",
        F.substring(
            F.col(cfg.text_col),
            (F.col("passage_idx") * passage_chars + 1).cast("int"),
            passage_chars,
        ).alias("snippet"),
    )


def combined_field_topk(
    fields: "dict[str, tuple]",
    term: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """CombinedFieldQuery (sandbox/search/CombinedFieldQuery.java:79):
    score a term across several indexed fields as if they were ONE field.

    ``fields``: {field_name: (InvertedIndex, int_weight)} — all indexes
    built over the same docs/doc_id space. Pseudo-field semantics:

    - per-doc freq  = sum_f w_f * freq_f          (integer, exact)
    - per-doc len   = sum_f w_f * field_len_f     (integer, exact)
    - sum_ttf       = sum_f w_f * sum_ttf_f ; doc_count = max_f doc_count_f
    - df            = max_f df_f  (blended pseudo-term statistics)
    - BM25 on (freq, byte4(len)) with the usual float32 op order; the norm
      lookup is a broadcast join against the 256-row byte4 floor table, so
      the whole plan stays JVM-side.
    """
    import numpy as np

    from lucene_spark.analysis.sql import sql_norm_byte
    from lucene_spark.search.similarity import BM25Similarity

    F32 = np.float32
    sim = BM25Similarity(k1=k1, b=b)
    items = list(fields.items())

    doc_count = max(idx.fieldstats[f].doc_count for f, (idx, _) in items)
    sum_ttf = sum(
        w * idx.fieldstats[f].sum_total_term_freq for f, (idx, w) in items
    )
    # blended df = max over fields, resolved in ONE job: union the (tiny)
    # per-field termstats lookups instead of collect()-ing each
    df_parts = [
        idx.termstats.filter(F.col("term") == term).select(
            F.col("df").cast("long").alias("df")
        )
        for _, (idx, _w) in items
    ]
    df_u = df_parts[0]
    for p in df_parts[1:]:
        df_u = df_u.unionByName(p)
    row = df_u.agg(F.max("df").alias("df")).collect()[0]
    df_blend = int(row["df"] or 0)

    freq_parts, len_parts = [], []
    for f, (idx, w) in items:
        searcher = IndexSearcher(idx)
        d = searcher._decoded(f, F.col("term") == term)
        freq_parts.append(
            d.select("doc_id", (F.col("freq") * F.lit(w)).alias("wf"))
        )
        len_parts.append(
            idx.doclens.select(
                "doc_id", (F.col("length") * F.lit(w)).alias("wl")
            )
        )
    freqs = freq_parts[0]
    for p in freq_parts[1:]:
        freqs = freqs.unionByName(p)
    freqs = freqs.groupBy("doc_id").agg(F.sum("wf").alias("freq"))
    lens = len_parts[0]
    for p in len_parts[1:]:
        lens = lens.unionByName(p)
    lens = lens.groupBy("doc_id").agg(F.sum("wl").alias("clen"))

    avgdl = F32(sum_ttf / float(doc_count))
    idf = sim.idf(df_blend, doc_count)
    w_scalar = float(F32(idf))
    inv_cache = sim.norm_inv_cache(avgdl)
    # combined length re-quantizes through the byte4 staircase as a pure
    # expression (searchsorted over the 256 floors; SmallFloat.java:103-157)
    # + a literal-array inverse-norm lookup — no join, stays in codegen
    inv_lit = F.lit([float(x) for x in inv_cache]).cast("array<float>")
    with_norm = (
        freqs.join(lens, "doc_id")
        .withColumn("_nb", sql_norm_byte(F.col("clen")))
        .withColumn("inv", F.element_at(inv_lit, F.col("_nb") + F.lit(1)))
    )
    wc = F.lit(w_scalar).cast("float")
    one = F.lit(1.0).cast("float")
    denom = one + F.col("freq").cast("float") * F.col("inv")
    score = (wc - (wc / denom).cast("float")).cast("float")
    return (
        with_norm.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def interval_within(
    searcher: IndexSearcher,
    term_a: str,
    term_b: str,
    width: int,
    ordered: bool = True,
) -> DataFrame:
    """Minimal interval matching (queries/intervals package, simplified to
    the two-term core): docs where term_b occurs within `width` positions
    of term_a — ordered (a before b) or unordered; n_windows counts the
    a-occurrences with a qualifying partner. Pure position-join plan
    (the same equi/range-join family as the phrase operators)."""
    field = searcher.index.config.field_name
    a = (
        searcher._decoded(field, F.col("term") == term_a, with_positions=True)
        .select("doc_id", F.explode("positions").alias("pa"))
    )
    b = (
        searcher._decoded(field, F.col("term") == term_b, with_positions=True)
        .select("doc_id", F.explode("positions").alias("pb"))
    )
    if ordered:
        cond = (F.col("pb") > F.col("pa")) & (
            F.col("pb") - F.col("pa") <= width - 1
        )
    else:
        cond = (F.col("pb") != F.col("pa")) & (
            F.abs(F.col("pb") - F.col("pa")) <= width - 1
        )
    return (
        a.join(b, "doc_id")
        .filter(cond)
        .select("doc_id", "pa")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"))
    )


def function_range_query(
    searcher: IndexSearcher,
    expr: str,
    lower: float | None = None,
    upper: float | None = None,
    include_lower: bool = True,
    include_upper: bool = True,
) -> DataFrame:
    """FunctionRangeQuery (queries/function/FunctionRangeQuery.java:40):
    match docs whose computed value source lies inside the range; the
    score IS the value (ValueSourceScorer semantics). The value source is
    a compiled JS-grammar expression over docs-table columns."""
    from lucene_spark.search.expressions import compile_expression

    val = compile_expression(expr, {}).cast("double")
    out = searcher.index.docs.select("doc_id", val.alias("score"))
    if lower is not None:
        out = out.filter(
            F.col("score") >= lower if include_lower else F.col("score") > lower
        )
    if upper is not None:
        out = out.filter(
            F.col("score") <= upper if include_upper else F.col("score") < upper
        )
    return searcher._live(out)


def function_match_query(searcher: IndexSearcher, predicate_expr: str) -> DataFrame:
    """FunctionMatchQuery (document/FunctionMatchQuery.java:38): match
    docs where the predicate over a value source holds — here the
    DoublePredicate is itself a compiled boolean expression (non-zero =
    match); constant score 1.0 like the reference's iterator-backed
    scorer."""
    from lucene_spark.search.expressions import compile_expression

    pred = compile_expression(predicate_expr, {}).cast("double")
    return searcher._live(
        searcher.index.docs.filter(pred != 0.0).select(
            "doc_id", F.lit(1.0).cast("float").alias("score")
        )
    )


def diversified_topk(
    searcher: IndexSearcher,
    query: Q.Query,
    key_col: str,
    max_hits_per_key: int = 1,
    k: int = 10,
) -> DataFrame:
    """DiversifiedTopDocsCollector (misc/search/DiversifiedTopDocsCollector
    .java:44): standard relevance top-k but with at most
    ``max_hits_per_key`` docs per key (the de-duplicating "one per artist"
    collector). One window pass ranks hits within each key by (score desc,
    doc asc); survivors take the global top-k."""
    from pyspark.sql import Window

    scored = searcher.scored(query)
    keyed = scored.join(
        searcher.index.docs.select("doc_id", key_col), "doc_id"
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_hits_per_key)
        .select("doc_id", "score", key_col)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def doc_values_stats(
    searcher: IndexSearcher, query: Q.Query, value_col: str
) -> DataFrame:
    """DocValuesStats over a numeric column for a query's match set
    (misc/search/DocValuesStats.java:29 LongDocValuesStats: count,
    missing, min, max, mean, variance, stdev). Derived from EXACT integer
    sums so the double math is order-independent (population variance =
    E[x^2] - E[x]^2, the reference's accumulated formula)."""
    m = searcher.matches(query)
    docs = searcher.index.docs.join(m, "doc_id", "semi")
    v = F.col(value_col).cast("long")
    agg = docs.agg(
        F.count(v).alias("cnt"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0)).alias("missing"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    cnt = F.col("cnt").cast("double")
    mean = F.col("s1").cast("double") / cnt
    variance = F.col("s2").cast("double") / cnt - mean * mean
    return agg.select(
        "cnt", "missing", "min_v", "max_v",
        mean.alias("mean"), variance.alias("variance"),
        F.sqrt(variance).alias("stdev"),
    )


def compute_dynamic_numeric_ranges(
    pairs: list[tuple[int, int, int]], top_n: int, total_weight: int, total_len: int
) -> list[tuple[int, int, int, int, float]]:
    """Exact greedy range segmentation of
    ``facet/range/DynamicRangeUtil.computeDynamicNumericRanges`` (:222-266):
    rows sorted by (value, weight), accumulate weight, emit a range whenever
    the accumulated weight reaches ``totalWeight / min(topN, len)`` (a double
    target), plus the trailing partial range.

    ``pairs`` are RUN-LENGTH compressed ``(value, weight, multiplicity)``
    rows in (value, weight) order — the 100-TB shape: the per-row scan the
    reference runs is O(matches), this is O(distinct pairs) with closed-form
    in-run emission arithmetic that reproduces the per-row loop exactly
    (rows inside a run are interchangeable, so "j more rows until the target
    fires" is ceil((t - accu)/w) clamped to the run).

    Returns ``(count, weight, min, max, centroid)`` rows (DynamicRangeInfo).
    """
    import math as _m

    out: list[tuple[int, int, int, int, float]] = []
    if total_len == 0 or top_n == 0:
        return out
    t = float(total_weight) / min(top_n, total_len)
    accu = 0
    vsum = 0
    cnt = 0
    vmin: int | None = None
    last_v = pairs[-1][0] if pairs else 0
    for v, w, m in pairs:
        while m > 0:
            if vmin is None:
                vmin = v
            if float(accu + m * w) < t:
                accu += m * w
                vsum += m * v
                cnt += m
                m = 0
                continue
            if w == 0:
                # accu + j*0 >= t already true (the branch above failed)
                j = 1
            else:
                j = max(1, _m.ceil((t - accu) / w))
                while float(accu + j * w) < t:  # double-rounding safety
                    j += 1
                while j > 1 and float(accu + (j - 1) * w) >= t:
                    j -= 1
            j = min(j, m)
            cnt += j
            vsum += j * v
            accu += j * w
            out.append((cnt, accu, vmin, v, vsum / cnt))
            accu = vsum = cnt = 0
            vmin = None
            m -= j
    if cnt > 0:
        out.append((cnt, accu, vmin, last_v, vsum / cnt))
    return out


def dynamic_range_facets(
    searcher: IndexSearcher,
    query: Q.Query,
    value_col: str,
    weight_col,
    top_n: int = 4,
) -> DataFrame:
    """Dynamic (weight-balanced) range facets over a match set
    (``facet/range/DynamicRangeUtil.java:computeDynamicRanges``): the
    reference's segment phase (gather per-match (value, weight)) is the
    Spark aggregation here — one semi-join + one groupBy compressing the
    match set to distinct (value, weight) pairs with multiplicities — and
    its single-threaded merge phase is the driver-side greedy scan over
    that compressed histogram (bounded by distinct pairs, not matches).
    ``weight_col`` may be a column name or a Column expression."""
    m = searcher.matches(query)
    docs = searcher.index.docs.join(m, "doc_id", "semi")
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    agg = (
        docs.select(
            F.col(value_col).cast("long").alias("v"), wcol.cast("long").alias("w")
        )
        .groupBy("v", "w")
        .agg(F.count("*").cast("long").alias("m"))
        .orderBy("v", "w")
        .collect()
    )
    pairs = [(r["v"], r["w"], r["m"]) for r in agg]
    total_weight = sum(w * mm for _, w, mm in pairs)
    total_len = sum(mm for _, _, mm in pairs)
    rows = compute_dynamic_numeric_ranges(pairs, top_n, total_weight, total_len)
    spark = searcher.index.docs.sparkSession
    return spark.createDataFrame(
        rows or [],
        schema="cnt long, weight long, vmin long, vmax long, centroid double",
    )


def long_value_counts(
    searcher: IndexSearcher, query: Q.Query, value_col
) -> DataFrame:
    """``facet/LongValueFacetCounts.java:54`` — facet counts per distinct
    long value of a numeric source over the match set (one semi-join + one
    groupBy; the reference's hash-map accumulation is the shuffle here).
    ``value_col`` may be a column name or Column expression."""
    m = searcher.matches(query)
    vcol = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        searcher.index.docs.join(m, "doc_id", "semi")
        .groupBy(vcol.cast("long").alias("value"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def infix_suggest(
    suggestions: DataFrame,
    key: str,
    n: int = 5,
    text_col: str = "text",
    weight_col: str = "weight",
    all_terms_required: bool = True,
) -> DataFrame:
    """AnalyzingInfixSuggester lookup
    (``suggest/analyzing/AnalyzingInfixSuggester.java:624-717``): analyze
    the key; every token but the last becomes an exact term clause, the
    last becomes a PREFIX clause — unless the key ends with discarded
    chars (e.g. trailing whitespace), in which case it is exact too
    (:668-685). ``allTermsRequired`` maps MUST vs SHOULD (:636-641).
    Results rank by weight desc (the suggester's indexed sort),
    suggestion-text tiebreak for determinism.

    Plan: one scan of the suggestion table with a tokens-array predicate
    (JVM ``sql_tokens`` — the analyzed TEXT_FIELD role), no Python in the
    match path; top-n via TakeOrdered.
    """
    from lucene_spark.analysis.sql import sql_tokens
    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    an = StandardAnalyzer()
    token_objs = an.tokens(key)
    toks = [t.term for t in token_objs]
    if not toks:
        return suggestions.select(
            F.col(text_col).alias("suggestion"),
            F.col(weight_col).cast("long").alias("weight"),
        ).limit(0)
    # prefix mode iff the final token reaches the end of the key — no
    # trailing discarded chars (maxEndOffset == end offset test, :670)
    last_is_prefix = token_objs[-1].end_offset == len(key)
    exact = toks[:-1] if last_is_prefix else toks
    tcol = sql_tokens(F.col(text_col))
    clauses = [F.array_contains(tcol, t) for t in exact]
    if last_is_prefix:
        clauses.append(
            F.exists(tcol, lambda x: x.startswith(F.lit(toks[-1])))
        )
    if all_terms_required:
        cond = clauses[0]
        for c in clauses[1:]:
            cond = cond & c
    else:
        cond = clauses[0]
        for c in clauses[1:]:
            cond = cond | c
    return (
        suggestions.filter(cond)
        .select(
            F.col(text_col).alias("suggestion"),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .orderBy(F.desc("weight"), F.asc("suggestion"))
        .limit(n)
    )


def dv_multi_range_filter(
    df: DataFrame, value_col: str, ranges: list[tuple], single_valued: bool = True
) -> DataFrame:
    """DocValuesMultiRangeQuery
    (``sandbox/search/DocValuesMultiRangeQuery.java`` +
    ``SortedNumericDocValuesMultiRangeQuery.java``): match docs whose
    doc-value falls inside ANY of the given [lower, upper] ranges. Like
    the reference's builder, overlapping/adjacent ranges are coalesced
    up front (the SortedSet variant's bucket merge), then the match is
    one OR-of-BETWEENs predicate — pushdown-able comparisons, no join.
    ``single_valued=False`` treats ``value_col`` as an array column
    (SortedNumeric semantics: any value in any range matches)."""
    if not ranges:
        return df.filter(F.lit(False))
    merged: list[list] = []
    for lo, hi in sorted((min(a, b), max(a, b)) for a, b in ranges):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    if single_valued:
        v = F.col(value_col)
        pred = F.lit(False)
        for lo, hi in merged:
            pred = pred | ((v >= F.lit(lo)) & (v <= F.lit(hi)))
        return df.filter(pred)
    conds = [
        f"x >= {float(lo)!r} AND x <= {float(hi)!r}" for lo, hi in merged
    ]
    return df.filter(
        F.expr(f"exists({value_col}, x -> {' OR '.join(f'({c})' for c in conds)})")
    )


def fuzzy_like_this(
    searcher: IndexSearcher,
    query_string: str,
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    max_variants_per_term: int = 50,
    ignore_tf: bool = False,
) -> DataFrame:
    """FuzzyLikeThisQuery (``sandbox/queries/FuzzyLikeThisQuery.java:67``):
    fuzzify every analyzed query term, keep the best differentiating
    variants, and score docs WITHOUT favouring rare misspellings.

    Faithful pieces:

    - variant boost = ``1 - ed/min(|variant|, |source|)`` codepoints,
      1.0 on exact (``FuzzyTermsEnum.java:250-257``);
    - per-source top ``MAX_VARIANTS_PER_TERM`` (:211-237), then
      ``st.score = boost^2 * ClassicSimilarity.idf(df, numDocs)`` where
      df is the SOURCE term's df, or the INT-division average of variant
      dfs when the source is absent (:240-255) — so every variant of one
      source ranks by the same idf;
    - global top ``maxNumTerms`` across fields (:288-301);
    - final query = SHOULD over variants; each variant is a TermQuery
      with an ARTIFICIAL df=1 TermStates (:264-277) boosted by
      ``st.score`` — or a ConstantScoreQuery when ``ignoreTF`` (:266).

    Determinism note: the reference's PQ breaks score ties arbitrarily;
    here ties break by term ascending (documented divergence, pinned in
    the oracle the same way).

    Plan: ONE term-dictionary scan discovers all variants for all source
    terms (levenshtein + prefix predicates — the LevenshteinAutomata
    role), the tiny clause table broadcasts into one postings decode +
    sum — no per-term jobs.
    """
    import math as _m

    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    idx = searcher.index
    field = idx.config.field_name
    fs = idx.fieldstats[field]
    n_docs = fs.doc_count
    an = StandardAnalyzer()
    source_terms = list(dict.fromkeys(t.term for t in an.tokens(query_string)))
    if not source_terms:
        return idx.docs.select(
            F.col("doc_id"), F.lit(0.0).cast("float").alias("score")
        ).limit(0)

    # ---- one dictionary scan for every source term's variants; plain
    # levenshtein is a sound lower-bound screen for the OSA distance
    # (transpositions=true at FuzzyLikeThisQuery.java:220): lev <= 2*osa
    from lucene_spark.search.spell import osa_distance

    preds = None
    for t in source_terms:
        p = F.levenshtein(F.col("term"), F.lit(t)) <= 2 * max_edits
        if prefix_length > 0:
            p = F.col("term").startswith(t[:prefix_length]) & p
        preds = p if preds is None else (preds | p)
    dict_rows = (
        idx.termstats.filter(F.col("field") == field)
        .filter(preds)
        .select("term", "df")
        .collect()
    )

    # ClassicSimilarity.java:69 — double math, ONE final float cast
    classic_idf = lambda df: np.float32(_m.log((n_docs + 1) / float(df + 1)) + 1.0)

    clauses: list[tuple[str, float]] = []  # (variant term, st.score)
    scored: list[tuple[float, str]] = []
    for t in source_terms:
        variants = []
        df_source = 0
        total_vdf = 0
        for r in dict_rows:
            term = r["term"]
            if prefix_length > 0 and not term.startswith(t[:prefix_length]):
                continue
            ed = osa_distance(term, t)
            if ed > max_edits:
                continue
            boost = (
                np.float32(1.0)
                if ed == 0
                else np.float32(1.0) - np.float32(ed) / np.float32(min(len(term), len(t)))
            )
            variants.append((float(boost), term))
            total_vdf += int(r["df"])
            if term == t:
                df_source = int(r["df"])
        if not variants:
            continue
        n_variants = len(variants)  # PRE-cap, like numVariants (:226)
        variants.sort(key=lambda v: (-v[0], v[1]))
        variants = variants[:max_variants_per_term]
        df = df_source if df_source > 0 else total_vdf // n_variants
        idf = classic_idf(df)
        for boost, term in variants:
            b32 = np.float32(boost)
            st_score = float(np.float32(np.float32(b32 * b32) * idf))
            scored.append((st_score, term))
    scored.sort(key=lambda v: (-v[0], v[1]))
    clauses = scored[:max_num_terms]
    if not clauses:
        return idx.docs.select(
            F.col("doc_id"), F.lit(0.0).cast("float").alias("score")
        ).limit(0)

    spark = idx.docs.sparkSession
    cl = spark.createDataFrame(
        [(term, s) for s, term in clauses], schema="term string, st_score float"
    )
    if ignore_tf:
        # ConstantScoreQuery(TermQuery) path (:266): clause score == boost
        d = searcher._decoded(field, F.col("term").isin([t for _, t in clauses]))
        per = d.join(F.broadcast(cl), "term").select(
            "doc_id", F.col("st_score").alias("clause_score")
        )
    else:
        # TermQuery with artificial df=1 stats (:268-277): BM25 weight =
        # st.score * idf(df=1); tf/norm from the real postings
        idf1 = searcher.sim.idf(1, n_docs)
        d = searcher._decoded(field, F.col("term").isin([t for _, t in clauses]))
        w_col = (F.col("st_score") * F.lit(float(idf1))).cast("float")
        per = d.join(F.broadcast(cl), "term").select(
            "doc_id",
            searcher._score_col(field, F.col("freq"), F.col("norm"), w_col).alias(
                "clause_score"
            ),
        )
    return (
        per.groupBy("doc_id")
        .agg(F.sum(F.col("clause_score").cast("double")).cast("float").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )



def analyzing_suggest(
    suggestions: DataFrame,
    key: str,
    n: int = 5,
    text_col: str = "text",
    weight_col: str = "weight",
    preserve_sep: bool = True,
    exact_first: bool = True,
) -> DataFrame:
    """AnalyzingSuggester lookup
    (``suggest/analyzing/AnalyzingSuggester.java:100``): both the stored
    suggestions and the typed key pass through the ANALYZER, matching
    happens on the analyzed form by PREFIX, and the ORIGINAL surface
    forms come back ranked by weight — the property that makes
    "nirvana" complete from "nirv" even when the surface says "Nirvana".

    - ``preserve_sep`` (the suggester's PRESERVE_SEP flag, :141): True
      keeps a separator byte between analyzed tokens, so "mega c"
      completes "mega corp" but NOT "megacorp"; False strips separators
      so both complete.
    - ``exact_first`` (:135): an exact analyzed match outranks every
      longer completion regardless of weight.

    Plan: ONE scan of the suggestion table — the analyzed form is a
    codegen expression (JVM ``sql_tokens`` + array_join, the analyzed
    TokenStream-to-bytes role), the prefix test a string predicate, and
    top-n a TakeOrdered. The FST itself is an in-RAM lookup structure
    the reference needs for microsecond latency; at Spark scale the
    analyzed-form COLUMN is the same information laid out for a scan,
    and serving deployments persist/bucket the suggestion table instead.
    Analyzer scope: the JVM StandardAnalyzer chain (the twin of the
    Python default); custom per-token filters normalize ``text_col``
    upstream.
    """
    from lucene_spark.analysis.tokenizer import StandardAnalyzer

    sep = "\x1f" if preserve_sep else ""
    analyzed = F.array_join(sql_tokens(F.col(text_col)), sep)
    key_an = sep.join(StandardAnalyzer().terms(key))
    hit = suggestions.filter(analyzed.startswith(key_an))
    exact = (
        (analyzed == F.lit(key_an)).cast("int")
        if exact_first
        else F.lit(0)
    )
    return (
        hit.select(
            text_col,
            weight_col,
            exact.alias("_exact"),
        )
        .orderBy(F.desc("_exact"), F.desc(weight_col), F.asc(text_col))
        .drop("_exact")
        .limit(n)
    )
