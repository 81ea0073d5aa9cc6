"""Driver-contract entries for the satellite search operators:
multi/sloppy phrase, suggest, MoreLikeThis, function score, rescore,
drill-sideways, highlighter. Oracles reuse entry_impl's float32-exact
BM25 CTE builders."""

from __future__ import annotations

from pyspark.sql import functions as F

from lucene_spark.entry_impl import (
    BASE_CTES,
    TOKEN_SQL as _TOKEN_SQL,
    _INV_EXPR,
    _PH_W,
    _fc,
    _fdiv,
    _flit,
    _fmul,
    _fsub,
    _idf_sql,
    _score_expr,
    _term_scores_cte,
    _topk_sql,
    get_searcher,
    register,
)
from lucene_spark.search import query as Q
from lucene_spark.search import extras


# ---- MultiPhraseQuery (search/MultiPhraseQuery.java:54) --------------------

_MP_TERMS = ["table", "row", "part"]
_MP_W = _fc(
    "("
    + " + ".join(
        f"{_idf_sql(f'(SELECT count(*) FROM tf WHERE term=' + repr(t) + ')')}::DOUBLE"
        for t in _MP_TERMS
    )
    + ")"
)


@register(
    "multi_phrase_query",
    f"""WITH {BASE_CTES},
mp0 AS (SELECT DISTINCT doc_id, pos FROM tok WHERE term IN ('table', 'row')),
mp1 AS (SELECT doc_id, pos FROM tok WHERE term = 'part'),
mp AS (
  SELECT mp0.doc_id, count(*)::INTEGER AS freq
  FROM mp0 JOIN mp1 ON mp1.doc_id = mp0.doc_id AND mp1.pos = mp0.pos + 1
  GROUP BY mp0.doc_id
),
mp_w(w) AS (SELECT {_MP_W}),
sc AS (
  SELECT mp.doc_id, {_score_expr('mp_w.w', 'mp.freq', 'i.inv')} AS score
  FROM mp JOIN invn i USING (doc_id) CROSS JOIN mp_w
)
{_topk_sql('sc')}""",
)
def multi_phrase_query(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    q = Q.MultiPhraseQuery("text", (("table", "row"), ("part",)))
    return s.search(q, k=10).select("doc_id", "score")


# ---- FloatPointNearestNeighbor (sandbox/document) --------------------------


@register(
    "float_point_nearest_query",
    """SELECT event_id,
       (value - 10.0) * (value - 10.0) + (user_id - 25.0) * (user_id - 25.0) AS dist_sq
FROM events ORDER BY dist_sq ASC, event_id ASC LIMIT 10""",
)
def float_point_nearest_query(spark, sf_dir):
    """FloatPointNearestNeighbor.nearest
    (sandbox/document/FloatPointNearestNeighbor.java:41): exact
    nearest-10 by Euclidean distance over a 2-dim point; the plan is one
    scan + TakeOrderedAndProject (the never-sort-everything guarantee;
    parquet min/max stats play the BKD cell bounds when a radius
    pre-filter is given)."""
    from lucene_spark.search.points import float_point_nearest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return float_point_nearest(
        ev, ["value", "user_id"], [10.0, 25.0], n=10, id_col="event_id"
    )


# ---- idversion PK lookups (sandbox/codecs/idversion) -----------------------


@register(
    "id_version_seek_exact",
    """WITH iv AS (
  SELECT CAST(doc_id % 50 AS VARCHAR) AS id, doc_id AS version, doc_id FROM documents
)
SELECT id, CAST(max(version) AS BIGINT) AS version, CAST(max(doc_id) AS BIGINT) AS doc_id
FROM iv WHERE id IN ('7', '13', '49')
GROUP BY id HAVING max(version) > 100
ORDER BY id""",
)
def id_version_seek_exact(spark, sf_dir):
    """IDVersionSegmentTermsEnum.seekExact(id, minVersion)
    (sandbox/codecs/idversion/IDVersionPostingsFormat.java:33-50): the
    live (max-version) row per requested ID when newer than minVersion;
    per-segment max-version metadata + blooms prune segments before the
    scan (the version block-tree fail-fast role)."""
    from lucene_spark.index.idversion import build_id_version_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 50).cast("string").alias("key"),
        F.col("doc_id").alias("ver"),
    )
    ividx = build_id_version_index(
        docs, "key", "ver", docs_per_segment=256, with_blooms=True
    )
    return ividx.seek_exact(["7", "13", "49"], min_version=100).orderBy("id")


# ---- FuzzyLikeThisQuery (sandbox/queries/FuzzyLikeThisQuery.java:67) -------

_FLT_BOOST = (
    "CASE WHEN ed = 0 THEN " + _flit(1.0) + " ELSE "
    + _fsub(
        _flit(1.0),
        _fdiv(
            "CAST(ed AS FLOAT)",
            "CAST(least(length(term), length(src)) AS FLOAT)",
        ),
    )
    + " END"
)

_FLT_IDF = _fc(
    "ln(((SELECT doc_count FROM fstats) + 1) / CAST(df_eff + 1 AS DOUBLE)) + 1.0"
)


@register(
    "fuzzy_like_this_query",
    f"""WITH {BASE_CTES},
srct(src) AS (VALUES ('tabel'), ('valu')),
dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
vars AS (
  SELECT s.src, d.term, d.df, damerau_levenshtein(d.term, s.src) AS ed
  FROM srct s JOIN dict d ON damerau_levenshtein(d.term, s.src) <= 1
),
vb AS (
  SELECT src, term, df, {_FLT_BOOST} AS boost,
         row_number() OVER (
           PARTITION BY src ORDER BY {_FLT_BOOST} DESC, term ASC
         ) AS rk
  FROM vars
),
stats AS (
  SELECT src,
         coalesce(max(CASE WHEN term = src THEN df END), 0) AS df_src,
         CAST(sum(df) AS BIGINT) // count(*) AS avg_df
  FROM vars GROUP BY src
),
st AS (
  SELECT vb.term,
         {_fmul(_fmul('vb.boost', 'vb.boost'), _FLT_IDF)} AS st_score
  FROM vb
  JOIN (SELECT src, CASE WHEN df_src > 0 THEN df_src ELSE avg_df END AS df_eff
        FROM stats) s USING (src)
  WHERE vb.rk <= 50
),
clauses AS (SELECT term, st_score FROM st ORDER BY st_score DESC, term ASC LIMIT 50),
hits AS (SELECT tf.doc_id, c.st_score FROM clauses c JOIN tf ON tf.term = c.term),
sc AS (
  SELECT doc_id, CAST(sum(CAST(st_score AS DOUBLE)) AS FLOAT) AS score
  FROM hits GROUP BY doc_id
)
SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def fuzzy_like_this_query(spark, sf_dir):
    """FuzzyLikeThisQuery (sandbox/queries/FuzzyLikeThisQuery.java:67),
    ignoreTF mode (:266 ConstantScoreQuery clauses): fuzzify 'tabel
    valu', per-source variants ranked by the FuzzyTermsEnum boost,
    st.score = boost^2 * ClassicSimilarity idf of the SOURCE df (avg
    variant df when absent), global top-50 clauses, SHOULD-sum."""
    _, s = get_searcher(spark, sf_dir)
    return extras.fuzzy_like_this(
        s, "tabel valu", k=10, max_edits=1, ignore_tf=True
    )


# ---- Bloom fast-fail term lookup (codecs/bloom, FuzzySet.java) -------------


@register(
    "bloom_term_lookup",
    f"WITH {BASE_CTES},\n{_term_scores_cte('sc', 'dup')}\n{_topk_sql('sc')}",
)
def bloom_term_lookup(spark, sf_dir):
    """BloomFilteringPostingsFormat point lookup
    (codecs/bloom/BloomFilteringPostingsFormat.java:66): per-segment
    FuzzySets prune definitively-NO segments from the postings scan;
    scores are identical to the plain TermQuery (the bloom is pure
    fast-fail, never lossy on MAYBE segments)."""
    from lucene_spark.index.bloom import attach_blooms

    idx, s = get_searcher(spark, sf_dir)
    blooms = getattr(idx, "blooms", None)
    if not blooms or "text" not in blooms:
        attach_blooms(idx)
    return s.search(Q.TermQuery("text", "dup"), k=10).select("doc_id", "score")


# ---- Sloppy phrase (search/SloppyPhraseMatcher.java:52, full semantics) ----

from lucene_spark.search.sloppy import duckdb_fold_cte as _sp_fold_cte

_SP_IDF1 = _idf_sql("(SELECT count(*) FROM tf WHERE term='table')")
_SP_IDF2 = _idf_sql("(SELECT count(*) FROM tf WHERE term='part')")
_SP_W = _fc(f"({_SP_IDF1}::DOUBLE + {_SP_IDF2}::DOUBLE)")


@register(
    "sloppy_phrase_query",
    f"""WITH RECURSIVE {BASE_CTES},
sp_a AS (SELECT doc_id, list(pos ORDER BY pos) AS pa FROM tok WHERE term = 'table' GROUP BY doc_id),
sp_b AS (SELECT doc_id, list(pos - 1 ORDER BY pos) AS pb FROM tok WHERE term = 'part' GROUP BY doc_id),
sp_m AS (
  SELECT doc_id, pa, pb, list_sort(list_distinct(pa || pb)) AS posu
  FROM sp_a JOIN sp_b USING (doc_id)
),
{_sp_fold_cte('sp_m', 2)},
sp_w(w) AS (SELECT {_SP_W}),
sc AS (
  SELECT o.doc_id, {_score_expr('sp_w.w', 'o.freq', 'i.inv')} AS score
  FROM sp_fold_out o JOIN invn i USING (doc_id) CROSS JOIN sp_w
  WHERE o.freq > 0
)
{_topk_sql('sc')}""",
)
def sloppy_phrase_query(spark, sf_dir):
    """Sloppy phrase with FULL SloppyPhraseMatcher.java:52 traversal
    semantics: out-of-order matches within slop, 1/(1+matchLength) sloppy
    weights, float32 freq accumulation. Engine side runs the JVM scan-fold
    (no Python); the oracle replays the identical fold as a DuckDB
    recursive CTE (see lucene_spark/search/sloppy.py)."""
    _, s = get_searcher(spark, sf_dir)
    return s.search(Q.PhraseQuery("text", ("table", "part"), slop=2), k=10).select(
        "doc_id", "score"
    )


# ---- suggest (suggest/FSTCompletion.java:48 analog) ------------------------


@register(
    "suggest_prefix",
    f"""WITH {BASE_CTES},
ts AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT term, df FROM ts WHERE term LIKE 'sc%'
ORDER BY df DESC, term ASC LIMIT 10""",
)
def suggest_prefix(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.suggest(s, "sc", n=10)


# ---- MoreLikeThis (queries/mlt/MoreLikeThis.java) --------------------------


@register(
    "more_like_this",
    f"""WITH {BASE_CTES},
mlt_tf AS (SELECT term, freq AS tf FROM tf WHERE doc_id = 7),
mlt_df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
mlt_sel AS (
  SELECT t.term, d.df FROM mlt_tf t JOIN mlt_df d USING (term)
  ORDER BY t.tf DESC, d.df ASC, t.term ASC LIMIT 5
),
mlt_w AS (
  SELECT term, {_idf_sql('df')} AS w FROM mlt_sel
),
mlt_s AS (
  SELECT tf.doc_id, {_score_expr('mw.w', 'tf.freq', 'i.inv')} AS s
  FROM tf JOIN mlt_w mw USING (term) JOIN invn i USING (doc_id)
),
sc AS (
  SELECT doc_id, CAST(sum(CAST(s AS DOUBLE)) AS FLOAT) AS score
  FROM mlt_s WHERE doc_id != 7 GROUP BY doc_id
)
{_topk_sql('sc')}""",
)
def mlt_query(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.more_like_this(s, doc_id=7, max_terms=5, k=10)


# ---- FunctionScoreQuery (queries/function/FunctionScoreQuery.java:44) ------


@register(
    "function_score_query",
    f"""WITH {BASE_CTES}
SELECT d.doc_id, CAST(d.n_chars * 0.001 + 1.0 AS DOUBLE) AS score
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'data')
ORDER BY d.doc_id""",
)
def function_score_query(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.function_score(s, Q.TermQuery("text", "data"), "n_chars * 0.001 + 1.0")


@register(
    "expression_score_query",
    f"""WITH {BASE_CTES},
{_term_scores_cte('exs', 'data')}
SELECT d.doc_id,
       round(CAST(exs.score AS DOUBLE) * 2.0
             + ln(1.0 + d.n_chars / 100.0), 6) AS score
FROM exs JOIN documents d USING (doc_id)
ORDER BY d.doc_id""",
)
def expression_score_query(spark, sf_dir):
    """Compiled-expression scoring (JavascriptCompiler + SimpleBindings +
    FunctionScoreQuery): `_score` binds to the wrapped TermQuery's BM25
    score; the JS-grammar string compiles to one codegen Column."""
    _, s = get_searcher(spark, sf_dir)
    out = extras.expression_score(
        s, Q.TermQuery("text", "data"), "_score * 2 + ln(1 + n_chars / 100)"
    )
    return out.select(
        "doc_id", F.round(F.col("score"), 6).alias("score")
    ).orderBy("doc_id")


# ---- QueryRescorer (search/QueryRescorer.java) -----------------------------


@register(
    "rescore_topk",
    f"""WITH {BASE_CTES},
{_term_scores_cte('rs', 'customer')},
first_pass AS (
  SELECT doc_id, score FROM rs ORDER BY score DESC, doc_id ASC LIMIT 20
)
SELECT f.doc_id,
       CAST(f.score AS DOUBLE) + CAST(d.n_chars / 1000.0 AS DOUBLE) AS score
FROM first_pass f JOIN documents d USING (doc_id)
ORDER BY score DESC, f.doc_id ASC LIMIT 10""",
)
def rescore_topk(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.rescore(
        s, Q.TermQuery("text", "customer"), window=20, expr="n_chars / 1000.0", k=10
    )


# ---- DrillSideways (facet/DrillSideways.java) ------------------------------


@register(
    "drill_sideways_lang",
    f"""WITH {BASE_CTES}
SELECT d.lang, count(*)::BIGINT AS cnt
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'row')
  AND d.n_chars >= 200
GROUP BY d.lang ORDER BY d.lang""",
)
def drill_sideways_lang(spark, sf_dir):
    """lang counts with the lang drill-down off, n_chars drill-down on."""
    _, s = get_searcher(spark, sf_dir)
    return extras.drill_sideways(
        s,
        Q.TermQuery("text", "row"),
        filters={"lang": F.col("lang") == "en", "n_chars": F.col("n_chars") >= 200},
        dim="lang",
    )


# ---- Highlighter (uhighlight/UnifiedHighlighter.java:96 analog) ------------


@register(
    "highlight_term",
    f"""WITH {BASE_CTES},
{_term_scores_cte('hs', 'spark')},
top AS (SELECT doc_id, score FROM hs ORDER BY score DESC, doc_id ASC LIMIT 5),
firstp AS (
  SELECT doc_id, min(pos)::INTEGER AS first_pos FROM tok
  WHERE term = 'spark' GROUP BY doc_id
),
tk AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9_]+') AS toks FROM documents)
SELECT t.doc_id, t.score, f.first_pos,
       array_to_string(
         tk.toks[greatest(f.first_pos - 2, 0) + 1 : greatest(f.first_pos - 2, 0) + 5],
         ' ') AS snippet
FROM top t JOIN firstp f USING (doc_id) JOIN tk USING (doc_id)
ORDER BY t.doc_id""",
)
def highlight_term_entry(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.highlight_term(s, "spark", window=2, k=5)


_HP_IDF_SPARK = _idf_sql("(SELECT count(*) FROM tf WHERE term='spark')")
_HP_IDF_JOIN = _idf_sql("(SELECT count(*) FROM tf WHERE term='join')")


@register(
    "highlight_passages",
    f"""WITH {BASE_CTES},
{_term_scores_cte('hp1', 'spark')},
{_term_scores_cte('hp2', 'join')},
hp_u AS (SELECT * FROM hp1 UNION ALL SELECT * FROM hp2),
hp_sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM hp_u GROUP BY doc_id
),
hp_top AS (SELECT doc_id, score FROM hp_sc ORDER BY score DESC, doc_id ASC LIMIT 5),
hp_tok AS (
  SELECT t.doc_id, top.score, t.term AS tok, t.pos,
         (t.pos // 8)::INTEGER AS passage_idx
  FROM tok t JOIN hp_top top USING (doc_id)
),
hp_p AS (
  SELECT doc_id, score, passage_idx,
         CAST(sum(CAST(CASE WHEN tok = 'spark' THEN {_HP_IDF_SPARK}
                            WHEN tok = 'join' THEN {_HP_IDF_JOIN}
                            ELSE 0.0 END AS DOUBLE)) AS FLOAT) AS passage_score,
         string_agg(tok, ' ' ORDER BY pos) AS snippet
  FROM hp_tok GROUP BY doc_id, score, passage_idx
),
hp_best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY passage_score DESC, passage_idx ASC) AS rk
  FROM hp_p WHERE passage_score > 0
)
SELECT doc_id, score, passage_idx, passage_score, snippet
FROM hp_best WHERE rk = 1 ORDER BY doc_id""",
)
def highlight_passages_entry(spark, sf_dir):
    """Passage-ranked highlighting: best idf-weighted 8-token passage per
    top-5 doc of (spark OR join) — UnifiedHighlighter/FieldHighlighter
    analog with ANALYSIS offsets (see extras.highlight_passages)."""
    _, s = get_searcher(spark, sf_dir)
    return extras.highlight_passages(s, ["spark", "join"], k=5, passage_len=8)


# ---- POSTINGS-offset highlighting (UnifiedHighlighter OffsetSource.POSTINGS)

_OFF_IDX_CACHE: dict = {}


def _get_offsets_searcher(spark, sf_dir):
    """A second index over the same corpus with stored offsets
    (IndexConfig.with_offsets=True — the
    DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS IndexOptions level)."""
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.search.searcher import IndexSearcher

    if sf_dir not in _OFF_IDX_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cfg = IndexConfig(
            text_col="text", field_name="text", doc_id_col="doc_id",
            docs_per_segment=1024, with_offsets=True,
        )
        idx = build_index(spark, docs, cfg)
        idx.postings.persist().count()
        _OFF_IDX_CACHE[sf_dir] = IndexSearcher(idx)
    return _OFF_IDX_CACHE[sf_dir]


@register(
    "highlight_postings_offsets",
    f"""WITH {BASE_CTES},
{_term_scores_cte('ho1', 'spark')},
{_term_scores_cte('ho2', 'join')},
ho_u AS (SELECT * FROM ho1 UNION ALL SELECT * FROM ho2),
ho_sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM ho_u GROUP BY doc_id
),
ho_top AS (SELECT doc_id, score FROM ho_sc ORDER BY score DESC, doc_id ASC LIMIT 5),
ho_off AS (
  -- token start offsets: documents text is single-space joined, so
  -- start(p) = sum(len(prev terms) + 1); mirrors the offsets stored in
  -- the postings blocks by the offsets-enabled build
  SELECT doc_id, term, pos,
         COALESCE(sum(len(term) + 1) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_off
  FROM tok
),
ho_hit AS (
  SELECT o.doc_id, top.score, o.term,
         (o.start_off // 80)::INTEGER AS passage_idx
  FROM ho_off o JOIN ho_top top USING (doc_id)
  WHERE o.term IN ('spark', 'join')
),
ho_p AS (
  SELECT doc_id, score, passage_idx,
         CAST(sum(CAST(CASE WHEN term = 'spark' THEN {_HP_IDF_SPARK}
                            WHEN term = 'join' THEN {_HP_IDF_JOIN}
                            ELSE 0.0 END AS DOUBLE)) AS FLOAT) AS passage_score
  FROM ho_hit GROUP BY doc_id, score, passage_idx
),
ho_best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY passage_score DESC, passage_idx ASC) AS rk
  FROM ho_p
)
SELECT b.doc_id, b.score, b.passage_idx, b.passage_score,
       substr(d.text, b.passage_idx * 80 + 1, 80) AS snippet
FROM ho_best b JOIN documents d ON d.doc_id = b.doc_id
WHERE b.rk = 1 ORDER BY b.doc_id""",
)
def highlight_postings_offsets_entry(spark, sf_dir):
    """POSTINGS-source highlighting: offsets read from the index blocks,
    the stored text never re-tokenized at query time
    (uhighlight/UnifiedHighlighter.java:96, OffsetSource.POSTINGS);
    80-char fixed passages, best idf-weighted passage per top-5 doc of
    (spark OR join)."""
    s = _get_offsets_searcher(spark, sf_dir)
    return extras.highlight_postings(s, ["spark", "join"], k=5, passage_chars=80)


# ---- CombinedFieldQuery (sandbox/search/CombinedFieldQuery.java:79) --------

_LANG_IDX_CACHE: dict = {}


def _get_lang_index(spark, sf_dir):
    from lucene_spark.index.build import IndexConfig, build_index

    if sf_dir not in _LANG_IDX_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cfg = IndexConfig(
            text_col="lang", field_name="lang", doc_id_col="doc_id",
            docs_per_segment=1024, with_positions=False,
        )
        idx = build_index(spark, docs, cfg)
        idx.postings.persist().count()
        _LANG_IDX_CACHE[sf_dir] = idx
    return _LANG_IDX_CACHE[sf_dir]


_CF_SCORE = _score_expr("w.w", "cf.freq", "n.inv")

_CF_ORACLE = f"""WITH {BASE_CTES},
cf_stats AS (
  SELECT greatest(doc_count, (SELECT count(*) FROM documents)) AS doc_count,
         sum_ttf + (SELECT count(*) FROM documents) AS sum_ttf
  FROM fstats
),
cf_avgd AS (
  SELECT CAST(sum_ttf / CAST(doc_count AS DOUBLE) AS FLOAT) AS avgdl FROM cf_stats
),
cf_df(v) AS (
  SELECT greatest(
    (SELECT count(*) FROM tf WHERE term = 'es'),
    (SELECT count(*) FROM documents WHERE lang = 'es'))
),
w(w) AS (
  SELECT CAST(ln(1.0 + (((SELECT doc_count FROM cf_stats) - (SELECT v FROM cf_df)) + 0.5)
                        / ((SELECT v FROM cf_df) + 0.5)) AS FLOAT)
),
cf AS (
  SELECT d.doc_id,
         (coalesce(tf.freq, 0) + CASE WHEN d.lang = 'es' THEN 1 ELSE 0 END)::INTEGER AS freq,
         coalesce(dl.len, 0) + 1 AS clen
  FROM documents d
  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.term = 'es'
  LEFT JOIN dl ON dl.doc_id = d.doc_id
),
cf_m AS (SELECT * FROM cf WHERE freq > 0),
cf_nb AS (
  SELECT cf_m.doc_id, max(b4.nb) AS nb FROM cf_m JOIN b4 ON b4.floor_len <= cf_m.clen
  GROUP BY cf_m.doc_id
),
n AS (
  SELECT nb.doc_id, {_INV_EXPR} AS inv
  FROM cf_nb nb JOIN b4 t ON t.nb = nb.nb CROSS JOIN cf_avgd a
),
sc AS (
  SELECT cf.doc_id, {_CF_SCORE} AS score
  FROM cf_m cf JOIN n USING (doc_id) CROSS JOIN w
)
{_topk_sql('sc')}"""


@register("combined_field_query", _CF_ORACLE)
def combined_field_query(spark, sf_dir):
    """Term 'es' scored across (text, lang) as one pseudo-field with unit
    weights — freq and length combine, norms re-quantize via byte4."""
    idx_text, _ = get_searcher(spark, sf_dir)
    idx_lang = _get_lang_index(spark, sf_dir)
    return extras.combined_field_topk(
        {"text": (idx_text, 1), "lang": (idx_lang, 1)}, "es", k=10
    )


# ---- BlendedTermQuery (search/BlendedTermQuery.java:47) --------------------

_BL_DF = (
    "greatest((SELECT count(*) FROM tf WHERE term='fast'),"
    " (SELECT count(*) FROM tf WHERE term='batch'))"
)


@register(
    "blended_term_query",
    f"""WITH {BASE_CTES},
bl_w(w) AS (SELECT {_idf_sql(_BL_DF)}),
b1 AS (
  SELECT tf.doc_id, {_score_expr('bl_w.w', 'tf.freq', 'i.inv')} AS score
  FROM tf JOIN invn i USING (doc_id) CROSS JOIN bl_w WHERE tf.term = 'fast'
),
b2 AS (
  SELECT tf.doc_id, {_score_expr('bl_w.w', 'tf.freq', 'i.inv')} AS score
  FROM tf JOIN invn i USING (doc_id) CROSS JOIN bl_w WHERE tf.term = 'batch'
),
u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
agg AS (
  SELECT doc_id, max(score) AS mx, sum(CAST(score AS DOUBLE)) AS sm
  FROM u GROUP BY doc_id
),
sc AS (
  SELECT doc_id,
         CAST(CAST(mx AS DOUBLE)
              + CAST(0.30000001192092896 AS DOUBLE) * (sm - CAST(mx AS DOUBLE)) AS FLOAT) AS score
  FROM agg
)
{_topk_sql('sc')}""",
)
def blended_term_query(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    q = Q.BlendedTermQuery("text", ("fast", "batch"), tie_breaker=0.3)
    return s.search(q, k=10).select("doc_id", "score")


# ---- Intervals (queries/intervals, simplified two-term core) ---------------


@register(
    "intervals_ordered",
    f"""WITH {BASE_CTES},
ia AS (SELECT doc_id, pos AS pa FROM tok WHERE term = 'key'),
ib AS (SELECT doc_id, pos AS pb FROM tok WHERE term = 'value')
SELECT ia.doc_id, count(DISTINCT ia.pa)::BIGINT AS n_windows
FROM ia JOIN ib ON ib.doc_id = ia.doc_id
WHERE ib.pb > ia.pa AND ib.pb - ia.pa <= 4
GROUP BY ia.doc_id ORDER BY ia.doc_id""",
)
def intervals_ordered(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.interval_within(s, "key", "value", width=5, ordered=True)


@register(
    "intervals_unordered",
    f"""WITH {BASE_CTES},
ua AS (SELECT doc_id, pos AS pa FROM tok WHERE term = 'key'),
ub AS (SELECT doc_id, pos AS pb FROM tok WHERE term = 'value')
SELECT ua.doc_id, count(DISTINCT ua.pa)::BIGINT AS n_windows
FROM ua JOIN ub ON ub.doc_id = ua.doc_id
WHERE ub.pb != ua.pa AND abs(ub.pb - ua.pa) <= 4
GROUP BY ua.doc_id ORDER BY ua.doc_id""",
)
def intervals_unordered(spark, sf_dir):
    _, s = get_searcher(spark, sf_dir)
    return extras.interval_within(s, "key", "value", width=5, ordered=False)


# ---- PhraseWildcardQuery (sandbox/PhraseWildcardQuery.java) ----------------

_PW_IDF_TERM = _idf_sql("df")
_PW_IDF_PART = _idf_sql("(SELECT count(*) FROM tf WHERE term='part')")


@register(
    "phrase_wildcard_query",
    f"""WITH {BASE_CTES},
pw_df AS (
  SELECT term, count(*)::BIGINT AS df FROM tf WHERE term LIKE 'ta%' GROUP BY term
),
pw_w(w) AS (
  SELECT CAST(
    list_reduce(list(CAST({_PW_IDF_TERM} AS DOUBLE) ORDER BY term), (a, b) -> a + b)
    + CAST({_PW_IDF_PART} AS DOUBLE) AS FLOAT)
  FROM pw_df
),
pw0 AS (SELECT DISTINCT doc_id, pos FROM tok WHERE term LIKE 'ta%'),
pw1 AS (SELECT doc_id, pos FROM tok WHERE term = 'part'),
pw AS (
  SELECT pw0.doc_id, count(*)::INTEGER AS freq
  FROM pw0 JOIN pw1 ON pw1.doc_id = pw0.doc_id AND pw1.pos = pw0.pos + 1
  GROUP BY pw0.doc_id
),
sc AS (
  SELECT pw.doc_id, {_score_expr('pw_w.w', 'pw.freq', 'i.inv')} AS score
  FROM pw JOIN invn i USING (doc_id) CROSS JOIN pw_w
)
{_topk_sql('sc')}""",
)
def phrase_wildcard_query(spark, sf_dir):
    """Phrase with a wildcard slot: 'ta* part' — the ta* slot expands
    against the term dictionary (sorted, capped), then runs as a
    MultiPhraseQuery; weight sums float32 idfs over every expanded
    alternative in expansion order plus the literal slot."""
    _, s = get_searcher(spark, sf_dir)
    return extras.phrase_wildcard(s, ["ta*", "part"], k=10).select(
        "doc_id", "score"
    )


# ---- TermAutomatonQuery (sandbox/TermAutomatonQuery.java) ------------------


@register(
    "term_automaton_query",
    f"""WITH {BASE_CTES},
ta_k AS (SELECT doc_id, pos FROM tok WHERE term = 'key'),
ta_v AS (SELECT doc_id, pos FROM tok WHERE term = 'value')
SELECT k.doc_id, count(*)::BIGINT AS n_matches
FROM ta_k k JOIN ta_v v ON v.doc_id = k.doc_id AND v.pos = k.pos + 2
GROUP BY k.doc_id ORDER BY k.doc_id""",
)
def term_automaton_query(spark, sf_dir):
    """Graph phrase 'key ANY value' (one arbitrary token between) through
    the acyclic token-automaton matcher — frontier position joins, one
    round per path edge."""
    from lucene_spark.search.term_automaton import ANY, TermAutomaton, automaton_count

    _, s = get_searcher(spark, sf_dir)
    auto = TermAutomaton(
        ((0, 1, "key"), (1, 2, ANY), (2, 3, "value")), frozenset({3})
    )
    return automaton_count(s, auto)


# ---- dynamic range + long-value facets --------------------------------------


@register(
    "dynamic_range_facets",
    f"""WITH RECURSIVE {BASE_CTES},
drv AS (
  SELECT d.n_chars::BIGINT AS v, ((d.doc_id % 7) + 1)::BIGINT AS w
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'row')
),
ordv AS (SELECT v, w, row_number() OVER (ORDER BY v, w) AS rn FROM drv),
params AS (
  SELECT count(*)::BIGINT AS len,
         CAST(sum(w) AS DOUBLE) / least(4, count(*)) AS t
  FROM ordv
),
scan(rn, accu, vsum, cnt, vmin, e_cnt, e_w, e_min, e_max, e_vsum) AS (
  SELECT 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, NULL::BIGINT,
         NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
  UNION ALL
  SELECT x.rn,
         CASE WHEN x.fire THEN 0 ELSE x.na END,
         CASE WHEN x.fire THEN 0 ELSE x.nv END,
         CASE WHEN x.fire THEN 0 ELSE x.nc END,
         CASE WHEN x.fire THEN NULL ELSE x.nmin END,
         CASE WHEN x.fire THEN x.nc ELSE NULL END,
         CASE WHEN x.fire THEN x.na ELSE NULL END,
         CASE WHEN x.fire THEN x.nmin ELSE NULL END,
         CASE WHEN x.fire THEN x.v ELSE NULL END,
         CASE WHEN x.fire THEN x.nv ELSE NULL END
  FROM (
    SELECT o.rn, o.v, s.accu + o.w AS na, s.vsum + o.v AS nv,
           s.cnt + 1 AS nc, coalesce(s.vmin, o.v) AS nmin,
           CAST(s.accu + o.w AS DOUBLE) >= (SELECT t FROM params) AS fire
    FROM scan s JOIN ordv o ON o.rn = s.rn + 1
  ) x
),
ranges AS (
  SELECT e_cnt AS cnt, e_w AS weight, e_min AS vmin, e_max AS vmax,
         CAST(e_vsum AS DOUBLE) / e_cnt AS centroid
  FROM scan WHERE e_cnt IS NOT NULL
  UNION ALL
  SELECT s.cnt, s.accu, s.vmin,
         (SELECT v FROM ordv WHERE rn = (SELECT len FROM params)),
         CAST(s.vsum AS DOUBLE) / s.cnt
  FROM scan s
  WHERE s.rn = (SELECT len FROM params) AND s.cnt > 0
)
SELECT cnt, weight, vmin, vmax, centroid FROM ranges
ORDER BY vmin, vmax, cnt""",
)
def dynamic_range_facets(spark, sf_dir):
    """Weight-balanced dynamic numeric ranges over a match set
    (facet/range/DynamicRangeUtil.java:computeDynamicNumericRanges —
    sort by (value, weight), emit a range whenever the accumulated weight
    reaches totalWeight/min(topN, len), trailing partial kept). The Spark
    side compresses matches to distinct (value, weight) pairs (one
    semi-join + one groupBy) and runs the greedy scan on the histogram;
    the DuckDB oracle replays the reference's per-ROW loop as a recursive
    CTE — two independent formulations of the same segmentation."""
    _, s = get_searcher(spark, sf_dir)
    return extras.dynamic_range_facets(
        s,
        Q.TermQuery("text", "row"),
        value_col="n_chars",
        weight_col=(F.col("doc_id") % 7 + 1),
        top_n=4,
    ).orderBy("vmin", "vmax", "cnt")


@register(
    "long_value_facet_counts",
    f"""WITH {BASE_CTES}
SELECT (n_chars % 32)::BIGINT AS value, count(*)::BIGINT AS cnt
FROM documents
WHERE doc_id IN (SELECT doc_id FROM tf WHERE term = 'data')
GROUP BY value ORDER BY value""",
)
def long_value_facet_counts(spark, sf_dir):
    """facet/LongValueFacetCounts.java:54 — counts per distinct long value
    of a numeric source over the match set."""
    _, s = get_searcher(spark, sf_dir)
    return extras.long_value_counts(
        s, Q.TermQuery("text", "data"), F.col("n_chars") % 32
    ).orderBy("value")


# ---- taxonomy facets / fuzzy suggest / index-sort early exit ---------------


@register(
    "taxonomy_facet_counts",
    f"""WITH {BASE_CTES},
tx AS (
  SELECT d.source || '/' || d.lang AS leaf, d.source AS root
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'group')
),
tp AS (
  SELECT root AS path FROM tx UNION ALL SELECT leaf FROM tx
)
SELECT path, count(*)::BIGINT AS cnt FROM tp GROUP BY path ORDER BY path""",
)
def taxonomy_facet_counts(spark, sf_dir):
    """Hierarchical facet counts over source/lang paths: every match
    counts toward each ancestor node (facet/taxonomy counting)."""
    _, s = get_searcher(spark, sf_dir)
    return extras.taxonomy_counts(
        s, Q.TermQuery("text", "group"), path_cols=["source", "lang"]
    )


@register(
    "taxonomy_facet_associations",
    f"""WITH {BASE_CTES},
txa AS (
  SELECT d.source || '/' || d.lang AS leaf, d.source AS root, d.n_chars
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'group')
),
tpa AS (
  SELECT root AS path, n_chars FROM txa
  UNION ALL SELECT leaf, n_chars FROM txa
)
SELECT path, count(*)::BIGINT AS cnt, sum(n_chars)::BIGINT AS assoc_sum
FROM tpa GROUP BY path ORDER BY path""",
)
def taxonomy_facet_associations(spark, sf_dir):
    """Association facets (TaxonomyFacetIntAssociations, SUM aggregation):
    each match adds its n_chars association value to every ancestor of its
    source/lang path."""
    _, s = get_searcher(spark, sf_dir)
    return extras.taxonomy_associations(
        s, Q.TermQuery("text", "group"), path_cols=["source", "lang"],
        value_col="n_chars",
    ).orderBy("path")


@register(
    "suggest_fuzzy",
    f"""WITH {BASE_CTES},
ts AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT term, df FROM ts
WHERE term LIKE 'sca%' OR levenshtein(substring(term, 1, 3), 'sca') <= 1
ORDER BY df DESC, term ASC LIMIT 10""",
)
def suggest_fuzzy_entry(spark, sf_dir):
    """FuzzySuggester analog: popularity-ranked completions whose head is
    within 1 edit of the typed prefix."""
    _, s = get_searcher(spark, sf_dir)
    return extras.suggest_fuzzy(s, "sca", n=10, max_edits=1)


@register(
    "infix_suggest_query",
    f"""WITH sugg AS (
  SELECT array_to_string((regexp_extract_all(text, '{_TOKEN_SQL}'))[1:5], ' ') AS s,
         n_chars::BIGINT AS weight
  FROM documents
),
stok AS (SELECT s, weight, regexp_extract_all(s, '{_TOKEN_SQL}') AS tk FROM sugg),
im AS (
  SELECT s AS suggestion, weight FROM stok
  WHERE list_contains(tk, 'the')
    AND len(list_filter(tk, x -> starts_with(x, 'tab'))) > 0
)
SELECT suggestion, weight FROM im
ORDER BY weight DESC, suggestion ASC LIMIT 5""",
)
def infix_suggest_query(spark, sf_dir):
    """AnalyzingInfixSuggester lookup('the tab'): 'the' is an exact term
    clause, the trailing 'tab' a prefix clause matching ANY token of the
    suggestion (the infix part), ranked by weight
    (AnalyzingInfixSuggester.java:624-717). Suggestion table = each doc's
    first five tokens weighted by n_chars."""
    from lucene_spark.analysis.sql import sql_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sugg = docs.select(
        F.concat_ws(" ", F.slice(sql_tokens(F.col("text")), 1, 5)).alias("text"),
        F.col("n_chars").alias("weight"),
    )
    return extras.infix_suggest(sugg, "the tab", n=5)


@register(
    "sort_by_field_early",
    f"""WITH {BASE_CTES}
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM tf WHERE term = 'line')
ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 10""",
)
def sort_by_field_early(spark, sf_dir):
    """Index-sort early termination: same result as sort_by_field, but
    through the sorted-layout LocalLimit plan (setIndexSort analog)."""
    idx, s = get_searcher(spark, sf_dir)
    if "n_chars" not in getattr(idx, "_sorted_docs", {}):
        extras.optimize_for_sort(idx, "n_chars")
    return extras.sorted_index_topk(s, Q.TermQuery("text", "line"), "n_chars", k=10)


# ---- FeatureField (document/FeatureField.java:106) -------------------------


@register(
    "feature_field_query",
    f"""WITH {BASE_CTES},
{_term_scores_cte('ffs', 'query')},
ff_feat AS (
  SELECT doc_id,
         CAST(CAST(0.5 AS DOUBLE)
              * (CAST(CAST(n_chars / 100.0 AS FLOAT) AS DOUBLE)
                 / (CAST(CAST(n_chars / 100.0 AS FLOAT) AS DOUBLE) + CAST(2.5 AS DOUBLE)))
              AS FLOAT) AS score
  FROM documents WHERE n_chars > 0
),
ff_u AS (SELECT * FROM ffs UNION ALL SELECT * FROM ff_feat),
sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM ff_u GROUP BY doc_id
)
{_topk_sql('sc')}""",
)
def feature_field_query(spark, sf_dir):
    """BM25 TermQuery + FeatureField saturation signal combined as SHOULD
    clauses (the FeatureField javadoc ranking pattern): score =
    bm25('query') + 0.5 * S/(S + 2.5) with S = n_chars/100 stored as a
    float32 feature value (freq-as-signal, DOCS_AND_CUSTOM_FREQS)."""
    idx, s = get_searcher(spark, sf_dir)
    if idx.features is None:
        idx.features = idx.docs.select(
            "doc_id",
            F.lit("pagerank").alias("feature"),
            (F.col("n_chars") / F.lit(100.0)).cast("float").alias("value"),
        )
    q = Q.BooleanQuery.of(
        should=[
            Q.TermQuery("text", "query"),
            Q.FeatureQuery(
                "features", "pagerank", "saturation", pivot=2.5, boost=0.5
            ),
        ]
    )
    return s.search(q, k=10).select("doc_id", "score")


# ---- full minimal-interval algebra (queries/intervals/Intervals.java) ------

from lucene_spark.search import intervals as IV

# minimal ordered intervals of (key .. value): per a-start the earliest
# b-end after it, dominated (properly-containing) intervals dropped
_IV_ORDERED_CTES = """
iva AS (SELECT doc_id, pos FROM tok WHERE term = 'key'),
ivb AS (SELECT doc_id, pos FROM tok WHERE term = 'value'),
iv_cand AS (
  SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
  FROM iva a JOIN ivb b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.doc_id, a.pos
),
iv_min AS (
  SELECT * FROM iv_cand d WHERE NOT EXISTS (
    SELECT 1 FROM iv_cand d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
)
""".strip()


@register(
    "intervals_ordered_minimal",
    f"""WITH {BASE_CTES},
{_IV_ORDERED_CTES}
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM iv_min GROUP BY doc_id ORDER BY doc_id""",
)
def intervals_ordered_minimal(spark, sf_dir):
    """Intervals.ordered(term, term): count of minimal ordered intervals
    per doc (no interval properly contains another)."""
    _, s = get_searcher(spark, sf_dir)
    return IV.count_intervals(s, IV.Ordered(IV.Term("key"), IV.Term("value")))


@register(
    "intervals_maxgaps",
    f"""WITH {BASE_CTES},
{_IV_ORDERED_CTES}
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM iv_min WHERE e - s - 1 <= 2
GROUP BY doc_id ORDER BY doc_id""",
)
def intervals_maxgaps(spark, sf_dir):
    """Intervals.maxgaps(2, ordered(key, value)): ordered intervals with
    at most 2 non-matching positions inside."""
    _, s = get_searcher(spark, sf_dir)
    return IV.count_intervals(
        s, IV.MaxGaps(2, IV.Ordered(IV.Term("key"), IV.Term("value")))
    )


@register(
    "intervals_containing",
    f"""WITH {BASE_CTES},
ica AS (SELECT doc_id, pos FROM tok WHERE term = 'key'),
icb AS (SELECT doc_id, pos FROM tok WHERE term = 'value'),
ic_cand AS (
  SELECT a.doc_id, least(a.pos, b.pos) AS s, greatest(a.pos, b.pos) AS e
  FROM ica a JOIN icb b ON b.doc_id = a.doc_id
),
ic_dedup AS (SELECT doc_id, s, min(e) AS e FROM ic_cand GROUP BY doc_id, s),
ic_min AS (
  SELECT * FROM ic_dedup d WHERE NOT EXISTS (
    SELECT 1 FROM ic_dedup d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
),
ic_has AS (
  SELECT m.doc_id, m.s, m.e FROM ic_min m
  WHERE EXISTS (
    SELECT 1 FROM tok t WHERE t.term = 'data'
      AND t.doc_id = m.doc_id AND t.pos >= m.s AND t.pos <= m.e)
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM ic_has GROUP BY doc_id ORDER BY doc_id""",
)
def intervals_containing(spark, sf_dir):
    """Intervals.containing(unordered(key, value), term(data)): minimal
    unordered key/value windows that also cover a 'data' occurrence."""
    _, s = get_searcher(spark, sf_dir)
    src = IV.Containing(
        IV.Unordered(IV.Term("key"), IV.Term("value")), IV.Term("data")
    )
    return IV.count_intervals(s, src)


@register(
    "intervals_or_phrases",
    f"""WITH {BASE_CTES},
iop AS (
  SELECT p0.doc_id, p0.pos AS s, p1.pos AS e
  FROM tok p0 JOIN tok p1
    ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
  WHERE (p0.term = 'key' AND p1.term = 'value')
     OR (p0.term = 'value' AND p1.term = 'key')
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM iop GROUP BY doc_id ORDER BY doc_id""",
)
def intervals_or_phrases(spark, sf_dir):
    """Intervals.or(phrase(key value), phrase(value key)): adjacent pair
    in either order (width-2 intervals are never nested, so the union is
    already minimal)."""
    _, s = get_searcher(spark, sf_dir)
    src = IV.Or(IV.Phrase("key", "value"), IV.Phrase("value", "key"))
    return IV.count_intervals(s, src)


# ---- PointInSetQuery (search/PointInSetQuery.java:59) ----------------------


@register(
    "point_in_set_query",
    """SELECT doc_id, CAST(1.0 AS FLOAT) AS score
FROM documents WHERE n_chars IN (64, 128, 256, 512) ORDER BY doc_id""",
)
def point_in_set_query(spark, sf_dir):
    """IntPoint.newSetQuery analog: numeric set membership compiled to a
    pushed-down IN filter (the BKD set-intersection's Catalyst twin)."""
    _, s = get_searcher(spark, sf_dir)
    return s.scored(Q.PointInSetQuery("n_chars", (64, 128, 256, 512))).select(
        "doc_id", "score"
    )


# ---- Geo: LatLonPoint family (document/LatLonPoint.java) -------------------

# Deterministic synthetic coordinates derived from the customer key in
# EXACT integer arithmetic (identical in Spark and DuckDB), then divided
# by 100: lat in [-90, 89.99], lon in [-180, 179.99].
_GEO_LAT = "CAST((c_custkey * 7919) % 18000 AS DOUBLE) / 100.0 - 90.0"
_GEO_LON = "CAST((c_custkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0"


def _geo_points(spark, sf_dir):
    from pyspark.sql import functions as _F

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return c.select(
        "c_custkey",
        _F.expr(_GEO_LAT).alias("lat"),
        _F.expr(_GEO_LON).alias("lon"),
    )


@register(
    "geo_box_query",
    f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
)
SELECT c_custkey, lat, lon FROM pts
WHERE lat >= -40.0 AND lat <= 40.0 AND (lon >= 140.0 OR lon <= -140.0)
ORDER BY c_custkey""",
)
def geo_box_query(spark, sf_dir):
    """LatLonPoint.newBoxQuery (LatLonPoint.java:214) with a
    dateline-crossing box (min_lon 140 > max_lon -140): pure comparisons,
    pushdown-able — Catalyst's parquet pruning plays the BKD role."""
    from lucene_spark.search import geo

    pts = _geo_points(spark, sf_dir)
    return geo.box_filter(pts, -40.0, 40.0, 140.0, -140.0).orderBy("c_custkey")


@register(
    "geo_distance_query",
    f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
),
dd AS (
  SELECT c_custkey, lat, lon,
         2.0 * 6371008.7714 * asin(least(1.0, sqrt(
             pow(sin(radians(lat - 12.34) / 2.0), 2.0)
           + cos(radians(12.34)) * cos(radians(lat))
             * pow(sin(radians(lon - 56.78) / 2.0), 2.0)))) AS dist_m
  FROM pts
)
SELECT c_custkey, CAST(round(dist_m, 0) AS BIGINT) AS dist_round_m
FROM dd WHERE dist_m <= 2500000.0
ORDER BY dist_round_m ASC, c_custkey ASC""",
)
def geo_distance_query(spark, sf_dir):
    """LatLonPoint.newDistanceQuery (LatLonPoint.java:243): bounding-box
    pre-filter + exact haversine (SloppyMath.haversinMeters semantics,
    R=6371008.7714), sorted nearest-first (LatLonDocValuesField
    newDistanceSort). Distances rounded to whole meters for the
    cross-engine hash (trig libms may differ in the last ulp)."""
    from pyspark.sql import functions as _F

    from lucene_spark.search import geo

    pts = _geo_points(spark, sf_dir)
    hits = geo.distance_filter(pts, 12.34, 56.78, 2_500_000.0, dist_col="dist_m")
    return (
        hits.select(
            "c_custkey",
            _F.round(_F.col("dist_m"), 0).cast("long").alias("dist_round_m"),
        )
        .orderBy(_F.asc("dist_round_m"), _F.asc("c_custkey"))
    )


#: deterministic per-event boxes (ints -> exact doubles in both engines)
_BOX_CTE = """bx AS (
  SELECT event_id,
         CAST((event_id % 120) - 60 AS DOUBLE) AS min_lat,
         CAST((event_id % 120) - 60 + (user_id % 10) + 1 AS DOUBLE) AS max_lat,
         CAST(((event_id * 7) % 300) - 150 AS DOUBLE) AS min_lon,
         CAST(((event_id * 7) % 300) - 150 + (user_id % 20) + 1 AS DOUBLE) AS max_lon
  FROM events
)"""


@register(
    "lat_lon_box_crosses_query",
    f"""WITH {_BOX_CTE}
SELECT event_id, min_lat, max_lat, min_lon, max_lon FROM bx
WHERE (25.0 >= min_lat AND -10.0 <= max_lat AND 40.0 >= min_lon AND -30.0 <= max_lon)
  AND NOT (-10.0 <= min_lat AND 25.0 >= max_lat AND -30.0 <= min_lon AND 40.0 >= max_lon)
ORDER BY event_id""",
)
def lat_lon_box_crosses_query(spark, sf_dir):
    """LatLonBoundingBox.newCrossesQuery
    (sandbox/document/LatLonBoundingBox.java:203) over per-doc stored
    boxes: CROSSES = INTERSECTS AND NOT WITHIN
    (document/RangeFieldQuery.java:259-269). Pure comparison predicates,
    pushdown-able."""
    from lucene_spark.search import geo

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    boxes = ev.select(
        "event_id",
        ((F.col("event_id") % 120) - 60).cast("double").alias("min_lat"),
        ((F.col("event_id") % 120) - 60 + (F.col("user_id") % 10) + 1)
        .cast("double")
        .alias("max_lat"),
        (((F.col("event_id") * 7) % 300) - 150).cast("double").alias("min_lon"),
        (((F.col("event_id") * 7) % 300) - 150 + (F.col("user_id") % 20) + 1)
        .cast("double")
        .alias("max_lon"),
    )
    return geo.lat_lon_bounding_box(
        boxes, "CROSSES", -10.0, -30.0, 25.0, 40.0
    ).orderBy("event_id")


@register(
    "dv_multi_range_query",
    """SELECT event_id, value FROM events
WHERE (value >= 2.0 AND value <= 8.0) OR (value >= 20.0 AND value <= 25.0)
ORDER BY event_id""",
)
def dv_multi_range_query(spark, sf_dir):
    """SortedNumericDocValuesMultiRangeQuery
    (sandbox/search/DocValuesMultiRangeQuery.java): overlapping ranges
    [2,5] and [4.5,8] coalesce into [2,8] (the SortedSet bucket merge),
    then ONE OR-of-BETWEENs predicate — no join, pushdown-able."""
    from lucene_spark.search.extras import dv_multi_range_filter

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        dv_multi_range_filter(
            ev, "value", [(2.0, 5.0), (4.5, 8.0), (20.0, 25.0)]
        )
        .select("event_id", "value")
        .orderBy("event_id")
    )


#: a simple (convex-ish) pentagon over the Atlantic/Europe quadrant;
#: (lat, lon) vertices, ring closes itself
_GEO_POLYGON = [(0.0, 0.0), (30.0, 40.0), (60.0, 10.0), (50.0, -30.0), (10.0, -40.0)]


def _register_geo_polygon():
    from lucene_spark.search import geo

    @register(
        "geo_polygon_query",
        f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
)
SELECT c_custkey, lat, lon FROM pts
WHERE {geo.polygon_contains_sql(_GEO_POLYGON)}
ORDER BY c_custkey""",
    )
    def geo_polygon_query(spark, sf_dir):
        """LatLonPoint.newPolygonQuery (LatLonPoint.java:271): bbox
        comparisons (pushdown-able, the Component2D bbox short-circuit)
        plus a crossing-number test unrolled over the polygon's edges as
        one codegen expression — no UDF, no shuffle. The DuckDB oracle
        mirrors the identical IEEE operation order."""
        pts = _geo_points(spark, sf_dir)
        return pts.filter(geo.polygon_filter(_GEO_POLYGON)).orderBy("c_custkey")


_register_geo_polygon()


#: two components: the Atlantic/Europe pentagon carrying a rectangular
#: hole, plus a southern-hemisphere triangle — (shell, holes) pairs
_GEO_MULTI_POLYGON = [
    (
        _GEO_POLYGON,
        [[(20.0, -10.0), (35.0, -10.0), (35.0, 10.0), (20.0, 10.0)]],
    ),
    ([(-60.0, 60.0), (-20.0, 100.0), (-60.0, 140.0)], []),
]


def _register_geo_multi_polygon():
    from lucene_spark.search import geo

    @register(
        "geo_multi_polygon_query",
        f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
)
SELECT c_custkey, lat, lon FROM pts
WHERE {geo.multi_polygon_contains_sql(_GEO_MULTI_POLYGON)}
ORDER BY c_custkey""",
    )
    def geo_multi_polygon_query(spark, sf_dir):
        """LatLonPoint.newPolygonQuery(field, Polygon...) with holes
        (geo/Polygon.java:63; Component2D treats hole interiors as
        outside): union of two components, one carrying a rectangular
        hole — the whole test is still ONE codegen expression (per-ring
        crossing-number sums composed with boolean algebra), no UDF, no
        shuffle; the DuckDB oracle mirrors the identical IEEE ops."""
        pts = _geo_points(spark, sf_dir)
        return pts.filter(geo.multi_polygon_filter(_GEO_MULTI_POLYGON)).orderBy(
            "c_custkey"
        )


_register_geo_multi_polygon()


# ---- Pluggable similarities (search/similarities/) -------------------------
# ClassicSimilarity (TF-IDF, ClassicSimilarity.java:27 over
# TFIDFSimilarity.java:451) and BooleanSimilarity (BooleanSimilarity.java:24)
# through the same searcher plans — only the score kernel changes.

#: TFIDFSimilarity normTable[0] = 1f/normTable[255] (TFIDFSimilarity.java:446)
def _classic_t0() -> float:
    import numpy as _np

    from lucene_spark.search.similarity import ClassicSimilarity

    return float(ClassicSimilarity().norm_inv_cache(_np.float32(1.0))[0])


def _register_similarities():
    from lucene_spark.entry_impl import _fadd, _flit, _fmul

    classic_idf = _fc(
        "(ln(((SELECT doc_count FROM fstats) + 1) / "
        "CAST((SELECT count(*) FROM tf WHERE term = 'table') + 1 AS DOUBLE)) + 1.0)"
    )
    # float(float(sqrt(freq)) * w) * normTable[norm], each step rounded to
    # float32 like TFIDFScorer.score (TFIDFSimilarity.java:468-471)
    classic_tf = _fc("sqrt(CAST(tf.freq AS DOUBLE))")
    classic_score = _fc(f"({_fc(f'({classic_tf} * cw.w)')} * c.inv)")

    @register(
        "classic_similarity_query",
        f"""WITH {BASE_CTES},
cnorm AS (
  SELECT n.doc_id,
         CASE WHEN n.nb = 0 THEN {_flit(_classic_t0())}
              ELSE CAST(1.0 / sqrt(CAST(t.floor_len AS DOUBLE)) AS FLOAT) END AS inv
  FROM norms n JOIN b4 t ON t.nb = n.nb
),
cw(w) AS (SELECT {classic_idf}),
sc AS (
  SELECT tf.doc_id, {classic_score} AS score
  FROM tf JOIN cnorm c USING (doc_id) CROSS JOIN cw
  WHERE tf.term = 'table'
)
{_topk_sql('sc')}""",
    )
    def classic_similarity_query(spark, sf_dir):
        """TermQuery top-10 under ClassicSimilarity: idf =
        float(ln((docCount+1)/(df+1)) + 1), norm = float(1/sqrt(len)),
        score = float(float(sqrt(freq))*w)*norm — the searcher's plans are
        unchanged, only sim.score_col's arithmetic differs."""
        from lucene_spark.search.searcher import IndexSearcher
        from lucene_spark.search.similarity import ClassicSimilarity

        idx, _ = get_searcher(spark, sf_dir)
        s = IndexSearcher(idx, similarity=ClassicSimilarity())
        return s.search(Q.TermQuery("text", "table"), k=10).select("doc_id", "score")

    @register(
        "boolean_similarity_query",
        f"""WITH {BASE_CTES},
m AS (
  SELECT doc_id, CAST(count(DISTINCT term) AS FLOAT) AS score
  FROM tf WHERE term IN ('table', 'part') GROUP BY doc_id
)
{_topk_sql('m')}""",
    )
    def boolean_similarity_query(spark, sf_dir):
        """SHOULD disjunction under BooleanSimilarity: every clause match
        scores its boost (1.0), so a doc's score is its matched-clause
        count — BooleanSimilarity.java:49 composed through the standard
        boolean plan."""
        from lucene_spark.search.searcher import IndexSearcher
        from lucene_spark.search.similarity import BooleanSimilarity

        idx, _ = get_searcher(spark, sf_dir)
        s = IndexSearcher(idx, similarity=BooleanSimilarity())
        q = Q.BooleanQuery.of(
            should=[Q.TermQuery("text", "table"), Q.TermQuery("text", "part")]
        )
        return s.search(q, k=10).select("doc_id", "score")

    # SweetSpotSimilarity (misc/SweetSpotSimilarity.java:34): plateau
    # length norm over [ln_min, ln_max] at steepness 0.5, baseline tf at
    # the defaults (== sqrt(freq))
    import numpy as _np

    from lucene_spark.search.similarity import SweetSpotSimilarity

    _SS = SweetSpotSimilarity(ln_min=4, ln_max=64, ln_steep=0.5)
    _ss_t0 = float(_SS.norm_inv_cache(_np.float32(1.0))[0])
    ss_inner = _fadd(
        _fmul(
            _flit(0.5),
            _fc("(abs(t.floor_len - 4) + abs(t.floor_len - 64) - 60)"),
        ),
        _flit(1.0),
    )

    @register(
        "sweet_spot_similarity_query",
        f"""WITH {BASE_CTES},
ssnorm AS (
  SELECT n.doc_id,
         CASE WHEN n.nb = 0 THEN {_flit(_ss_t0)}
              ELSE CAST(1.0 / sqrt(CAST({ss_inner} AS DOUBLE)) AS FLOAT) END AS inv
  FROM norms n JOIN b4 t ON t.nb = n.nb
),
ssw(w) AS (SELECT {classic_idf}),
sc AS (
  SELECT tf.doc_id, {classic_score.replace('cw.w', 'ssw.w').replace('c.inv', 's.inv')} AS score
  FROM tf JOIN ssnorm s USING (doc_id) CROSS JOIN ssw
  WHERE tf.term = 'table'
)
{_topk_sql('sc')}""",
    )
    def sweet_spot_similarity_query(spark, sf_dir):
        """TermQuery top-10 under SweetSpotSimilarity(4, 64, 0.5): docs
        whose quantized length sits inside the sweet spot get lengthNorm
        1.0 (no penalty); outside, the norm slopes off at steepness 0.5 —
        the misc module's plateau model through the unchanged plans."""
        from lucene_spark.search.searcher import IndexSearcher

        idx, _ = get_searcher(spark, sf_dir)
        s = IndexSearcher(idx, similarity=_SS)
        return s.search(Q.TermQuery("text", "table"), k=10).select("doc_id", "score")


_register_similarities()


# ---- SimilarityBase family (search/similarities/SimilarityBase.java) -------
# LM Dirichlet / Jelinek-Mercer / Indri, DFR, IB, DFI, Axiomatic: every model
# computes its score entirely in double with ONE final float32 cast
# (BasicSimScorer.score:185-187), so the oracles are plain double SQL with a
# single CAST(... AS FLOAT). docLen is the byte4-decoded length stored in the
# norm (b4.floor_len == SimilarityBase.LENGTH_TABLE[norm]).


def _register_similarity_base():
    import numpy as _np

    from lucene_spark.search import similarities as SB

    F32 = _np.float32
    # shared CTE: per-doc decoded length (double) from the norm byte
    dlen = (
        "dlen AS (SELECT n.doc_id, CAST(t.floor_len AS DOUBLE) AS dl "
        "FROM norms n JOIN b4 t ON t.nb = n.nb)"
    )
    # collection stats as doubles (BasicStats: avgFieldLength = sumTTF/(double)docCount)
    n_docs = "(SELECT doc_count FROM fstats)"
    sum_ttf = "(SELECT sum_ttf FROM fstats)"
    avg_dl = f"({sum_ttf} / CAST({n_docs} AS DOUBLE))"

    def term_stats(term: str) -> tuple[str, str]:
        df = f"(SELECT count(*) FROM tf WHERE term = '{term}')"
        ttf = f"(SELECT coalesce(sum(freq), 0) FROM tf WHERE term = '{term}')"
        return df, ttf

    def sb_entry(name: str, score_sql: str, term: str, make_sim):
        @register(
            name,
            f"""WITH {BASE_CTES},
{dlen},
sc AS (
  SELECT tf.doc_id, CAST({score_sql} AS FLOAT) AS score
  FROM tf JOIN dlen d USING (doc_id)
  WHERE tf.term = '{term}'
)
{_topk_sql('sc')}""",
        )
        def _entry(spark, sf_dir, _make=make_sim, _term=term):
            from lucene_spark.search.searcher import IndexSearcher

            idx, _ = get_searcher(spark, sf_dir)
            s = IndexSearcher(idx, similarity=_make())
            return s.search(Q.TermQuery("text", _term), k=10).select(
                "doc_id", "score"
            )

        _entry.__name__ = name
        return _entry

    # -- LM Dirichlet (LMDirichletSimilarity.java:86-93), mu=2000 ------------
    df, ttf = term_stats("table")
    p = f"(({ttf} + 1.0) / ({sum_ttf} + 1.0))"
    lmd = (
        f"greatest(0.0, ln(1.0 + CAST(tf.freq AS DOUBLE) / (2000.0 * {p}))"
        f" + ln(2000.0 / (d.dl + 2000.0)))"
    )
    sb_entry(
        "lm_dirichlet_query",
        lmd,
        "table",
        lambda: SB.LMDirichletSimilarity(),
    )

    # -- LM Jelinek-Mercer (LMJelinekMercerSimilarity.java:73-79), λ=0.7 -----
    # (1 - λ) evaluates in float32 in the reference; λ itself widens to double
    one_m = float(F32(1.0) - F32(0.7))
    lam_d = float(F32(0.7))
    lmjm = (
        f"ln(1.0 + (({one_m!r} * CAST(tf.freq AS DOUBLE) / d.dl))"
        f" / ({lam_d!r} * {p}))"
    )
    sb_entry(
        "lm_jelinek_mercer_query",
        lmjm,
        "table",
        lambda: SB.LMJelinekMercerSimilarity(lam=0.7),
    )

    # -- Indri Dirichlet (IndriDirichletSimilarity.java:63-68) ---------------
    # p = ttf/sumTTF; score = ln((freq + mu*p)/(dl + mu)) — no boost, no clamp
    p_indri = f"(CAST({ttf} AS DOUBLE) / {sum_ttf})"
    indri = f"ln((CAST(tf.freq AS DOUBLE) + 2000.0 * {p_indri}) / (d.dl + 2000.0))"
    sb_entry(
        "indri_dirichlet_query",
        indri,
        "table",
        lambda: SB.IndriDirichletSimilarity(),
    )

    # -- DFR I(ne)-B-H2 (DFRSimilarity.java:127-131 defaults) ----------------
    # tfn = freq * log2(1 + c*avgdl/dl), c = 1 (NormalizationH2.java:57-59)
    # ae  = (F+1)/n, F = ttf+1, n = df+1 (AfterEffectB.java:32-36)
    # ne  = N*(1 - ((N-1)/N)^F); A = log2((N+1)/(ne+0.5)) (BasicModelIne)
    # score = A * ae * (1 - 1/(1+tfn))
    tfn = f"(CAST(tf.freq AS DOUBLE) * (ln(1.0 + {avg_dl} / d.dl) / ln(2.0)))"
    ae = f"((({ttf} + 1) + 1.0) / ({df} + 1))"
    ne = (
        f"({n_docs} * (1.0 - pow(CAST({n_docs} - 1 AS DOUBLE) / {n_docs},"
        f" CAST({ttf} AS DOUBLE))))"
    )
    a_ine = f"(ln(({n_docs} + 1) / ({ne} + 0.5)) / ln(2.0))"
    dfr = f"{a_ine} * {ae} * (1.0 - 1.0 / (1.0 + {tfn}))"
    sb_entry(
        "dfr_ineb2_query",
        dfr,
        "table",
        lambda: SB.DFRSimilarity(),
    )

    # -- IB LL-DF-H2 (IBSimilarity.java:115-118) ------------------------------
    # lambda = float32((df+1)/(N+1)) (LambdaDF.java:32-40); LL distribution =
    # -ln(lam/(tfn+lam)) (DistributionLL.java:32-35)
    lam_f32 = f"CAST(({df} + 1.0) / ({n_docs} + 1.0) AS FLOAT)"
    ib = f"-ln(CAST({lam_f32} AS DOUBLE) / ({tfn} + {lam_f32}))"
    sb_entry(
        "ib_ll_query",
        ib,
        "table",
        lambda: SB.IBSimilarity(distribution=SB.DistributionLL()),
    )

    # -- DFI ChiSquared (DFISimilarity.java:70-81) ----------------------------
    expected = f"(({ttf} + 1) * d.dl / ({sum_ttf} + 1))"
    chi2 = (
        f"((CAST(tf.freq AS DOUBLE) - {expected}) * (CAST(tf.freq AS DOUBLE) - {expected})"
        f" / {expected})"
    )
    dfi = (
        f"CASE WHEN CAST(tf.freq AS DOUBLE) <= {expected} THEN 0.0 "
        f"ELSE ln({chi2} + 1.0) / ln(2.0) END"
    )
    sb_entry(
        "dfi_chi_squared_query",
        dfi,
        "table",
        lambda: SB.DFISimilarity(),
    )

    # -- Axiomatic F2EXP (AxiomaticF2EXP.java:57-85), s=k=float32(0.35) -------
    s_f = float(F32(0.35))
    k_f = float(F32(0.35))
    tfln = (
        f"(CAST(tf.freq AS DOUBLE) / (CAST(tf.freq AS DOUBLE) + {s_f!r}"
        f" + {s_f!r} * d.dl / {avg_dl}))"
    )
    idf_exp = f"pow(({n_docs} + 1.0) / {df}, {k_f!r})"
    axio = f"greatest(0.0, {tfln} * {idf_exp})"
    sb_entry(
        "axiomatic_f2exp_query",
        axio,
        "table",
        lambda: SB.AxiomaticF2EXP(),
    )


_register_similarity_base()


# ---- PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java:47) --------


@register(
    "payload_score_query",
    f"""WITH {BASE_CTES},
pp0 AS (SELECT doc_id, pos FROM tok WHERE term = 'table'),
pp1 AS (SELECT doc_id, pos FROM tok WHERE term = 'part'),
ppspan AS (
  SELECT pp0.doc_id, pp0.pos
  FROM pp0 JOIN pp1 ON pp1.doc_id = pp0.doc_id AND pp1.pos = pp0.pos + 1
),
ppv AS (
  SELECT doc_id, CAST(CAST((p % 7) + 1 AS DOUBLE) AS FLOAT) AS v
  FROM (SELECT doc_id, unnest([pos, pos + 1]) AS p FROM ppspan)
),
ppay AS (SELECT doc_id, max(v) AS payload_score FROM ppv GROUP BY doc_id),
pph AS (
  SELECT ppspan.doc_id, count(*)::BIGINT AS freq FROM ppspan GROUP BY doc_id
),
pph_w(w) AS (SELECT {_PH_W}),
ppsc AS (
  SELECT pph.doc_id, {_score_expr('pph_w.w', 'pph.freq', 'i.inv')} AS span_score
  FROM pph JOIN invn i USING (doc_id) CROSS JOIN pph_w
)
SELECT s.doc_id, CAST(s.span_score * p.payload_score AS FLOAT) AS score,
       p.payload_score
FROM ppsc s JOIN ppay p USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def payload_score_query(spark, sf_dir):
    """PayloadScoreQuery(span='table part', MaxPayloadFunction,
    includeSpanScore=true): per-position payloads ride a side table
    (position-derived values stand in for DelimitedPayloadTokenFilter
    annotations); matched spans collect both slots' payloads, max-folded
    per doc, multiplied into the phrase BM25 score — all float32."""
    from pyspark.sql import functions as _F

    from lucene_spark.search import payloads as P

    idx, s = get_searcher(spark, sf_dir)
    pay = P.token_payload_table(
        idx.docs, text_col="text",
        payload=((_F.col("pos") % 7) + 1).cast("double"),
    )
    return P.payload_score_topk(
        s, "text", ("table", "part"), pay, fn="max", include_span_score=True, k=10
    )


# ---- index-backed block join (join/ToParentBlockJoinQuery.java:68) ---------


@register(
    "block_join_child_scored",
    f"""WITH {BASE_CTES},
{_term_scores_cte('bjs', 'spark')},
bjg AS (
  SELECT d.source, max(bjs.score) AS score, count(*)::BIGINT AS n_matched
  FROM bjs JOIN documents d USING (doc_id) GROUP BY d.source
)
SELECT source, score, n_matched FROM bjg ORDER BY score DESC, source ASC""",
)
def block_join_child_scored(spark, sf_dir):
    """ToParentBlockJoinQuery(childQuery=TermQuery('spark'),
    ScoreMode.Max): the child side is a REAL index query (BM25-scored
    through the searcher), children roll up to their parent key with the
    parent's score = max child score (join/ToParentBlockJoinQuery.java:68,
    scoring per ParentApproximation:338). Parents are the corpus 'source'
    grouping — the Spark-native stand-in for index-contiguous doc blocks:
    at 100 TB the rollup is one map-side-combinable groupBy on the parent
    key instead of doc-id adjacency."""
    _, s = get_searcher(spark, sf_dir)
    idx, _ = get_searcher(spark, sf_dir)
    sc = s.scored(Q.TermQuery("text", "spark"))
    return (
        sc.join(idx.docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.max("score").alias("score"), F.count("*").alias("n_matched"))
        .orderBy(F.desc("score"), F.asc("source"))
    )


@register(
    "suggest_infix",
    f"""WITH {BASE_CTES},
sgi AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
SELECT term, df,
       CASE WHEN term LIKE 'art%' THEN 1 ELSE 0 END::INTEGER AS is_prefix
FROM sgi WHERE term LIKE '%art%'
ORDER BY is_prefix DESC, df DESC, term ASC LIMIT 10""",
)
def suggest_infix(spark, sf_dir):
    """AnalyzingInfixSuggester.java:82 analog: dictionary terms containing
    the fragment anywhere, prefix hits first, then popularity (df)."""
    _, s = get_searcher(spark, sf_dir)
    return extras.suggest_infix(s, "art", n=10)


@register(
    "geo_distance_topk",
    f"""WITH gpts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
),
gdd AS (
  SELECT c_custkey,
         2.0 * 6371008.7714 * asin(least(1.0, sqrt(
             pow(sin(radians(lat - (-25.0)) / 2.0), 2.0)
           + cos(radians(-25.0)) * cos(radians(lat))
             * pow(sin(radians(lon - 133.0) / 2.0), 2.0)))) AS dist_m
  FROM gpts
)
SELECT c_custkey, CAST(round(dist_m, 0) AS BIGINT) AS dist_round_m
FROM gdd ORDER BY dist_round_m ASC, c_custkey ASC LIMIT 10""",
)
def geo_distance_topk(spark, sf_dir):
    """Nearest-k by great-circle distance (LatLonDocValuesField
    newDistanceSort + top-k): TakeOrderedAndProject keeps it a
    per-partition heap, no full sort. The cross-engine sort key is the
    ROUNDED meter value on BOTH sides so the k-boundary cut cannot
    depend on last-ulp trig differences."""
    from pyspark.sql import functions as _F

    from lucene_spark.search import geo

    pts = _geo_points(spark, sf_dir)
    d = geo.haversine_meters(
        _F.lit(-25.0), _F.lit(133.0), _F.col("lat"), _F.col("lon")
    )
    return (
        pts.select(
            "c_custkey", _F.round(d, 0).cast("long").alias("dist_round_m")
        )
        .orderBy(_F.asc("dist_round_m"), _F.asc("c_custkey"))
        .limit(10)
    )


# ---- Classification (lucene/classification module) --------------------------

_KNN_CLS_TERMS = ["table", "row", "part"]
_KNN_CLS_K = 20


@register(
    "classify_knn",
    f"""WITH {BASE_CTES},
{_term_scores_cte('kc1', _KNN_CLS_TERMS[0])},
{_term_scores_cte('kc2', _KNN_CLS_TERMS[1])},
{_term_scores_cte('kc3', _KNN_CLS_TERMS[2])},
kcu AS (SELECT * FROM kc1 UNION ALL SELECT * FROM kc2 UNION ALL SELECT * FROM kc3),
kcsc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM kcu GROUP BY doc_id
),
kctop AS (
  SELECT doc_id, score FROM kcsc
  ORDER BY score DESC, doc_id ASC LIMIT {_KNN_CLS_K}
),
kclab AS (
  SELECT t.doc_id, t.score, d.lang AS label
  FROM kctop t JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL
),
kcmx AS (SELECT max(score) AS m FROM kctop),
kcagg AS (
  SELECT label, count(*)::BIGINT AS class_count,
         sum(CAST(score AS DOUBLE) / CAST(m AS DOUBLE)) AS boost
  FROM kclab CROSS JOIN kcmx GROUP BY label
),
kctot AS (SELECT sum(class_count) AS sumdoc FROM kcagg)
SELECT label, class_count,
       round(CASE WHEN sumdoc < {_KNN_CLS_K}
                  THEN (boost / {_KNN_CLS_K}.0) * {_KNN_CLS_K}.0 / CAST(sumdoc AS DOUBLE)
                  ELSE boost / {_KNN_CLS_K}.0 END, 6) AS score
FROM kcagg CROSS JOIN kctot
ORDER BY score DESC, label ASC""",
)
def classify_knn(spark, sf_dir):
    """KNearestNeighborClassifier (classification/
    KNearestNeighborClassifier.java:121): BM25 top-k neighbours of the
    input text, classes scored by rank-position boost sum(score/maxScore)
    normalized by k, with the sumdoc<k correction (:190-232)."""
    from lucene_spark.search.classification import knn_classify

    idx, s = get_searcher(spark, sf_dir)
    return knn_classify(
        s, idx.docs, " ".join(_KNN_CLS_TERMS), class_col="lang", k=_KNN_CLS_K
    )


_NB_CLS_TEXT = ["table", "row", "part", "table"]  # duplicate term on purpose


@register(
    "classify_naive_bayes",
    f"""WITH {BASE_CTES},
nbw(term, mult) AS (VALUES ('part', 1), ('row', 1), ('table', 2)),
nbcls AS (
  SELECT lang AS label, count(*)::BIGINT AS class_docs FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
nbtot AS (SELECT sum(class_docs)::BIGINT AS docs_with_class FROM nbcls),
nbavg AS (
  SELECT sum_df / CAST(doc_count AS DOUBLE) AS avg_unique FROM fstats
),
nbhits AS (
  SELECT tf.term, d.lang AS label, count(*)::BIGINT AS hits
  FROM tf JOIN documents d USING (doc_id)
  WHERE tf.term IN ('part', 'row', 'table') AND d.lang IS NOT NULL
  GROUP BY tf.term, d.lang
),
nbgrid AS (
  SELECT c.label, c.class_docs, w.term, w.mult, coalesce(h.hits, 0) AS hits
  FROM nbcls c CROSS JOIN nbw w
  LEFT JOIN nbhits h ON h.label = c.label AND h.term = w.term
),
nblike AS (
  SELECT label, class_docs,
         sum(CAST(mult AS DOUBLE) * ln(
             (CAST(hits AS DOUBLE) + 1.0)
             / (a.avg_unique * CAST(class_docs AS DOUBLE)
                + CAST(t.docs_with_class AS DOUBLE)))) AS likelihood
  FROM nbgrid CROSS JOIN nbavg a CROSS JOIN nbtot t
  GROUP BY label, class_docs
),
nbsc AS (
  SELECT label,
         ln(CAST(class_docs AS DOUBLE)) - ln(CAST(t.docs_with_class AS DOUBLE))
           + likelihood AS log_score
  FROM nblike CROSS JOIN nbtot t
),
nbmx AS (SELECT max(log_score) AS smax FROM nbsc),
nblse AS (
  SELECT m.smax + ln(sum(exp(s.log_score - m.smax))) AS lse
  FROM nbsc s CROSS JOIN nbmx m GROUP BY m.smax
)
SELECT label, round(log_score, 6) AS log_score,
       round(exp(log_score - l.lse), 6) AS prob
FROM nbsc CROSS JOIN nblse l
ORDER BY log_score DESC, label ASC""",
)
def classify_naive_bayes(spark, sf_dir):
    """SimpleNaiveBayesClassifier (classification/
    SimpleNaiveBayesClassifier.java:144): add-1-smoothed per-class token
    likelihoods over the index + log prior, normalized to probabilities
    via log-sum-exp (:292). One postings decode, JVM joins after."""
    from lucene_spark.search.classification import naive_bayes_classify

    idx, s = get_searcher(spark, sf_dir)
    return naive_bayes_classify(s, idx.docs, " ".join(_NB_CLS_TEXT), class_col="lang")


# ---- German light stemmer field (de/GermanLightStemmer.java:63) -----------

#: the UniNE German light stem as pure SQL: umlaut fold, then the two
#: suffix passes as nested CASE cascades — the oracle twin of
#: analysis/stemmers.py german_light_stem
_DE_ST = "[bdfghklmnt]"
_DE_TOK = f"""
  SELECT doc_id,
         CASE
           WHEN length(s1) > 5 AND s1 LIKE '%est' THEN substr(s1, 1, length(s1)-3)
           WHEN length(s1) > 4 AND (s1 LIKE '%er' OR s1 LIKE '%en') THEN substr(s1, 1, length(s1)-2)
           WHEN length(s1) > 4 AND regexp_matches(s1, '{{st}}st$') THEN substr(s1, 1, length(s1)-2)
           ELSE s1
         END AS term,
         pos
  FROM (
    SELECT doc_id,
           CASE
             WHEN length(t) > 5 AND t LIKE '%ern' THEN substr(t, 1, length(t)-3)
             WHEN length(t) > 4 AND regexp_matches(t, 'e[mnrs]$') THEN substr(t, 1, length(t)-2)
             WHEN length(t) > 3 AND t LIKE '%e' THEN substr(t, 1, length(t)-1)
             WHEN length(t) > 3 AND regexp_matches(t, '{{st}}s$') THEN substr(t, 1, length(t)-1)
             ELSE t
           END AS s1,
           pos
    FROM (
      SELECT doc_id,
             translate(unnest(regexp_extract_all(text, '{{tok}}')),
                       'äàáâöòóôïìíîüùúû', 'aaaaooooiiiiuuuu') AS t,
             unnest(generate_series(1, len(regexp_extract_all(text, '{{tok}}')))) - 1 AS pos
      FROM documents)
  )
""".strip()

_LS_CACHE: dict = {}


def _get_light_stem_searcher(spark, sf_dir):
    if sf_dir not in _LS_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(filters=("light_de",)),
        )
        _LS_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _LS_CACHE[sf_dir]


def _register_light_stem() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    # the base TOKEN_SQL class is ASCII-only (fine for this corpus); the
    # light-stem oracle widens it with the German letters so the umlaut
    # fold is reachable on umlaut-bearing text, matching the engine's
    # Unicode tokenizer + stemmer chain
    de_token_sql = "[a-zäàáâöòóôïìíîüùúû0-9_]+"
    tok = _DE_TOK.format(st=_DE_ST, tok=de_token_sql)

    @register(
        "light_stem_query",
        f"WITH {_bm25_ctes(tok)},\n{_term_scores_cte('sc', 'tabl')}\n{_topk_sql('sc')}",
    )
    def light_stem_query(spark, sf_dir):
        """BM25 over a German-light-stemmed field (GermanLightStemmer.java
        rules as a FilteredAnalyzer chain); querying the stem 'tabl'
        matches every doc whose surface form is 'table' — the oracle
        re-derives the stems with a pure-SQL twin of the rule cascade."""
        s = _get_light_stem_searcher(spark, sf_dir)
        return s.search(Q.TermQuery("text", "tabl"), k=10).select("doc_id", "score")


_register_light_stem()


# ---- DirectSpellChecker (suggest/spell/DirectSpellChecker.java:50) --------


@register(
    "spell_check_query",
    f"""WITH {BASE_CTES},
dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
spcand AS (
  SELECT term, df, damerau_levenshtein(term, 'tabel') AS ed,
         CAST(CAST(1.0 AS FLOAT)
              - CAST(damerau_levenshtein(term, 'tabel') AS FLOAT)
                / CAST(least(length(term), 5) AS FLOAT) AS FLOAT) AS score
  FROM dict
  WHERE substr(term, 1, 1) = 't' AND term <> 'tabel'
    AND abs(length(term) - 5) <= 2
)
SELECT term, score, df FROM spcand
WHERE ed <= 2 AND score >= CAST(0.5 AS FLOAT)
ORDER BY score DESC, df DESC, term ASC LIMIT 5""",
)
def spell_check_query(spark, sf_dir):
    """Did-you-mean over the term dictionary (DirectSpellChecker.java:50):
    'tabel' is not in the index, so suggestions fire; candidates share the
    first letter, sit within 2 OSA edits, and rank by float32 similarity
    then df. The oracle recomputes the dictionary + Damerau distances in
    SQL (OSA == true Damerau on this dictionary — no edit-inside-
    transposition shapes; any divergence would hash-mismatch here)."""
    from lucene_spark.search import spell

    _, s = get_searcher(spark, sf_dir)
    return spell.suggest_similar(s, "tabel", num_sug=5)


@register(
    "word_break_query",
    f"""WITH {BASE_CTES},
dict AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
wbcand AS (
  SELECT substr('sparkmerge', 1, i) AS left_word,
         substr('sparkmerge', i + 1) AS right_word
  FROM generate_series(1, 9) AS t(i)
)
SELECT c.left_word, l.df AS left_df, c.right_word, r.df AS right_df
FROM wbcand c
JOIN dict l ON l.term = c.left_word
JOIN dict r ON r.term = c.right_word
ORDER BY greatest(l.df, r.df) DESC, c.left_word ASC LIMIT 5""",
)
def word_break_query(spark, sf_dir):
    """WordBreakSpellChecker.suggestWordBreaks (WordBreakSpellChecker.java:74):
    'sparkmerge' is not an indexed token, so break suggestions fire; each
    split whose halves are both dictionary terms becomes one row. Rows are
    re-sorted canonically (the reference heap's equal-key order is
    insertion-defined) — the oracle enumerates every split point in SQL
    and applies the same sort."""
    from lucene_spark.search import spell

    _, s = get_searcher(spark, sf_dir)
    rows = spell.suggest_word_breaks(s, "sparkmerge", max_suggestions=5)
    data = [
        (left, ldf, right, rdf) for ((left, ldf), (right, rdf)) in rows
    ]
    out = spark.createDataFrame(
        data, "left_word string, left_df long, right_word string, right_df long"
    )
    return out.orderBy(
        F.desc(F.greatest("left_df", "right_df")), F.asc("left_word")
    ).limit(5)


@register(
    "free_text_suggest_query",
    """WITH toks AS (
  SELECT regexp_extract_all(text, '[a-z0-9_]+') AS t FROM documents
),
big AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks WHERE len(t) >= 2
),
bc AS (SELECT gram, count(*)::BIGINT AS cnt FROM big GROUP BY gram),
ctx AS (
  SELECT count(*)::BIGINT AS c
  FROM (SELECT unnest(t) AS w FROM toks) WHERE w = 'the'
)
SELECT gram AS suggestion, CAST(cnt AS DOUBLE) / (SELECT c FROM ctx) AS score
FROM bc
WHERE gram LIKE 'the %' AND NOT contains(substr(gram, 5), ' ')
ORDER BY score DESC, suggestion ASC LIMIT 10""",
)
def free_text_suggest_query(spark, sf_dir):
    """FreeTextSuggester (suggest/analyzing/FreeTextSuggester.java:91):
    'the ' ends with the separator, so every suggestion is a bigram
    continuation of 'the', scored count(bigram)/count('the') — the
    stupid-backoff top model with backoff 1.0. The oracle rebuilds the
    bigram counts in SQL and applies the same division."""
    from lucene_spark.entry_impl import _docs
    from lucene_spark.search.freetext import FreeTextSuggester

    key = (sf_dir, "freetext")
    if key not in _FT_CACHE:
        _FT_CACHE[key] = FreeTextSuggester().build(
            _docs(spark, sf_dir, "documents"), "text"
        )
    rows = _FT_CACHE[key].lookup("the ", num=10)
    out = spark.createDataFrame(rows, "suggestion string, score double")
    return out.orderBy(F.desc("score"), F.asc("suggestion")).limit(10)


_FT_CACHE: dict = {}


@register(
    "surround_query",
    f"""WITH {BASE_CTES},
{_IV_ORDERED_CTES}
SELECT doc_id, CAST(count(*) AS DOUBLE) AS score
FROM iv_min WHERE e - s - 1 <= 2
GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def surround_query(spark, sf_dir):
    """Surround query language (queryparser/surround/parser/QueryParser.jj):
    'key 3W value' = ordered distance 3 = SpanNear(slop 2, in order),
    ranked by minimal span count. The oracle reuses the minimal-ordered-
    interval CTEs with the same gap bound."""
    from lucene_spark.search import surround

    _, s = get_searcher(spark, sf_dir)
    return surround.execute(s, "key 3W value", k=10)


# ---- Hunspell dictionary stemming (hunspell/Hunspell.java:48) --------------

# A deterministic in-code dictionary over the corpus vocabulary: suffix
# rule E appends 'e' (so surface 'table'/'line'/'value'/'merge' strip to
# the roots below), prefix rule P prepends 's' ('scan' strips to 'can').
_HS_AFF = """SET UTF-8

PFX P Y 1
PFX P 0 s .

SFX E Y 1
SFX E 0 e .
"""
_HS_DIC = """6
tabl/E
lin/E
valu/E
merg/E
can/P
stream
"""

_HS_CACHE: dict = {}


def _hunspell_filter():
    from lucene_spark.analysis.hunspell import (
        Hunspell,
        HunspellDictionary,
        HunspellStemFilter,
    )

    if "filter" not in _HS_CACHE:
        _HS_CACHE["filter"] = HunspellStemFilter(
            Hunspell(HunspellDictionary.parse(_HS_AFF, _HS_DIC))
        )
    return _HS_CACHE["filter"]


def _hunspell_oracle_tok() -> str:
    """Tokenization CTE with the surface->stem map derived by `unmunch`
    (generation direction — independent of the engine's affix
    stripping); unmapped tokens pass through unchanged, mirroring
    HunspellStemFilter's keep-original rule."""
    from lucene_spark.analysis.hunspell import HunspellDictionary, unmunch
    from lucene_spark.entry_impl import TOKEN_SQL

    d = HunspellDictionary.parse(_HS_AFF, _HS_DIC)
    pairs = []
    for form, roots in sorted(unmunch(d).items()):
        stem = min(roots, key=lambda s: (-len(s), s))
        if stem != form:
            pairs.append(f"('{form}', '{stem}')")
    values = ", ".join(pairs)
    return f"""
  SELECT t.doc_id, coalesce(m.stem, t.term) AS term, t.pos
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_SQL}')) AS term,
           unnest(generate_series(1, len(regexp_extract_all(text, '{TOKEN_SQL}')))) - 1 AS pos
    FROM documents) t
  LEFT JOIN (VALUES {values}) m(form, stem) ON t.term = m.form
""".strip()


def _get_hunspell_searcher(spark, sf_dir):
    if ("searcher", sf_dir) not in _HS_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(filters=(_hunspell_filter(),)),
        )
        _HS_CACHE[("searcher", sf_dir)] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _HS_CACHE[("searcher", sf_dir)]


def _register_hunspell() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    tok = _hunspell_oracle_tok()

    @register(
        "hunspell_stem_query",
        f"""WITH {_bm25_ctes(tok)},
{_term_scores_cte('s1', 'tabl')},
{_term_scores_cte('s2', 'can')},
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM u GROUP BY doc_id
)
{_topk_sql('sc')}""",
    )
    def hunspell_stem_query(spark, sf_dir):
        """BM25 over a hunspell-stemmed field (HunspellStemFilter.java:62
        longest-stem mode over an .aff/.dic dictionary): 'table' strips
        its E-suffix to root 'tabl', 'scan' strips its P-prefix to root
        'can', so the stem disjunction (tabl OR can) matches every doc
        whose surface says 'table' or 'scan'. The oracle re-derives the
        stems via the unmunch generation twin and sums BM25 float32-
        exactly."""
        s = _get_hunspell_searcher(spark, sf_dir)
        q = Q.BooleanQuery.of(
            should=[Q.TermQuery("text", "tabl"), Q.TermQuery("text", "can")]
        )
        return s.search(q, k=10).select("doc_id", "score")


_register_hunspell()


# ---- DateTools (document/DateTools.java:54) --------------------------------


@register(
    "date_tools_range",
    """
SELECT strftime(ts, '%Y%m%d') AS day,
       count(*)::BIGINT AS cnt
FROM events
WHERE strftime(ts, '%Y%m%d') >= '20240105'
  AND strftime(ts, '%Y%m%d') <= '20240112'
GROUP BY day ORDER BY day ASC
""".strip(),
)
def date_tools_range(spark, sf_dir):
    """Date-range filtering over DateTools index strings
    (document/DateTools.java:54 + TermRangeQuery over the encoded
    field): events.ts encodes at DAY resolution with one codegen
    date_format; the [20240105, 20240112] range is a plain string
    comparison that pushes to the parquet scan, then a per-day count.
    The oracle recomputes the encoding with DuckDB strftime."""
    from lucene_spark.analysis.datetools import Resolution, encode_col
    from lucene_spark.entry_impl import _docs

    ev = _docs(spark, sf_dir, "events")
    enc = encode_col(F.col("ts"), Resolution.DAY)
    return (
        ev.select(enc.alias("day"))
        .filter((F.col("day") >= "20240105") & (F.col("day") <= "20240112"))
        .groupBy("day")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.asc("day"))
    )


# ---- PhoneticFilter field (analysis/phonetic/PhoneticFilter.java:27) ------

def _soundex_sql_expr() -> str:
    """DuckDB twin of the engine's American Soundex: strip non-letters,
    delete medial H/W (the census H/W rule: same-code consonants joined by
    h/w code once), map a-z to codes, collapse equal-code runs (RE2 has no
    backrefs, so one pass per digit), drop vowel zeros, pad to 3 digits.
    The delete-h/w formulation and the engine's one-letter-lookback loop
    (commons-codec semantics) agree except on degenerate ``[hw]{2,}`` runs
    directly followed by a consonant, which the corpus tokenizer never
    produces (pinned by this entry's hash match over the whole corpus)."""
    mapped = (
        "translate(substr(lt, 1, 1) || "
        "regexp_replace(substr(lt, 2), '[hw]', '', 'g'), "
        "'abcdefghijklmnopqrstuvwxyz', '01230120022455012623010202')"
    )
    collapsed = mapped
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}+', '{d}', 'g')"
    digits = f"replace(substr({collapsed}, 2), '0', '')"
    return (
        f"upper(substr(lt, 1, 1)) || substr({digits} || '000', 1, 3)"
    )


_PHONETIC_TOK = f"""
  SELECT doc_id,
         CASE WHEN lt = '' THEN t ELSE {_soundex_sql_expr()} END AS term,
         pos
  FROM (
    SELECT doc_id, t, pos, regexp_replace(t, '[^a-z]', '', 'g') AS lt
    FROM (
      SELECT doc_id,
             unnest(regexp_extract_all(text, '{_TOKEN_SQL}')) AS t,
             unnest(generate_series(1, len(regexp_extract_all(text, '{_TOKEN_SQL}')))) - 1 AS pos
      FROM documents)
  )
""".strip()

_PHONETIC_CACHE: dict = {}


def _get_phonetic_searcher(spark, sf_dir):
    if sf_dir not in _PHONETIC_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(filters=("phonetic_soundex",)),
        )
        _PHONETIC_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _PHONETIC_CACHE[sf_dir]


def _register_phonetic() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    @register(
        "phonetic_query",
        f"WITH {_bm25_ctes(_PHONETIC_TOK)},\n"
        f"{_term_scores_cte('sc', 'T140')}\n{_topk_sql('sc')}",
    )
    def phonetic_query(spark, sf_dir):
        """BM25 over a Soundex-encoded field (PhoneticFilter.java:27 with
        inject=false, commons-codec American Soundex incl. the H/W rule):
        the misspelling 'tabel' and the surface form 'table' both encode
        to T140, so a phonetic term query matches either spelling. The
        oracle re-derives every token's code with a pure-SQL soundex twin
        and replays the same BM25."""
        from lucene_spark.analysis.phonetic import soundex

        s = _get_phonetic_searcher(spark, sf_dir)
        code = soundex("tabel")  # == soundex("table") == "T140"
        return s.search(Q.TermQuery("text", code), k=10).select("doc_id", "score")


_register_phonetic()


# ---- CommonTermsQuery (queries/CommonTermsQuery.java:55) -------------------


@register(
    "common_terms_query",
    f"""WITH {BASE_CTES},
{_term_scores_cte('lo', 'dup')},
{_term_scores_cte('h1', 'table')},
{_term_scores_cte('h2', 'merge')},
hi AS (
  SELECT doc_id, CAST(sum(score::DOUBLE) AS FLOAT) AS score
  FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) GROUP BY doc_id
)
SELECT doc_id,
       CAST(lo.score::DOUBLE + COALESCE(hi.score::DOUBLE, 0) AS FLOAT) AS score
FROM lo LEFT JOIN hi USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def common_terms_query(spark, sf_dir):
    """CommonTermsQuery (queries/CommonTermsQuery.java:55) over
    ('dup','table','merge') with maxTermFrequency=0.5: 'dup' (df 25 at
    sf0.01) stays below ceil(0.5*maxDoc) and forms the required
    low-frequency group; 'table'/'merge' (df ~390) exceed it and join as
    the optional high-frequency SHOULD group. The oracle replays the
    nested rewrite: required 'dup' score + the float32-rounded sum of the
    matched high-frequency group."""
    _, s = get_searcher(spark, sf_dir)
    q = Q.CommonTermsQuery(
        "text", ("dup", "table", "merge"), max_term_frequency=0.5
    )
    return s.search(q, k=10).select("doc_id", "score")


# ---- ComplexPhraseQueryParser (complexPhrase/ComplexPhraseQueryParser.java:61)


@register(
    "complex_phrase_query",
    f"""WITH {BASE_CTES},
cpa AS (SELECT doc_id, pos FROM tok WHERE term LIKE 's%'),
cpb AS (SELECT doc_id, pos FROM tok WHERE term = 'join'),
cpc AS (
  SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
  FROM cpa a JOIN cpb b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.doc_id, a.pos
),
cpm AS (
  SELECT * FROM cpc d WHERE NOT EXISTS (
    SELECT 1 FROM cpc d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
),
cpg AS (
  SELECT doc_id, count(*)::DOUBLE AS score
  FROM cpm WHERE e - s - 1 <= 1 GROUP BY doc_id
)
SELECT doc_id, score FROM cpg
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def complex_phrase_query(spark, sf_dir):
    """ComplexPhraseQueryParser: '"s* join"~1' — a wildcard INSIDE a
    quoted phrase (ComplexPhraseQueryParser.java:61). The s* slot expands
    against the term dictionary into a SpanOr, the phrase becomes an
    ordered span-near with <=1 gap, and docs rank by minimal-span count
    (the module's surround-style scoring convention). The oracle
    recomputes the minimal ordered intervals with an OR'd first slot in
    SQL."""
    from lucene_spark.search import complexphrase as CP

    _, s = get_searcher(spark, sf_dir)
    return CP.execute(s, '"s* join"~1', k=10)


# ---- XML CoreParser (queryparser/xml/CoreParser.java:46) -------------------


@register(
    "xml_query",
    f"""WITH {BASE_CTES},
xqa AS (SELECT doc_id, pos FROM tok WHERE term IN ('sort', 'scan')),
xqb AS (SELECT doc_id, pos FROM tok WHERE term = 'join'),
xqc AS (
  SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
  FROM xqa a JOIN xqb b ON b.doc_id = a.doc_id AND b.pos > a.pos
  GROUP BY a.doc_id, a.pos
),
xqm AS (
  SELECT * FROM xqc d WHERE NOT EXISTS (
    SELECT 1 FROM xqc d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
),
xqg AS (
  SELECT doc_id, count(*)::DOUBLE AS score
  FROM xqm WHERE e - s - 1 <= 1 GROUP BY doc_id
)
SELECT doc_id, score FROM xqg
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def xml_query(spark, sf_dir):
    """XML query DSL (queryparser/xml/CoreParser.java:46): a SpanNear
    element with a SpanOrTerms first slot, executed through the spans
    layer — ranking by minimal-span count. The oracle recomputes the
    ordered minimal intervals with the OR'd slot in SQL."""
    from lucene_spark.search import xmlparser as XP

    _, s = get_searcher(spark, sf_dir)
    xml = (
        '<SpanNear fieldName="text" slop="1" inOrder="true">'
        "<SpanOrTerms>sort scan</SpanOrTerms><SpanTerm>join</SpanTerm>"
        "</SpanNear>"
    )
    return XP.execute(s, xml, k=10)


# ---- Intervals.atLeast (MinimumShouldMatchIntervalsSource) -----------------


def _alw_pair(name: str, ta: str, tb: str) -> str:
    """Minimal unordered windows of (ta, tb) — the ic_* oracle pattern."""
    return f"""
{name}_c AS (
  SELECT a.doc_id, least(a.pos, b.pos) AS s, greatest(a.pos, b.pos) AS e
  FROM (SELECT doc_id, pos FROM tok WHERE term = '{ta}') a
  JOIN (SELECT doc_id, pos FROM tok WHERE term = '{tb}') b
    ON b.doc_id = a.doc_id
),
{name}_d AS (SELECT doc_id, s, min(e) AS e FROM {name}_c GROUP BY doc_id, s),
{name} AS (
  SELECT * FROM {name}_d d WHERE NOT EXISTS (
    SELECT 1 FROM {name}_d d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
)""".strip()


@register(
    "intervals_at_least",
    f"""WITH {BASE_CTES},
{_alw_pair('al1', 'key', 'value')},
{_alw_pair('al2', 'key', 'data')},
{_alw_pair('al3', 'value', 'data')},
alu AS (
  SELECT * FROM al1 UNION ALL SELECT * FROM al2 UNION ALL SELECT * FROM al3
),
ald AS (SELECT doc_id, s, min(e) AS e FROM alu GROUP BY doc_id, s),
alm AS (
  SELECT * FROM ald d WHERE NOT EXISTS (
    SELECT 1 FROM ald d2
    WHERE d2.doc_id = d.doc_id AND d2.s > d.s AND d2.e <= d.e)
)
SELECT doc_id, count(*)::BIGINT AS n_intervals
FROM alm GROUP BY doc_id ORDER BY doc_id""",
)
def intervals_at_least(spark, sf_dir):
    """Intervals.atLeast(2, key, value, data) — minimal windows holding
    at least 2 of the 3 terms (MinimumShouldMatchIntervalsSource): the
    union of the three pairwise unordered window sets, re-minimalized.
    The oracle replays the same subset algebra in SQL."""
    _, s = get_searcher(spark, sf_dir)
    return IV.count_intervals(
        s,
        IV.AtLeast(2, IV.Term("key"), IV.Term("value"), IV.Term("data")),
    )


# ---- FunctionRangeQuery / FunctionMatchQuery (queries/function) -------------


@register(
    "function_range_query",
    """SELECT doc_id,
       CAST(ln(1.0 + n_chars) * 2.0 AS DOUBLE) AS score
FROM documents
WHERE ln(1.0 + n_chars) * 2.0 >= 12.0 AND ln(1.0 + n_chars) * 2.0 < 13.5
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def function_range_query(spark, sf_dir):
    """FunctionRangeQuery (queries/function/FunctionRangeQuery.java:40):
    docs whose compiled value source ln(1+n_chars)*2 falls in
    [12.0, 13.5); the score is the value itself (ValueSourceScorer). The
    oracle recomputes the expression and range in SQL."""
    from lucene_spark.search.extras import function_range_query as frq

    _, s = get_searcher(spark, sf_dir)
    out = frq(
        s, "ln(1 + n_chars) * 2", lower=12.0, upper=13.5,
        include_upper=False,
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---- misc collectors (DiversifiedTopDocs, DocValuesStats) -------------------


@register(
    "diversified_topk",
    f"""WITH {BASE_CTES},
{_term_scores_cte('dsc', 'table')},
dkey AS (
  SELECT s.doc_id, s.score, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS rk
  FROM dsc s JOIN documents d USING (doc_id)
)
SELECT doc_id, score, lang FROM dkey WHERE rk <= 2
ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def diversified_topk(spark, sf_dir):
    """DiversifiedTopDocsCollector (misc/search/DiversifiedTopDocsCollector
    .java:44): top-10 for 'table' with at most 2 hits per lang. The
    oracle replays the same per-key window ranking in SQL."""
    from lucene_spark.search.extras import diversified_topk as dtk

    _, s = get_searcher(spark, sf_dir)
    return dtk(s, Q.TermQuery("text", "table"), "lang", max_hits_per_key=2, k=10)


@register(
    "doc_values_stats",
    f"""WITH {BASE_CTES},
{_term_scores_cte('dvq', 'table')},
dvd AS (SELECT d.* FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM dvq)),
dva AS (
  SELECT count(n_chars)::BIGINT AS cnt,
         sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing,
         min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
         sum(n_chars)::BIGINT AS s1, sum(n_chars * n_chars)::BIGINT AS s2
  FROM dvd
)
SELECT cnt, missing, min_v, max_v,
       s1::DOUBLE / cnt::DOUBLE AS mean,
       s2::DOUBLE / cnt::DOUBLE
         - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE) AS variance,
       sqrt(s2::DOUBLE / cnt::DOUBLE
         - (s1::DOUBLE / cnt::DOUBLE) * (s1::DOUBLE / cnt::DOUBLE)) AS stdev
FROM dva""",
)
def doc_values_stats(spark, sf_dir):
    """DocValuesStats (misc/search/DocValuesStats.java:29): count/missing/
    min/max/mean/variance/stdev of n_chars over the docs matching
    'table' — derived from exact integer sums so the double math is
    order-independent; the oracle applies the identical formulas."""
    from lucene_spark.search.extras import doc_values_stats as dvs

    _, s = get_searcher(spark, sf_dir)
    return dvs(s, Q.TermQuery("text", "table"), "n_chars")


# ---- IntervalQuery scoring (queries/intervals/IntervalQuery.java:51) -------


@register(
    "interval_score_query",
    f"""WITH {BASE_CTES},
isa AS (SELECT doc_id, pos FROM tok WHERE term = 'key'),
isb AS (SELECT doc_id, pos FROM tok WHERE term = 'value'),
isp AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM isa a JOIN isb b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT doc_id,
       CAST(CAST(1.0 AS DOUBLE) * (freq::DOUBLE / (freq::DOUBLE + 1.0)) AS FLOAT) AS score
FROM isp ORDER BY score DESC, doc_id ASC LIMIT 10""",
)
def interval_score_query(spark, sf_dir):
    """IntervalQuery with the saturation score function
    (IntervalQuery.java:51, IntervalScoreFunction.java:26): the phrase
    source 'key value' has constant extent, so every interval contributes
    exactly 1 and freq is the integer phrase count — score =
    freq/(freq+pivot), pivot=1. The oracle counts adjacent pairs and
    applies the identical formula."""
    _, s = get_searcher(spark, sf_dir)
    out = IV.interval_query(s, IV.Phrase("key", "value"), pivot=1.0)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


# ---- the other two block-join directions (lucene/join) ---------------------


@register(
    "to_child_block_join",
    """WITH par AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
)
SELECT l.l_orderkey, l.l_linenumber,
       CAST(p.o_totalprice AS DOUBLE) AS score
FROM lineitem l JOIN par p ON p.o_orderkey = l.l_orderkey
ORDER BY score DESC, l.l_orderkey ASC, l.l_linenumber ASC LIMIT 10""",
)
def to_child_block_join(spark, sf_dir):
    """ToChildBlockJoinQuery (join/ToChildBlockJoinQuery.java:41): a
    parent-side query pushed down to the children — every child of a
    matching parent is a hit carrying its PARENT's score (here the
    parent's function score o_totalprice)."""
    from lucene_spark.entry_impl import _docs

    o = _docs(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    l = _docs(spark, sf_dir, "lineitem")
    return (
        l.join(
            F.broadcast(
                o.select("o_orderkey", F.col("o_totalprice").cast("double").alias("score"))
            ),
            l.l_orderkey == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_linenumber", "score")
        .orderBy(F.desc("score"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(10)
    )


@register(
    "parent_children_block_join",
    """WITH top_parent AS (
  SELECT o_orderkey FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
FROM lineitem l JOIN top_parent p ON p.o_orderkey = l.l_orderkey
WHERE l.l_quantity >= 10
ORDER BY l.l_linenumber ASC""",
)
def parent_children_block_join(spark, sf_dir):
    """ParentChildrenBlockJoinQuery (join/ParentChildrenBlockJoinQuery
    .java:45): expand ONE parent hit into its matching children — the
    top-totalprice order's lineitems with quantity >= 10 (the "show me
    this result's children" drill-in)."""
    from lucene_spark.entry_impl import _docs

    o = _docs(spark, sf_dir, "orders")
    top = (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(1)
        .select("o_orderkey")
    )
    l = _docs(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(top), l.l_orderkey == F.col("o_orderkey"), "semi")
        .filter(F.col("l_quantity") >= 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(F.asc("l_linenumber"))
    )


# ---- XYShape / Tessellator (document/XYShape.java, geo/Tessellator.java:78)

_SHAPE_CACHE: dict = {}


def _shape_params_sql() -> str:
    """The deterministic supplier->shape mapping, as SQL the oracle
    re-derives independently: supplier k owns a square of half-size
    h = 0.3 + (k mod 3) * 0.2 centered at (k mod 8, k // 8); every
    k mod 3 == 0 supplier's square carries a centered hole of half-size
    h/2. All bounds sit >= 0.05 away from every query coordinate, so the
    float comparisons are decision-stable on both engines."""
    return (
        "SELECT CAST(s_suppkey AS BIGINT) AS k,"
        " CAST(s_suppkey % 8 AS DOUBLE) AS cx,"
        " CAST(s_suppkey // 8 AS DOUBLE) AS cy,"
        " 0.3 + CAST(s_suppkey % 3 AS DOUBLE) * 0.2 AS h,"
        " (s_suppkey % 3 = 0) AS has_hole"
        " FROM supplier WHERE s_suppkey <= 40"
    )


def _get_shape_tables(spark, sf_dir):
    """Index-time tessellation of the supplier-derived polygons
    (XYShape.createIndexableFields): the Spark side answers every
    relation from TRIANGLE rows; the oracle never sees triangles — it
    re-derives containment geometrically from the square+hole params."""
    if sf_dir not in _SHAPE_CACHE:
        from lucene_spark.entry_impl import _docs
        from lucene_spark.search.shapes import build_shape_tables

        rows = (
            _docs(spark, sf_dir, "supplier")
            .filter("s_suppkey <= 40")
            .select("s_suppkey")
            .collect()
        )
        shapes = []
        for r in rows:
            k = int(r["s_suppkey"])
            cx, cy = float(k % 8), float(k // 8)
            h = 0.3 + float(k % 3) * 0.2
            outer = [
                (cx - h, cy - h), (cx + h, cy - h),
                (cx + h, cy + h), (cx - h, cy + h),
            ]
            holes = None
            if k % 3 == 0:
                hh = h / 2.0
                holes = [[
                    (cx - hh, cy - hh), (cx + hh, cy - hh),
                    (cx + hh, cy + hh), (cx - hh, cy + hh),
                ]]
            shapes.append((k, outer, holes))
        tris, edges = build_shape_tables(spark, shapes)
        _SHAPE_CACHE[sf_dir] = (tris.persist(), edges.persist())
    return _SHAPE_CACHE[sf_dir]


_SHAPE_PROBES = [
    (2.0, 1.0),    # center of suppkey 10 (no hole)
    (3.0, 0.0),    # center of suppkey 3 — strictly inside its HOLE
    (2.45, 1.0),   # overlap region of suppkeys 10 and 11
    (4.2, 1.0),    # inside suppkey 12's ring (outside its hole)
    (0.45, 0.45),  # inside suppkey 8 only (k=0's square ends 0.15 away)
]

_SHAPE_PROBE_VALUES = ", ".join(
    f"(CAST({x} AS DOUBLE), CAST({y} AS DOUBLE))" for x, y in _SHAPE_PROBES
)


@register(
    "shape_point_intersects",
    f"""
WITH params AS ({_shape_params_sql()}),
probes(px, py) AS (VALUES {_SHAPE_PROBE_VALUES})
SELECT p.px AS px, p.py AS py, s.k AS doc_id
FROM probes p JOIN params s
  ON abs(p.px - s.cx) <= s.h AND abs(p.py - s.cy) <= s.h
 AND NOT (s.has_hole AND abs(p.px - s.cx) < s.h / 2
                     AND abs(p.py - s.cy) < s.h / 2)
ORDER BY px, py, doc_id
""".strip(),
)
def shape_point_intersects(spark, sf_dir):
    """Indexed-shape point queries (XYShape.newPointQuery /
    SpatialQuery INTERSECTS): five probe points against tessellated
    supplier polygons-with-holes. The Spark plan evaluates the
    point-in-triangle sign test over triangle rows — pure codegen
    arithmetic, no Python at query time; the oracle derives the same
    relation from the square geometry, so a hash match proves the
    TESSELLATION (ear clipping + hole bridging) and the relation SQL
    together."""
    tris, _ = _get_shape_tables(spark, sf_dir)
    from lucene_spark.search.shapes import point_intersects

    parts = []
    for (px, py) in _SHAPE_PROBES:
        parts.append(
            point_intersects(tris, px, py).select(
                F.lit(float(px)).alias("px"),
                F.lit(float(py)).alias("py"),
                F.col("doc_id"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("px", "py", "doc_id")


@register(
    "shape_bbox_intersects",
    f"""
WITH params AS ({_shape_params_sql()}),
boxes(box_id, x1, y1, x2, y2) AS (VALUES
  (1, CAST(0.8 AS DOUBLE), CAST(-0.2 AS DOUBLE),
      CAST(2.2 AS DOUBLE), CAST(0.4 AS DOUBLE)),
  (2, CAST(2.95 AS DOUBLE), CAST(-0.05 AS DOUBLE),
      CAST(3.05 AS DOUBLE), CAST(0.05 AS DOUBLE)))
SELECT b.box_id AS box_id, s.k AS doc_id
FROM boxes b JOIN params s
  ON s.cx - s.h <= b.x2 AND s.cx + s.h >= b.x1
 AND s.cy - s.h <= b.y2 AND s.cy + s.h >= b.y1
 AND NOT (s.has_hole AND b.x1 > s.cx - s.h / 2 AND b.x2 < s.cx + s.h / 2
                     AND b.y1 > s.cy - s.h / 2 AND b.y2 < s.cy + s.h / 2)
ORDER BY box_id, doc_id
""".strip(),
)
def shape_bbox_intersects(spark, sf_dir):
    """Indexed-shape box queries (XYShape.newBoxQuery INTERSECTS):
    box 1 straddles two shapes; box 2 sits strictly inside suppkey 3's
    hole, so the triangle relation must report NOTHING for it — the
    hole semantics only exist if tessellation carved the hole out."""
    tris, _ = _get_shape_tables(spark, sf_dir)
    from lucene_spark.search.shapes import bbox_intersects

    b1 = bbox_intersects(tris, 0.8, -0.2, 2.2, 0.4).select(
        F.lit(1).alias("box_id"), "doc_id"
    )
    b2 = bbox_intersects(tris, 2.95, -0.05, 3.05, 0.05).select(
        F.lit(2).alias("box_id"), "doc_id"
    )
    return b1.unionByName(b2).orderBy("box_id", "doc_id")


# ---- AnalyzingSuggester (suggest/analyzing/AnalyzingSuggester.java:100) ----


@register(
    "analyzing_suggest_query",
    """
WITH s AS (
  SELECT p_name AS text, p_retailprice AS weight,
         array_to_string(regexp_extract_all(lower(p_name), '[a-z0-9_]+'),
                         chr(31)) AS an
  FROM part
)
SELECT text, weight FROM s
WHERE starts_with(an, 'small' || chr(31) || 'w')
ORDER BY (an = 'small' || chr(31) || 'w') DESC, weight DESC, text ASC
LIMIT 5
""".strip(),
)
def analyzing_suggest_query(spark, sf_dir):
    """Analyzed-completion lookup (AnalyzingSuggester.java:100): the key
    'small w' analyzes to small<sep>w and completes every part name whose
    ANALYZED form starts with it (PRESERVE_SEP on — 'smallw...' one-token
    names would not match), surface forms returned weight-ranked. The
    oracle re-derives the analyzed form with DuckDB's own tokenizer."""
    from lucene_spark.entry_impl import _docs
    from lucene_spark.search.extras import analyzing_suggest

    part = _docs(spark, sf_dir, "part").select(
        F.col("p_name").alias("text"), F.col("p_retailprice").alias("weight")
    )
    return analyzing_suggest(part, "small w", n=5, preserve_sep=True)


# ---- Dictionary CJK segmentation (kuromoji/nori role ----------------------
# analysis/kuromoji/.../JapaneseTokenizer.java:96): greedy longest-match
# over an external word table, exercised end-to-end through the index +
# BM25 serving path on a supplier-derived hiragana corpus.

_CJK_DIGIT_WORDS = (
    "12", "23", "34", "45", "56", "67", "78", "89", "90", "01",
    "123", "456", "789", "234", "678",
)
_CJK_TR = str.maketrans("0123456789", "あいうえおかきくけこ")
_CJK_WORDS = frozenset(w.translate(_CJK_TR) for w in _CJK_DIGIT_WORDS)
_CJK_CACHE: dict = {}


def _get_cjk_searcher(spark, sf_dir):
    if sf_dir not in _CJK_CACHE:
        from lucene_spark.analysis.segmenter import DictionarySegmenter
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        corpus = _docs(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").cast("long").alias("doc_id"),
            F.translate(
                (F.col("s_suppkey") * 7919 + 12345).cast("string"),
                "0123456789",
                "あいうえおかきくけこ",
            ).alias("text"),
        )
        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=DictionarySegmenter(words=_CJK_WORDS),
        )
        _CJK_CACHE[sf_dir] = IndexSearcher(build_index(spark, corpus, cfg))
    return _CJK_CACHE[sf_dir]


def _register_cjk_segment() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    dict_vals = ", ".join(f"('{w}')" for w in sorted(_CJK_WORDS))
    # greedy longest-match as a recursive CTE: at offset i take the
    # longest dictionary word matching there (single char when none) —
    # the exact loop DictionarySegmenter._segment_run runs per doc
    seg_ctes = f"""RECURSIVE
src AS (
  SELECT CAST(s_suppkey AS BIGINT) AS doc_id,
         translate(CAST(s_suppkey * 7919 + 12345 AS VARCHAR),
                   '0123456789', 'あいうえおかきくけこ') AS s
  FROM supplier
),
jdict(w) AS (VALUES {dict_vals}),
seg(doc_id, s, i, term, pos) AS (
  SELECT doc_id, s, 1, CAST(NULL AS VARCHAR), -1 FROM src
  UNION ALL
  SELECT doc_id, s, i + ln, substr(s, i, ln), pos + 1
  FROM (
    SELECT seg.doc_id, seg.s, seg.i, seg.pos,
           coalesce((SELECT max(length(d.w)) FROM jdict d
                     WHERE d.w = substr(seg.s, seg.i, length(d.w))), 1) AS ln
    FROM seg WHERE seg.i <= length(seg.s)
  )
),"""
    tok = "SELECT doc_id, term, pos FROM seg WHERE term IS NOT NULL"

    @register(
        "cjk_segment_query",
        f"WITH {seg_ctes}\n{_bm25_ctes(tok)},\n"
        f"{_term_scores_cte('sc', 'おか')}\n{_topk_sql('sc')}",
    )
    def cjk_segment_query(spark, sf_dir):
        """Dictionary-segmented CJK field end-to-end (the kuromoji/nori
        role, JapaneseTokenizer.java:96 — here the pluggable greedy
        longest-match DictionarySegmenter over an external word table):
        each supplier derives an unspaced hiragana string, the segmenter
        splits it against the word dictionary at INDEX time, and a
        TermQuery for the two-char word 'おか' scores BM25 over the
        segmented tokens. The oracle re-derives the segmentation with a
        recursive CTE (longest dictionary match at each offset, single
        char when none) and replays the float32 BM25 chain over it — a
        hash match proves tokenizer and scorer together."""
        s = _get_cjk_searcher(spark, sf_dir)
        return s.search(Q.TermQuery("text", "おか"), k=10).select(
            "doc_id", "score"
        )


_register_cjk_segment()


_SHAPE_DIAMONDS = [
    # (id, qx, qy, r) — L1 balls; every decision margin >= 0.05 so float
    # comparisons are stable on both engines
    (1, 1.0, 0.0, 0.5),   # covers suppkey 1's square, reaches 2's
    (2, 3.0, 0.0, 0.2),   # pokes OUT of suppkey 3's hole -> intersects
    (3, 3.0, 0.0, 0.1),   # strictly INSIDE the hole -> must match nothing
]
_SHAPE_DIAMOND_VALUES = ", ".join(
    f"({i}, CAST({x} AS DOUBLE), CAST({y} AS DOUBLE), CAST({r} AS DOUBLE))"
    for i, x, y, r in _SHAPE_DIAMONDS
)


def _register_shape_polygon() -> None:
    @register(
        "shape_polygon_intersects",
        f"""
WITH params AS ({_shape_params_sql()}),
diamonds(d_id, qx, qy, r) AS (VALUES {_SHAPE_DIAMOND_VALUES})
SELECT d.d_id AS diamond_id, s.k AS doc_id
FROM diamonds d JOIN params s
  ON greatest(abs(d.qx - s.cx) - s.h, CAST(0 AS DOUBLE))
   + greatest(abs(d.qy - s.cy) - s.h, CAST(0 AS DOUBLE)) <= d.r
 AND NOT (s.has_hole AND abs(d.qx - s.cx) + d.r < s.h / 2
                     AND abs(d.qy - s.cy) + d.r < s.h / 2)
ORDER BY diamond_id, doc_id
""".strip(),
    )
    def shape_polygon_intersects(spark, sf_dir):
        """Indexed-shape POLYGON queries (XYShape.newGeometryQuery
        INTERSECTS with a polygon operand): three diamond (L1-ball) query
        polygons tessellate driver-side and run triangle-vs-triangle
        codegen predicates against the tessellated supplier squares. The
        oracle never sees a triangle — a diamond intersects a holed
        square iff its L1 distance to the box is <= r and it is not
        strictly inside the hole (diamond 3 sits wholly in suppkey 3's
        hole and must return NOTHING — hole semantics only exist if
        tessellation carved them out of BOTH operands)."""
        from lucene_spark.search.shapes import polygon_intersects

        tris, _ = _get_shape_tables(spark, sf_dir)
        parts = []
        for i, qx, qy, r in _SHAPE_DIAMONDS:
            outer = [
                (qx + r, qy), (qx, qy + r), (qx - r, qy), (qx, qy - r),
            ]
            parts.append(
                polygon_intersects(tris, outer).select(
                    F.lit(i).alias("diamond_id"), F.col("doc_id")
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("diamond_id", "doc_id")


_register_shape_polygon()


# ---- Flexible (standard) query parser (flexible/standard/ ------------------
# StandardQueryParser.java:116): min-should-match group syntax + interval
# function clause through one parsed boolean.


@register(
    "standard_parser_query",
    f"""WITH {BASE_CTES},
{_term_scores_cte('o1', 'sort')},
{_term_scores_cte('o2', 'group')},
{_term_scores_cte('o3', 'dup')},
u AS (
  SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
),
msm AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM u GROUP BY doc_id HAVING count(*) >= 2
),
iva AS (SELECT doc_id, pos FROM tok WHERE term = 'key'),
ivb AS (SELECT doc_id, pos FROM tok WHERE term = 'value'),
ivf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM iva a JOIN ivb b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
),
iv AS (
  SELECT doc_id,
         CAST(CAST(1.0 AS DOUBLE) * (freq::DOUBLE / (freq::DOUBLE + 1.0))
              AS FLOAT) AS score
  FROM ivf
),
sc AS (
  SELECT m.doc_id,
         CAST(CAST(m.score AS DOUBLE) + CAST(i.score AS DOUBLE) AS FLOAT)
           AS score
  FROM msm m JOIN iv i USING (doc_id)
)
{_topk_sql('sc')}""",
)
def standard_parser_query(spark, sf_dir):
    """The flexible/standard parser end-to-end
    (StandardQueryParser.java:116): '(sort group dup)@2 AND
    fn:phrase(key value)' goes syntax tree -> processor pipeline ->
    Q.BooleanQuery(must=[msm-disjunction, IntervalQuery]) and scores
    through the normal boolean machinery — the min-should-match group is
    flexible-only syntax and the fn: clause builds the composable
    Q.IntervalQuery leaf. The oracle re-derives both parts (BM25 msm sum,
    saturation interval fold) and adds them in the boolean's float32 op
    order."""
    from lucene_spark.search.flexible import StandardQueryParser

    _, s = get_searcher(spark, sf_dir)
    q = StandardQueryParser().parse(
        "(sort group dup)@2 AND fn:phrase(key value)", "text"
    )
    return s.search(q, k=10).select("doc_id", "score")


# ---- KStem (analysis/en/KStemFilter.java:40, KStemmer.java:71) -------------

#: fixture lexicon for the dictionary-validated stemmer: the -er routine
#: strips the agentive suffix only when the ROOT validates, so exactly
#: these three corpus surfaces conflate (customer/filter/order) and every
#: other corpus token — including 'table', 'value', 'query', whose roots
#: are NOT in the lexicon — passes through unchanged. Pinned over the
#: full corpus vocabulary by tests/test_entry_analysis_pairs.py.
_KSTEM_LEXICON = ("custom", "filt", "ord")
_KSTEM_MAP = (("customer", "custom"), ("filter", "filt"), ("order", "ord"))

_KSTEM_CACHE: dict = {}


def _kstem_filter():
    from lucene_spark.analysis.kstem import KStem

    if "filter" not in _KSTEM_CACHE:
        _KSTEM_CACHE["filter"] = KStem(lexicon=_KSTEM_LEXICON).stem
    return _KSTEM_CACHE["filter"]


def _get_kstem_searcher(spark, sf_dir):
    if sf_dir not in _KSTEM_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(filters=(_kstem_filter(),)),
        )
        _KSTEM_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _KSTEM_CACHE[sf_dir]


def _mapped_tok(pairs) -> str:
    """Tokenization CTE with a surface->term VALUES overlay (the hunspell
    oracle's shape): mapped tokens rewrite, everything else passes
    through — a 1:1 stream, so positions, doc lengths and norms are the
    plain tokenizer's."""
    values = ", ".join(f"('{a}', '{b}')" for a, b in pairs)
    return f"""
  SELECT t.doc_id, coalesce(m.stem, t.term) AS term, t.pos
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{_TOKEN_SQL}')) AS term,
           unnest(generate_series(1, len(regexp_extract_all(text, '{_TOKEN_SQL}')))) - 1 AS pos
    FROM documents) t
  LEFT JOIN (VALUES {values}) m(form, stem) ON t.term = m.form
""".strip()


def _register_kstem() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    tok = _mapped_tok(_KSTEM_MAP)

    @register(
        "kstem_query",
        f"""WITH {_bm25_ctes(tok)},
{_term_scores_cte('k1', 'filt')},
{_term_scores_cte('k2', 'ord')},
u AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2),
sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM u GROUP BY doc_id
)
{_topk_sql('sc')}""",
    )
    def kstem_query(spark, sf_dir):
        """BM25 over a KStem-analyzed field (KStemFilter.java:40 /
        KStemmer.java:71 — Krovetz's dictionary-VALIDATED stemmer): with
        the fixture lexicon (custom, filt, ord) the -er routine conflates
        exactly customer->custom, filter->filt, order->ord, while
        'table'/'value'/'query' survive untouched because their candidate
        roots fail dictionary validation — the behavior that separates
        KStem from suffix strippers. The oracle replays the surface->root
        map (derived from the lexicon, pinned over the corpus vocabulary
        by tests/test_entry_analysis_pairs.py) and sums the two root
        scores float32-exactly."""
        s = _get_kstem_searcher(spark, sf_dir)
        q = Q.BooleanQuery.of(
            should=[Q.TermQuery("text", "filt"), Q.TermQuery("text", "ord")]
        )
        return s.search(q, k=10).select("doc_id", "score")


_register_kstem()


# ---- Snowball English / Porter2 field (analysis/snowball/ ------------------
# SnowballPorterFilterFactory.java + EnglishStemmer generated program)

#: the full surface->stem image of the Porter2 program over the corpus
#: vocabulary (31 distinct tokens at every sf — pinned by
#: tests/test_entry_analysis_pairs.py): the five e/y-final tokens rewrite,
#: everything else is already a Porter2 fixpoint.
_SNOWBALL_EN_MAP = (
    ("customer", "custom"),
    ("merge", "merg"),
    ("query", "queri"),
    ("table", "tabl"),
    ("value", "valu"),
)

_SNOWBALL_CACHE: dict = {}


def _get_snowball_searcher(spark, sf_dir):
    if sf_dir not in _SNOWBALL_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(filters=("snowball_en",)),
        )
        _SNOWBALL_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _SNOWBALL_CACHE[sf_dir]


def _register_snowball_en() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    tok = _mapped_tok(_SNOWBALL_EN_MAP)

    @register(
        "snowball_en_query",
        f"""WITH {_bm25_ctes(tok)},
{_term_scores_cte('s1', 'tabl')},
{_term_scores_cte('s2', 'queri')},
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM u GROUP BY doc_id
)
{_topk_sql('sc')}""",
    )
    def snowball_en_query(spark, sf_dir):
        """BM25 over a Snowball English (Porter2) field — the generated
        EnglishStemmer program the reference runs through
        SnowballPorterFilterFactory (analysis/common/.../snowball/): the
        index analyzer stems every token ('table'->'tabl',
        'query'->'queri', ...), and the query searches the stems. The
        oracle rewrites the token stream with the full vocabulary image
        of the Porter2 program (all five rewrites listed above, pinned
        against the engine's own stemmer over the corpus vocabulary by
        tests/test_entry_analysis_pairs.py) and replays BM25
        float32-exactly."""
        s = _get_snowball_searcher(spark, sf_dir)
        q = Q.BooleanQuery.of(
            should=[Q.TermQuery("text", "tabl"), Q.TermQuery("text", "queri")]
        )
        return s.search(q, k=10).select("doc_id", "score")


_register_snowball_en()


# ---- Beider-Morse phonetic field (analysis/phonetic/ -----------------------
# BeiderMorseFilter.java:39)

_BM_CACHE: dict = {}


def _get_beider_morse_searcher(spark, sf_dir):
    if sf_dir not in _BM_CACHE:
        from lucene_spark.analysis.beidermorse import beider_morse_terms
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            # overlay == KeywordRepeat-composed BeiderMorseFilter: every
            # phoneme alternative lands at the source position (posIncr
            # 0, discounted from norms), the surface form stays indexed
            analyzer=FilteredAnalyzer(overlay_filters=(beider_morse_terms,)),
        )
        _BM_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _BM_CACHE[sf_dir]


def _register_beider_morse() -> None:
    @register(
        "beider_morse_query",
        f"""WITH {BASE_CTES},
bm_w(w) AS (SELECT {_idf_sql("(SELECT count(*) FROM tf WHERE term='filter')")}),
bmf AS (SELECT doc_id, freq FROM tf WHERE term = 'filter'),
sc AS (
  SELECT bmf.doc_id, {_score_expr('bm_w.w', 'bmf.freq', 'i.inv')} AS score
  FROM bmf JOIN invn i USING (doc_id) CROSS JOIN bm_w
)
{_topk_sql('sc')}""",
    )
    def beider_morse_query(spark, sf_dir):
        """Beider-Morse phonetic matching (BeiderMorseFilter.java:39):
        the index carries every BMPM phoneme alternative as a posIncr-0
        overlay, and the query encodes the MISSPELLING 'philter' — the
        ph->f rule lands on the same phoneme 'faltar' as the corpus
        surface 'filter', so the phonetic term query finds documents the
        literal term query would miss. Over this corpus vocabulary the
        preimage of 'faltar' is exactly {{'filter'}} (no other token
        shares the phoneme — pinned by tests/test_entry_analysis_pairs
        .py), so the oracle scores the surface term with plain BM25:
        identical df, tf and norms (overlays are discounted), identical
        float32 score chain."""
        from lucene_spark.analysis.beidermorse import beider_morse_terms

        s = _get_beider_morse_searcher(spark, sf_dir)
        (code,) = beider_morse_terms("philter")  # == the code of 'filter'
        return s.search(Q.TermQuery("text", code), k=10).select("doc_id", "score")


_register_beider_morse()


# ---- Collation sort keys (analysis/icu/.../ICUCollationKeyAnalyzer.java:47,
# ICUCollationDocValuesField) -------------------------------------------------


def _register_collation() -> None:
    @register(
        "collation_sort_query",
        """
SELECT n_name,
       CAST(row_number() OVER (
           ORDER BY CAST(regexp_extract(n_name, '[0-9]+') AS INT)
       ) AS INT) AS rk
FROM nation
ORDER BY rk ASC
""".strip(),
    )
    def collation_sort_query(spark, sf_dir):
        """Numeric-collation sorting (the ICU collation role,
        ICUCollationKeyAnalyzer.java:47 + UCOL_NUMERIC_COLLATION): the
        nation names NATION_0..NATION_24 are keyed by an Arrow-batched
        collation-key UDF with numeric mode on, so NATION_2 sorts before
        NATION_10 where codepoint order would interleave them; ranking
        is over the BINARY keys, which a plain ORDER BY range-sorts — at
        scale this is Spark's range-partitioned sort on the key column
        (the reason the reference materializes keys instead of sorting
        through a Collator). The 25-row window here is a toy stand-in
        for that sort. The oracle re-derives the order by extracting the
        numeric run, the value numeric collation compares by."""
        from pyspark.sql import Window

        from lucene_spark.analysis.collation import collation_key_udf
        from lucene_spark.entry_impl import _docs

        nat = _docs(spark, sf_dir, "nation")
        key = collation_key_udf(numeric=True)
        keyed = nat.select("n_name", key(F.col("n_name")).alias("ck"))
        w = Window.orderBy("ck", "n_name")
        return keyed.select(
            "n_name", F.row_number().over(w).alias("rk")
        ).orderBy(F.asc("rk"))


_register_collation()


# ---- ICU transform filter (analysis/icu/.../ICUTransformFilter.java:60) ----

#: the transform ruleset the driver pair indexes with: a compact
#: orthography normalizer exercising ordered rules, an identity digraph
#: guard, and a variable-free post-context. Its full image over the
#: corpus vocabulary (pinned by tests/test_entry_analysis_pairs.py):
_TRANSLIT_RULES = "qu > kw ; ch > ch ; c } [ei] > s ; c > k ; ph > f ;"
_TRANSLIT_MAP = (
    ("column", "kolumn"),
    ("customer", "kustomer"),
    ("query", "kwery"),
    ("scan", "skan"),
    ("vector", "vektor"),
)

_TRANSLIT_CACHE: dict = {}


def _get_translit_searcher(spark, sf_dir):
    if sf_dir not in _TRANSLIT_CACHE:
        from lucene_spark.analysis.filters import FilteredAnalyzer
        from lucene_spark.analysis.translit import Transliterator
        from lucene_spark.entry_impl import _docs
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(
            text_col="text",
            field_name="text",
            doc_id_col="doc_id",
            docs_per_segment=1024,
            analyzer=FilteredAnalyzer(
                filters=(Transliterator(_TRANSLIT_RULES),)
            ),
        )
        _TRANSLIT_CACHE[sf_dir] = IndexSearcher(
            build_index(spark, _docs(spark, sf_dir, "documents"), cfg)
        )
    return _TRANSLIT_CACHE[sf_dir]


def _register_translit() -> None:
    from lucene_spark.entry_impl import _bm25_ctes

    tok = _mapped_tok(_TRANSLIT_MAP)

    @register(
        "icu_transform_query",
        f"""WITH {_bm25_ctes(tok)},
{_term_scores_cte('t1', 'kwery')},
{_term_scores_cte('t2', 'skan')},
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
sc AS (
  SELECT doc_id, CAST(sum(CAST(score AS DOUBLE)) AS FLOAT) AS score
  FROM u GROUP BY doc_id
)
{_topk_sql('sc')}""",
    )
    def icu_transform_query(spark, sf_dir):
        """BM25 over a transliterated field (ICUTransformFilter.java:60,
        here driven by the in-tree rule engine instead of ICU4J data):
        the index analyzer rewrites every token through the orthography
        ruleset (qu>kw, context-sensitive c>s/k, ph>f with the ch
        digraph protected by an identity rule), and the query searches
        the transformed terms. The oracle replays the ruleset's full
        vocabulary image as a surface->term map (pinned against the
        engine's own Transliterator by tests/test_entry_analysis_pairs
        .py) and sums the two term scores float32-exactly."""
        s = _get_translit_searcher(spark, sf_dir)
        q = Q.BooleanQuery.of(
            should=[Q.TermQuery("text", "kwery"), Q.TermQuery("text", "skan")]
        )
        return s.search(q, k=10).select("doc_id", "score")


_register_translit()


# ---- Geo3D polygon (spatial3d/.../Geo3DPoint.java:38, ------------------------
# GeoPolygonFactory) — spherical winding, no dateline special case

#: dateline-crossing spherical polygon (lon runs 165 -> -165 across 180)
_G3D_POLY = [(12.0, 165.0), (12.0, -165.0), (-12.0, -165.0), (-12.0, 165.0)]


def _g3d_bearing_sql(vlat: float, vlon: float) -> str:
    """DuckDB twin of geo3d._bearing: initial bearing from the customer
    point to the fixed vertex."""
    return (
        f"atan2(sin(radians({vlon}) - radians(lon)) * cos(radians({vlat})), "
        f"cos(radians(lat)) * sin(radians({vlat})) "
        f"- sin(radians(lat)) * cos(radians({vlat})) "
        f"* cos(radians({vlon}) - radians(lon)))"
    )


def _g3d_winding_sql() -> str:
    two_pi = "6.283185307179586"
    terms = []
    n = len(_G3D_POLY)
    for i in range(n):
        a = _g3d_bearing_sql(*_G3D_POLY[i])
        b = _g3d_bearing_sql(*_G3D_POLY[(i + 1) % n])
        d = f"(({b}) - ({a}))"
        terms.append(
            f"({d} - {two_pi} * floor(({d} + pi()) / {two_pi}))"
        )
    return " + ".join(terms)


def _register_geo3d() -> None:
    @register(
        "geo3d_polygon_query",
        f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
)
SELECT c_custkey FROM pts
WHERE abs({_g3d_winding_sql()}) > pi()
ORDER BY c_custkey ASC""",
    )
    def geo3d_polygon_query(spark, sf_dir):
        """Spherical polygon membership (the spatial3d role,
        Geo3DPoint.java:38 / GeoPolygonFactory): the polygon crosses the
        DATELINE (lon 165 -> -165) — the case the planar LatLon path must
        split into two boxes/polygons, and the 3D model handles with no
        special case because the winding test is intrinsic to the
        sphere. Pure sin/cos/atan2 Column expressions inside whole-stage
        codegen; the oracle replays the identical winding sum in DuckDB
        (the boolean is ulp-robust: off-edge points wind to ~0 or ~2pi,
        the pi threshold is maximally far from both)."""
        from lucene_spark.search import geo3d

        pts = _geo_points(spark, sf_dir)
        return (
            pts.filter(geo3d.polygon_contains(_G3D_POLY))
            .select("c_custkey")
            .orderBy(F.asc("c_custkey"))
        )


_register_geo3d()


#: mid-latitude polygon for the WGS84 membership pair. Sphere and WGS84
#: polygon membership provably agree (geo3d.polygon_contains); the
#: geodetic->reduced latitude shift peaks here (~0.096 deg at 45), so this
#: is where an error in the WGS84 path would first show
_G3D_POLY_W = [(38.0, -10.0), (38.0, 25.0), (52.0, 25.0), (52.0, -10.0)]

_ONE_MINUS_F = 1.0 - 1.0 / 298.257223563


def _g3d_bearing_wgs84_sql(vlat: float, vlon: float) -> str:
    """DuckDB twin of geo3d._bearing at REDUCED latitudes: the point's
    geodetic lat moves by atan2((1-f) sin phi, cos phi); the vertex's
    reduced latitude is folded in as a constant."""
    from lucene_spark.search.geo3d import _reduced_lat_deg

    import math as _math

    p2 = _math.radians(_reduced_lat_deg(vlat))
    p1 = f"atan2({_ONE_MINUS_F!r} * sin(radians(lat)), cos(radians(lat)))"
    dl = f"(radians({vlon}) - radians(lon))"
    return (
        f"atan2(sin({dl}) * {_math.cos(p2)!r}, "
        f"cos({p1}) * {_math.sin(p2)!r} "
        f"- sin({p1}) * {_math.cos(p2)!r} * cos({dl}))"
    )


def _g3d_winding_wgs84_sql() -> str:
    two_pi = "6.283185307179586"
    terms = []
    n = len(_G3D_POLY_W)
    for i in range(n):
        a = _g3d_bearing_wgs84_sql(*_G3D_POLY_W[i])
        b = _g3d_bearing_wgs84_sql(*_G3D_POLY_W[(i + 1) % n])
        d = f"(({b}) - ({a}))"
        terms.append(f"({d} - {two_pi} * floor(({d} + pi()) / {two_pi}))")
    return " + ".join(terms)


def _register_geo3d_wgs84() -> None:
    @register(
        "geo3d_polygon_wgs84",
        f"""WITH pts AS (
  SELECT c_custkey, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer
)
SELECT c_custkey FROM pts
WHERE abs({_g3d_winding_wgs84_sql()}) > pi()
ORDER BY c_custkey ASC""",
    )
    def geo3d_polygon_wgs84(spark, sf_dir):
        """Ellipsoid polygon membership (the reference's WGS84
        PlanetModel role, spatial3d/.../PlanetModel.java): the winding
        test runs at reduced latitude — the scaled space where the WGS84
        surface becomes a sphere and the scaled-space edge planes become
        great circles — so the former sphere-vs-ellipsoid boundary band
        is now decided ON the ellipsoid. Mid-latitude polygon, where the
        latitude shift peaks; the oracle replays the identical reduced-
        latitude winding sum in DuckDB."""
        from lucene_spark.search import geo3d

        pts = _geo_points(spark, sf_dir)
        return (
            pts.filter(
                geo3d.polygon_contains(_G3D_POLY_W, planet_model="wgs84")
            )
            .select("c_custkey")
            .orderBy(F.asc("c_custkey"))
        )


_register_geo3d_wgs84()


# ---- Lattice (Viterbi) CJK segmentation pair --------------------------------
# (kuromoji/nori decoding model, JapaneseTokenizer.java:96; MeCab lattice)

#: fixture costed lexicon over the hiragana digit alphabet: adjacent-digit
#: pairs are free, singles cost 7, the compound trap costs 40 with an
#: expensive exit class — so the DP genuinely chooses between pair
#: coverage, single fallbacks and the compound per string
_LAT_ENTRIES = {
    "あい": (0, 1, 1), "いう": (0, 1, 1), "うえ": (0, 1, 1), "えお": (0, 1, 1),
    "おか": (0, 1, 1), "かき": (0, 1, 1), "きく": (0, 1, 1), "くけ": (0, 1, 1),
    "けこ": (0, 1, 1), "こあ": (0, 1, 1),
    "おかき": (40, 2, 2),
    "あ": (7, 1, 1), "い": (7, 1, 1), "う": (7, 1, 1), "え": (7, 1, 1),
    "お": (7, 1, 1), "か": (7, 1, 1), "き": (7, 1, 1), "く": (7, 1, 1),
    "け": (7, 1, 1), "こ": (7, 1, 1),
}
_LAT_CONN = {(2, 1): 30}
_LAT_MAXLEN = 10  # corpus strings are <= 7 chars at sf0.1; unrolled DP bound
_LAT_UNK = 10000


def _lattice_dp_sql() -> str:
    """Unrolled Viterbi DP over positions 1.._LAT_MAXLEN: pj(doc_id, s,
    rid, cost) = min path cost covering s[1..j] whose last word has
    connection class rid (the string rides along in the state so the
    source relation is scanned exactly ONCE). The unknown single-char
    transition is allowed at EVERY position (it can never beat a
    dictionary word while connection costs stay below its 10000 cost, so
    the minimum is unchanged)."""
    words = ", ".join(
        f"('{w}', {c}, {l}, {r}, {len(w)})"
        for w, (c, l, r) in sorted(_LAT_ENTRIES.items())
    )
    conn = ", ".join(f"({r}, {l}, {c})" for (r, l), c in _LAT_CONN.items())
    ctes = [
        f"lwords(w, wcost, lid, rid, ln) AS (VALUES {words})",
        f"lconn(r, l, c) AS (VALUES {conn})",
        "p0 AS (SELECT doc_id, s, 0 AS rid, 0 AS cost FROM lsrc)",
    ]
    for j in range(1, _LAT_MAXLEN + 1):
        branches = []
        for ln in (1, 2, 3):
            if j - ln < 0:
                continue
            branches.append(f"""
  SELECT p.doc_id, p.s, w.rid, p.cost + w.wcost + coalesce(c.c, 0) AS cost
  FROM p{j - ln} p
  JOIN lwords w ON w.ln = {ln} AND substr(p.s, {j - ln + 1}, {ln}) = w.w
  LEFT JOIN lconn c ON c.r = p.rid AND c.l = w.lid
  WHERE length(p.s) >= {j}""")
        branches.append(f"""
  SELECT p.doc_id, p.s, 0 AS rid, p.cost + {_LAT_UNK} AS cost
  FROM p{j - 1} p WHERE length(p.s) >= {j}""")
        union = "\n  UNION ALL\n".join(branches)
        # MATERIALIZED: each pj is referenced by up to three later
        # positions — without it DuckDB inlines the whole subtree per
        # reference and the plan grows exponentially in _LAT_MAXLEN
        ctes.append(
            f"p{j} AS MATERIALIZED (\n  SELECT doc_id, min(s) AS s, rid, min(cost) AS cost FROM (\n{union}\n) GROUP BY doc_id, rid)"
        )
    finals = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, s, cost, {j} AS j FROM p{j}"
        for j in range(1, _LAT_MAXLEN + 1)
    )
    ctes.append(
        f"lfinal AS (\n  SELECT doc_id, min(cost) AS path_cost\n"
        f"  FROM (\n{finals}\n) f\n"
        f"  WHERE f.j = length(f.s) GROUP BY doc_id)"
    )
    return ",\n".join(ctes)


def _register_cjk_lattice() -> None:
    @register(
        "cjk_lattice_min_cost",
        f"""WITH lsrc AS (
  SELECT CAST(s_suppkey AS BIGINT) AS doc_id,
         translate(CAST(s_suppkey * 7919 + 12345 AS VARCHAR),
                   '0123456789', 'あいうえおかきくけこ') AS s
  FROM supplier
),
{_lattice_dp_sql()}
SELECT doc_id, CAST(path_cost AS BIGINT) AS path_cost
FROM lfinal ORDER BY doc_id ASC""",
    )
    def cjk_lattice_min_cost(spark, sf_dir):
        """Viterbi lattice segmentation end-to-end (the kuromoji/nori
        DECODING model, JapaneseTokenizer.java:96 — MeCab word costs +
        connection classes): each supplier string decodes through
        LatticeSegmenter inside an Arrow batch, and the query returns
        the TOTAL COST of the emitted path (entry costs + connection
        costs, recomputed from the emitted tokens). The oracle computes
        the true DP minimum with an UNROLLED per-position dynamic
        program in SQL (one CTE per position, states keyed by
        (doc, right_id)) — a hash match proves per document that the
        engine's decoded path achieves the optimal lattice cost, which
        is exactly Viterbi's contract."""
        from pyspark.sql.types import LongType, StructField, StructType

        from lucene_spark.analysis.segmenter import LatticeSegmenter
        from lucene_spark.entry_impl import _docs

        sup = _docs(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").cast("long").alias("doc_id"),
            F.expr(
                "translate(CAST(s_suppkey * 7919 + 12345 AS STRING), "
                "'0123456789', 'あいうえおかきくけこ')"
            ).alias("s"),
        )
        entries, conn = _LAT_ENTRIES, _LAT_CONN

        def run(batches):
            import pandas as pd

            an = LatticeSegmenter(entries=entries, connections=conn)
            for pdf in batches:
                costs = []
                for s in pdf["s"]:
                    path = an._segment_run(s, 0)
                    cost, rid = 0, an.unknown_id
                    for w, _, _ in path:
                        e = an.entries.get(w)
                        wc, lid, rid2 = (
                            e if e is not None
                            else (an.unknown_cost, an.unknown_id, an.unknown_id)
                        )
                        cost += wc + conn.get((rid, lid), 0)
                        rid = rid2
                    costs.append(cost)
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "path_cost": costs}
                )

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("path_cost", LongType()),
            ]
        )
        return sup.mapInPandas(run, schema).orderBy(F.asc("doc_id"))


_register_cjk_lattice()
