"""End-to-end: build the index on Spark over a deterministic synthetic corpus,
run queries, require rank-identical (doc_id, float32 score) vs the pure-Python
oracle (CheckHits / quality-harness style, SURVEY §5)."""

import re

import numpy as np
import pytest

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.search import query as Q
from lucene_spark.search.searcher import IndexSearcher
from lucene_spark.testing.corpus import generate_corpus
from tests.oracle import OracleIndex

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark):
    pdf = generate_corpus(N_DOCS, seed=7)
    corpus = spark.createDataFrame(pdf)
    cfg = IndexConfig(docs_per_segment=64)  # several segments at 300 docs
    idx = build_index(spark, corpus, cfg)
    idx.postings.persist()
    idx.docs.persist()
    # oracle over the SAME doc_id assignment (dense rank of repo,path,commit)
    ordered = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    oracle = OracleIndex({i: t for i, t in enumerate(ordered["content"])})
    return idx, IndexSearcher(idx), oracle


def _assert_topk_identical(spark_df, oracle_topk, k):
    got = [(int(r["doc_id"]), float(r["score"])) for r in spark_df.collect()]
    assert got == oracle_topk, f"\n got={got}\nwant={oracle_topk}"


def test_fieldstats_match_oracle(built):
    idx, _, oracle = built
    fs = idx.fieldstats["content"]
    assert fs.max_doc == oracle.max_doc
    assert fs.doc_count == oracle.doc_count
    assert fs.sum_total_term_freq == oracle.sum_ttf
    assert fs.sum_doc_freq == oracle.sum_df
    # FieldStats javadoc invariants
    assert fs.doc_count <= fs.max_doc
    assert fs.doc_count <= fs.sum_doc_freq <= fs.sum_total_term_freq


@pytest.mark.parametrize("term", ["the", "if", "return", "index", "nosuchterm"])
def test_term_query_rank_identical(built, term):
    _, searcher, oracle = built
    res = searcher.search(Q.TermQuery("content", term), k=10)
    _assert_topk_identical(res, oracle.top_k(oracle.term_scores(term), 10), 10)


def _plan_text(df):
    """Logical plan text without expression ids and lambda-variable
    numbers, to compare two builds of a plan."""
    text = df._jdf.queryExecution().logical().toString()
    return re.sub(r"#\d+L?|(?<=\bx)_\d+", "", text)


def test_term_query_pruned_equals_unpruned(built):
    """The two-phase block-max path must actually ENGAGE here (gate forced
    below the hot term's df) and agree with the full decode + oracle.
    Stats collection only adds count jobs: the returned plan is the one
    built with it off."""
    idx, _, oracle = built
    searcher = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    q = Q.TermQuery("content", "the")
    plan_off = _plan_text(searcher.search(q, k=5))
    searcher.collect_prune_stats = True
    assert oracle.df("the") > 20  # hot enough that the gate opens
    pruned_df = searcher.search(q, k=5, prune=True)
    assert _plan_text(pruned_df) == plan_off
    pruned = pruned_df.collect()
    assert searcher.last_prune_stats is not None  # two-phase path ran
    assert searcher.last_prune_stats["total_blocks"] > 0
    full = searcher.search(q, k=5, prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in pruned] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    _assert_topk_identical(
        searcher.search(q, k=5, prune=True),
        oracle.top_k(oracle.term_scores("the"), 5),
        5,
    )


def test_boolean_or(built):
    _, searcher, oracle = built
    q = Q.BooleanQuery.of(should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "index")])
    res = searcher.search(q, k=10, prune=False)
    _assert_topk_identical(res, oracle.top_k(oracle.or_scores(["the", "index"]), 10), 10)


def test_boolean_and(built):
    _, searcher, oracle = built
    q = Q.BooleanQuery.of(must=[Q.TermQuery("content", "the"), Q.TermQuery("content", "return")])
    res = searcher.search(q, k=10)
    _assert_topk_identical(res, oracle.top_k(oracle.and_scores(["the", "return"]), 10), 10)


def test_boolean_must_not(built):
    _, searcher, oracle = built
    q = Q.BooleanQuery.of(
        must=[Q.TermQuery("content", "the")], must_not=[Q.TermQuery("content", "if")]
    )
    res = searcher.search(q, k=10)
    want = {
        d: s
        for d, s in oracle.term_scores("the").items()
        if d not in oracle.postings.get("if", {})
    }
    _assert_topk_identical(res, oracle.top_k(want, 10), 10)


def test_phrase_query(built):
    _, searcher, oracle = built
    # pick a bigram that actually occurs
    docs_texts = {d: None for d in oracle.postings.get("the", {})}
    q = Q.PhraseQuery("content", ("the", "if"))
    res = searcher.search(q, k=10)
    _assert_topk_identical(res, oracle.top_k(oracle.phrase_scores(["the", "if"]), 10), 10)


def test_search_after_pagination(built):
    _, searcher, oracle = built
    q = Q.TermQuery("content", "the")
    page1 = searcher.search(q, k=5).collect()
    anchor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    page2 = searcher.search(q, k=5, after=anchor).collect()
    full = oracle.top_k(oracle.term_scores("the"), 10)
    got = [(int(r["doc_id"]), float(r["score"])) for r in page1 + page2]
    assert got == full


def test_count_pushdown(built):
    _, searcher, oracle = built
    assert searcher.count(Q.TermQuery("content", "the")) == oracle.df("the")
    assert searcher.count(Q.MatchAllDocsQuery()) == oracle.max_doc


def test_sha256_invariant(built):
    idx, _, _ = built
    import pyspark.sql.functions as F

    bad = idx.docs.filter(
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0


def test_sloppy_general_path_prefilters_in_jvm(built):
    """The 3+-slot sloppy path must shrink the Python matcher's input with
    the JVM window pre-filter (docs whose per-slot adjusted position
    ranges cannot overlap a slop-wide window never reach Arrow), while
    staying faithful to the reference matcher."""
    idx, _, oracle = built
    searcher = IndexSearcher(idx)
    searcher.collect_prune_stats = True
    q = Q.PhraseQuery("content", ("the", "if", "return"), slop=2)
    got = searcher.search(q, k=10).collect()
    stats = searcher.last_sloppy_stats
    assert stats is not None
    assert stats["candidates"] < stats["docs_with_all_slots"], stats
    # faithful-matcher oracle over the same corpus
    want = oracle.top_k(oracle.sloppy_scores(["the", "if", "return"], slop=2), 10)
    assert [(int(r["doc_id"]), float(r["score"])) for r in got] == want


def test_search_many_matches_individual(built):
    """Batched serving: one-job search_many must return bit-identical
    (doc_id, score) per query to the per-query search() path."""
    _, searcher, oracle = built
    batch = {
        "q_term": Q.TermQuery("content", "the"),
        "q_or": Q.BooleanQuery.of(
            should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "index")]
        ),
        "q_and": Q.BooleanQuery.of(
            must=[Q.TermQuery("content", "the"), Q.TermQuery("content", "return")]
        ),
        "q_not": Q.BooleanQuery.of(
            must=[Q.TermQuery("content", "the")],
            must_not=[Q.TermQuery("content", "if")],
        ),
        "q_msm": Q.BooleanQuery.of(
            should=[
                Q.TermQuery("content", "the"),
                Q.TermQuery("content", "if"),
                Q.TermQuery("content", "return"),
            ],
            minimum_should_match=2,
        ),
        "q_filter": Q.BooleanQuery.of(
            must=[Q.TermQuery("content", "the")],
            filter=[Q.TermQuery("content", "if")],
        ),
        "q_dismax": Q.DisjunctionMaxQuery(
            (Q.TermQuery("content", "the"), Q.TermQuery("content", "index")),
            tie_breaker=0.5,
        ),
        "q_phrase": Q.PhraseQuery("content", ("the", "if")),
        "q_phrase3": Q.PhraseQuery("content", ("the", "if", "return")),
    }
    got = searcher.search_many(batch, k=7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], int(r["doc_id"]), float(r["score"]))
        )
    for qid, q in batch.items():
        want = [
            (int(r["doc_id"]), float(r["score"]))
            for r in searcher.search(q, k=7, prune=False).collect()
        ]
        rows = sorted(by_q.get(qid, []))
        assert [(d, s) for _, d, s in rows] == want, qid


def test_disjunction_hot_clauses_take_essential_path(built):
    """MAXSCORE pruning on SHOULD-sum and dismax disjunctions
    (MaxScoreBulkScorer.java:28-70): the essential/non-essential split
    engages, the weaker clause is demoted to probe-at-candidates, stats
    say so, and the result stays bit-identical to the plain disjunction
    and the oracle."""
    idx, _, oracle = built
    searcher = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    q_or = Q.BooleanQuery.of(
        should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "if")]
    )
    plan_off = _plan_text(searcher.search(q_or, k=5))
    searcher.collect_prune_stats = True
    pruned_df = searcher.search(q_or, k=5, prune=True)
    assert _plan_text(pruned_df) == plan_off
    pruned = pruned_df.collect()
    stats = searcher.last_prune_stats
    assert stats is not None
    assert stats["fell_back"] is False
    assert stats["strategy"] == "maxscore_essential"
    # only the essential clause(s) decode fully; the non-essential side
    # decodes just the candidate-bearing blocks
    assert stats["essential_blocks"] < stats["total_blocks"]
    assert stats["rescore_blocks"] <= stats["total_blocks"] - stats["essential_blocks"]
    full = searcher.search(q_or, k=5, prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in pruned] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    _assert_topk_identical(
        searcher.search(q_or, k=5, prune=True),
        oracle.top_k(oracle.or_scores(["the", "if"]), 5),
        5,
    )
    # dismax flavor through the same essential machinery
    searcher.last_prune_stats = None
    q_dm = Q.DisjunctionMaxQuery(
        (Q.TermQuery("content", "the"), Q.TermQuery("content", "if")),
        tie_breaker=0.5,
    )
    pruned_dm = searcher.search(q_dm, k=5, prune=True).collect()
    assert searcher.last_prune_stats["strategy"] == "maxscore_essential"
    full_dm = searcher.search(q_dm, k=5, prune=False).collect()
    assert [(r["doc_id"], r["score"]) for r in pruned_dm] == [
        (r["doc_id"], r["score"]) for r in full_dm
    ]


def test_disjunction_nosplit_falls_back_to_plain(built):
    """Two rare clauses of similar strength whose top docs rarely share
    both terms: theta sits below both clause bounds, no clause demotes
    (``nosplit``), and the query takes the plain one-shuffle plan —
    bit-identical to prune=False and the oracle."""
    idx, _, oracle = built
    searcher = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    searcher.collect_prune_stats = True
    clauses = (Q.TermQuery("content", "lambda"), Q.TermQuery("content", "struct"))
    for q in (
        Q.BooleanQuery.of(should=list(clauses)),
        Q.DisjunctionMaxQuery(clauses, tie_breaker=0.0),
    ):
        searcher.last_prune_stats = None
        pruned = searcher.search(q, k=10).collect()
        stats = searcher.last_prune_stats
        assert stats["strategy"] == "nosplit", stats
        assert stats["fell_back"] is True
        full = searcher.search(q, k=10, prune=False).collect()
        assert [(r["doc_id"], r["score"]) for r in pruned] == [
            (r["doc_id"], r["score"]) for r in full
        ]
    _assert_topk_identical(
        searcher.search(Q.BooleanQuery.of(should=list(clauses)), k=10),
        oracle.top_k(oracle.or_scores(["lambda", "struct"]), 10),
        10,
    )


def test_candidate_cap_overflow_falls_back_to_plain(built, monkeypatch):
    """When the essential split engages but more candidates clear the
    essential bound than the budget allows (``MAX_CANDIDATES``), the query
    takes the plain one-shuffle plan: strategy ``cap``, results
    bit-identical to the plain disjunction for SHOULD-sum and dismax. A
    budget below k always overflows (the true top-k are candidates)."""
    idx, _, _ = built
    monkeypatch.setattr(IndexSearcher, "MAX_CANDIDATES", 3)
    searcher = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    searcher.collect_prune_stats = True
    clauses = (Q.TermQuery("content", "the"), Q.TermQuery("content", "if"))
    for q in (
        Q.BooleanQuery.of(should=list(clauses)),
        Q.DisjunctionMaxQuery(clauses, tie_breaker=0.4),
    ):
        searcher.last_prune_stats = None
        pruned = searcher.search(q, k=10).collect()
        stats = searcher.last_prune_stats
        assert stats["strategy"] == "cap", stats
        assert stats["fell_back"] is True
        assert stats["n_candidates"] > 3
        full = searcher.search(q, k=10, prune=False).collect()
        assert [(r["doc_id"], r["score"]) for r in pruned] == [
            (r["doc_id"], r["score"]) for r in full
        ]


def test_search_many_empty_batch(built):
    """A dynamically-assembled empty query set returns zero rows with the
    stable ranked schema, not an IndexError."""
    _, searcher, _ = built
    out = searcher.search_many({}, k=5)
    assert out.columns == ["query_id", "doc_id", "score", "rank"]
    assert out.count() == 0


def test_preloaded_block_meta_identical_and_used(built):
    """Serving layout part 2 (preload_block_meta): with per-hot-term block
    metadata in driver memory, the pruned paths must (a) actually use it
    (stats record preloaded=True) and (b) stay bit-identical to
    prune=False across term/OR/dismax shapes — anchors and max bounds are
    weight-independent, and the driver-side frontier max reproduces the
    JVM block-bound float32 op order exactly."""
    idx, searcher, _ = built
    pre = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    pre.preload_stats()
    assert pre.preload_block_meta() > 0
    pre.collect_prune_stats = True
    shapes = [
        Q.TermQuery("content", "the"),
        Q.BooleanQuery.of(
            should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "index")]
        ),
        Q.BooleanQuery.of(
            should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "if")]
        ),
        Q.DisjunctionMaxQuery(
            (Q.TermQuery("content", "the"), Q.TermQuery("content", "return")),
            tie_breaker=0.5,
        ),
    ]
    for q in shapes:
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in pre.search(q, k=10).collect()]
        want = [(int(r["doc_id"]), float(r["score"]))
                for r in searcher.search(q, k=10, prune=False).collect()]
        assert got == want, type(q).__name__
        if not isinstance(q, Q.TermQuery):
            assert pre.last_prune_stats.get("preloaded") is True


def test_preloaded_maxub_matches_jvm_block_bound(built):
    """The preloaded frontier's driver-side max bound must equal the JVM
    max-over-blocks of _block_ub bit-for-bit (same float32 kernel) — the
    essential split's soundness depends on it being an upper bound."""
    from pyspark.sql import functions as F

    idx, searcher, _ = built
    pre = IndexSearcher(idx, prune_min_df=1, prune_engage_min_rows=0)
    pre.preload_stats()
    pre.preload_block_meta()
    fs = idx.fieldstats["content"]
    for term in ("the", "if", "return", "index"):
        df, _ = pre._stats_memo[("content", term)]
        w = pre.sim.weight(1.0, pre.sim.idf(df, fs.doc_count))
        got = pre._preloaded_maxub("content", term, float(w))
        jvm = (
            pre._blocks("content", F.col("term") == term)
            .select(pre._block_ub("content", w).alias("ub"))
            .agg(F.max("ub"))
            .collect()[0][0]
        )
        assert got == float(jvm), (term, got, jvm)


def test_direct_spell_checker(built):
    """DirectSpellChecker semantics: OSA distances (transposition = one
    edit), float32 similarity, frequency gates and modes."""
    from lucene_spark.search import spell

    assert spell.osa_distance("abcd", "acbd") == 1  # transposition
    assert spell.osa_distance("ca", "abc") == 3  # OSA, not true Damerau
    assert spell.osa_distance("", "ab") == 2
    assert spell.osa_distance("same", "same") == 0

    _, searcher, oracle = built
    # 'retrun' is absent from the corpus -> suggestions fire; 'return' is
    # one transposition away: score = 1 - 1/6 in float32
    rows = spell.suggest_similar(searcher, "retrun").collect()
    assert rows and rows[0]["term"] == "return"
    assert abs(rows[0]["score"] - (1.0 - 1.0 / 6.0)) < 1e-6
    assert rows[0]["df"] == len(oracle.postings.get("return", {}))
    # a term that IS in the index -> no suggestions in the default mode,
    # and a hot term trips the max_query_frequency gate in every mode
    assert spell.suggest_similar(searcher, "return").collect() == []
    assert (
        spell.suggest_similar(searcher, "return", suggest_mode="always").collect()
        == []
    )
    # "always" mode suggests neighbors of an absent-but-cold query term
    always = spell.suggest_similar(
        searcher, "whlie", suggest_mode="always"
    ).collect()
    assert any(r["term"] == "while" for r in always)


def test_word_break_spell_checker(built):
    """WordBreakSpellChecker: run-together terms break into dictionary
    words; adjacent terms combine into an indexed concatenation; gates
    and orderings follow the reference (fewest changes, then frequency)."""
    from lucene_spark.search import spell

    _, searcher, oracle = built
    df = {t: len(p) for t, p in oracle.postings.items()}

    # 'indexwriter' is itself an indexed camelCase token -> default mode
    # suggests nothing; "always" breaks it into (index, writer) with the
    # oracle's dfs
    assert df.get("indexwriter", 0) > 0
    assert spell.suggest_word_breaks(searcher, "indexwriter") == []
    breaks = spell.suggest_word_breaks(searcher, "indexwriter", suggest_mode="always")
    assert breaks[0] == [("index", df["index"]), ("writer", df["writer"])]

    # a term absent from the index fires in the default mode
    made_up = "writerterm" if df.get("writerterm", 0) == 0 else "qqqq"
    got = spell.suggest_word_breaks(searcher, made_up)
    if made_up == "writerterm":
        assert [("writer", df["writer"]), ("term", df["term"])] in got

    # combinations: 'indexblock' is indexed; both originals exist, so the
    # default not-in-index gate suppresses it and "always" finds it
    assert df.get("indexblock", 0) > 0
    assert spell.suggest_word_combinations(searcher, ["index", "block"]) == []
    combos = spell.suggest_word_combinations(
        searcher, ["index", "block"], suggest_mode="always"
    )
    assert combos and combos[0] == ("indexblock", df["indexblock"], [0, 1])
    # SEPARATOR forbids joining across it
    assert (
        spell.suggest_word_combinations(
            searcher, ["index", spell.SEPARATOR, "block"], suggest_mode="always"
        )
        == []
    )


def test_free_text_suggester(spark):
    """FreeTextSuggester: bigram continuations with stupid backoff —
    hand-computable corpus, reference scoring (count/context, ALPHA=0.4
    per order step down, highest-order model owns each predicted word)."""
    from lucene_spark.search.freetext import FreeTextSuggester

    docs = spark.createDataFrame(
        [
            ("the quick fox",),
            ("the quick dog",),
            ("the slow dog",),
            ("quick brown fox",),
        ],
        "text string",
    )
    s = FreeTextSuggester().build(docs, "text")
    assert s.tot_tokens == 12
    # short/empty docs must not break the gram windows (sequence(0,-1)
    # would DESCEND in Spark) nor leak truncated grams into wrong orders
    docs2 = docs.unionByName(
        docs.sparkSession.createDataFrame([("hello",), ("",)], "text string")
    )
    s2 = FreeTextSuggester().build(docs2, "text")
    assert s2.tot_tokens == 13
    assert s2.lookup("the q") == [("the quick", 2 / 3)]
    # a non-space separator still recognizes the completed-word state
    s3 = FreeTextSuggester(separator="|").build(docs, "text")
    assert s3.lookup("the|") == [("the|quick", 2 / 3), ("the|slow", 1 / 3)]
    # partial last word: only the matching bigram completes it
    assert s.lookup("the q") == [("the quick", 2 / 3)]
    # trailing space upgrades to full-word continuations; no unigram noise
    assert s.lookup("the ") == [("the quick", 2 / 3), ("the slow", 1 / 3)]
    # unseen context backs off to the unigram model at ALPHA * count/total
    (word, score), = s.lookup("purple q")
    assert word == "quick" and abs(score - 0.4 * 3 / 12) < 1e-12
    # bare prefix: unigram model, no backoff
    assert s.lookup("q") == [("quick", 3 / 12)]


def test_common_terms_query_rewrite(built):
    """CommonTermsQuery (queries/CommonTermsQuery.java:214 buildQuery):
    the rewrite must equal the explicit nested boolean, the low-empty
    case must upgrade the high group to a conjunction, and an absent
    term (null TermStates) must land in the required low group."""
    from pyspark.sql import functions as F

    _, searcher, _ = built
    field = "content"
    stats = {
        r["term"]: int(r["df"])
        for r in searcher.index.termstats.filter(
            F.col("term").isin(["the", "if", "return"])
        ).collect()
    }
    max_doc = searcher.index.fieldstats[field].max_doc
    # pick a cutoff splitting the three terms into both groups
    dfs = sorted(stats.values())
    mtf = (dfs[0] + 0.5) / max_doc  # lowest-df term low, others high
    low = [t for t, d in stats.items() if d <= dfs[0]]
    high = [t for t, d in stats.items() if d > dfs[0]]
    assert low and high
    q = Q.CommonTermsQuery(field, ("the", "if", "return"), mtf)
    nested = Q.BooleanQuery(
        (
            Q.BooleanClause(
                Q.BooleanQuery.of(must=[Q.TermQuery(field, t) for t in low]),
                Q.Occur.MUST,
            ),
            Q.BooleanClause(
                Q.BooleanQuery.of(should=[Q.TermQuery(field, t) for t in high]),
                Q.Occur.SHOULD,
            ),
        ),
        0,
    )
    got = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
    want = [
        (r["doc_id"], r["score"]) for r in searcher.search(nested, k=10).collect()
    ]
    assert got == want

    # all-high -> conjunction upgrade (slow-query guard)
    q_high = Q.CommonTermsQuery(field, ("the", "if"), 1.0)
    n_and = searcher.search(
        Q.BooleanQuery.of(
            must=[Q.TermQuery(field, "the"), Q.TermQuery(field, "if")]
        ),
        k=N_DOCS,
    ).count()
    assert searcher.search(q_high, k=N_DOCS).count() == n_and

    # ...unless a high minimum-should-match is configured
    q_msm = Q.CommonTermsQuery(
        field, ("the", "if"), 1.0, high_freq_min_should_match=1
    )
    n_or = searcher.search(
        Q.BooleanQuery.of(
            should=[Q.TermQuery(field, "the"), Q.TermQuery(field, "if")]
        ),
        k=N_DOCS,
    ).count()
    assert searcher.search(q_msm, k=N_DOCS).count() == n_or

    # absent term joins the low group: conjunction can never match
    q_absent = Q.CommonTermsQuery(field, ("the", "nosuchterm"), 1.0)
    assert searcher.search(q_absent, k=10).count() == 0


def test_function_match_query(built):
    """FunctionMatchQuery (document/FunctionMatchQuery.java:38): predicate
    over a value source; constant score 1."""
    from lucene_spark.search.extras import function_match_query, function_range_query

    _, searcher, _ = built
    docs = searcher.index.docs
    n_match = docs.filter("doc_id > 150").count()
    got = function_match_query(searcher, "doc_id > 150")
    assert got.count() == n_match
    assert {r["score"] for r in got.limit(3).collect()} <= {1.0}
    # range query scores ARE the value source
    rng = function_range_query(searcher, "doc_id * 2.0", lower=100.0, upper=200.0)
    rows = rng.collect()
    assert all(100.0 <= r["score"] <= 200.0 for r in rows)
    assert len(rows) == docs.filter("doc_id >= 50 and doc_id <= 100").count()


def test_engagement_gate_skips_small_corpora(built):
    """The cost-model engagement gate (BooleanScorerSupplier.java:288-318
    role): with the DEFAULT gate, toy-scale postings route straight to the
    plain one-shuffle plan — bit-identical results, and the recorded
    strategy says the gate (not a mid-ladder guard) made the call. With
    the gate lowered the same searcher engages the ladder."""
    idx, _, oracle = built
    gated = IndexSearcher(idx, prune_min_df=1)  # default engage gate: 1<<20 rows
    gated.collect_prune_stats = True
    q_term = Q.TermQuery("content", "the")
    q_or = Q.BooleanQuery.of(
        should=[Q.TermQuery("content", "the"), Q.TermQuery("content", "if")]
    )
    for q, scores in (
        (q_term, oracle.term_scores("the")),
        (q_or, oracle.or_scores(["the", "if"])),
    ):
        gated.last_prune_stats = None
        res = gated.search(q, k=5)
        _assert_topk_identical(res, oracle.top_k(scores, 5), 5)
        stats = gated.last_prune_stats
        assert stats is not None and stats["strategy"] == "engage_gate"
        assert stats["fell_back"] is True
        assert stats["est_demotable_rows"] < stats["gate_rows"]
        assert stats["phase1_blocks"] == 0  # zero-job decision: nothing decoded


def test_search_many_batches_span_and_parser_plans(built):
    """Round-4: the interval/span/parser families batch into the same
    single ranked job — SpanQuery values rank by span count, DataFrame
    values carry a prebuilt parser plan; both must be bit-identical to
    their per-query execute()/span_count ranking."""
    from pyspark.sql import functions as F

    from lucene_spark.search import complexphrase as CP
    from lucene_spark.search import spans as SP
    from lucene_spark.search import xmlparser as XP

    _, searcher, _ = built
    k = 7
    span_q = SP.SpanNearQuery(
        (SP.SpanTermQuery("the"), SP.SpanTermQuery("if")), slop=3, in_order=True
    )
    cp_text = '"th* if"~1'
    xml_text = (
        '<SpanNear fieldName="content" slop="2" inOrder="true">'
        "<SpanOrTerms>the if</SpanOrTerms><SpanTerm>return</SpanTerm>"
        "</SpanNear>"
    )
    batch = {
        "q_term": Q.TermQuery("content", "the"),
        "q_phrase": Q.PhraseQuery("content", ("the", "if")),
        "q_span": span_q,
        "q_cp": CP.scored(searcher, cp_text),
        "q_xml": XP.scored(searcher, xml_text),
    }
    got = searcher.search_many(batch, k=k).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], int(r["doc_id"]), float(np.float32(r["score"])))
        )

    def want_rows(df):
        return [
            (int(r["doc_id"]), float(np.float32(r["score"])))
            for r in df.collect()
        ]

    # native families vs per-query search()
    for qid in ("q_term", "q_phrase"):
        want = want_rows(searcher.search(batch[qid], k=k, prune=False))
        assert [(d, s) for _, d, s in sorted(by_q[qid])] == want, qid
    # span family vs span_count ranking (the XML/surround convention)
    want_span = want_rows(
        SP.span_count(searcher, span_q)
        .select("doc_id", F.col("n_spans").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    assert [(d, s) for _, d, s in sorted(by_q["q_span"])] == want_span
    # parser plans vs their sequential execute()
    want_cp = want_rows(CP.execute(searcher, cp_text, k=k))
    assert [(d, s) for _, d, s in sorted(by_q["q_cp"])] == want_cp
    want_xml = want_rows(XP.execute(searcher, xml_text, k=k))
    assert [(d, s) for _, d, s in sorted(by_q["q_xml"])] == want_xml


def test_positions_cache_identity(built):
    """cache_decoded_positions (serving layout part 3): every positional
    family — exact phrase, sloppy, intervals, complexPhrase — must return
    bit-identical results with and without the materialized decode."""
    from lucene_spark.search import complexphrase as CP
    from lucene_spark.search import intervals as IV

    idx, plain, _ = built
    cached = IndexSearcher(idx)
    assert cached.cache_decoded_positions()
    assert "content" in cached._decoded_cache

    def rows(df):
        return sorted(
            (int(r[0]), *[float(x) if isinstance(x, float) else x for x in r[1:]])
            for r in df.collect()
        )

    q_exact = Q.PhraseQuery("content", ("the", "if"))
    q_sloppy = Q.PhraseQuery("content", ("the", "return"), slop=3)
    assert rows(plain.search(q_exact, k=10)) == rows(cached.search(q_exact, k=10))
    assert rows(plain.search(q_sloppy, k=10)) == rows(cached.search(q_sloppy, k=10))
    src = IV.MaxGaps(2, IV.Ordered(IV.Term("the"), IV.Term("if")))
    assert rows(IV.matches(plain, src)) == rows(IV.matches(cached, src))
    cp = '"th* if"~1'
    assert rows(CP.execute(plain, cp, k=10)) == rows(CP.execute(cached, cp, k=10))


def test_decoded_frame_identity(built):
    """The decoded serving frame serves the non-positional families too:
    term, OR, AND, prefix, search_many, explain and matches() are
    bit-identical between a searcher holding the frame, a plain one, and
    an over-budget one (cache_decoded_positions(max_positions=0) keeps no
    frame and falls back to the block decode)."""
    from lucene_spark.search.explain import explain

    idx, plain, _ = built
    cached = IndexSearcher(idx)
    assert cached.cache_decoded_positions()
    over = IndexSearcher(idx)
    assert not over.cache_decoded_positions(max_positions=0)
    assert over._decoded_cache == {}

    def rows(df):
        return sorted(
            tuple(float(x) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    q_term = Q.TermQuery("content", "the")
    q_or = Q.BooleanQuery(
        (
            Q.BooleanClause(Q.TermQuery("content", "if"), Q.Occur.SHOULD),
            Q.BooleanClause(Q.TermQuery("content", "return"), Q.Occur.SHOULD),
        )
    )
    q_and = Q.BooleanQuery(
        (
            Q.BooleanClause(Q.TermQuery("content", "the"), Q.Occur.MUST),
            Q.BooleanClause(Q.TermQuery("content", "if"), Q.Occur.MUST),
        )
    )
    q_prefix = Q.PrefixQuery("content", "re")
    family = {"term": q_term, "or": q_or, "and": q_and, "prefix": q_prefix}
    # the frame, not the Python block decode, answers the cached searcher
    assert "MapInPandas" not in plan(cached.search(q_term, k=10))
    assert "MapInPandas" in plan(over.search(q_term, k=10))
    for name, q in family.items():
        want = rows(plain.search(q, k=10))
        assert want, name
        assert rows(cached.search(q, k=10)) == want, name
        assert rows(over.search(q, k=10)) == want, name
        want_m = rows(plain.matches(q))
        assert rows(cached.matches(q)) == want_m, name
        assert rows(over.matches(q)) == want_m, name
    batch = {n: q for n, q in family.items() if n != "prefix"}
    want_b = rows(plain.search_many(batch, k=10))
    assert rows(cached.search_many(batch, k=10)) == want_b
    assert rows(over.search_many(batch, k=10)) == want_b
    for d in [int(r["doc_id"]) for r in plain.search(q_term, k=3).collect()]:
        want_e = explain(plain, q_term, d)
        assert explain(cached, q_term, d) == want_e
        assert explain(over, q_term, d) == want_e


def test_scored_term_set_caps_driver_collect(built, spark):
    """scored_term_set collects its term column to the driver for an isin
    pushdown — an over-broad terms_df must raise the TooManyClauses-style
    guard (MAX_TERM_SET), not silently collect; bounded inputs still work
    (more_like_this rides it at max_terms=8)."""
    from pyspark.sql import functions as F

    from lucene_spark.search import extras

    idx, s, _ = built
    wide = spark.range(extras.MAX_TERM_SET + 5).select(
        F.concat(F.lit("t"), F.col("id")).alias("term"),
        F.lit(1.0).cast("float").alias("weight"),
    )
    with pytest.raises(ValueError, match="TooManyClauses"):
        extras.scored_term_set(s, wide)
    small = spark.createDataFrame(
        [("the", 0.5), ("if", 1.5)], "term string, weight float"
    )
    assert extras.scored_term_set(s, small).count() > 0
    mlt = extras.more_like_this(s, doc_id=0, max_terms=8, k=5)
    assert mlt.count() > 0


def test_dictionary_segmenter_from_dataframe_guard(spark):
    """from_dataframe enforces MAX_DICT_ENTRIES with limit(N+1) + raise
    instead of asserting the bound in a comment."""
    from lucene_spark.analysis import segmenter as seg

    orig = seg.DictionarySegmenter.MAX_DICT_ENTRIES
    try:
        seg.DictionarySegmenter.MAX_DICT_ENTRIES = 10
        from pyspark.sql import functions as F

        big = spark.range(25).select(
            F.concat(F.lit("w"), F.col("id")).alias("word")
        )
        with pytest.raises(ValueError, match="not a word dictionary"):
            seg.DictionarySegmenter.from_dataframe(big)
        ok = seg.DictionarySegmenter.from_dataframe(big.limit(5))
        assert len(ok.words) == 5
    finally:
        seg.DictionarySegmenter.MAX_DICT_ENTRIES = orig
