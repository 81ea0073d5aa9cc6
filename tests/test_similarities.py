"""SimilarityBase family (search/similarities.py).

Three layers:

1. Hand-rolled formula checks — the numpy scorer vs INDEPENDENT inline
   transcriptions of the reference formulas (written out again here, not
   shared with the module) at fixed (freq, docLen, stats) points.
2. Backend equality — the Spark Column plan scores the same index
   bit-identically to the numpy scorer applied to the decoded (freq, norm)
   rows, for every model.
3. Engine semantics — phrase scoring sums per-term sub-scores
   (SimilarityBase.scorer -> MultiSimScorer), the pruned top-k paths stay
   off (and agree with the plain path), and search_many refuses loudly.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.search import query as Q
from lucene_spark.search import similarities as SB
from lucene_spark.search.searcher import IndexSearcher
from lucene_spark.search.similarity import FieldStats
from lucene_spark.util.smallfloat import LENGTH_TABLE

F32 = np.float32

# one small synthetic collection's worth of stats
FS = FieldStats(max_doc=100, doc_count=100, sum_total_term_freq=5000, sum_doc_freq=3000)
AVG = 5000 / 100.0  # 50.0
POINTS = [(1.0, 13.0), (3.0, 50.0), (7.0, 104.0), (2.0, 2.0)]  # (freq, docLen)
DF, TTF = 17, 65


def _np_scores(sim, freq, dl, df=DF, ttf=TTF, boost=1.0):
    w = sim.term_weight(boost, FS, df, ttf)
    return sim.score(np.array([freq]), np.array([dl]), w)[0]


# ---------------------------------------------------------------- layer 1


def test_lm_dirichlet_hand():
    mu = 2000.0
    p = (TTF + 1.0) / (FS.sum_total_term_freq + 1.0)
    for freq, dl in POINTS:
        exp = max(0.0, math.log(1 + freq / (mu * p)) + math.log(mu / (dl + mu)))
        assert _np_scores(SB.LMDirichletSimilarity(), freq, dl) == F32(exp)


def test_lm_dirichlet_clamps_at_zero():
    # a hot term in a long doc: document norm dominates, raw score < 0
    sim = SB.LMDirichletSimilarity(mu=10.0)
    s = _np_scores(sim, 1.0, 5000.0, df=90, ttf=4000)
    assert s == F32(0.0)


def test_lm_jelinek_mercer_hand():
    lam = float(F32(0.7))
    one_m = float(F32(1.0) - F32(0.7))
    p = (TTF + 1.0) / (FS.sum_total_term_freq + 1.0)
    for freq, dl in POINTS:
        exp = math.log(1 + (one_m * freq / dl) / (lam * p))
        assert _np_scores(SB.LMJelinekMercerSimilarity(lam=0.7), freq, dl) == F32(exp)


def test_lm_jelinek_mercer_validates_lambda():
    with pytest.raises(ValueError):
        SB.LMJelinekMercerSimilarity(lam=0.0)
    with pytest.raises(ValueError):
        SB.LMJelinekMercerSimilarity(lam=1.5)


def test_indri_dirichlet_hand():
    mu = 2000.0
    p = TTF / 5000.0
    for freq, dl in POINTS:
        exp = math.log((freq + mu * p) / (dl + mu))  # boost NOT applied
        assert _np_scores(SB.IndriDirichletSimilarity(), freq, dl) == F32(exp)


def test_dfr_ineb2_hand():
    n, f = 100.0, float(TTF)
    ne = n * (1 - ((n - 1) / n) ** f)
    a = math.log((n + 1) / (ne + 0.5)) / math.log(2)
    ae = ((TTF + 1) + 1.0) / (DF + 1)
    for freq, dl in POINTS:
        tfn = freq * (math.log(1 + AVG / dl) / math.log(2))
        exp = a * ae * (1 - 1 / (1 + tfn))
        assert _np_scores(SB.DFRSimilarity(), freq, dl) == F32(exp)


def test_dfr_components_hand():
    # G model with L after-effect and H1 normalization
    sim = SB.DFRSimilarity(
        basic_model=SB.BasicModelG(),
        after_effect=SB.AfterEffectL(),
        normalization=SB.NormalizationH1(),
    )
    f_ = TTF + 1.0
    lam = f_ / (100.0 + f_)
    a = math.log(lam + 1) / math.log(2)
    b = math.log((1 + lam) / lam) / math.log(2)
    for freq, dl in POINTS:
        tfn = freq * 1.0 * (AVG / dl)
        exp = (b - (b - a) / (1 + tfn)) * 1.0
        assert _np_scores(sim, freq, dl) == F32(exp)


def test_dfr_h3_and_z_normalizations_hand():
    # H3: mu-smoothed probability, inner terms in float32
    inner = F32(F32(TTF + 1.0) / F32(5000 + 1.0))
    mu_p = float(F32(800.0) * inner)
    sim = SB.DFRSimilarity(
        basic_model=SB.BasicModelIn(),
        after_effect=SB.AfterEffectL(),
        normalization=SB.NormalizationH3(),
    )
    a = math.log((100 + 1) / (DF + 0.5)) / math.log(2)
    freq, dl = 3.0, 50.0
    tfn = (freq + mu_p) / (dl + 800.0)
    assert _np_scores(sim, freq, dl) == F32(a * (1 - 1 / (1 + tfn)))
    # Z: power normalization
    simz = SB.DFRSimilarity(
        basic_model=SB.BasicModelIn(),
        after_effect=SB.AfterEffectL(),
        normalization=SB.NormalizationZ(),
    )
    tfn_z = freq * math.pow(AVG / dl, float(F32(0.30)))
    assert _np_scores(simz, freq, dl) == F32(a * (1 - 1 / (1 + tfn_z)))


def test_ib_ll_hand():
    lam = float(F32((DF + 1.0) / (100 + 1.0)))
    for freq, dl in POINTS:
        tfn = freq * (math.log(1 + AVG / dl) / math.log(2))
        exp = -math.log(lam / (tfn + lam))
        got = _np_scores(SB.IBSimilarity(distribution=SB.DistributionLL()), freq, dl)
        assert got == F32(exp)


def test_ib_spl_hand():
    lam = float(F32((TTF + 1.0) / (100 + 1.0)))  # TTF lambda < 1 here? no: 66/101
    sim = SB.IBSimilarity(distribution=SB.DistributionSPL(), lambda_=SB.LambdaTTF())
    for freq, dl in POINTS:
        tfn = freq * (math.log(1 + AVG / dl) / math.log(2))
        q = 1 - 1 / (tfn + 1)
        if q == 1:
            q = np.nextafter(1.0, 0.0)
        p = math.pow(lam, q)
        if p == lam:
            p = float(np.nextafter(lam, math.inf))
        exp = -math.log((p - lam) / (1 - lam))
        assert _np_scores(sim, freq, dl) == F32(exp)


def test_ib_spl_pow_guard_engages():
    # enormous tfn -> q ~ 1 -> lambda^q rounds to lambda; the nextUp nudge
    # keeps the log argument positive instead of -inf
    sim = SB.IBSimilarity(distribution=SB.DistributionSPL())
    s = _np_scores(sim, 1e9, 1.0)
    assert np.isfinite(s)


def test_dfi_hand():
    for ind, fn in [
        (SB.IndependenceChiSquared(), lambda f, e: (f - e) * (f - e) / e),
        (SB.IndependenceSaturated(), lambda f, e: (f - e) / e),
        (SB.IndependenceStandardized(), lambda f, e: (f - e) / math.sqrt(e)),
    ]:
        sim = SB.DFISimilarity(independence=ind)
        for freq, dl in POINTS:
            e = (TTF + 1) * dl / (5000 + 1)
            exp = 0.0 if freq <= e else math.log(fn(freq, e) + 1) / math.log(2)
            assert _np_scores(sim, freq, dl) == F32(exp)


def test_axiomatic_hand():
    s35 = float(F32(0.35))
    s25 = float(F32(0.25))
    k = float(F32(0.35))
    idf_exp = math.pow(101.0 / DF, k)
    idf_log = math.log(101.0 / DF)
    for freq, dl in POINTS:
        tf_ll = 1 + math.log(1 + math.log(freq + 1))
        ln1_35 = (AVG + s35) / (AVG + dl * s35)
        ln1_25 = (AVG + s25) / (AVG + dl * s25)
        tfln_35 = freq / (freq + s35 + s35 * dl / AVG)
        tfln_25 = freq / (freq + s25 + s25 * dl / AVG)
        gamma = (dl - 1) * s25 * 1 / AVG
        cases = [
            (SB.AxiomaticF1EXP(), tf_ll * ln1_35 * idf_exp),
            (SB.AxiomaticF1LOG(), tf_ll * ln1_25 * idf_log),
            (SB.AxiomaticF2EXP(), tfln_35 * idf_exp),
            (SB.AxiomaticF2LOG(), tfln_25 * idf_log),
            (SB.AxiomaticF3EXP(), tf_ll * idf_exp - gamma),
            (SB.AxiomaticF3LOG(), tf_ll * idf_log - gamma),
        ]
        for sim, exp in cases:
            assert _np_scores(sim, freq, dl) == F32(max(0.0, exp)), type(sim).__name__


def test_multi_similarity_sums_float_subscores():
    sim = SB.MultiSimilarity(
        sims=(SB.LMDirichletSimilarity(), SB.IBSimilarity(distribution=SB.DistributionLL()))
    )
    for freq, dl in POINTS:
        a = _np_scores(SB.LMDirichletSimilarity(), freq, dl)
        b = _np_scores(SB.IBSimilarity(distribution=SB.DistributionLL()), freq, dl)
        exp = F32(float(a) + float(b))  # double sum of float parts
        assert _np_scores(sim, freq, dl) == exp


def test_multi_similarity_rejects_bm25_subs():
    from lucene_spark.search.similarity import BM25Similarity

    with pytest.raises(TypeError):
        SB.MultiSimilarity(sims=(BM25Similarity(),))


def test_scalar_weight_protocol_raises():
    with pytest.raises(TypeError):
        SB.LMDirichletSimilarity().weight(1.0, F32(2.0))


# ---------------------------------------------------------------- layer 2+3

DOCS = [
    (0, "spark table join merge the the table"),
    (1, "table"),
    (2, "spark spark spark table table filter join group"),
    (3, "merge join filter group order limit table spark merge"),
    (4, "the quick brown fox jumps over the lazy dog table spark"),
    (5, "no match here at all"),
    (6, "table table table table table"),
]

ALL_SIMS = [
    SB.LMDirichletSimilarity(),
    SB.LMJelinekMercerSimilarity(lam=0.7),
    SB.IndriDirichletSimilarity(),
    SB.DFRSimilarity(),
    SB.DFRSimilarity(
        basic_model=SB.BasicModelG(),
        after_effect=SB.AfterEffectL(),
        normalization=SB.NormalizationH1(),
    ),
    SB.DFRSimilarity(
        basic_model=SB.BasicModelIF(),
        after_effect=SB.AfterEffectB(),
        normalization=SB.NormalizationH3(),
    ),
    SB.IBSimilarity(),
    SB.IBSimilarity(distribution=SB.DistributionLL(), lambda_=SB.LambdaTTF()),
    SB.DFISimilarity(),
    SB.DFISimilarity(independence=SB.IndependenceStandardized()),
    SB.AxiomaticF1EXP(),
    SB.AxiomaticF2LOG(),
    SB.AxiomaticF3EXP(),
    SB.MultiSimilarity(sims=(SB.LMDirichletSimilarity(), SB.DFISimilarity())),
]


@pytest.fixture(scope="module")
def small_index(spark):
    df = spark.createDataFrame(DOCS, ["id", "text"])
    cfg = IndexConfig(text_col="text", field_name="text", doc_id_col="id", order_by=None)
    return build_index(spark, df, cfg)


def _expected_topk(idx, sim, term, k=10):
    """numpy recomputation from the decoded postings."""
    s = IndexSearcher(idx, similarity=sim)
    ctx = s._resolve_stats(Q.TermQuery("text", term))
    w = s._term_weight("text", term, F32(1.0), ctx)
    rows = (
        s._decoded("text", F.col("term") == term)
        .select("doc_id", "freq", "norm")
        .collect()
    )
    scored = [
        (
            r["doc_id"],
            float(
                sim.score(
                    np.array([float(r["freq"])]),
                    np.array([float(LENGTH_TABLE[int(r["norm"])])]),
                    w,
                )[0]
            ),
        )
        for r in rows
    ]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


@pytest.mark.parametrize("sim", ALL_SIMS, ids=lambda s: type(s).__name__ + str(abs(hash(repr(s))) % 997))
def test_spark_plan_matches_numpy_scorer(spark, small_index, sim):
    s = IndexSearcher(small_index, similarity=sim)
    got = [
        (r["doc_id"], float(r["score"]))
        for r in s.search(Q.TermQuery("text", "table"), k=10).collect()
    ]
    exp = _expected_topk(small_index, sim, "table")
    assert got == exp


def test_phrase_sums_per_term_subscores(spark, small_index):
    """SimilarityBase.scorer with several TermStats -> MultiSimScorer:
    phrase score = sum over query terms of score(stats_t, phrase_freq, dl)."""
    sim = SB.LMDirichletSimilarity()
    s = IndexSearcher(small_index, similarity=sim)
    q = Q.PhraseQuery("text", ("spark", "table"))
    got = {r["doc_id"]: float(r["score"]) for r in s.search(q, k=10).collect()}
    assert got  # docs 0? "spark table join" yes; doc 2 "spark table table"?
    # recompute: phrase freq per doc from raw positions
    ctx = s._resolve_stats(q)
    fs = small_index.fieldstats["text"]
    w = sim.term_weight_multi(
        F32(1.0),
        fs,
        [ctx.term_stats[("text", "spark")], ctx.term_stats[("text", "table")]],
    )
    d = (
        s._decoded("text", F.col("term").isin(["spark", "table"]), with_positions=True)
        .select("doc_id", "term", "positions", "norm")
        .collect()
    )
    by_doc = {}
    for r in d:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = (
            set(r["positions"]),
            int(r["norm"]),
        )
    for doc_id, terms in by_doc.items():
        if len(terms) < 2:
            continue
        starts = {p for p in terms["spark"][0] if (p + 1) in terms["table"][0]}
        if not starts:
            continue
        dl = float(LENGTH_TABLE[terms["spark"][1]])
        exp = float(
            sim.score(np.array([float(len(starts))]), np.array([dl]), w)[0]
        )
        assert got[doc_id] == exp


def test_pruned_gate_falls_back_and_agrees(spark, small_index):
    sim = SB.LMDirichletSimilarity()
    s = IndexSearcher(small_index, similarity=sim, prune_engage_min_rows=0)
    q = Q.TermQuery("text", "table")
    pruned = [(r["doc_id"], r["score"]) for r in s.search(q, k=3, prune=True).collect()]
    plain = [(r["doc_id"], r["score"]) for r in s.search(q, k=3, prune=False).collect()]
    assert pruned == plain


def test_search_many_refuses_full_stats_sims(spark, small_index):
    s = IndexSearcher(small_index, similarity=SB.DFRSimilarity())
    with pytest.raises(NotImplementedError):
        s.search_many({"q1": Q.TermQuery("text", "table")})


def test_explain_reports_full_stats_weight(spark, small_index):
    from lucene_spark.search.explain import explain

    s = IndexSearcher(small_index, similarity=SB.LMDirichletSimilarity())
    doc = s.search(Q.TermQuery("text", "table"), k=1).collect()[0]
    e = explain(s, Q.TermQuery("text", "table"), int(doc["doc_id"]))
    assert e["matched"] and e["score"] == doc["score"]


def test_boolean_composition_sums_clause_scores(spark, small_index):
    sim = SB.IBSimilarity()
    s = IndexSearcher(small_index, similarity=sim)
    q = Q.BooleanQuery.of(
        should=[Q.TermQuery("text", "spark"), Q.TermQuery("text", "merge")]
    )
    got = {r["doc_id"]: float(r["score"]) for r in s.search(q, k=10).collect()}
    a = dict(_expected_topk(small_index, sim, "spark"))
    b = dict(_expected_topk(small_index, sim, "merge"))
    for doc_id, sc in got.items():
        # double accumulation of float32 clause scores, final float32
        exp = F32(float(np.float64(F32(a.get(doc_id, 0.0))) + np.float64(F32(b.get(doc_id, 0.0)))))
        assert F32(sc) == exp
