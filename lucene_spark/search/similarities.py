"""The SimilarityBase scoring-model family.

Reference: ``search/similarities/SimilarityBase.java`` — every model here
implements ``double score(BasicStats, double freq, double docLen)``; the
per-hit score is that double computation with ONE final cast to float32
(``SimilarityBase.BasicSimScorer.score:185-187``:
``(float) SimilarityBase.this.score(stats, freq, getLengthValue(norm))``).
``docLen`` is the byte4-decoded field length (``LENGTH_TABLE[norm]``,
SimilarityBase.java:150-156) — the same norm byte the BM25 index stores, so
no index change is needed: these similarities' ``norm_inv_cache`` simply
returns the raw decoded length per byte and the searcher's existing
``element_at(cache, norm+1)`` lookup yields ``docLen``.

Models (all clean-room from the reference formulas, file:line cited on each
class):

- ``LMDirichletSimilarity`` / ``LMJelinekMercerSimilarity`` /
  ``IndriDirichletSimilarity`` (language models, LMSimilarity.java)
- ``DFRSimilarity`` = BasicModel (G / I(F) / I(n) / I(ne)) x AfterEffect
  (L / B) x Normalization (H1 / H2 / H3 / Z / none)
- ``IBSimilarity`` = Distribution (LL / SPL) x Lambda (DF / TTF) x
  Normalization
- ``DFISimilarity`` x Independence (ChiSquared / Saturated / Standardized)
- ``Axiomatic`` F1EXP / F1LOG / F2EXP / F2LOG / F3EXP / F3LOG
- ``MultiSimilarity`` (per-sub float scores summed in double,
  MultiSimilarity.MultiSimScorer.java)

Engine integration: unlike BM25 — whose per-term weight is one float32
scalar — these models need the full per-term statistics tuple at scoring
time, so ``term_weight(boost, field_stats, df, ttf)`` returns an opaque
:class:`SBWeight` that the searcher threads through ``_score_col`` untouched
and this module unpacks. Each model writes its formula ONCE against a tiny
ops shim (:class:`_NpOps` / :class:`_ColOps`), so the numpy scorer used by
``explain``/tests and the Spark Column plan used by the engine are the same
transcription by construction. ``scalar_weights = False`` tells the searcher
to keep these models on the plain one-shuffle paths (the block-max pruned
and batched-serving paths assume float-scalar weights; Lucene's impact
machinery is likewise BM25-tuned).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field

import numpy as np

from lucene_spark.util.smallfloat import LENGTH_TABLE

__all__ = [
    "LMDirichletSimilarity",
    "LMJelinekMercerSimilarity",
    "IndriDirichletSimilarity",
    "DFRSimilarity",
    "BasicModelG",
    "BasicModelIF",
    "BasicModelIn",
    "BasicModelIne",
    "AfterEffectL",
    "AfterEffectB",
    "NormalizationH1",
    "NormalizationH2",
    "NormalizationH3",
    "NormalizationZ",
    "NoNormalization",
    "IBSimilarity",
    "DistributionLL",
    "DistributionSPL",
    "LambdaDF",
    "LambdaTTF",
    "DFISimilarity",
    "IndependenceChiSquared",
    "IndependenceSaturated",
    "IndependenceStandardized",
    "AxiomaticF1EXP",
    "AxiomaticF1LOG",
    "AxiomaticF2EXP",
    "AxiomaticF2LOG",
    "AxiomaticF3EXP",
    "AxiomaticF3LOG",
    "MultiSimilarity",
    "BasicStats",
    "SBWeight",
    "MultiWeight",
]

F32 = np.float32
LOG_2 = math.log(2.0)  # SimilarityBase.LOG_2 (:41)
_DL_CACHE = LENGTH_TABLE.astype(np.float32)  # cache[b] = byte4ToInt(b)


@dataclass(frozen=True)
class BasicStats:
    """``search/similarities/BasicStats.java:30-47`` — filled per
    ``SimilarityBase.fillBasicStats`` (:78-90): N = docCount, field tokens =
    sumTotalTermFreq, avgFieldLength = sumTTF / (double) docCount."""

    boost: float
    number_of_documents: int
    number_of_field_tokens: int
    avg_field_length: float
    doc_freq: int
    total_term_freq: int
    #: LMSimilarity.LMStats collection probability (filled by LM models)
    collection_probability: float | None = None


@dataclass(frozen=True)
class SBWeight:
    """Opaque per-term weight: the model + its filled BasicStats."""

    sim: object
    stats: BasicStats


@dataclass(frozen=True)
class MultiWeight:
    """Sum-of-sub-scores weight (MultiSimilarity.MultiSimScorer: per-sub
    FLOAT scores accumulated in double, one final float cast). Produced for
    multi-term stats (phrases — SimilarityBase.scorer:62-66) and by
    :class:`MultiSimilarity`."""

    parts: tuple[SBWeight, ...]


# ---------------------------------------------------------------------- ops


class _NpOps:
    """numpy float64 backend."""

    is_np = True

    @staticmethod
    def log(x):
        return np.log(x)

    @staticmethod
    def pow(x, y):
        return np.power(x, y)

    @staticmethod
    def sqrt(x):
        return np.sqrt(x)

    @staticmethod
    def where(c, a, b):
        return np.where(c, a, b)

    @staticmethod
    def max0(x):
        return np.maximum(x, 0.0)


class _ColOps:
    """Spark Column backend — double-typed codegen expressions.
    ``log``/``pow`` mirror ``java.lang.Math``; log2 is spelled
    ``log(x)/LOG_2`` exactly like SimilarityBase.log2 (:161-163)."""

    is_np = False

    @staticmethod
    def log(x):
        from pyspark.sql import functions as F

        return F.log(x)

    @staticmethod
    def pow(x, y):
        from pyspark.sql import functions as F, Column

        if not isinstance(x, Column):
            x = F.lit(float(x))
        return F.pow(x, y)

    @staticmethod
    def sqrt(x):
        from pyspark.sql import functions as F

        return F.sqrt(x)

    @staticmethod
    def where(c, a, b):
        from pyspark.sql import functions as F

        return F.when(c, a).otherwise(b)

    @staticmethod
    def max0(x):
        from pyspark.sql import functions as F

        return F.greatest(F.lit(0.0), x)


_NP = _NpOps()
_COL = _ColOps()


# ------------------------------------------------------------------- base


class _SimilarityBase:
    """Shared engine surface. Subclasses implement
    ``_score_ops(o, stats, freq, dl) -> double expr`` (the reference's
    ``score(BasicStats, double freq, double docLen)``)."""

    #: the searcher keeps non-scalar-weight models on the plain paths
    scalar_weights = False

    # -- searcher init shape ------------------------------------------------
    def avgdl(self, sum_total_term_freq: int, doc_count: int) -> np.float32:
        return F32(sum_total_term_freq / float(doc_count))

    def norm_inv_cache(self, avgdl: np.float32) -> np.ndarray:
        # cache[b] = decoded docLen (SimilarityBase.java:150-156); the
        # searcher's element_at lookup then feeds docLen to _score_ops
        return _DL_CACHE

    # -- weights ------------------------------------------------------------
    def term_weight(self, boost, field_stats, doc_freq: int, total_term_freq: int):
        stats = self._fill(float(boost), field_stats, int(doc_freq), int(total_term_freq))
        return SBWeight(self, stats)

    def term_weight_multi(self, boost, field_stats, term_stats_list):
        """SimilarityBase.scorer(:55-67) with multiple TermStats: one
        BasicStats per term, scores summed (MultiSimScorer)."""
        parts = tuple(
            SBWeight(self, self._fill(float(boost), field_stats, int(df), int(ttf)))
            for df, ttf in term_stats_list
        )
        if len(parts) == 1:
            return parts[0]
        return MultiWeight(parts)

    def _fill(self, boost, fs, df, ttf) -> BasicStats:
        n = int(fs.doc_count)
        return BasicStats(
            boost=boost,
            number_of_documents=n,
            number_of_field_tokens=int(fs.sum_total_term_freq),
            avg_field_length=(fs.sum_total_term_freq / float(n)) if n else 1.0,
            doc_freq=df,
            total_term_freq=ttf,
        )

    # the BM25-scalar protocol is score-critical — fail loudly rather than
    # silently mis-score (CombinedFieldQuery is BM25-only in the reference
    # too, CombinedFieldQuery.java javadoc)
    def weight(self, boost, idf):
        raise TypeError(
            f"{type(self).__name__} needs full term statistics; this query "
            "path only supports scalar-weight similarities (BM25/Classic/"
            "Boolean/SweetSpot)"
        )

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        # ancillary consumers only (highlight passage weighting, MLT term
        # selection) — NOT used in this family's score paths
        return F32(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))

    # -- scoring ------------------------------------------------------------
    def _parts(self, weight):
        if isinstance(weight, MultiWeight):
            return weight.parts
        return (weight,)

    def score(self, freq, dl_vals, weight) -> np.ndarray:
        """numpy twin: per-part double score -> float32 -> double sum ->
        float32 (exactly MultiSimScorer's accumulation for multi-part)."""
        fr = np.asarray(freq, dtype=np.float64)
        dl = np.asarray(dl_vals, dtype=np.float64)
        parts = self._parts(weight)
        if len(parts) == 1:
            p = parts[0]
            return np.asarray(
                p.sim._score_ops(_NP, p.stats, fr, dl), dtype=np.float64
            ).astype(np.float32)
        acc = np.zeros_like(fr, dtype=np.float64)
        for p in parts:
            acc += np.asarray(
                p.sim._score_ops(_NP, p.stats, fr, dl), dtype=np.float64
            ).astype(np.float32)
        return acc.astype(np.float32)

    def score_col(self, freq_col, dl_col, weight):
        fr = freq_col.cast("double")
        dl = dl_col.cast("double")
        parts = self._parts(weight)
        if len(parts) == 1:
            p = parts[0]
            return p.sim._score_ops(_COL, p.stats, fr, dl).cast("float")
        acc = None
        for p in parts:
            s = p.sim._score_ops(_COL, p.stats, fr, dl).cast("float").cast("double")
            acc = s if acc is None else acc + s
        return acc.cast("float")


# ----------------------------------------------------------- language models


@dataclass(frozen=True)
class LMDirichletSimilarity(_SimilarityBase):
    """``LMDirichletSimilarity.java:86-93``: score =
    boost * (log(1 + freq/(mu*p)) + log(mu/(docLen+mu))), clamped at 0;
    p = (ttf+1)/(sumTTF+1) (LMSimilarity.DefaultCollectionModel)."""

    mu: float = 2000.0

    def _fill(self, boost, fs, df, ttf) -> BasicStats:
        st = super()._fill(boost, fs, df, ttf)
        p = (st.total_term_freq + 1.0) / (st.number_of_field_tokens + 1.0)
        return BasicStats(**{**st.__dict__, "collection_probability": p})

    def _score_ops(self, o, st, freq, dl):
        mu = float(F32(self.mu))  # float field widened to double in the expr
        p = st.collection_probability
        raw = o.log(1.0 + freq / (mu * p)) + o.log(mu / (dl + mu))
        return o.max0(st.boost * raw)


@dataclass(frozen=True)
class LMJelinekMercerSimilarity(_SimilarityBase):
    """``LMJelinekMercerSimilarity.java:73-79``: score =
    boost * log(1 + ((1-lambda)*freq/docLen) / (lambda*p))."""

    lam: float = 0.7

    def __post_init__(self):
        if not (0.0 < self.lam <= 1.0):
            raise ValueError("lambda must be in the range (0 .. 1]")

    def _fill(self, boost, fs, df, ttf) -> BasicStats:
        st = super()._fill(boost, fs, df, ttf)
        p = (st.total_term_freq + 1.0) / (st.number_of_field_tokens + 1.0)
        return BasicStats(**{**st.__dict__, "collection_probability": p})

    def _score_ops(self, o, st, freq, dl):
        # (1 - lambda) evaluates in float32 (int 1 promotes to float), the
        # rest in double
        one_m = float(F32(1.0) - F32(self.lam))
        lam = float(F32(self.lam))
        return st.boost * o.log(
            1.0 + (one_m * freq / dl) / (lam * st.collection_probability)
        )


@dataclass(frozen=True)
class IndriDirichletSimilarity(_SimilarityBase):
    """``IndriDirichletSimilarity.java:63-68``: score =
    log((freq + mu*p)/(docLen + mu)) — boost is NOT applied in score();
    p = ttf/sumTTF (IndriCollectionModel, may be negative log)."""

    mu: float = 2000.0

    def _fill(self, boost, fs, df, ttf) -> BasicStats:
        st = super()._fill(boost, fs, df, ttf)
        nt = st.number_of_field_tokens
        p = (st.total_term_freq / float(nt)) if nt else 0.0
        return BasicStats(**{**st.__dict__, "collection_probability": p})

    def _score_ops(self, o, st, freq, dl):
        mu = float(F32(self.mu))
        return o.log((freq + mu * st.collection_probability) / (dl + mu))


# ------------------------------------------------------------------- DFR


@dataclass(frozen=True)
class NormalizationH1:
    """``NormalizationH1.java:56-58``: tfn = tf * c * (avgdl / len)."""

    c: float = 1.0

    def tfn(self, o, st, tf, dl):
        return tf * float(F32(self.c)) * (st.avg_field_length / dl)


@dataclass(frozen=True)
class NormalizationH2:
    """``NormalizationH2.java:57-59``: tfn = tf * log2(1 + c*avgdl/len)."""

    c: float = 1.0

    def tfn(self, o, st, tf, dl):
        return tf * (o.log(1.0 + float(F32(self.c)) * st.avg_field_length / dl) / LOG_2)


@dataclass(frozen=True)
class NormalizationH3:
    """``NormalizationH3.java:48-51``: tfn = (tf + mu*((ttf+1F)/(sumTTF+1F)))
    / (len + mu) — the inner probability and its mu product evaluate in
    float32 (the 1F literals), the division in double."""

    mu: float = 800.0

    def tfn(self, o, st, tf, dl):
        inner = F32(F32(st.total_term_freq + 1.0) / F32(st.number_of_field_tokens + 1.0))
        mu_p = float(F32(self.mu) * inner)
        return (tf + mu_p) / (dl + float(F32(self.mu)))


@dataclass(frozen=True)
class NormalizationZ:
    """``NormalizationZ.java:49-51``: tfn = tf * pow(avgdl/len, z)."""

    z: float = 0.30

    def tfn(self, o, st, tf, dl):
        return tf * o.pow(st.avg_field_length / dl, float(F32(self.z)))


@dataclass(frozen=True)
class NoNormalization:
    """``Normalization.NoNormalization`` (:59-67): tfn = tf."""

    def tfn(self, o, st, tf, dl):
        return tf


@dataclass(frozen=True)
class AfterEffectL:
    """``AfterEffectL.java:32-34``: scoreTimes1pTfn = 1."""

    def score_times_1p_tfn(self, st) -> float:
        return 1.0


@dataclass(frozen=True)
class AfterEffectB:
    """``AfterEffectB.java:32-36``: (F+1)/n with F = ttf+1, n = df+1."""

    def score_times_1p_tfn(self, st) -> float:
        f = st.total_term_freq + 1
        n = st.doc_freq + 1
        return (f + 1.0) / n


@dataclass(frozen=True)
class BasicModelG:
    """``BasicModelG.java:36-50``: lambda = F/(N+F) with F = ttf+1;
    A = log2(lambda+1), B = log2((1+lambda)/lambda);
    score = (B - (B-A)/(1+tfn)) * aeTimes1pTfn."""

    def score_expr(self, o, st, tfn, ae):
        f = st.total_term_freq + 1.0
        n = float(st.number_of_documents)
        lam = f / (n + f)
        a = math.log(lam + 1.0) / LOG_2
        b = math.log((1.0 + lam) / lam) / LOG_2
        return (b - (b - a) / (1.0 + tfn)) * ae


@dataclass(frozen=True)
class BasicModelIF:
    """``BasicModelIF.java:34-45``: A = log2(1 + (N+1)/(F+0.5));
    score = A * ae * (1 - 1/(1+tfn))."""

    def score_expr(self, o, st, tfn, ae):
        a = math.log(1.0 + (st.number_of_documents + 1) / (st.total_term_freq + 0.5)) / LOG_2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))


@dataclass(frozen=True)
class BasicModelIn:
    """``BasicModelIn.java:34-45``: A = log2((N+1)/(n+0.5)) over df."""

    def score_expr(self, o, st, tfn, ae):
        a = math.log((st.number_of_documents + 1) / (st.doc_freq + 0.5)) / LOG_2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))


@dataclass(frozen=True)
class BasicModelIne:
    """``BasicModelIne.java:33-45``: ne = N*(1 - ((N-1)/N)^F);
    A = log2((N+1)/(ne+0.5))."""

    def score_expr(self, o, st, tfn, ae):
        n = float(st.number_of_documents)
        f = float(st.total_term_freq)
        ne = n * (1.0 - math.pow((n - 1.0) / n, f))
        a = math.log((st.number_of_documents + 1) / (ne + 0.5)) / LOG_2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))


@dataclass(frozen=True)
class DFRSimilarity(_SimilarityBase):
    """``DFRSimilarity.java:127-131``: score =
    boost * basicModel.score(stats, tfn, aeTimes1pTfn) with
    tfn = normalization.tfn(stats, freq, docLen). Default combo I(ne)-B-H2
    mirrors the class's showcase (DFRSimilarity.java:57-66)."""

    basic_model: object = dc_field(default_factory=BasicModelIne)
    after_effect: object = dc_field(default_factory=AfterEffectB)
    normalization: object = dc_field(default_factory=NormalizationH2)

    def _score_ops(self, o, st, freq, dl):
        tfn = self.normalization.tfn(o, st, freq, dl)
        ae = self.after_effect.score_times_1p_tfn(st)
        return st.boost * self.basic_model.score_expr(o, st, tfn, ae)


# -------------------------------------------------------------------- IB


@dataclass(frozen=True)
class LambdaDF:
    """``LambdaDF.java:32-40``: float32 (df+1)/(N+1); ==1 -> nextDown."""

    def lam(self, st) -> float:
        v = F32((st.doc_freq + 1.0) / (st.number_of_documents + 1.0))
        if v == F32(1.0):
            v = np.nextafter(v, F32(0.0), dtype=np.float32)
        return float(v)


@dataclass(frozen=True)
class LambdaTTF:
    """``LambdaTTF.java:32-41``: float32 (ttf+1)/(N+1); ==1 -> nextUp."""

    def lam(self, st) -> float:
        v = F32((st.total_term_freq + 1.0) / (st.number_of_documents + 1.0))
        if v == F32(1.0):
            v = np.nextafter(v, F32(2.0), dtype=np.float32)
        return float(v)


@dataclass(frozen=True)
class DistributionLL:
    """``DistributionLL.java:32-35``: -log(lambda/(tfn+lambda))."""

    def score_expr(self, o, st, tfn, lam):
        return -o.log(lam / (tfn + lam))


@dataclass(frozen=True)
class DistributionSPL:
    """``DistributionSPL.java:35-58``: q = 1 - 1/(tfn+1) (nextDown'd off
    1.0), pow = lambda^q nudged off lambda, score =
    -log((pow-lambda)/(1-lambda))."""

    def score_expr(self, o, st, tfn, lam):
        q = 1.0 - 1.0 / (tfn + 1.0)
        nd1 = float(np.nextafter(1.0, 0.0))
        q = o.where(q == 1.0, nd1, q)
        p = o.pow(lam, q)
        # lambda < 1 always here (both Lambdas produce < 1 or nudge off 1)
        nudge = float(np.nextafter(lam, math.inf)) if lam < 1.0 else float(
            np.nextafter(lam, -math.inf)
        )
        p = o.where(p == lam, nudge, p)
        return -o.log((p - lam) / (1.0 - lam))


@dataclass(frozen=True)
class IBSimilarity(_SimilarityBase):
    """``IBSimilarity.java:115-118``: score = boost *
    distribution.score(stats, normalization.tfn(...), lambda(stats))."""

    distribution: object = dc_field(default_factory=DistributionSPL)
    lambda_: object = dc_field(default_factory=LambdaDF)
    normalization: object = dc_field(default_factory=NormalizationH2)

    def _score_ops(self, o, st, freq, dl):
        tfn = self.normalization.tfn(o, st, freq, dl)
        lam = self.lambda_.lam(st)
        return st.boost * self.distribution.score_expr(o, st, tfn, lam)


# ------------------------------------------------------------------- DFI


@dataclass(frozen=True)
class IndependenceChiSquared:
    """``IndependenceChiSquared.java:33-35``: (f-e)^2 / e."""

    def measure(self, o, freq, expected):
        return (freq - expected) * (freq - expected) / expected


@dataclass(frozen=True)
class IndependenceSaturated:
    """``IndependenceSaturated.java:32-34``: (f-e)/e."""

    def measure(self, o, freq, expected):
        return (freq - expected) / expected


@dataclass(frozen=True)
class IndependenceStandardized:
    """``IndependenceStandardized.java:33-35``: (f-e)/sqrt(e)."""

    def measure(self, o, freq, expected):
        return (freq - expected) / o.sqrt(expected)


@dataclass(frozen=True)
class DFISimilarity(_SimilarityBase):
    """``DFISimilarity.java:70-81``: expected = (ttf+1)*docLen/(sumTTF+1);
    freq <= expected -> 0, else boost * log2(measure + 1)."""

    independence: object = dc_field(default_factory=IndependenceChiSquared)

    def _score_ops(self, o, st, freq, dl):
        expected = (st.total_term_freq + 1) * dl / (st.number_of_field_tokens + 1)
        m = self.independence.measure(o, freq, expected)
        # the freq <= expected branch returns 0 before the log is consulted;
        # clamping the dead branch only avoids numpy's eager-eval warning
        # (measures are positive whenever freq > expected)
        scored = st.boost * (o.log(o.max0(m) + 1.0) / LOG_2)
        return o.where(freq <= expected, 0.0, scored)


# -------------------------------------------------------------- Axiomatic


@dataclass(frozen=True)
class _Axiomatic(_SimilarityBase):
    """``Axiomatic.java:105-117``: score =
    max(0, (tf * ln * tfln * idf - gamma) * boost). Defaults
    (s, queryLen, k) = (0.25, 1, 0.35) (:100-103)."""

    s: float = 0.25
    query_len: int = 1
    k: float = 0.35

    # components (subclass hooks); o is the ops shim
    def _tf(self, o, st, freq, dl):
        return 1.0

    def _ln(self, o, st, freq, dl):
        return 1.0

    def _tfln(self, o, st, freq, dl):
        return 1.0

    def _idf(self, st) -> float:
        raise NotImplementedError

    def _gamma(self, o, st, freq, dl):
        return 0.0

    # shared component bodies
    def _tf_loglog(self, o, freq):
        # AxiomaticF{1,3}*: freq += 1; 1 + log(1 + log(freq))
        return 1.0 + o.log(1.0 + o.log(freq + 1.0))

    def _ln_len(self, o, st, dl):
        # F1*: (avgdl + s)/(avgdl + docLen*s)
        s = float(F32(self.s))
        return (st.avg_field_length + s) / (st.avg_field_length + dl * s)

    def _tfln_sat(self, o, st, freq, dl):
        # F2*: freq/(freq + s + s*docLen/avgdl)
        s = float(F32(self.s))
        return freq / (freq + s + s * dl / st.avg_field_length)

    def _gamma_len(self, o, st, dl):
        # F3*: (docLen - queryLen) * s * queryLen / avgdl
        s = float(F32(self.s))
        return (dl - self.query_len) * s * self.query_len / st.avg_field_length

    def _idf_exp(self, st) -> float:
        # F*EXP: pow((N+1)/df, k); df guarded — a df=0 term matches nothing
        return math.pow(
            (st.number_of_documents + 1.0) / max(st.doc_freq, 1), float(F32(self.k))
        )

    def _idf_log(self, st) -> float:
        return math.log((st.number_of_documents + 1.0) / max(st.doc_freq, 1))

    def _score_ops(self, o, st, freq, dl):
        raw = (
            self._tf(o, st, freq, dl)
            * self._ln(o, st, freq, dl)
            * self._tfln(o, st, freq, dl)
            * self._idf(st)
            - self._gamma(o, st, freq, dl)
        ) * st.boost
        return o.max0(raw)


@dataclass(frozen=True)
class AxiomaticF1EXP(_Axiomatic):
    """``AxiomaticF1EXP.java:57-85``."""

    s: float = 0.35

    def _tf(self, o, st, freq, dl):
        return self._tf_loglog(o, freq)

    def _ln(self, o, st, freq, dl):
        return self._ln_len(o, st, dl)

    def _idf(self, st):
        return self._idf_exp(st)


@dataclass(frozen=True)
class AxiomaticF1LOG(_Axiomatic):
    """``AxiomaticF1LOG.java:48-76``."""

    def _tf(self, o, st, freq, dl):
        return self._tf_loglog(o, freq)

    def _ln(self, o, st, freq, dl):
        return self._ln_len(o, st, dl)

    def _idf(self, st):
        return self._idf_log(st)


@dataclass(frozen=True)
class AxiomaticF2EXP(_Axiomatic):
    """``AxiomaticF2EXP.java:57-85``."""

    s: float = 0.35

    def _tfln(self, o, st, freq, dl):
        return self._tfln_sat(o, st, freq, dl)

    def _idf(self, st):
        return self._idf_exp(st)


@dataclass(frozen=True)
class AxiomaticF2LOG(_Axiomatic):
    """``AxiomaticF2LOG.java:48-74``."""

    def _tfln(self, o, st, freq, dl):
        return self._tfln_sat(o, st, freq, dl)

    def _idf(self, st):
        return self._idf_log(st)


@dataclass(frozen=True)
class AxiomaticF3EXP(_Axiomatic):
    """``AxiomaticF3EXP.java:57-88`` (gamma makes length a penalty; scores
    clamp at 0)."""

    def _tf(self, o, st, freq, dl):
        return self._tf_loglog(o, freq)

    def _idf(self, st):
        return self._idf_exp(st)

    def _gamma(self, o, st, freq, dl):
        return self._gamma_len(o, st, dl)


@dataclass(frozen=True)
class AxiomaticF3LOG(_Axiomatic):
    """``AxiomaticF3LOG.java:46-77``."""

    def _tf(self, o, st, freq, dl):
        return self._tf_loglog(o, freq)

    def _idf(self, st):
        return self._idf_log(st)

    def _gamma(self, o, st, freq, dl):
        return self._gamma_len(o, st, dl)


# ----------------------------------------------------------- MultiSimilarity


@dataclass(frozen=True)
class MultiSimilarity(_SimilarityBase):
    """``MultiSimilarity.java``: per-sub float scores summed in double, one
    final float cast (MultiSimScorer.score). Subs must be SimilarityBase
    models (they share the raw-docLen norm cache; mixing in the BM25 family
    would need its inverse-norm table and is a documented fence)."""

    sims: tuple = ()

    def __post_init__(self):
        for s in self.sims:
            if not isinstance(s, _SimilarityBase):
                raise TypeError(
                    "MultiSimilarity subs must be SimilarityBase models, got "
                    f"{type(s).__name__}"
                )

    def term_weight(self, boost, field_stats, doc_freq, total_term_freq):
        return MultiWeight(
            tuple(
                SBWeight(s, s._fill(float(boost), field_stats, int(doc_freq), int(total_term_freq)))
                for s in self.sims
            )
        )

    def term_weight_multi(self, boost, field_stats, term_stats_list):
        # sub-scorer per (sim, term), all summed — matches MultiSimilarity
        # .scorer over SimilarityBase.scorer's per-term MultiSimScorer
        parts = []
        for s in self.sims:
            for df, ttf in term_stats_list:
                parts.append(SBWeight(s, s._fill(float(boost), field_stats, int(df), int(ttf))))
        return MultiWeight(tuple(parts))

    def _score_ops(self, o, st, freq, dl):  # pragma: no cover - unused
        raise TypeError("MultiSimilarity scores through its sub-weights")
