"""BM25 scoring with Lucene's exact float32 operation order.

Parity targets (reference ``search/similarities/BM25Similarity.java``):

- defaults ``k1=1.2, b=0.75, discountOverlaps=true``        (:121-123)
- ``idf = ln(1 + (docCount - df + 0.5)/(df + 0.5))`` computed in float64,
  cast to float32                                            (:138-141)
- ``avgdl = float32(sumTotalTermFreq / float64(docCount))`` per field (:143-146)
- 256-entry norm-inverse cache over the byte4 length table:
  ``cache[i] = 1/(k1*((1-b) + b*LENGTH_TABLE[i]/avgdl))`` in float32 (:217-222)
- ``score = weight - weight/(1 + freq*invNorm)``, ``weight = boost*idf``,
  all float32                                                (:257-274)

Everything here is numpy float32 so the Spark engine, the SQL oracle (which
casts each intermediate to FLOAT), and the pure-Python test oracle agree
bit-for-bit (float64->float32 double rounding is exact for single +,-,*,/
ops because float64 carries >2x float32's precision).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lucene_spark.util.smallfloat import LENGTH_TABLE

__all__ = [
    "BM25Similarity",
    "ClassicSimilarity",
    "SweetSpotSimilarity",
    "BooleanSimilarity",
    "FieldStats",
    "TermStats",
]

F32 = np.float32


@dataclass(frozen=True)
class FieldStats:
    """Searcher-wide field statistics (reference ``search/FieldStats.java:69``).

    Invariants (FieldStats javadoc :22-45):
    ``docCount <= maxDoc``, ``docCount <= sumDocFreq <= sumTotalTermFreq``.
    """

    max_doc: int
    doc_count: int
    sum_total_term_freq: int
    sum_doc_freq: int


@dataclass(frozen=True)
class TermStats:
    """Per-term statistics (reference ``search/TermStats.java:64``)."""

    term: str
    doc_freq: int
    total_term_freq: int


@dataclass(frozen=True)
class BM25Similarity:
    k1: float = 1.2
    b: float = 0.75

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        """float32(ln(1 + (docCount - df + 0.5)/(df + 0.5))), float64 inside."""
        return F32(np.log(1.0 + (doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))

    def avgdl(self, sum_total_term_freq: int, doc_count: int) -> np.float32:
        return F32(sum_total_term_freq / float(doc_count))

    def norm_inv_cache(self, avgdl: np.float32) -> np.ndarray:
        """cache[b] = 1/(k1*((1-b) + b*len(b)/avgdl)) in float32, len from byte4."""
        k1 = F32(self.k1)
        b = F32(self.b)
        one = F32(1.0)
        return (one / (k1 * ((one - b) + b * LENGTH_TABLE / F32(avgdl)))).astype(
            np.float32
        )

    def weight(self, boost: float, idf: np.float32) -> np.float32:
        return F32(F32(boost) * idf)

    def score(
        self, freq: np.ndarray, norm_inv: np.ndarray, weight: np.float32
    ) -> np.ndarray:
        """Vectorized ``weight - weight/(1 + freq*invNorm)`` in float32."""
        freq = np.asarray(freq, dtype=np.float32)
        norm_inv = np.asarray(norm_inv, dtype=np.float32)
        one = F32(1.0)
        return (weight - weight / (one + freq * norm_inv)).astype(np.float32)

    def score_col(self, freq_col, inv_col, w_col):
        """Spark Column twin of :meth:`score` — ``w - w/(1 + freq*inv)``,
        all FloatType so the plan stays whole-stage codegen. Spark's Divide
        promotes float->double; rounding the single quotient back to float
        equals native float32 division (double carries >2x float32's
        precision), so the BM25Similarity op-order contract holds."""
        from pyspark.sql import functions as F

        one = F.lit(1.0).cast("float")
        denom = one + freq_col.cast("float") * inv_col  # float +,* stay FloatType
        quotient = (w_col / denom).cast("float")
        return (w_col - quotient).cast("float")


@dataclass(frozen=True)
class ClassicSimilarity:
    """The reference's historical TF-IDF scoring
    (``search/similarities/ClassicSimilarity.java:27`` over the
    ``TFIDFSimilarity.java:451`` TFIDFScorer), drop-in for
    ``IndexSearcher(similarity=...)``:

    - ``idf = float(ln((docCount+1)/(docFreq+1)) + 1)``   (ClassicSimilarity.java:69)
    - ``normTable[b] = float(1/sqrt(LENGTH_TABLE[b]))`` for b>=1,
      ``normTable[0] = 1f/normTable[255]``               (TFIDFSimilarity.java:434-446)
    - ``score = float(float(sqrt(freq)) * weight) * normTable[norm]``
                                                          (TFIDFSimilarity.java:468-471)

    Same byte4 norm encoding as BM25, so the one stored norm serves both
    models; the 256-entry table just decodes differently. Monotone
    increasing in freq and decreasing in length, so the block-max impact
    machinery's (freq up, norm down) dominance order still holds.
    """

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return F32(np.log((doc_count + 1) / float(doc_freq + 1)) + 1.0)

    def avgdl(self, sum_total_term_freq: int, doc_count: int) -> np.float32:
        # TF-IDF ignores average length; kept for the searcher's init shape
        return F32(sum_total_term_freq / float(doc_count))

    def norm_inv_cache(self, avgdl: np.float32) -> np.ndarray:
        t = np.zeros(256, dtype=np.float32)
        with np.errstate(divide="ignore"):
            t[1:] = (
                1.0 / np.sqrt(LENGTH_TABLE[1:].astype(np.float64))
            ).astype(np.float32)
        t[0] = F32(1.0) / t[255]  # single-precision divide, like `1f / normTable[255]`
        return t

    def weight(self, boost: float, idf: np.float32) -> np.float32:
        return F32(F32(boost) * idf)  # TFIDFScorer queryWeight = boost * idf

    def score(
        self, freq: np.ndarray, norm_inv: np.ndarray, weight: np.float32
    ) -> np.ndarray:
        freq = np.asarray(freq, dtype=np.float32)
        tf = np.sqrt(freq.astype(np.float64)).astype(np.float32)
        raw = (tf * weight).astype(np.float32)
        return (raw * np.asarray(norm_inv, dtype=np.float32)).astype(np.float32)

    def score_col(self, freq_col, inv_col, w_col):
        """``float(float(sqrt(freq)) * w) * normTable[norm]`` — sqrt runs in
        double and rounds to float, exactly ``(float) Math.sqrt(freq)``."""
        from pyspark.sql import functions as F

        tf = F.sqrt(freq_col.cast("float")).cast("float")
        raw = tf * w_col  # float * float stays FloatType
        return (raw * inv_col).cast("float")


@dataclass(frozen=True)
class SweetSpotSimilarity(ClassicSimilarity):
    """``misc/SweetSpotSimilarity.java:34`` (extends ClassicSimilarity):
    a plateau length norm and a baseline tf —

    - ``lengthNorm = float(1f/sqrt(s*(|len-min| + |len-max| - (max-min)) + 1f))``
      (``:lengthNorm`` — flat 1.0 inside [ln_min, ln_max], sloping off at
      steepness s outside), so documents in the "sweet spot" length range
      are not penalized relative to each other;
    - ``baselineTf(freq) = tf_base if freq <= tf_min else
      float(sqrt(freq + tf_base^2 - tf_min))`` (``baselineTf``), which
      with the defaults (0, 0) reduces to ClassicSimilarity's sqrt tf.
    """

    ln_min: int = 1
    ln_max: int = 1
    ln_steep: float = 0.5
    tf_base: float = 0.0
    tf_min: float = 0.0

    def norm_inv_cache(self, avgdl: np.float32) -> np.ndarray:
        lens = LENGTH_TABLE.astype(np.int64)
        iexpr = (
            np.abs(lens - self.ln_min)
            + np.abs(lens - self.ln_max)
            - (self.ln_max - self.ln_min)
        ).astype(np.float32)
        inner = F32(self.ln_steep) * iexpr + F32(1.0)  # float32 op order
        t = np.zeros(256, dtype=np.float32)
        t[1:] = (1.0 / np.sqrt(inner[1:].astype(np.float64))).astype(np.float32)
        t[0] = F32(1.0) / t[255]  # TFIDFSimilarity.java:446
        return t

    def _tf(self, freq: np.ndarray) -> np.ndarray:
        # java op order: (freq + tf_base*tf_base) - tf_min, float32 steps
        freq = np.asarray(freq, dtype=np.float32)
        t2 = F32(F32(self.tf_base) * F32(self.tf_base))
        grown = np.sqrt(
            ((freq + t2) - F32(self.tf_min)).astype(np.float64)
        ).astype(np.float32)
        return np.where(freq <= F32(self.tf_min), F32(self.tf_base), grown)

    def score(
        self, freq: np.ndarray, norm_inv: np.ndarray, weight: np.float32
    ) -> np.ndarray:
        raw = (self._tf(freq) * weight).astype(np.float32)
        return (raw * np.asarray(norm_inv, dtype=np.float32)).astype(np.float32)

    def score_col(self, freq_col, inv_col, w_col):
        from pyspark.sql import functions as F

        fr = freq_col.cast("float")
        t2 = F.lit(float(F32(F32(self.tf_base) * F32(self.tf_base)))).cast("float")
        tmin = F.lit(float(F32(self.tf_min))).cast("float")
        grown = F.sqrt((fr + t2) - tmin).cast("float")
        tf = F.when(fr <= tmin, F.lit(float(F32(self.tf_base))).cast("float")).otherwise(
            grown
        )
        raw = tf * w_col
        return (raw * inv_col).cast("float")


@dataclass(frozen=True)
class BooleanSimilarity:
    """``search/similarities/BooleanSimilarity.java:24``: every match
    scores exactly the query boost — ``score(freq, norm) = boost``
    (BooleanWeight.score ``:49``). Composite queries still combine scores
    structurally (a SHOULD disjunction sums to the matched-clause count)."""

    def idf(self, doc_freq: int, doc_count: int) -> np.float32:
        return F32(1.0)

    def avgdl(self, sum_total_term_freq: int, doc_count: int) -> np.float32:
        return F32(sum_total_term_freq / float(doc_count))

    def norm_inv_cache(self, avgdl: np.float32) -> np.ndarray:
        return np.ones(256, dtype=np.float32)  # norms are ignored

    def weight(self, boost: float, idf: np.float32) -> np.float32:
        return F32(F32(boost) * idf)  # idf() is 1, so weight == boost

    def score(
        self, freq: np.ndarray, norm_inv: np.ndarray, weight: np.float32
    ) -> np.ndarray:
        return np.full(np.asarray(freq).shape, weight, dtype=np.float32)

    def score_col(self, freq_col, inv_col, w_col):
        return w_col
