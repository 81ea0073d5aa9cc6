"""IndexSearcher: lowers the Query AST to DataFrame plans over the index.

Execution-model parity with the reference (``search/IndexSearcher.java``):

- stats are searcher-wide (full-corpus aggregates), bound once per query
  into float32 weights (``IndexSearcher.java:1130-1159``,
  ``TermQuery.java:120-150``);
- scoring = ``weight - weight/(1 + freq*invNorm)`` evaluated as NATIVE Spark
  float expressions (whole-stage codegen), with the 256-entry norm-inverse
  cache as an array<float> literal (``BM25Similarity.java:217-222,:257-274``);
- boolean composition = one union + groupBy(doc_id) shuffle for all positive
  clauses, anti-join for MUST_NOT (``BooleanQuery.java``, ``ReqExclScorer``);
- top-k = ``ORDER BY score DESC, doc_id ASC LIMIT k`` (Spark TakeOrdered =
  per-partition heaps + merge; tie-break per ``TopScoreDocCollector.java:26``
  and ``TopDocs.java:75-119``);
- single-term top-k applies block-max pruning: a block's upper bound is
  the best score over its competitive ``(freq, norm)`` impact pairs (the
  Pareto frontier stored per block), a first pass over the highest-impact
  blocks establishes the running k-th score, remaining blocks with
  ``upper_bound < theta`` are never decoded (WAND family:
  ``search/WANDScorer.java:32-55``, ``MaxScoreCache.java:59-140``);
- term disjunction top-k applies the MAXSCORE essential split: clauses
  whose combined bound stays below theta are only probed at candidate
  docs (``search/MaxScoreBulkScorer.java:28-70``); a query no clause of
  which demotes takes the plain one-shuffle plan.
"""

from __future__ import annotations

import math
import re as _re
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.index import forutil
from lucene_spark.index.build import InvertedIndex, _termstats_from_blocks
from lucene_spark.search import query as Q
from lucene_spark.search.similarity import BM25Similarity

__all__ = ["IndexSearcher"]

F32 = np.float32

_DECODE_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("doc_id", LongType()),
        StructField("freq", IntegerType()),
        StructField("norm", IntegerType()),
    ]
)

_DECODE_POS_SCHEMA = StructType(
    list(_DECODE_SCHEMA.fields) + [StructField("positions", ArrayType(IntegerType()))]
)


def _decode_batch(pdf: pd.DataFrame, with_positions: bool) -> pd.DataFrame:
    """Unpack one batch of postings blocks -> (term, doc_id, freq, norm
    [, positions]) rows (numpy)."""
    terms, docs, freqs, norms = [], [], [], []
    pos: list[np.ndarray] = []
    for row in pdf.itertuples(index=False):
        d = forutil.delta_decode(row.first_doc, forutil.for_decode(row.doc_gaps))
        f = forutil.pfor_decode(row.freqs)
        n = np.frombuffer(row.norms, dtype=np.uint8)
        if with_positions:
            flat = forutil.for_decode(row.positions).astype(np.int32)
            pos.extend(np.split(flat, np.cumsum(f)[:-1]))
        terms.append(np.full(len(d), row.term, dtype=object))
        docs.append(d)
        freqs.append(f.astype(np.int32))
        norms.append(n.astype(np.int32))
    out = pd.DataFrame(
        {
            "term": np.concatenate(terms),
            "doc_id": np.concatenate(docs),
            "freq": np.concatenate(freqs),
            "norm": np.concatenate(norms),
        }
    )
    if with_positions:
        out["positions"] = pd.Series(pos, dtype=object, index=out.index)
    return out


def _decode_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Unpack postings blocks -> (term, doc_id, freq, norm) rows (numpy)."""
    for pdf in batches:
        if len(pdf):
            yield _decode_batch(pdf, with_positions=False)


def _decode_blocks_with_positions(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Like ``_decode_blocks`` plus per-doc position arrays. Stays
    numpy-native end to end — scalar columns are concatenated arrays and
    each positions cell is an int32 VIEW into the block's decoded buffer
    (pyarrow converts ndarray cells directly). The previous
    Python-list materialization (`.tolist()` per cell) cost ~10x the
    memory per 20k-block Arrow batch; on a hot term at millions of docs
    that pushed the worker's peak past what a 2-task local[2] run
    tolerates."""
    for pdf in batches:
        if len(pdf):
            yield _decode_batch(pdf, with_positions=True)


_DECODE_COLS = ["term", "first_doc", "doc_gaps", "freqs", "norms"]


def _decode(blocks: DataFrame) -> DataFrame:
    """(term, doc_id, freq, norm) rows of a postings-block frame — the one
    Arrow block decode that the no-frame reads and the pruned plans share."""
    return blocks.select(_DECODE_COLS).mapInPandas(
        _decode_blocks, schema=_DECODE_SCHEMA
    )


def _by_term(values: dict[str, float]) -> Column:
    """Per-term float lookup as a literal CASE chain on ``term`` (stays in
    codegen); null for any other term."""
    col = F.lit(None).cast("float")
    for t, v in values.items():
        col = F.when(F.col("term") == t, F.lit(v).cast("float")).otherwise(col)
    return col


def _wildcard_to_regex(pattern: str) -> str:
    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(_re.escape(ch))
    return "".join(parts)


@dataclass
class _Ctx:
    """Per-search context: resolved (field, term) -> (df, ttf)."""

    term_stats: dict[tuple[str, str], tuple[int, int]]


class IndexSearcher:
    #: engagement gate (the cost decision in
    #: ``search/BooleanScorerSupplier.java:288-318``): the pruned paths
    #: pay ~4 sequential job barriers of phase latency that the plain
    #: one-shuffle path does not, so they only engage when the rows they
    #: could AVOID decoding — estimated zero-job from the driver stats
    #: memo — clear this count (~256 postings blocks, roughly 4 job
    #: latencies of Arrow decode throughput). Below it the plain decode
    #: is strictly cheaper regardless of how well the bounds prune.
    #: Override per searcher via ``prune_engage_min_rows`` (tests lower
    #: it to engage the pruned paths on small corpora).
    PRUNE_ENGAGE_MIN_ROWS = 1 << 20

    def __init__(
        self,
        index: InvertedIndex,
        similarity: object | None = None,
        query_cache=None,
        prune_engage_min_rows: int | None = None,
    ):
        """``similarity`` is any object with the Similarity surface
        (idf/avgdl/norm_inv_cache/weight/score/score_col):
        :class:`BM25Similarity` (default), :class:`ClassicSimilarity`
        (TF-IDF), :class:`BooleanSimilarity` — the reference's pluggable
        ``IndexSearcher.setSimilarity`` extension point.

        ``query_cache`` is an optional
        :class:`~lucene_spark.search.querycache.LRUQueryCache`
        (IndexSearcher.setQueryCache role): filter-context ``matches()``
        sets of policy-admitted queries are kept persisted and reused."""
        self.index = index
        self.query_cache = query_cache
        self.sim = similarity or BM25Similarity()
        self.prune_engage_min_rows = (
            self.PRUNE_ENGAGE_MIN_ROWS
            if prune_engage_min_rows is None
            else int(prune_engage_min_rows)
        )
        #: the strategy record of the last search()/search_many() call,
        #: filled only while collect_stats is True (count jobs over the
        #: same frames; the returned plan is unchanged):
        #: - pruned paths: block counters ("total_blocks", "phase1_blocks",
        #:   "kept_blocks", "rescore_blocks"; disjunctions add
        #:   "essential_blocks", "n_candidates") and, on disjunctions and
        #:   any fallback, "strategy" ("maxscore_essential", or why the
        #:   plain plan ran: "engage_gate", "nosplit", "cap",
        #:   "few_clauses", "few_anchors") and "fell_back";
        #: - general sloppy phrase: "docs_with_all_slots", "candidates"
        #:   (evidence the JVM pre-filter shrank the matcher's input);
        #: - bloom segment pruning: "segments_with_bloom",
        #:   "segments_excluded"
        self.collect_stats = False
        self.last_stats: dict = {}
        #: persisted frames whose plans a prior call returned (the query
        #: cache's evictions); unpersisted at the next search()/
        #: search_many() entry so none outlives the plan that reads it
        self._deferred_unpersist: list[DataFrame] = []
        self._stats_memo: dict[tuple[str, str], tuple[int, int]] = {}
        #: True once preload_stats loaded the ENTIRE term dictionary —
        #: multi-term rewrite (e.g. complexphrase._expand) is then zero-job
        self._stats_all_loaded = False
        #: per-field decoded postings frame (cache_decoded_positions):
        #: (term, doc_id, freq, norm, positions) rows that every _decoded
        #: caller filters instead of re-decoding blocks per query
        self._decoded_cache: dict[str, DataFrame] = {}
        #: per-term block metadata memo of _block_meta_for (anchor block
        #: keys, impact frontier), at most BLOCK_META_MAX_TERMS entries
        self._block_meta: dict[tuple[str, str], dict] = {}
        self._avgdl: dict[str, np.float32] = {}
        self._cache: dict[str, np.ndarray] = {}
        self._cache_col: dict[str, Column] = {}
        for fname, fs in index.fieldstats.items():
            if fs.doc_count > 0:
                avgdl = self.sim.avgdl(fs.sum_total_term_freq, fs.doc_count)
            else:
                avgdl = F32(1.0)
            cache = self.sim.norm_inv_cache(avgdl)
            self._avgdl[fname] = avgdl
            self._cache[fname] = cache
            self._cache_col[fname] = F.lit([float(x) for x in cache]).cast(
                "array<float>"
            )

    def _drain_deferred_unpersist(self) -> None:
        """Unpersist frames kept alive for a prior call's returned plan."""
        for df_ in self._deferred_unpersist:
            try:
                df_.unpersist()
            except Exception:
                pass
        self._deferred_unpersist.clear()

    # ------------------------------------------------------------------ public

    def search(
        self,
        query: Q.Query,
        k: int = 10,
        after: tuple[float, int] | None = None,
        prune: bool = True,
    ) -> DataFrame:
        """Top-k (doc_id, score), score desc / doc_id asc, searchAfter anchor."""
        self._drain_deferred_unpersist()
        self.last_stats = {}
        # pruning is unsafe with deletes: a deleted doc could set the
        # phase-1 bound and prune blocks holding live competitive docs;
        # the pruned paths also assume float-scalar per-term weights, so
        # the SimilarityBase family (search/similarities.py) stays on the
        # plain one-shuffle paths
        prunable = (
            prune
            and after is None
            and self.index.deletes is None
            and getattr(self.sim, "scalar_weights", True)
        )
        if prunable and isinstance(query, Q.TermQuery):
            scored = self._term_topk_pruned(query, k)
        elif prunable and (dis := _as_prunable_disjunction(query)) is not None:
            scored = self._disjunction_topk_pruned(dis[0], dis[1], k)
        else:
            scored = self.scored(query)
        if after is not None:
            s, d = F32(after[0]), int(after[1])
            a = F.lit(float(s)).cast("float")
            scored = scored.filter(
                (F.col("score") < a)
                | ((F.col("score") == a) & (F.col("doc_id") > F.lit(d)))
            )
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def optimize_for_serving(self, cache_positions: bool = False) -> None:
        """Re-layout the index for query serving: coalesce the postings
        cache to the default parallelism (every query scans the cache, so
        hundreds of build-time shuffle partitions mean hundreds of tasks
        per search) and preload the term dictionary stats.
        ``cache_positions=True`` additionally materializes the decoded
        serving frame (see :meth:`cache_decoded_positions`), which every
        query family then filters instead of decoding blocks."""
        p = self.index.docs.sparkSession.sparkContext.defaultParallelism
        old = self.index.postings
        # localCheckpoint (eager) instead of a plain persist: it TRUNCATES
        # the logical plan at the materialized blocks, so every query job
        # plans against a one-node scan instead of re-analyzing the whole
        # build lineage (tokenize/explode/shuffle trees with large literal
        # arrays) — multi-job pruned paths pay that planning cost per job
        compact = old.coalesce(p).localCheckpoint(eager=True)
        self.index.postings = compact
        # termstats is a lazy aggregate over the build's postings: once
        # those are unpersisted, every read would re-run the whole build
        self.index.termstats = _termstats_from_blocks(compact)
        try:
            old.unpersist()
        except Exception:
            pass
        self.preload_stats()
        self.preload_block_meta()
        if cache_positions:
            self.cache_decoded_positions()

    def cache_decoded_positions(self, max_positions: int = 1 << 27) -> bool:
        """Serving layout, part 3: materialize ONE decoded frame per field,
        (term, doc_id, freq, norm, positions) rows, and route every
        :meth:`_decoded` read through it. Scoring, boolean, multi-term
        (prefix, wildcard, fuzzy, range), ``search_many``, explain and
        classification reads filter the frame and drop ``positions``;
        positional plans (phrase, sloppy, intervals, spans, the
        complexPhrase/XML/surround dialects) keep it. No query re-runs
        the Arrow block decode, which is the dominant per-query executor
        cost at serving time. Deletes still apply after the read
        (:meth:`_live`); the bloom segment predicate is not needed, since
        the frame is exact and bloom only prunes.

        Memory is O(total positions); a field whose summed term frequency
        exceeds ``max_positions`` gets no frame (returns False if any
        field was skipped). Without a frame, :meth:`_decoded` falls back
        to the block decode, with identical results: the raw blocks stay
        authoritative and the frame is a per-shard hot-field cache
        decision (bit-identity pinned by ``test_positions_cache_identity``
        and ``test_decoded_frame_identity``)."""
        ok = True
        for fname, fs in self.index.fieldstats.items():
            if fs.sum_total_term_freq > max_positions:
                ok = False
                continue
            d = self._decoded(fname, F.lit(True), with_positions=True)
            # eager localCheckpoint: same plan-truncation rationale as the
            # compact postings cache above
            self._decoded_cache[fname] = d.localCheckpoint(eager=True)
        return ok

    def preload_stats(self) -> bool:
        """Pull the whole term dictionary's (df, ttf) into the driver memo
        when it fits — per-query stat resolution then costs zero jobs (the
        term-dictionary-in-RAM position Lucene's FST occupies). Returns
        False (and loads nothing) when the vocabulary exceeds
        STATS_MAX_TERMS."""
        n = self.index.termstats.count()
        if n > self.STATS_MAX_TERMS:
            return False
        for r in self.index.termstats.collect():
            self._stats_memo[(r["field"], r["term"])] = (int(r["df"]), int(r["ttf"]))
        self._stats_all_loaded = True
        return True

    #: anchor blocks kept per term by _block_meta_for
    N_ANCHORS = 16

    #: vocabulary budget of preload_stats (one driver memo entry per term)
    STATS_MAX_TERMS = 1 << 20

    #: budget of the block-metadata memo (~1 KB per term); past it a
    #: pruned query still loads its terms' metadata but does not keep it
    BLOCK_META_MAX_TERMS = 1 << 14

    #: candidate budget of the disjunction essential split: at most
    #: ``min(MAX_CANDIDATES, max(16_384, 64 * k))`` docs may clear the
    #: essential bound. Past it the non-essential probe touches most
    #: blocks anyway (flat score distributions land here) and the plain
    #: one-shuffle disjunction is cheaper.
    MAX_CANDIDATES = 100_000

    def preload_block_meta(self) -> int:
        """Serving layout, part 2: eager warm-up of the block-metadata memo
        (:meth:`_block_meta_for`) for the hot terms in the stats memo —
        those with df >= ``prune_engage_min_rows``, the only single terms
        the pruned paths engage for — hottest first, up to
        ``BLOCK_META_MAX_TERMS``. Two one-time jobs per field. Returns the
        number of terms with metadata."""
        gate = max(self.prune_engage_min_rows, 1)
        hot = sorted(
            (
                (df, fld, t)
                for (fld, t), (df, _) in self._stats_memo.items()
                if df >= gate
            ),
            reverse=True,
        )[: self.BLOCK_META_MAX_TERMS]
        by_field: dict[str, list[str]] = {}
        for _, fld, t in hot:
            by_field.setdefault(fld, []).append(t)
        return sum(len(self._block_meta_for(f, ts)) for f, ts in by_field.items())

    def _block_meta_for(self, field: str, terms: list[str]) -> dict[str, dict]:
        """The one block-metadata source of the pruned paths (the position
        Lucene's in-RAM skip/impact data occupies,
        ``search/MaxScoreCache.java:59-140``): per term, memoized in
        ``_block_meta``, the entries are

        - ``anchors``: the top-``N_ANCHORS`` block keys by impact bound
          (phase-1 anchors), ties broken by (seg_id, block_ord);
        - ``frontier_f`` / ``frontier_n``: the term's global (freq, norm)
          impact frontier as max-freq per norm byte (<= 256 pairs) — the
          term's EXACT max score bound at any weight is the float32 max
          over these pairs (:meth:`_term_max_bound`).

        Both are WEIGHT-INDEPENDENT, since score = weight * g(freq, norm)
        with g monotone, so block impact order at weight=1 is block
        impact order at any weight. Terms missing from the memo load with
        two jobs (anchors, frontier); terms without postings are absent
        from the result. Past ``BLOCK_META_MAX_TERMS`` memo entries a load
        is returned but not kept.

        A query that wants more than ``N_ANCHORS`` anchor blocks (k above
        ~500) gets the ``N_ANCHORS`` there are, and results stay exact:
        an under-filled phase 1 (fewer than k hits) drops the term path's
        theta to -inf, so every block is kept, and makes the disjunction
        path fall back to the plain plan (``few_anchors``).

        Snapshot semantics (like a point-in-time IndexReader): the memo
        describes THIS index handle's postings. Segment merges /
        addIndexes return new InvertedIndex handles, and deletes disable
        the pruned paths entirely, so there is no staleness path short of
        mutating ``index.postings`` by hand — build a fresh searcher then.
        """
        out = {
            t: self._block_meta[(field, t)]
            for t in terms
            if (field, t) in self._block_meta
        }
        missing = [t for t in terms if t not in out]
        if not missing:
            return out
        one = F.lit(1.0).cast("float")
        blocks = self._blocks(field, F.col("term").isin(missing)).withColumn(
            "_sat", self._block_ub(field, one)
        )
        wnd = Window.partitionBy("term").orderBy(
            F.col("_sat").desc(), F.col("seg_id").asc(), F.col("block_ord").asc()
        )
        a_rows = (
            blocks.withColumn("_rk", F.row_number().over(wnd))
            .filter(F.col("_rk") <= self.N_ANCHORS)
            .select("term", "seg_id", "block_ord", "_rk")
            .collect()
        )
        pair_idx = F.sequence(
            F.lit(1), (F.size(F.col("impacts")) / F.lit(2)).cast("int")
        )
        fr_rows = (
            blocks.select("term", F.explode(pair_idx).alias("i"), "impacts")
            .select(
                "term",
                F.element_at(
                    F.col("impacts"), (F.col("i") * 2 - 1).cast("int")
                ).alias("f"),
                F.element_at(F.col("impacts"), (F.col("i") * 2).cast("int")).alias("n"),
            )
            .groupBy("term", "n")
            .agg(F.max("f").alias("f"))
            .collect()
        )
        anchors: dict[str, list] = {}
        for r in sorted(a_rows, key=lambda r: r["_rk"]):
            anchors.setdefault(r["term"], []).append(
                (int(r["seg_id"]), int(r["block_ord"]))
            )
        frontier: dict[str, list] = {}
        for r in fr_rows:
            frontier.setdefault(r["term"], []).append((int(r["f"]), int(r["n"])))
        for t in missing:
            if t in anchors and t in frontier:
                fr = np.asarray(frontier[t], dtype=np.int64)
                out[t] = {
                    "anchors": anchors[t],
                    "frontier_f": fr[:, 0].astype(np.float32),
                    "frontier_n": fr[:, 1],
                }
                if len(self._block_meta) < self.BLOCK_META_MAX_TERMS:
                    self._block_meta[(field, t)] = out[t]
        return out

    def _term_max_bound(self, field: str, meta: dict, w: float) -> float:
        """A term's exact global max score bound at weight ``w`` from its
        impact frontier (``meta``, a :meth:`_block_meta_for` entry) —
        float32 op order identical to the JVM ``_block_ub`` (same
        BM25Similarity.score kernel), so the value equals the max over
        all blocks' bounds bit-for-bit."""
        inv = self._cache[field][meta["frontier_n"]]
        return float(np.max(self.sim.score(meta["frontier_f"], inv, F32(w))))

    def _live(self, df: DataFrame) -> DataFrame:
        """Live-docs filter (Lucene90LiveDocsFormat analog): anti-join the
        deletes table; no-op when the index carries no deletes."""
        if self.index.deletes is None:
            return df
        return df.join(F.broadcast(self.index.deletes), "doc_id", "left_anti")

    def scored(self, query: Q.Query) -> DataFrame:
        """(doc_id, score:float), one row per matching doc, unordered."""
        ctx = self._resolve_stats(query)
        return self._live(self._scored(query, F32(1.0), ctx))

    def matches(self, query: Q.Query) -> DataFrame:
        """(doc_id) match set — ScoreMode.COMPLETE_NO_SCORES context.
        Routed through the LRU query cache when one is set; live-docs
        filtering applies AFTER the cache, so cached sets stay valid
        across delete epochs (the reference's per-core DocIdSet +
        read-time deletes split, LRUQueryCache.java:79)."""
        if self.query_cache is not None:
            raw = self.query_cache.get_or_compute(
                query,
                lambda: self._matches(query, self._resolve_stats(query)),
                defer_unpersist=self._deferred_unpersist.append,
            )
            return self._live(raw)
        return self._live(self._matches(query, self._resolve_stats(query)))

    def count(self, query: Q.Query) -> int:
        """IndexSearcher.count: single terms answered from stats alone
        (``search/Weight.java:198`` count pushdown) — only when no deletes
        are present (Weight.count returns -1 for leaves with deletions)."""
        if self.index.deletes is None:
            if isinstance(query, Q.TermQuery):
                key = (query.field, query.term)
                df, _ = self._resolve_stats(query).term_stats.get(key, (0, 0))
                return df
            if isinstance(query, Q.MatchAllDocsQuery):
                return self.index.fieldstats[self.index.config.field_name].max_doc
        return self.matches(query).count()

    # ------------------------------------------------------- stats resolution

    def _collect_terms(self, q: Q.Query, out: set[tuple[str, str]]) -> None:
        if isinstance(q, Q.TermQuery):
            out.add((q.field, q.term))
        elif isinstance(q, (Q.SynonymQuery, Q.BlendedTermQuery)):
            out.update((q.field, t) for t in q.terms)
        elif isinstance(q, Q.PhraseQuery):
            out.update((q.field, t) for t in q.terms)
        elif isinstance(q, Q.MultiPhraseQuery):
            out.update((q.field, t) for s in q.slots for t in s)
        elif isinstance(q, Q.CommonTermsQuery):
            out.update((q.field, t) for t in q.terms)
        elif isinstance(q, Q.BooleanQuery):
            for c in q.clauses:
                self._collect_terms(c.query, out)
        elif isinstance(q, Q.DisjunctionMaxQuery):
            for sub in q.queries:
                self._collect_terms(sub, out)
        elif isinstance(q, (Q.ConstantScoreQuery, Q.BoostQuery)):
            self._collect_terms(q.query, out)

    def _resolve_stats(self, q: Q.Query) -> _Ctx:
        wanted: set[tuple[str, str]] = set()
        self._collect_terms(q, wanted)
        missing = [k for k in wanted if k not in self._stats_memo]
        if missing and getattr(self, "_stats_all_loaded", False):
            for k in missing:  # fully-loaded dictionary: absent == df 0
                self._stats_memo[k] = (0, 0)
            missing = []
        if missing:
            terms = [t for (_, t) in missing]
            rows = self.index.termstats.filter(F.col("term").isin(terms)).collect()
            for r in rows:
                self._stats_memo[(r["field"], r["term"])] = (
                    int(r["df"]),
                    int(r["ttf"]),
                )
            for k in missing:  # absent terms: df=0 (no repeat lookups)
                self._stats_memo.setdefault(k, (0, 0))
        return _Ctx({k: self._stats_memo[k] for k in wanted})

    # ------------------------------------------------------------- decoding

    def _blocks(
        self, field: str, term_pred: Column, terms: list[str] | None = None
    ) -> DataFrame:
        df = self.index.postings.filter((F.col("field") == field) & term_pred)
        if terms:
            pred = self._bloom_seg_pred(field, terms)
            if pred is not None:
                df = df.filter(pred)
        return df

    def _bloom_seg_pred(self, field: str, terms: list[str]):
        """Bloom fast-fail segment pruning
        (``codecs/bloom/BloomFilteringPostingsFormat.java:66``,
        ``FuzzySet.ContainsResult.NO``): drop segments whose bloom says
        NO for EVERY query term. Exclusion form on purpose — segments
        without a bloom (e.g. NRT additions after ``attach_blooms``)
        are never pruned. The predicate lands in the parquet scan, so a
        primary-key lookup reads only MAYBE segments."""
        blooms = getattr(self.index, "blooms", None)
        if not blooms or field not in blooms:
            return None
        tb = [t.encode("utf-8") for t in terms]
        excluded = [
            seg
            for seg, fz in blooms[field].items()
            if not any(fz.contains(t) for t in tb)
        ]
        if self.collect_stats:
            self.last_stats.update(
                segments_with_bloom=len(blooms[field]), segments_excluded=len(excluded)
            )
        if not excluded:
            return None
        return ~F.col("seg_id").isin(excluded)

    def _decoded(
        self,
        field: str,
        term_pred: Column,
        with_positions: bool = False,
        terms: list[str] | None = None,
    ) -> DataFrame:
        cached = self._decoded_cache.get(field)
        if cached is not None:
            # serving layout: filter the materialized decoded frame —
            # callers' term predicates reference only the `term` column,
            # present in both the block and decoded schemas. The bloom
            # segment predicate is skipped: the frame is exact and bloom
            # only prunes.
            d = cached.filter(term_pred)
            return d if with_positions else d.select(_DECODE_SCHEMA.fieldNames())
        blocks = self._blocks(field, term_pred, terms=terms)
        if with_positions:
            return blocks.mapInPandas(
                _decode_blocks_with_positions, schema=_DECODE_POS_SCHEMA
            )
        return _decode(blocks)

    # -------------------------------------------------------------- scoring

    def _score_col(self, field: str, freq_col: Column, norm_col: Column, weight) -> Column:
        """Similarity score kernel, all FloatType (codegen-side): the norm
        byte indexes the similarity's 256-entry table, then
        ``sim.score_col`` supplies the arithmetic (BM25's
        ``w - w/(1 + freq*inv)``, ClassicSimilarity's TF-IDF,
        BooleanSimilarity's constant). `weight` is a float32 scalar, or a
        FloatType Column (per-term weight lookup in the multi-clause
        pruned paths)."""
        inv = F.element_at(self._cache_col[field], norm_col.cast("int") + F.lit(1))
        if isinstance(weight, Column):
            w = weight.cast("float")
        elif isinstance(weight, (int, float, np.floating)):
            w = F.lit(float(F32(weight))).cast("float")
        else:
            # opaque per-term weight (SimilarityBase family) — the
            # similarity unpacks it; `inv` carries the raw docLen there
            w = weight
        return self.sim.score_col(freq_col, inv, w)

    def _block_ub(self, field: str, weight) -> Column:
        """Tight per-block score upper bound: max BM25 over the block's
        COMPETITIVE IMPACT pairs (the (freq, norm) Pareto frontier stored
        at build time, ``codecs/CompetitiveImpactAccumulator.java:64``;
        consumed like ``search/MaxScoreCache.java:59-140``). The old
        score(max_freq, min_norm) bound pairs a freq and a norm from
        DIFFERENT docs — on realistic corpora it overshoots every real
        score so far that theta can never demote a clause. Higher-order
        exprs here are interpreted, but only over block METADATA rows."""
        pair_idx = F.sequence(
            F.lit(1), (F.size(F.col("impacts")) / F.lit(2)).cast("int")
        )

        def score_of(i):
            fr = F.element_at(F.col("impacts"), (i * 2 - 1).cast("int"))
            nm = F.element_at(F.col("impacts"), (i * 2).cast("int"))
            return self._score_col(field, fr, nm, weight)

        return F.array_max(F.transform(pair_idx, score_of))

    def _idf(self, field: str, term: str, ctx: _Ctx) -> np.float32:
        fs = self.index.fieldstats[field]
        df, _ = ctx.term_stats.get((field, term), (0, 0))
        return self.sim.idf(df, fs.doc_count)

    def _term_weight(self, field: str, term: str, boost: np.float32, ctx: _Ctx):
        """Per-term weight. BM25-family: the float32 ``boost * idf`` scalar.
        SimilarityBase family: the full-stats opaque weight
        (``term_weight(boost, fieldStats, df, ttf)`` — the reference's
        ``Similarity.scorer(boost, collectionStats, termStats)`` shape)."""
        tw = getattr(self.sim, "term_weight", None)
        if tw is not None:
            fs = self.index.fieldstats[field]
            df, ttf = ctx.term_stats.get((field, term), (0, 0))
            return tw(boost, fs, df, ttf)
        return self.sim.weight(boost, self._idf(field, term, ctx))

    def _const_scored(self, match_df: DataFrame, boost: np.float32) -> DataFrame:
        return match_df.select(
            "doc_id", F.lit(float(boost)).cast("float").alias("score")
        )

    def _scored(self, q: Q.Query, boost: np.float32, ctx: _Ctx) -> DataFrame:
        docs = self.index.docs
        if isinstance(q, Q.TermQuery):
            w = self._term_weight(q.field, q.term, boost * F32(q.boost), ctx)
            d = self._decoded(q.field, F.col("term") == q.term, terms=[q.term])
            return d.select(
                "doc_id",
                self._score_col(q.field, F.col("freq"), F.col("norm"), w).alias(
                    "score"
                ),
            )
        if isinstance(q, Q.SynonymQuery):
            # pseudo-term: df = max over terms, freqs summed, ONE bm25 eval
            stats = [ctx.term_stats.get((q.field, t), (0, 0)) for t in q.terms]
            dfs = [s[0] for s in stats]
            fs = self.index.fieldstats[q.field]
            tw = getattr(self.sim, "term_weight", None)
            if tw is not None:
                # pseudo-term statistics: df = max, ttf = sum
                # (SynonymQuery.java builds one merged TermStatistics)
                w = tw(
                    boost * F32(q.boost),
                    fs,
                    max(dfs, default=0),
                    sum(s[1] for s in stats),
                )
            else:
                w = self.sim.weight(
                    boost * F32(q.boost),
                    self.sim.idf(max(dfs, default=0), fs.doc_count),
                )
            d = self._decoded(q.field, F.col("term").isin(list(q.terms)))
            agg = d.groupBy("doc_id").agg(
                F.sum("freq").alias("freq"), F.min("norm").alias("norm")
            )
            return agg.select(
                "doc_id",
                self._score_col(q.field, F.col("freq"), F.col("norm"), w).alias(
                    "score"
                ),
            )
        if isinstance(q, Q.BlendedTermQuery):
            # blended statistics (BlendedTermQuery.java:47): every term is
            # weighted as if its df were the blend's max df, then the
            # per-term scores combine dismax-style
            stats = [ctx.term_stats.get((q.field, t), (0, 0)) for t in q.terms]
            blended = max((s[0] for s in stats), default=0)
            fs = self.index.fieldstats[q.field]
            tw = getattr(self.sim, "term_weight", None)
            if tw is not None:
                # blended stats: df and ttf lifted to the blend's max
                w = tw(
                    boost * F32(q.boost),
                    fs,
                    blended,
                    max((s[1] for s in stats), default=0),
                )
            else:
                w = self.sim.weight(
                    boost * F32(q.boost), self.sim.idf(blended, fs.doc_count)
                )
            parts = []
            for t in dict.fromkeys(q.terms):
                d = self._decoded(q.field, F.col("term") == t)
                parts.append(
                    d.select(
                        "doc_id",
                        self._score_col(
                            q.field, F.col("freq"), F.col("norm"), w
                        ).alias("score"),
                    )
                )
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            tie = float(F32(q.tie_breaker))
            agg = u.groupBy("doc_id").agg(
                F.max("score").alias("mx"),
                F.sum(F.col("score").cast("double")).alias("sm"),
            )
            expr = (
                F.col("mx").cast("double")
                + F.lit(tie) * (F.col("sm") - F.col("mx").cast("double"))
            ).cast("float")
            return agg.select("doc_id", expr.alias("score"))
        if isinstance(q, Q.FeatureQuery):
            return self._scored_feature(q, boost)
        if isinstance(q, Q.KnnFloatVectorQuery):
            return self._scored_knn(q, boost)
        if isinstance(q, (Q.PhraseQuery, Q.MultiPhraseQuery)):
            return self._scored_phrase(q, boost, ctx)
        if isinstance(q, Q.BooleanQuery):
            return self._scored_boolean(q, boost, ctx)
        if isinstance(q, Q.CommonTermsQuery):
            return self._scored(self._rewrite_common_terms(q, ctx), boost, ctx)
        if isinstance(q, Q.DisjunctionMaxQuery):
            return self._scored_dismax(q, boost, ctx)
        if isinstance(q, Q.IntervalQuery):
            # IntervalQuery.java:51 as a composable leaf: interval_query's
            # saturation/sigmoid fold, with the boolean-context boost
            # multiplying the weight
            from lucene_spark.search import intervals as IV

            return IV.interval_query(
                self,
                q.source,
                pivot=q.pivot,
                weight=float(F32(boost * F32(q.boost))),
                mode=q.mode,
                exp=q.exp,
            )
        if isinstance(q, Q.BoostQuery):
            return self._scored(q.query, F32(boost * F32(q.boost)), ctx)
        if isinstance(q, Q.ConstantScoreQuery):
            return self._const_scored(
                self._matches(q.query, ctx), F32(boost * F32(q.boost))
            )
        # constant-score leaves
        if isinstance(
            q,
            (
                Q.PrefixQuery,
                Q.WildcardQuery,
                Q.RegexpQuery,
                Q.FuzzyQuery,
                Q.TermRangeQuery,
                Q.TermInSetQuery,
                Q.MatchAllDocsQuery,
                Q.MatchNoDocsQuery,
                Q.PointRangeQuery,
                Q.PointInSetQuery,
                Q.FieldExistsQuery,
            ),
        ):
            qboost = getattr(q, "boost", 1.0)
            return self._const_scored(self._matches(q, ctx), F32(boost * F32(qboost)))
        raise NotImplementedError(f"unsupported query {type(q).__name__}")

    def _rewrite_common_terms(self, q: Q.CommonTermsQuery, ctx: _Ctx) -> Q.Query:
        """CommonTermsQuery.buildQuery (queries/CommonTermsQuery.java:214):
        split terms on the df cutoff, group into two inner BooleanQueries,
        attach the low group as MUST and the high group as SHOULD; with no
        low-frequency term the high group upgrades to a conjunction unless
        a high minimum-should-match was configured. Absent terms (df 0 —
        the reference's null TermStates) stay in the low group."""
        fs = self.index.fieldstats[q.field]
        mtf = q.max_term_frequency
        cutoff = int(math.ceil(mtf * float(fs.max_doc)))
        low: list[Q.Query] = []
        high: list[Q.Query] = []
        for t in q.terms:
            df, _ = ctx.term_stats.get((q.field, t), (0, 0))
            if (mtf >= 1.0 and df > mtf) or df > cutoff:
                high.append(Q.TermQuery(q.field, t))
            else:
                low.append(Q.TermQuery(q.field, t))
        low_occur, high_occur = q.low_freq_occur, q.high_freq_occur
        low_msm = q.low_freq_min_should_match if low_occur is Q.Occur.SHOULD else 0
        high_msm = (
            q.high_freq_min_should_match if high_occur is Q.Occur.SHOULD else 0
        )
        if not low and high_msm == 0 and high_occur is not Q.Occur.MUST:
            high_occur = Q.Occur.MUST  # conjunction guard against slow queries
        outer: list[Q.BooleanClause] = []
        if low:
            inner = Q.BooleanQuery(
                tuple(Q.BooleanClause(sub, low_occur) for sub in low), low_msm
            )
            outer.append(Q.BooleanClause(inner, Q.Occur.MUST))
        if high:
            inner = Q.BooleanQuery(
                tuple(Q.BooleanClause(sub, high_occur) for sub in high), high_msm
            )
            outer.append(Q.BooleanClause(inner, Q.Occur.SHOULD))
        return Q.BooleanQuery(tuple(outer), 0)

    def _scored_boolean(self, q: Q.BooleanQuery, boost: np.float32, ctx: _Ctx) -> DataFrame:
        must = [c.query for c in q.clauses if c.occur is Q.Occur.MUST]
        should = [c.query for c in q.clauses if c.occur is Q.Occur.SHOULD]
        filt = [c.query for c in q.clauses if c.occur is Q.Occur.FILTER]
        neg = [c.query for c in q.clauses if c.occur is Q.Occur.MUST_NOT]
        n_required = len(must) + len(filt)
        msm = q.minimum_should_match
        if n_required == 0:
            msm = max(msm, 1)  # pure disjunction needs >=1 SHOULD
        if not must and not should and not filt:
            # pure-negative -> MatchNoDocs (BooleanQuery.java:269 rewrite)
            return self._const_scored(
                self.index.docs.select("doc_id").limit(0), F32(0.0)
            )
        parts: list[DataFrame] = []
        for sub in must:
            parts.append(
                self._scored(sub, boost, ctx).select(
                    "doc_id", "score", F.lit(1).alias("req"), F.lit(0).alias("sh")
                )
            )
        for sub in filt:
            parts.append(
                self._matches(sub, ctx).select(
                    "doc_id",
                    F.lit(0.0).cast("float").alias("score"),
                    F.lit(1).alias("req"),
                    F.lit(0).alias("sh"),
                )
            )
        for sub in should:
            parts.append(
                self._scored(sub, boost, ctx).select(
                    "doc_id", "score", F.lit(0).alias("req"), F.lit(1).alias("sh")
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        agg = u.groupBy("doc_id").agg(
            F.sum(F.col("score").cast("double")).alias("s"),
            F.sum("req").alias("nreq"),
            F.sum("sh").alias("nsh"),
        )
        out = agg.filter(
            (F.col("nreq") == F.lit(n_required)) & (F.col("nsh") >= F.lit(msm))
        ).select("doc_id", F.col("s").cast("float").alias("score"))
        for sub in neg:
            out = out.join(self._matches(sub, ctx), "doc_id", "left_anti")
        return out

    def _scored_dismax(
        self, q: Q.DisjunctionMaxQuery, boost: np.float32, ctx: _Ctx
    ) -> DataFrame:
        parts = [self._scored(sub, boost, ctx) for sub in q.queries]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tie = float(F32(q.tie_breaker))
        agg = u.groupBy("doc_id").agg(
            F.max(F.col("score")).alias("mx"),
            F.sum(F.col("score").cast("double")).alias("sm"),
        )
        # max + tie * (sum - max), accumulated in double, cast float
        expr = (
            F.col("mx").cast("double")
            + F.lit(tie) * (F.col("sm") - F.col("mx").cast("double"))
        ).cast("float")
        return agg.select("doc_id", expr.alias("score"))

    def _scored_phrase(
        self, q: Q.PhraseQuery | Q.MultiPhraseQuery, boost: np.float32, ctx: _Ctx
    ) -> DataFrame:
        """Exact, sloppy and multi-slot phrases over decoded position lists.

        - exact (slop=0): slot i must match at start+i (ExactPhraseMatcher.java:135-170)
        - sloppy: full SloppyPhraseMatcher.java:52 traversal semantics
          (out-of-order within slop, 1/(1+matchLength) sloppy weights,
          float32 freq accumulation). Two distinct terms run as a pure JVM
          scan fold (see search/sloppy.py); the general case (3+ slots or
          repeated terms) runs the faithful per-doc matcher via
          applyInPandas.
        - slots (MultiPhraseQuery.java:54): any alternative matches a slot;
          weight sums idf over every alternative (PhraseWeight allTermStats)
        """
        if isinstance(q, Q.MultiPhraseQuery):
            slots = [tuple(s) for s in q.slots]
        else:
            slots = [(t,) for t in q.terms]
        slop = q.slop
        all_terms = [t for s in slots for t in s]
        # df=0 alternatives contribute no stats — the reference only
        # collects stats for found terms (MultiPhraseQuery.java:227
        # ``ts.docFreq() > 0``)
        found = [
            ctx.term_stats[(q.field, t)]
            for t in all_terms
            if ctx.term_stats.get((q.field, t), (0, 0))[0] > 0
        ]
        twm = getattr(self.sim, "term_weight_multi", None)
        if twm is not None:
            # SimilarityBase family: one BasicStats per found term, scores
            # summed at the phrase freq (SimilarityBase.scorer:55-67 ->
            # MultiSimilarity.MultiSimScorer)
            fs = self.index.fieldstats[q.field]
            w = twm(boost * F32(q.boost), fs, found or [(0, 0)])
        else:
            idf_sum = 0.0  # double accumulation of float32 idfs (Lucene op order)
            for df, _ttf in found:
                idf_sum += float(self.sim.idf(df, self.index.fieldstats[q.field].doc_count))
            w = self.sim.weight(boost * F32(q.boost), F32(idf_sum))
        k = len(slots)

        if slop == 0:
            # JOIN-BASED exact phrase: slot i's occurrence at position p is a
            # candidate start at p - i, so a phrase match = one (doc_id, start)
            # key present in EVERY slot — a k-way equi-join, fully JVM-side
            # (whole-stage codegen; no per-doc Python). This is the
            # sort-merge analog of the df-ordered position leapfrog in
            # ExactPhraseMatcher.java:135-170.
            parts = []
            for i, slot in enumerate(slots):
                d_i = self._decoded(
                    q.field, F.col("term").isin(list(slot)), with_positions=True
                )
                cols = ["doc_id", F.explode("positions").alias("p")]
                if i == 0:
                    cols.insert(1, F.col("norm"))
                e = d_i.select(*cols).withColumn("start", F.col("p") - F.lit(i))
                if len(slot) > 1:
                    e = e.dropDuplicates(["doc_id", "start"])
                parts.append(e.drop("p"))
            j = parts[0]
            for e in parts[1:]:
                j = j.join(e, ["doc_id", "start"])
            matched = j.groupBy("doc_id").agg(
                F.count("*").cast("int").alias("freq"),
                F.first("norm").alias("norm"),
            )
            return matched.select(
                "doc_id",
                self._score_col(q.field, F.col("freq"), F.col("norm"), w).alias(
                    "score"
                ),
            )

        # ---- sloppy (slop > 0): SloppyPhraseMatcher semantics ----
        from lucene_spark.search import sloppy as _sloppy

        if (
            isinstance(q, Q.PhraseQuery)
            and k == 2
            and len(set(all_terms)) == 2
        ):
            # JVM scan-fold path: no Python anywhere in the plan
            t0, t1 = slots[0][0], slots[1][0]
            d = self._decoded(
                q.field, F.col("term").isin([t0, t1]), with_positions=True
            )
            piv = (
                d.groupBy("doc_id")
                .agg(
                    F.first(
                        F.when(F.col("term") == t0, F.col("positions")),
                        ignorenulls=True,
                    ).alias("pa"),
                    F.first(
                        F.when(F.col("term") == t1, F.col("positions")),
                        ignorenulls=True,
                    ).alias("pb_raw"),
                    F.min("norm").alias("norm"),
                )
                .filter(F.col("pa").isNotNull() & F.col("pb_raw").isNotNull())
                .withColumn("pb", F.expr("transform(pb_raw, x -> x - 1)"))
                .withColumn("posu", F.expr("array_sort(array_union(pa, pb))"))
            )
            scored = piv.withColumn(
                "freq", F.expr(_sloppy.spark_fold_expr("posu", "pa", "pb", slop))
            ).filter(F.col("freq") > 0)
            return scored.select(
                "doc_id",
                self._score_col(q.field, F.col("freq"), F.col("norm"), w).alias(
                    "score"
                ),
            )

        # general path: faithful per-doc matcher (3+ slots, repeated
        # terms — including multi-term repeat groups, hasMultiTermRpts)
        slot_terms = [tuple(s) for s in slots]
        uniq = list(dict.fromkeys(all_terms))
        d = self._decoded(q.field, F.col("term").isin(uniq), with_positions=True)

        # JVM pre-filter before the per-doc Python matcher: every emitted
        # sloppy match IS a choice of one adjusted position (raw - slot
        # offset) per slot with spread <= slop, so a doc can only match
        # when max_slot(min adj) - min_slot(max adj) <= slop (interval
        # stabbing necessity; repeat-group advancement only shrinks the
        # per-slot sets, which keeps the full-set condition necessary).
        # Pure codegen aggregation — the Arrow-shipped group count drops
        # to the docs that can actually align, not every doc holding all
        # terms.
        spark = self.index.docs.sparkSession
        slot_map = spark.createDataFrame(
            [(t, i) for i, s in enumerate(slots) for t in s],
            schema="term string, slot int",
        )
        per_slot = (
            d.join(F.broadcast(slot_map), "term")
            .groupBy("doc_id", "slot")
            .agg(
                (F.min(F.array_min("positions")) - F.col("slot")).alias("amin"),
                (F.max(F.array_max("positions")) - F.col("slot")).alias("amax"),
            )
        )
        cand = (
            per_slot.groupBy("doc_id")
            .agg(
                F.count("*").alias("_ns"),
                F.max("amin").alias("_m_hi"),
                F.min("amax").alias("_m_lo"),
            )
            .filter(
                (F.col("_ns") == F.lit(k))
                & (F.col("_m_hi") - F.col("_m_lo") <= F.lit(slop))
            )
            .select("doc_id")
        )
        if self.collect_stats:
            n_all = (
                per_slot.groupBy("doc_id")
                .agg(F.count("*").alias("_ns"))
                .filter(F.col("_ns") == F.lit(k))
                .count()
            )
            self.last_stats.update(docs_with_all_slots=n_all, candidates=cand.count())
        d = d.join(cand, "doc_id", "left_semi")

        out_schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("freq", FloatType()),
                StructField("norm", IntegerType()),
            ]
        )
        empty = pd.DataFrame({"doc_id": [], "freq": [], "norm": []}).astype(
            {"doc_id": "int64", "freq": "float32", "norm": "int32"}
        )
        slots_local = [tuple(s) for s in slots]

        def match_sloppy(pdf: pd.DataFrame) -> pd.DataFrame:
            by_term = {
                r.term: sorted(r.positions) for r in pdf.itertuples(index=False)
            }
            slot_pos = [
                sorted(set().union(*[set(by_term.get(t, ())) for t in s]))
                for s in slots_local
            ]
            if any(not sp for sp in slot_pos):
                return empty
            freq = _sloppy.sloppy_freq(slot_pos, slop, terms=slot_terms)
            if freq <= 0:
                return empty
            return pd.DataFrame(
                {
                    "doc_id": [int(pdf["doc_id"].iloc[0])],
                    "freq": np.array([freq], dtype=np.float32),
                    "norm": np.array([int(pdf["norm"].iloc[0])], dtype=np.int32),
                }
            )

        matched = d.groupBy("doc_id").applyInPandas(match_sloppy, schema=out_schema)
        return matched.select(
            "doc_id",
            self._score_col(q.field, F.col("freq"), F.col("norm"), w).alias("score"),
        )

    def _scored_feature(self, q: Q.FeatureQuery, boost: np.float32) -> DataFrame:
        """FeatureQuery (``document/FeatureField.java:106``): score docs by
        a stored static signal through log/saturation/sigmoid, float32 at
        the end — freq-as-feature without decoding any postings."""
        feats = self.index.features
        if feats is None:
            raise ValueError("FeatureQuery needs InvertedIndex.features")
        w = F.lit(float(F32(boost * F32(q.boost)))).cast("double")
        s = F.col("value").cast("double")
        a = F.lit(float(q.pivot)).cast("double")
        if q.function == "log":
            expr = w * F.log(a + s)
        elif q.function == "saturation":
            expr = w * (s / (s + a))
        elif q.function == "sigmoid":
            e = float(q.exp)
            expr = w * (F.pow(s, e) / (F.pow(s, e) + F.pow(a, e)))
        else:
            raise ValueError(f"unknown feature function {q.function!r}")
        return (
            feats.filter(F.col("feature") == q.feature)
            .filter(F.col("value") > 0)
            .select("doc_id", expr.cast("float").alias("score"))
        )

    def _scored_knn(self, q: Q.KnnFloatVectorQuery, boost: np.float32) -> DataFrame:
        """KnnFloatVectorQuery (``search/KnnFloatVectorQuery.java:40``).

        Returns the k (doc_id, score) rows — the reference rewrites a KNN
        query to a DocAndScoreQuery over its k results, so the "match set"
        IS the top-k. With a filter, the filter's match set is scored
        exactly (the exact-search fallback of
        ``AbstractKnnVectorQuery.java:89``); unfiltered + approximate=True
        takes the deterministic hyperplane-LSH bucket path (score only the
        query's bucket — the 100 TB shape). Scores are fixed-point cosine
        similarities (2^20 quantization, same contract as the pipeline ANN
        operators so a SQL oracle reproduces them bit-exactly).
        """
        from lucene_spark.pipeline.dedup import cosine_from_int, int_dot, quantize

        vec = self.index.vectors
        if vec is None:
            raise ValueError(
                "KnnFloatVectorQuery needs InvertedIndex.vectors "
                "(attach_vectors)"
            )
        qv = [int(math.floor(float(x) * 1048576.0)) for x in q.vector]
        base = self._live(vec)
        if q.filter is not None:
            allowed = self._live(
                self._matches(q.filter, self._resolve_stats(q.filter))
            )
            base = base.join(allowed.select("doc_id").distinct(), "doc_id", "left_semi")
        quantized = base.select(
            "doc_id", quantize(F.col("vector")).alias("_qv")
        )
        if q.approximate and q.filter is None:
            from lucene_spark.pipeline.similarity import _plane_weight

            n_planes, dim = 8, len(qv)
            qbucket = 0
            for p in range(n_planes):
                s = sum(qv[i] * _plane_weight(p, i) for i in range(dim))
                if s >= 0:
                    qbucket |= 1 << p
            from lucene_spark.pipeline.similarity import hyperplane_bucket

            quantized = quantized.withColumn(
                "_bkt", hyperplane_bucket(F.col("_qv"), dim, n_planes)
            ).filter(F.col("_bkt") == qbucket)
        qcol = F.array(*[F.lit(v).cast("long") for v in qv])
        nq = F.lit(int(sum(v * v for v in qv))).cast("long")
        cos = cosine_from_int(
            int_dot(F.col("_qv"), qcol), int_dot(F.col("_qv"), F.col("_qv")), nq
        )
        score = (cos * F.lit(float(F32(boost * F32(q.boost))))).alias("score")
        return (
            quantized.select("doc_id", score)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(q.k)
        )

    # -------------------------------------------------------------- matching

    def _matches(self, q: Q.Query, ctx: _Ctx) -> DataFrame:
        docs = self.index.docs
        field_default = self.index.config.field_name
        if isinstance(q, Q.IntervalQuery):
            from lucene_spark.search import intervals as IV

            return IV.matches(self, q.source).select("doc_id").distinct()
        if isinstance(q, Q.TermQuery):
            return self._decoded(
                q.field, F.col("term") == q.term, terms=[q.term]
            ).select("doc_id")
        if isinstance(q, Q.TermInSetQuery):
            return (
                self._decoded(
                    q.field,
                    F.col("term").isin(list(q.terms)),
                    terms=list(q.terms),
                )
                .select("doc_id")
                .distinct()
            )
        if isinstance(q, Q.PrefixQuery):
            return (
                self._decoded(q.field, F.col("term").startswith(q.prefix))
                .select("doc_id")
                .distinct()
            )
        if isinstance(q, Q.WildcardQuery):
            rx = "^" + _wildcard_to_regex(q.pattern) + "$"
            return (
                self._decoded(q.field, F.col("term").rlike(rx))
                .select("doc_id")
                .distinct()
            )
        if isinstance(q, Q.RegexpQuery):
            rx = "^" + q.regex + "$"  # Lucene regexps are anchored
            return (
                self._decoded(q.field, F.col("term").rlike(rx))
                .select("doc_id")
                .distinct()
            )
        if isinstance(q, Q.FuzzyQuery):
            pred = F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits
            if q.prefix_length > 0:
                pred = pred & F.col("term").startswith(q.term[: q.prefix_length])
            return self._decoded(q.field, pred).select("doc_id").distinct()
        if isinstance(q, Q.TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (
                    F.col("term") >= q.lower
                    if q.include_lower
                    else F.col("term") > q.lower
                )
            if q.upper is not None:
                pred = pred & (
                    F.col("term") <= q.upper
                    if q.include_upper
                    else F.col("term") < q.upper
                )
            return self._decoded(q.field, pred).select("doc_id").distinct()
        if isinstance(q, Q.MatchAllDocsQuery):
            return docs.select("doc_id")
        if isinstance(q, Q.MatchNoDocsQuery):
            return docs.select("doc_id").limit(0)
        if isinstance(q, Q.PointRangeQuery):
            c = F.col(q.column)
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
            return docs.filter(pred).select("doc_id")
        if isinstance(q, Q.PointInSetQuery):
            return docs.filter(F.col(q.column).isin(list(q.values))).select("doc_id")
        if isinstance(q, Q.FieldExistsQuery):
            return docs.filter(F.col(q.column).isNotNull()).select("doc_id")
        if isinstance(q, (Q.ConstantScoreQuery, Q.BoostQuery)):
            return self._matches(q.query, ctx)
        # scored composites: reuse scored plan, drop scores
        return self._scored(q, F32(1.0), ctx).select("doc_id")

    # ------------------------------------------------- block-max pruned top-k

    def _term_topk_pruned(self, q: Q.TermQuery, k: int) -> DataFrame:
        """Single-term two-phase block-max pruning, as one plan (WAND
        family: ``search/WANDScorer.java:32-55``,
        ``MaxScoreCache.java:59-140``).

        Phase 1 decodes only the few highest-upper-bound blocks and takes
        their k-th score theta in-plan; phase 2 decodes just the remaining
        blocks whose competitive-impact upper bound can still reach theta.
        Sound because the per-block bound dominates every score inside the
        block (BM25 is monotone in freq and 1/norm). Phase-1 anchors come
        from :meth:`_block_meta_for`. With ``collect_stats`` on, count
        jobs over the same frames fill ``last_stats``; the returned plan
        is unchanged.
        """
        ctx = self._resolve_stats(q)
        field = q.field
        df, _ = ctx.term_stats.get((field, q.term), (0, 0))
        # small postings: decode everything (pruning wouldn't pay)
        if df <= 4 * k:
            return self._scored(q, F32(1.0), ctx)
        # engagement gate: the two-phase split can never avoid more than
        # df rows of decode, so below the gate its extra plan complexity
        # (theta broadcast + two decode branches) is pure loss — zero-job
        # decision from the stats memo
        if df < self.prune_engage_min_rows:
            if self.collect_stats:
                self.last_stats.update(
                    total_blocks=-(-df // forutil.BLOCK_SIZE),
                    phase1_blocks=0,
                    kept_blocks=0,
                    rescore_blocks=0,
                    fell_back=True,
                    strategy="engage_gate",
                    est_demotable_rows=df,
                    gate_rows=self.prune_engage_min_rows,
                )
            return self._scored(q, F32(1.0), ctx)
        fs = self.index.fieldstats[field]
        w = self.sim.weight(F32(q.boost), self.sim.idf(df, fs.doc_count))
        blocks = self._blocks(
            field, F.col("term") == q.term, terms=[q.term]
        ).withColumn("_ub", self._block_ub(field, w))
        # with competitive-impact bounds a block's _ub IS its max real
        # score, so the global top-k live in the top-ub blocks; anchor
        # enough of them that theta lands at ~the true k-th
        n_phase1 = max(
            2 * k // forutil.BLOCK_SIZE + 1,
            min(16, 2 * k),
            math.ceil((4 * k) / forutil.BLOCK_SIZE),
        )
        meta = self._block_meta_for(field, [q.term])[q.term]
        p1_keys = meta["anchors"][:n_phase1]
        key = F.concat_ws("#", F.col("seg_id"), F.col("block_ord"))
        p1_set = [f"{s}#{b}" for s, b in p1_keys]
        score = self._score_col(field, F.col("freq"), F.col("norm"), w).alias("score")
        top1 = (
            _decode(blocks.filter(key.isin(p1_set)))
            .select("doc_id", score)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
        # theta stays IN-PLAN — the k-th phase-1 score is a broadcast
        # scalar, so the whole pruned term query is ONE Spark job (with
        # memoized anchors there is no metadata job either).
        # Under-filled anchors (fewer than k phase-1 hits) degrade theta
        # to -inf in-plan: phase 2 then keeps every non-anchor block and
        # the union equals the unpruned full decode.
        th = top1.agg(
            F.when(F.count("*") >= F.lit(k), F.min("score"))
            .otherwise(F.lit(float("-inf")))
            .cast("float")
            .alias("_theta")
        )
        remaining = blocks.crossJoin(F.broadcast(th)).filter(
            (F.col("_ub") >= F.col("_theta")) & ~key.isin(p1_set)
        )
        if self.collect_stats:
            self.last_stats.update(
                total_blocks=blocks.count(),
                phase1_blocks=len(p1_keys),
                kept_blocks=remaining.count(),
                rescore_blocks=0,
            )
        return top1.unionByName(_decode(remaining).select("doc_id", score))

    def _disjunction_topk_pruned(
        self, clauses: list[Q.TermQuery], mode_tie: float | None, k: int
    ) -> DataFrame:
        """MAXSCORE pruning for scored disjunctions
        (``search/MaxScoreBulkScorer.java:28-70``, selection in
        ``BooleanScorerSupplier.java:288-318``).

        mode_tie None  -> SHOULD-sum scoring (DisjunctionSumScorer)
        mode_tie float -> dismax: max + tie * (sum - max)

        1. theta: the strongest clause's top-impact blocks yield k anchor
           docs; every clause is probed at just those docs, and the k-th
           of their exact combined scores is a sound threshold.
        2. essential split: clauses sorted by global max bound ascending;
           the non-essential set N is the longest prefix whose COMBINED
           upper bound stays below theta (sum for SHOULD-sum; max +
           tie*(sum-max) for dismax). A doc matching only N clauses
           scores <= bound(N) < theta, so:

           - essential clauses decode fully into per-doc exact partials
             (e_sum, e_max);
           - candidates = docs whose partial + bound(N) clears theta
             (both combiners are monotone per clause, so the bound is
             sound);
           - N's blocks decode only where their [first_doc, last_doc]
             span holds a candidate; the final combine is exact (each
             addend is a float32 value, so double accumulation is exact
             regardless of grouping — bit-identical to the one-shot sum).

        Falls back to the plain one-shuffle disjunction when no clause
        demotes (``nosplit``: theta below every clause bound) or more
        candidates clear the bound than the budget allows (``cap``, see
        ``MAX_CANDIDATES``).
        """
        field = clauses[0].field
        fs = self.index.fieldstats[field]
        ctx = self._resolve_stats(
            Q.BooleanQuery.of(should=clauses)
        )
        weights: dict[str, float] = {}
        dfs: dict[str, int] = {}
        total_df = 0
        for c in clauses:
            df, _ = ctx.term_stats.get((field, c.term), (0, 0))
            total_df += df
            dfs[c.term] = df
            weights[c.term] = float(
                self.sim.weight(F32(c.boost), self.sim.idf(df, fs.doc_count))
            )
        fallback = (
            self._scored_dismax(
                Q.DisjunctionMaxQuery(tuple(clauses), tie_breaker=mode_tie),
                F32(1.0),
                ctx,
            )
            if mode_tie is not None
            else self._scored_boolean(Q.BooleanQuery.of(should=clauses), F32(1.0), ctx)
        )
        if total_df <= 4 * k:
            return fallback

        def fall_back(strategy: str, **stats) -> DataFrame:
            if self.collect_stats:
                self.last_stats.update(
                    rescore_blocks=0, **stats, fell_back=True, strategy=strategy
                )
            return fallback

        def gate_skip(est_rows: int) -> DataFrame:
            return fall_back(
                "engage_gate",
                total_blocks=-(-total_df // forutil.BLOCK_SIZE),
                phase1_blocks=0,
                est_demotable_rows=est_rows,
                gate_rows=self.prune_engage_min_rows,
            )

        # engagement gate, coarse: pruning can never avoid decoding more
        # rows than exist across all clauses. Below the gate the extra
        # sequential job barriers (anchor probe, candidate collect) cost
        # more than the decode they could save — go straight to the plain
        # one-shuffle disjunction. Zero jobs: df comes from the driver
        # stats memo.
        if total_df < self.prune_engage_min_rows:
            return gate_skip(total_df)

        terms = [c.term for c in clauses]
        w_col = _by_term(weights)
        # a filter over the (persisted) postings cache — cheap to recompute,
        # no persist needed
        blocks = self._blocks(field, F.col("term").isin(terms)).withColumn(
            "_ub", self._block_ub(field, w_col)
        )
        # anchor width: with competitive-impact bounds a block's _ub IS its
        # true max score, so the global top-k docs live in the top-ub
        # blocks — k impact-ordered blocks (one could hold each top doc)
        # plus slack for ties/truncated frontiers
        n_phase1 = max(2 * k // forutil.BLOCK_SIZE + 1, min(16, 2 * k))
        meta = self._block_meta_for(field, [t for t in terms if dfs[t] > 0])
        maxub = {}
        for t, m in meta.items():
            ub = self._term_max_bound(field, m, weights[t])
            if ub > 0.0:
                maxub[t] = ub
        if len(maxub) < 2:
            return fall_back("few_clauses")  # <=1 clause has postings
        # engagement gate, refined: MAXSCORE never demotes the strongest
        # clause (it stays essential at any theta), so the avoidable rows
        # are at most the OTHER clauses' postings. With memoized metadata
        # this refinement is still zero jobs.
        strongest = max(maxub, key=lambda t: maxub[t])
        demotable = total_df - dfs.get(strongest, 0)
        if demotable < self.prune_engage_min_rows:
            return gate_skip(demotable)

        tie = None if mode_tie is None else float(F32(mode_tie))
        s_col = self._score_col(field, F.col("freq"), F.col("norm"), w_col).alias("s")

        def sum_max(decoded: DataFrame, sm: str, mx: str) -> DataFrame:
            """Per-doc double sum and float max of the clause scores."""
            return (
                decoded.select("doc_id", s_col)
                .groupBy("doc_id")
                .agg(F.sum(F.col("s").cast("double")).alias(sm), F.max("s").alias(mx))
            )

        def combined(sm: Column, mx: Column) -> Column:
            """float32 disjunction score from a double sum and max."""
            if tie is None:
                return sm.cast("float")
            return (mx + F.lit(tie) * (sm - mx)).cast("float")

        # phase 1 (theta): the STRONGEST clause's top-impact blocks yield k
        # anchor docs; probing EVERY clause at just those docs (the blocks
        # whose spans contain them — a broadcast of <= k ids) gives their
        # EXACT combined scores. theta = the k-th of k real docs' true
        # scores — sound, and usually near the true k-th because the top
        # combined docs overlap the top strongest-clause docs. (This
        # collapses MaxScoreBulkScorer's progressively-tightening theta
        # into one anchored round; decoding each clause's top blocks in
        # isolation instead puts theta below every clause bound — blocks
        # of different clauses rarely share a doc window — and no split
        # could ever engage.)
        key = F.concat_ws("#", F.col("seg_id"), F.col("block_ord"))
        a_keys = [f"{s}#{b}" for s, b in meta[strongest]["anchors"][:n_phase1]]
        # the k anchor docs stay IN-PLAN (sort + limit behind broadcast
        # joins) instead of round-tripping through the driver: theta then
        # costs ONE Spark job barrier, not two. The tiny limit-k side
        # broadcasts; both joins share the identical subplan, so exchange
        # reuse (or at worst a second <=16-block decode inside the same
        # job) covers the recompute.
        anchor_top = (
            _decode(blocks.filter((F.col("term") == strongest) & key.isin(a_keys)))
            .select("doc_id", s_col)
            .orderBy(F.col("s").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id")
        )
        probe = blocks.join(
            F.broadcast(anchor_top),
            (F.col("doc_id") >= F.col("first_doc"))
            & (F.col("doc_id") <= F.col("last_doc")),
            "left_semi",
        )
        exact0 = sum_max(
            _decode(probe).join(F.broadcast(anchor_top), "doc_id", "left_semi"),
            "sm",
            "mx",
        ).select(
            "doc_id",
            combined(F.col("sm"), F.col("mx").cast("double")).alias("score"),
        )
        rows = (
            exact0.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        stats: dict = {}
        if self.collect_stats:
            # phase-1 decode cost actually paid: the strongest clause's
            # anchor blocks plus every clause's probe blocks
            stats = {
                "total_blocks": blocks.count(),
                "phase1_blocks": len(a_keys) + probe.count(),
            }
        if len(rows) < k:
            # fewer than k exact anchor scores (one row per anchor doc)
            return fall_back("few_anchors", **stats)
        theta = float(rows[-1]["score"])

        # essential split: the longest weakest-first prefix whose combined
        # bound stays under theta is non-essential (>= 1 clause essential)
        def bound(ms: list[float]) -> float:
            if tie is None:
                return sum(ms)
            return max(ms) + tie * (sum(ms) - max(ms))

        order = sorted(maxub, key=lambda t: (maxub[t], t))
        ne: list[str] = []
        for t in order[:-1]:
            if bound([maxub[x] for x in ne] + [maxub[t]]) < theta:
                ne.append(t)
            else:
                break
        if not ne:
            return fall_back("nosplit", **stats)
        ess = [t for t in order if t not in ne]
        e_blocks = blocks.filter(F.col("term").isin(ess))
        e_agg = sum_max(_decode(e_blocks), "e_sum", "e_max")
        ub = combined(
            F.col("e_sum") + F.lit(sum(maxub[t] for t in ne)),
            F.greatest(
                F.col("e_max").cast("double"), F.lit(max(maxub[t] for t in ne))
            ),
        )
        cap = min(self.MAX_CANDIDATES, max(16_384, 64 * k))
        # compared in float32: the final score is fl32(e_sum + n_sum), and
        # a double ub within half a float32-ulp below theta can round UP
        # to exactly theta — fl32 is monotonic, so fl32(ub) >= fl32(true
        # sum) keeps every doc whose rounded score ties theta
        cand_rows = (
            e_agg.filter(ub >= F.lit(theta))
            .select("doc_id", "e_sum", "e_max")
            .limit(cap + 1)
            .collect()
        )
        if self.collect_stats:
            stats["essential_blocks"] = e_blocks.count()
            stats["n_candidates"] = len(cand_rows)
        if len(cand_rows) > cap:
            return fall_back("cap", **stats)
        spark = self.index.docs.sparkSession
        cand = spark.createDataFrame(
            [
                (int(r["doc_id"]), float(r["e_sum"]), float(r["e_max"]))
                for r in cand_rows
            ],
            schema="doc_id long, e_sum double, e_max float",
        )
        cand_ids = F.broadcast(cand.select("doc_id"))
        needed = blocks.filter(F.col("term").isin(ne)).join(
            cand_ids,
            (F.col("doc_id") >= F.col("first_doc"))
            & (F.col("doc_id") <= F.col("last_doc")),
            "left_semi",
        )
        if self.collect_stats:
            self.last_stats.update(
                stats,
                rescore_blocks=needed.count(),
                fell_back=False,
                strategy="maxscore_essential",
            )
        n_agg = sum_max(
            _decode(needed).join(cand_ids, "doc_id", "left_semi"), "n_sum", "n_max"
        )
        # BM25 scores are > 0, so 0 is neutral for the max
        score = combined(
            F.col("e_sum") + F.coalesce(F.col("n_sum"), F.lit(0.0)),
            F.greatest(
                F.col("e_max").cast("double"),
                F.coalesce(F.col("n_max").cast("double"), F.lit(0.0)),
            ),
        )
        return cand.join(n_agg, "doc_id", "left").select("doc_id", score.alias("score"))

    # ------------------------------------------------------- batched serving

    def search_many(self, queries: dict, k: int = 10) -> DataFrame:
        """Execute a batch of queries as ONE DataFrame job:
        (query_id, doc_id, score, rank), rank <= k per query, scores
        bit-identical to per-query ``search``.

        Amortizes per-query driver scheduling (the single-node QPS cost of
        running each search as separate Spark jobs): all clauses become a
        broadcast clause table, the postings decode runs once over the
        union of terms, and per-query top-k is one window. Supports
        TermQuery, BooleanQuery over TermQuerys (all occurs, msm),
        DisjunctionMaxQuery over TermQuerys, and exact PhraseQuery
        (slop=0) — the single-shuffle query families keyable by query_id.

        A batch value may also be a :class:`~lucene_spark.search.spans.
        SpanQuery` (ranked by span count, the span family's convention) or
        a prebuilt UNRANKED scored plan — any ``DataFrame`` of
        ``(doc_id, score)``, e.g. ``complexphrase.scored(...)`` /
        ``xmlparser.scored(...)`` — so the interval/span/parser families
        batch into the same single ranked job. Plan scores rank on their
        exact double value (order bit-identical to the per-query
        ``execute``) and are emitted as float like every other batch row.
        Other query types raise — run those individually.
        """
        self._drain_deferred_unpersist()
        self.last_stats = {}
        if not getattr(self.sim, "scalar_weights", True):
            raise NotImplementedError(
                "search_many batches per-term weights as one float column; "
                "the SimilarityBase family needs full-stats weights — run "
                "these queries individually via search()"
            )
        from lucene_spark.search import spans as SP

        field = self.index.config.field_name
        term_like: dict[str, Q.Query] = {}
        phrases: dict[str, Q.PhraseQuery] = {}
        plans: dict[str, DataFrame] = {}
        for qid, q in queries.items():
            if isinstance(q, DataFrame):
                plans[qid] = q
                continue
            if isinstance(q, SP.SpanQuery):
                plans[qid] = SP.span_count(self, q).select(
                    "doc_id", F.col("n_spans").cast("double").alias("score")
                )
                continue
            if isinstance(q, Q.PhraseQuery) and q.slop == 0:
                if q.field != field:
                    raise NotImplementedError(
                        f"search_many scores field {field!r} only"
                    )
                phrases[qid] = q
                continue
            subs = (
                [c.query for c in q.clauses]
                if isinstance(q, Q.BooleanQuery)
                else list(q.queries)
                if isinstance(q, Q.DisjunctionMaxQuery)
                else [q]
            )
            for s in subs:
                if isinstance(s, Q.TermQuery) and s.field != field:
                    raise NotImplementedError(
                        f"search_many scores field {field!r} only; "
                        f"got a clause on {s.field!r}"
                    )
            term_like[qid] = q
        clause_rows: list[tuple] = []   # (qid, term, weight, occur)
        query_rows: list[tuple] = []    # (qid, n_required, msm, mode, tie)
        all_term_qs: list[Q.TermQuery] = []
        for q in term_like.values():
            if isinstance(q, Q.BooleanQuery):
                all_term_qs.extend(c.query for c in q.clauses)
            elif isinstance(q, Q.DisjunctionMaxQuery):
                all_term_qs.extend(q.queries)
            else:
                all_term_qs.append(q)
        all_term_qs.extend(
            Q.TermQuery(field, t) for p in phrases.values() for t in p.terms
        )
        ctx = self._resolve_stats(Q.BooleanQuery.of(should=all_term_qs))
        fs = self.index.fieldstats[field]

        def weight_of(tq: Q.TermQuery) -> float:
            df, _ = ctx.term_stats.get((field, tq.term), (0, 0))
            return float(self.sim.weight(F32(tq.boost), self.sim.idf(df, fs.doc_count)))

        for qid, q in term_like.items():
            if isinstance(q, Q.TermQuery):
                clause_rows.append((qid, q.term, weight_of(q), "should"))
                query_rows.append((qid, 0, 1, "sum", 0.0))
            elif isinstance(q, Q.DisjunctionMaxQuery):
                for sub in q.queries:
                    if not isinstance(sub, Q.TermQuery):
                        raise NotImplementedError(
                            "search_many dismax supports term clauses only"
                        )
                    clause_rows.append((qid, sub.term, weight_of(sub), "should"))
                query_rows.append(
                    (qid, 0, 1, "dismax", float(F32(q.tie_breaker)))
                )
            elif isinstance(q, Q.BooleanQuery):
                n_req = 0
                n_should = 0
                for c in q.clauses:
                    if not isinstance(c.query, Q.TermQuery):
                        raise NotImplementedError(
                            "search_many supports term clauses only"
                        )
                    t = c.query
                    if c.occur is Q.Occur.MUST:
                        clause_rows.append((qid, t.term, weight_of(t), "must"))
                        n_req += 1
                    elif c.occur is Q.Occur.FILTER:
                        clause_rows.append((qid, t.term, 0.0, "filter"))
                        n_req += 1
                    elif c.occur is Q.Occur.SHOULD:
                        clause_rows.append((qid, t.term, weight_of(t), "should"))
                        n_should += 1
                    else:
                        clause_rows.append((qid, t.term, 0.0, "not"))
                msm = q.minimum_should_match
                if n_req == 0:
                    msm = max(msm, 1)
                query_rows.append((qid, n_req, msm, "sum", 0.0))
            else:
                raise NotImplementedError(
                    f"search_many does not support {type(q).__name__}"
                )
        spark = self.index.docs.sparkSession
        parts: list[DataFrame] = []
        if term_like:
            clauses = spark.createDataFrame(
                clause_rows,
                schema="query_id string, term string, w float, occur string",
            )
            qmeta = spark.createDataFrame(
                query_rows,
                schema="query_id string, n_required int, msm int, "
                "mode string, tie double",
            )
            terms = sorted({r[1] for r in clause_rows})
            d = self._decoded(field, F.col("term").isin(terms))
            j = d.join(F.broadcast(clauses), "term")
            pos = j.filter(F.col("occur") != "not")
            per = pos.select(
                "query_id",
                "doc_id",
                F.when(
                    F.col("occur") == "filter", F.lit(0.0).cast("float")
                )
                .otherwise(
                    self._score_col(field, F.col("freq"), F.col("norm"), F.col("w"))
                )
                .alias("s"),
                F.when(F.col("occur").isin("must", "filter"), 1)
                .otherwise(0)
                .alias("req"),
                F.when(F.col("occur") == "should", 1).otherwise(0).alias("sh"),
            )
            agg = per.groupBy("query_id", "doc_id").agg(
                F.sum(F.col("s").cast("double")).alias("sum_s"),
                F.max("s").alias("max_s"),
                F.sum("req").alias("nreq"),
                F.sum("sh").alias("nsh"),
            )
            # per-mode combine: SHOULD-sum (double accumulate, one float
            # round) or dismax mx + tie*(sm - mx) — same expressions as the
            # individual _scored_boolean/_scored_dismax paths
            dismax_score = (
                F.col("max_s").cast("double")
                + F.col("tie")
                * (F.col("sum_s") - F.col("max_s").cast("double"))
            ).cast("float")
            scored = (
                agg.join(F.broadcast(qmeta), "query_id")
                .filter(
                    (F.col("nreq") == F.col("n_required"))
                    & (F.col("nsh") >= F.col("msm"))
                )
                .select(
                    "query_id",
                    "doc_id",
                    F.when(F.col("mode") == "dismax", dismax_score)
                    .otherwise(F.col("sum_s").cast("float"))
                    .alias("score"),
                )
            )
            if any(r[3] == "not" for r in clause_rows):
                neg = (
                    j.filter(F.col("occur") == "not")
                    .select("query_id", "doc_id")
                    .distinct()
                )
                scored = scored.join(neg, ["query_id", "doc_id"], "left_anti")
            parts.append(scored)
        if phrases:
            parts.append(self._phrase_batch_scored(phrases, ctx))

        # normalize every part to (query_id, doc_id, score:float, _s:double):
        # the window ranks on _s — for native parts the exact double
        # extension of the float score (same order), for parser/span plans
        # the exact double the per-query execute() sorts on — so batched
        # ranks are bit-identical to sequential for both families
        def _norm(df_: DataFrame, qid: str | None = None) -> DataFrame:
            qcol = (
                F.lit(qid).alias("query_id")
                if qid is not None
                else F.col("query_id")
            )
            return df_.select(
                qcol,
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("score").cast("float").alias("score"),
                F.col("score").cast("double").alias("_s"),
            )

        parts = [_norm(p) for p in parts]
        parts.extend(_norm(p, qid) for qid, p in plans.items())
        if not parts:  # empty batch: zero rows, stable ranked schema
            spark = self.index.docs.sparkSession
            return spark.createDataFrame(
                [], schema="query_id string, doc_id long, score float, rank int"
            )
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionByName(p)
        scored = self._live(scored)
        win = Window.partitionBy("query_id").orderBy(
            F.desc("_s"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )

    def _phrase_batch_scored(
        self, phrases: dict[str, Q.PhraseQuery], ctx: _Ctx
    ) -> DataFrame:
        """All exact phrases of a batch as ONE generic plan: a broadcast
        (query_id, term, slot) table against the positions decode, slot
        alignment on start = pos - slot (the same candidate-start
        equi-join family as the individual phrase path), count == n_slots
        per (query, doc, start), then BM25 on the per-doc start count —
        scores bit-identical to per-query ``search``."""
        field = self.index.config.field_name
        spark = self.index.docs.sparkSession
        slot_rows: list[tuple] = []
        meta_rows: list[tuple] = []
        for qid, q in phrases.items():
            if len(set(q.terms)) != len(q.terms):
                raise NotImplementedError(
                    "batched phrase needs distinct terms — run repeated-term "
                    "phrases individually"
                )
            idf_sum = 0.0
            for t in q.terms:
                idf_sum += float(self._idf(field, t, ctx))
            w = float(self.sim.weight(F32(q.boost), F32(idf_sum)))
            for i, t in enumerate(q.terms):
                slot_rows.append((qid, t, i))
            meta_rows.append((qid, len(q.terms), w))
        slot_df = spark.createDataFrame(
            slot_rows, schema="query_id string, term string, slot int"
        )
        meta_df = spark.createDataFrame(
            meta_rows, schema="query_id string, n_slots int, w float"
        )
        terms = sorted({t for (_, t, _) in slot_rows})
        d = self._decoded(field, F.col("term").isin(terms), with_positions=True)
        e = (
            d.join(F.broadcast(slot_df), "term")
            .select(
                "query_id",
                "doc_id",
                "norm",
                "slot",
                F.explode("positions").alias("p"),
            )
            .withColumn("start", F.col("p") - F.col("slot"))
            .filter(F.col("start") >= 0)
        )
        m = (
            e.groupBy("query_id", "doc_id", "start")
            .agg(F.count("*").alias("_ns"), F.min("norm").alias("norm"))
            .join(F.broadcast(meta_df), "query_id")
            .filter(F.col("_ns") == F.col("n_slots"))
        )
        per_doc = m.groupBy("query_id", "doc_id").agg(
            F.count("*").cast("int").alias("freq"),
            F.min("norm").alias("norm"),
            F.min("w").alias("w"),
        )
        return per_doc.select(
            "query_id",
            "doc_id",
            self._score_col(field, F.col("freq"), F.col("norm"), F.col("w")).alias(
                "score"
            ),
        )


def _as_prunable_disjunction(
    query: Q.Query,
) -> tuple[list[Q.TermQuery], float | None] | None:
    """(clauses, tie) when `query` is a pure scored disjunction of
    TermQuerys — the MAXSCORE-eligible shape BooleanScorerSupplier
    selects for (``BooleanScorerSupplier.java:288-318``). The pruned plan
    keys its block table and weight lookup by bare term, so it also
    requires a single field and no duplicate terms — other shapes take
    the exact fallback."""

    def eligible(subs: list[Q.Query]) -> bool:
        if len(subs) < 2 or not all(isinstance(s, Q.TermQuery) for s in subs):
            return False
        fields = {s.field for s in subs}
        terms = [s.term for s in subs]
        return len(fields) == 1 and len(set(terms)) == len(terms)

    if isinstance(query, Q.BooleanQuery):
        if query.minimum_should_match > 1:
            return None
        if any(c.occur is not Q.Occur.SHOULD for c in query.clauses):
            return None
        subs = [c.query for c in query.clauses]
        if not eligible(subs):
            return None
        return list(subs), None
    if isinstance(query, Q.DisjunctionMaxQuery):
        subs = list(query.queries)
        if not eligible(subs):
            return None
        return subs, float(query.tie_breaker)
    return None
