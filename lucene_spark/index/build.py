"""Distributed inverted-index build: corpus DataFrame -> postings/doclens/stats.

Spark-native re-expression of the reference indexing chain:

- per-task inversion (tokenize + per-doc term/positions map) mirrors the
  DWPT invert loop (``index/IndexingChain.java:1888-2040``); each Spark
  task plays the role of one DocumentsWriterPerThread
  (``index/DocumentsWriterPerThread.java:52``). One pipeline,
  ``_invert_and_pack``, builds every index: ``build_index`` and each
  segment of ``segments.build_segmented`` and of the NRT micro-segment
  writer, as the reference's one indexing chain serves every flush. The
  config alone picks the front-end: the plain chain takes JVM regexp
  tokenize + Arrow-native grouping (``_make_arrow_grouper``), no Python
  strings anywhere; stopwords/offsets/custom analyzers use the shared
  Python analyzer in one ``mapInPandas`` pass;
- postings grouped by ``(seg_id, field, term)`` and packed into 256-doc
  blocks with delta+FOR doc gaps, PFor freqs, raw norms, FOR positions and
  per-block competitive impact frontiers (the ``(freq, norm)`` Pareto set)
  (``codecs/lucene104/Lucene104PostingsWriter.java:389``,
  ``codecs/CompetitiveImpactAccumulator.java:64``);
- ``seg_id = doc_id // docs_per_segment`` bounds every shuffle group:
  hot terms ("the", "if", "return") split across segments, so no single
  reducer ever sees more than one segment's worth of a term — the skew
  answer that replaces Lucene's single-node DWPT+merge;
- searcher-wide stats are full-corpus aggregates shared by every scoring
  task (``search/IndexSearcher.java:1130-1159``).

Row invariant: ``sha256(content)`` is carried on the docs table and checked
against the source in ``checkindex.verify_index``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis.tokenizer import StandardAnalyzer
from lucene_spark.index import forutil
from lucene_spark.index.docids import with_doc_ids
from lucene_spark.search.similarity import FieldStats
from lucene_spark.util.smallfloat import encode_lengths

__all__ = ["IndexConfig", "InvertedIndex", "build_index", "build_multi_field_index", "load_index"]


@dataclass(frozen=True)
class IndexConfig:
    text_col: str = "content"
    field_name: str = "content"
    doc_id_col: str | None = None  # None -> derive dense IDs from order_by
    #: None -> arrival-order ids (no shuffle; Lucene's sequential assignment)
    order_by: tuple[str, ...] | None = ("repo", "path", "commit")
    docs_per_segment: int = 1 << 20
    block_size: int = forutil.BLOCK_SIZE
    with_positions: bool = True
    #: store per-occurrence character offsets next to positions
    #: (DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS, index/IndexOptions.java):
    #: opt-in like the reference's IndexOptions level — it forces the
    #: Python invert pass (offsets come from regex match spans, which the
    #: JVM tokenizer expressions cannot produce)
    with_offsets: bool = False
    max_token_length: int = 255
    stopwords: frozenset[str] = field(default_factory=frozenset)
    num_partitions: int | None = None
    #: custom analysis chain (Analyzer.createComponents analog,
    #: ``analysis/Analyzer.java:153``): any object with the
    #: StandardAnalyzer array API — e.g. ``analysis.filters.
    #: FilteredAnalyzer`` (ASCII folding, Porter stemming, synonyms,
    #: shingles, char n-grams). Forces the Python invert pass; the JVM
    #: SQL twin covers only the plain StandardAnalyzer chain.
    analyzer: object | None = None


# positions travel as raw little-endian uint32 buffers (BinaryType), NOT
# array<int>: Arrow list cells materialize one Python list per row on the
# UDF side, which dominated the whole build at ~35x corpus row counts;
# bytes cross the boundary zero-copy-ish on both sides
_INVERTED_SCHEMA = StructType(
    [
        StructField("seg_id", LongType()),
        StructField("term", StringType()),
        StructField("doc_id", LongType()),
        StructField("freq", IntegerType()),
        StructField("norm", IntegerType()),
        StructField("positions", BinaryType()),
        # interleaved (start, end) uint32 pairs per occurrence, position
        # order; b"" when offsets are not indexed
        StructField("offsets", BinaryType()),
    ]
)

_DOCLEN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("field", StringType()),
        StructField("length", IntegerType()),
        StructField("norm", IntegerType()),
    ]
)

POSTINGS_SCHEMA = StructType(
    [
        StructField("field", StringType()),
        StructField("seg_id", LongType()),
        StructField("term", StringType()),
        StructField("block_ord", IntegerType()),
        StructField("num_docs", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
        StructField("max_freq", IntegerType()),
        StructField("min_norm", IntegerType()),
        StructField("ttf_block", LongType()),
        StructField("doc_gaps", BinaryType()),
        StructField("freqs", BinaryType()),
        StructField("norms", BinaryType()),
        StructField("positions", BinaryType()),
        # FOR-encoded flat uint32 stream of interleaved (start, end)
        # offset pairs (2*freq values per doc); b"" unless with_offsets
        StructField("offsets", BinaryType()),
        # competitive impacts (CompetitiveImpactAccumulator.java:64): the
        # Pareto frontier of (freq asc-dominant, norm desc-dominant) pairs
        # actually PRESENT in the block, interleaved [f0, n0, f1, n1, ...]
        # with freqs descending. The block's score upper bound is the max
        # BM25 over these pairs — tight, unlike score(max_freq, min_norm)
        # whose freq and norm usually come from different docs. Truncated
        # frontiers merge their tail into one dominating synthetic pair,
        # so the bound stays sound.
        StructField("impacts", ArrayType(IntegerType())),
    ]
)


_MAX_IMPACT_PAIRS = 8


def _competitive_impacts(freqs: np.ndarray, norms: np.ndarray) -> list[int]:
    """Pareto frontier of (freq, norm): pairs such that no other doc in the
    block has both freq >= and norm <= (BM25 is monotone in freq and in
    1/norm-length, so only these can set the block maximum for ANY k1/b/
    avgdl). Returns interleaved [f, n, ...] sorted by freq descending."""
    order = np.lexsort((norms, -freqs.astype(np.int64)))
    out: list[int] = []
    best_norm = 256
    for i in order:
        n = int(norms[i])
        if n < best_norm:
            out.append(int(freqs[i]))
            out.append(n)
            best_norm = n
    if len(out) > 2 * _MAX_IMPACT_PAIRS:
        head = out[: 2 * (_MAX_IMPACT_PAIRS - 1)]
        tail_f = out[2 * (_MAX_IMPACT_PAIRS - 1)]  # max freq of the tail
        tail_n = out[-1]  # min norm of the tail (norms strictly decrease)
        out = head + [tail_f, tail_n]
    return out


@dataclass
class InvertedIndex:
    """Handle over the index tables (all lazy DataFrames except fieldstats)."""

    docs: DataFrame  # source rows + doc_id + content_sha256
    postings: DataFrame  # POSTINGS_SCHEMA
    doclens: DataFrame  # _DOCLEN_SCHEMA
    termstats: DataFrame  # (field, term, df, ttf)
    fieldstats: dict[str, FieldStats]  # per field, collected (tiny)
    config: IndexConfig
    build_metrics: dict = field(default_factory=dict)
    #: live-docs complement (doc_id rows) — anti-joined at query time;
    #: stats keep counting deleted docs until merge reclaim, like Lucene
    deletes: DataFrame | None = None
    #: per-doc float vectors (doc_id, vector: array<float>) — the
    #: KnnFloatVectorField analog (document/KnnFloatVectorField.java);
    #: queried via Q.KnnFloatVectorQuery
    vectors: DataFrame | None = None
    #: static scoring signals (doc_id, feature, value: float) — the
    #: FeatureField analog (document/FeatureField.java:106, freq-as-signal);
    #: queried via Q.FeatureQuery
    features: DataFrame | None = None

    def attach_vectors(
        self, df: DataFrame, id_col: str = "doc_id", vec_col: str = "vector"
    ) -> None:
        """Attach a vector column keyed by doc_id (KnnFloatVectorField
        ingestion: vectors ride a side table joined on the doc key)."""
        self.vectors = df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(vec_col).alias("vector"),
        )

    def save(self, index_dir: str) -> None:
        """Persist as a parquet 'segment directory' (Iceberg-shaped layout).

        Postings are range-partitioned and sorted by (term) so parquet
        row-group min/max stats prune term lookups — the role of the
        block-tree .tip index (Lucene103BlockTreeTermsWriter.java:82-110).
        """
        spark = self.docs.sparkSession
        t0 = time.time()
        (
            self.postings.repartitionByRange(
                max(8, spark.sparkContext.defaultParallelism), "term", "seg_id"
            )
            .sortWithinPartitions("term", "seg_id", "block_ord")
            .write.mode("overwrite")
            .parquet(f"{index_dir}/postings")
        )
        self.docs.write.mode("overwrite").parquet(f"{index_dir}/docs")
        self.doclens.write.mode("overwrite").parquet(f"{index_dir}/doclens")
        self.termstats.write.mode("overwrite").parquet(f"{index_dir}/termstats")
        fs_rows = [
            {
                "field": fname,
                "max_doc": fs.max_doc,
                "doc_count": fs.doc_count,
                "sum_total_term_freq": fs.sum_total_term_freq,
                "sum_doc_freq": fs.sum_doc_freq,
            }
            for fname, fs in self.fieldstats.items()
        ]
        spark.createDataFrame(fs_rows).write.mode("overwrite").parquet(
            f"{index_dir}/fieldstats"
        )
        # lineage: one row per postings partition (checkpoint/resume unit)
        lineage = (
            self.postings.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("block_rows"),
                F.sum("num_docs").alias("postings"),
                F.min("first_doc").alias("min_doc"),
                F.max("last_doc").alias("max_doc"),
            )
        )
        lineage.write.mode("overwrite").parquet(f"{index_dir}/_lineage")
        metrics = dict(self.build_metrics)
        metrics["save_sec"] = time.time() - t0
        spark.createDataFrame(
            [{"key": k, "value": float(v)} for k, v in metrics.items()]
        ).write.mode("overwrite").parquet(f"{index_dir}/_metrics")


def _make_inverter(cfg: IndexConfig):
    analyzer = cfg.analyzer or StandardAnalyzer(
        max_token_length=cfg.max_token_length, stopwords=cfg.stopwords
    )
    text_col, dps = cfg.text_col, cfg.docs_per_segment

    with_offsets = cfg.with_offsets

    def invert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch-vectorized inversion: tokenize per doc (C regex), then ONE
        # factorize + lexsort over the whole Arrow batch to group
        # (doc, term) -> (freq, positions[, offsets]) — no per-token dict ops
        for pdf in batches:
            texts = pdf[text_col].fillna("")
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            n_docs = len(pdf)
            terms_all: list[str] = []
            pos_parts: list[np.ndarray] = []
            off_parts: list[np.ndarray] = []
            counts = np.zeros(n_docs, dtype=np.int64)
            emitted = np.zeros(n_docs, dtype=np.int64)
            for i, text in enumerate(texts):
                if with_offsets:
                    t, p, o, n = analyzer.term_position_offset_arrays(text)
                    off_parts.append(o)
                else:
                    t, p, n = analyzer.term_position_arrays(text)
                terms_all.extend(t)
                pos_parts.append(p)
                # field length (norms) vs emitted rows: expander chains
                # (shingles / overlay phonemes at posIncr 0) emit MORE
                # tokens than the field length — the row fan-out must use
                # the emitted count or the batch lexsort misaligns
                counts[i] = n
                emitted[i] = len(t)
            if not terms_all:
                yield pd.DataFrame(
                    {
                        "seg_id": np.empty(0, np.int64),
                        "term": pd.Series([], dtype="object"),
                        "doc_id": np.empty(0, np.int64),
                        "freq": np.empty(0, np.int32),
                        "norm": np.empty(0, np.int32),
                        "positions": pd.Series([], dtype="object"),
                        "offsets": pd.Series([], dtype="object"),
                    }
                )
                continue
            doc_ord = np.repeat(np.arange(n_docs), emitted)
            pos_flat = np.concatenate(pos_parts)
            codes, uniq = pd.factorize(np.asarray(terms_all, dtype=object))
            order = np.lexsort((codes, doc_ord))  # stable: pos stays ascending
            d_s, c_s, p_s = doc_ord[order], codes[order], pos_flat[order]
            change = np.flatnonzero((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1]))
            starts = np.concatenate(([0], change + 1))
            ends = np.concatenate((change + 1, [len(d_s)]))
            g_ord = d_s[starts]
            norms = encode_lengths(counts).astype(np.int32)
            g_docs = doc_ids[g_ord]
            p_u32 = p_s.astype("<u4")
            if with_offsets:
                off_flat = np.concatenate(off_parts)  # (N, 2) uint32
                o_s = off_flat[order].astype("<u4")
                off_col = pd.Series(
                    [a.tobytes() for a in np.split(o_s, starts[1:])],
                    dtype="object",
                )
            else:
                off_col = pd.Series([b""] * len(starts), dtype="object")
            yield pd.DataFrame(
                {
                    "seg_id": g_docs // dps,
                    "term": pd.Series(uniq[c_s[starts]], dtype="object"),
                    "doc_id": g_docs,
                    "freq": (ends - starts).astype(np.int32),
                    "norm": norms[g_ord],
                    "positions": pd.Series(
                        [a.tobytes() for a in np.split(p_u32, starts[1:])],
                        dtype="object",
                    ),
                    "offsets": off_col,
                }
            )

    return invert


def _jvm_tokenized(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """JVM-side tokenize only: (doc_id, toks array<string>) — the raw
    token stream per doc, positions implicit in array order. The regexp
    is the pinned-equivalent StandardAnalyzer pattern (``analysis/sql.py``,
    equivalence goldens in ``tests/test_tokenizer.py``); the length
    filter and norms happen in ``_make_arrow_grouper``."""
    from lucene_spark.analysis.sql import _extract_tokens

    text = F.coalesce(F.col(cfg.text_col), F.lit(""))
    lowered = F.lower(F.translate(text, "İ", "i"))
    # dispatched per-row: CJK-free rows (virtually all of a code corpus)
    # take the classic \w pattern — the CJK-aware class pattern costs +67%
    # on this kernel and is only needed when a CJK codepoint is present
    raw = _extract_tokens(lowered)
    return docs.select("doc_id", raw.alias("toks"))


def _make_arrow_grouper(cfg: IndexConfig):
    """Arrow-native (doc, term) grouping over JVM-tokenized docs.

    The hybrid invert front-end: the JVM does the regex tokenize
    (``_jvm_tokenized``), and this ``mapInArrow`` stage turns each Arrow
    batch of (doc_id, toks) into posting rows (``_INVERTED_SCHEMA``)
    without materializing a single Python string:

    - length filter + term factorization run in Arrow C++
      (``utf8_length`` / ``dictionary_encode``),
    - grouping is one numpy lexsort over int codes (same algorithm as
      ``_make_inverter``'s tail),
    - the positions column is built zero-copy as ONE BinaryArray over the
      sorted flat uint32 buffer (group g's cell = buffer[4*starts[g] :
      4*ends[g]]; groups are adjacent so the offsets vector IS
      ``starts * 4``).

    The shuffle carries posting rows (~df), not token rows (~ttf); vs
    the Python inverter: no per-doc ``re.findall`` and no per-token
    PyObject churn. Positions count over the RAW stream
    (over-long tokens hold a slot, ``StandardTokenizer.java:163-173``);
    norms fold the KEPT count.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    dps = cfg.docs_per_segment
    max_len = cfg.max_token_length
    out_schema = pa.schema(
        [
            ("seg_id", pa.int64()),
            ("term", pa.string()),
            ("doc_id", pa.int64()),
            ("freq", pa.int32()),
            ("norm", pa.int32()),
            ("positions", pa.binary()),
            ("offsets", pa.binary()),
        ]
    )

    def _binary_from_flat(n: int, offsets: np.ndarray, data: bytes):
        return pa.Array.from_buffers(
            pa.binary(),
            n,
            [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(data)],
        )

    def group(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            n_docs = batch.num_rows
            if n_docs == 0:
                continue
            doc_ids = batch.column(0).to_numpy()
            lst = batch.column(1)
            counts = pc.list_value_length(lst).to_numpy(zero_copy_only=False)
            counts = np.nan_to_num(counts).astype(np.int64)
            flat = pc.list_flatten(lst)
            n_tok = len(flat)
            if n_tok == 0:
                continue
            doc_ord = np.repeat(np.arange(n_docs), counts)
            cum = np.cumsum(counts) - counts
            pos_flat = (np.arange(n_tok) - np.repeat(cum, counts)).astype(np.uint32)
            keep = pc.less_equal(pc.utf8_length(flat), max_len)
            keep_np = keep.to_numpy(zero_copy_only=False)
            kept_counts = np.bincount(
                doc_ord[keep_np], minlength=n_docs
            ).astype(np.int64)
            d = doc_ord[keep_np]
            if len(d) == 0:  # every token over max_token_length
                continue
            p = pos_flat[keep_np]
            dict_arr = pc.dictionary_encode(flat.filter(keep))
            codes = dict_arr.indices.to_numpy().astype(np.int64)
            uniq = dict_arr.dictionary
            order = np.lexsort((codes, d))  # stable: pos stays ascending
            d_s, c_s, p_s = d[order], codes[order], p[order]
            change = np.flatnonzero((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1]))
            starts = np.concatenate(([0], change + 1))
            ends = np.concatenate((change + 1, [len(d_s)]))
            n_grp = len(starts)
            g_ord = d_s[starts]
            g_docs = doc_ids[g_ord]
            norms = encode_lengths(kept_counts).astype(np.int32)
            pos_off = np.concatenate((starts, [len(d_s)])) * 4
            pos_arr = _binary_from_flat(
                n_grp, pos_off, p_s.astype("<u4").tobytes()
            )
            off_arr = _binary_from_flat(
                n_grp, np.zeros(n_grp + 1, dtype=np.int64), b""
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(g_docs // dps, type=pa.int64()),
                    uniq.take(pa.array(c_s[starts])),
                    pa.array(g_docs, type=pa.int64()),
                    pa.array((ends - starts).astype(np.int32), type=pa.int32()),
                    pa.array(norms[g_ord], type=pa.int32()),
                    pos_arr,
                    off_arr,
                ],
                schema=out_schema,
            )

    return group


def _pos_array(p) -> np.ndarray:
    """positions cell -> uint32 array (binary fast path or int-list)."""
    if isinstance(p, (bytes, bytearray)):
        return np.frombuffer(p, dtype="<u4")
    return np.asarray(p, dtype=np.uint32)


_DOCLEN_COUNT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("length", IntegerType()),
        StructField("norm", IntegerType()),
    ]
)


def _make_doclen_counter(cfg: IndexConfig):
    """Counting-only pass: (doc_id, emitted token count, byte4 norm).

    Re-tokenizes instead of aggregating the exploded posting stream — the
    second tokenize costs far less than shuffling + caching ~35x the corpus
    rows (see ``_invert_and_pack``)."""
    analyzer = cfg.analyzer or StandardAnalyzer(
        max_token_length=cfg.max_token_length, stopwords=cfg.stopwords
    )
    text_col = cfg.text_col

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lengths = np.fromiter(
                (analyzer.emitted_count(t) for t in pdf[text_col].fillna("")),
                dtype=np.int64,
                count=len(pdf),
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                    "length": lengths.astype(np.int32),
                    "norm": np.where(
                        lengths > 0, encode_lengths(lengths), 0
                    ).astype(np.int32),
                }
            )

    return count


def _make_block_packer(cfg: IndexConfig):
    """Streaming per-partition packer.

    The input is repartitioned on (seg_id, term) and sorted within each
    partition by (seg_id, term, doc_id), so each term's postings arrive as
    one contiguous, doc-ordered run. The packer streams Arrow batches and
    carries the (possibly incomplete) trailing run over to the next batch —
    one pandas round-trip per ~10k rows instead of one per vocabulary term
    (code corpora have huge df=1-dominated vocabularies; per-group
    applyInPandas overhead dominated the build before this).
    """
    block_size, field_name, with_positions, with_offsets = (
        cfg.block_size,
        cfg.field_name,
        cfg.with_positions,
        cfg.with_offsets,
    )

    def pack_runs(pdf: pd.DataFrame, out: list) -> None:
        seg = pdf["seg_id"].to_numpy(dtype=np.int64)
        terms = pdf["term"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        freqs = pdf["freq"].to_numpy(dtype=np.uint32)
        norms = pdf["norm"].to_numpy(dtype=np.uint8)
        positions = pdf["positions"].to_numpy() if with_positions else None
        has_off = with_offsets and "offsets" in pdf.columns
        offcells = pdf["offsets"].to_numpy() if has_off else None
        # contiguous (seg_id, term) run boundaries
        change = np.flatnonzero((seg[1:] != seg[:-1]) | (terms[1:] != terms[:-1]))
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [len(pdf)]))
        for s, e in zip(starts, ends):
            seg_id = int(seg[s])
            term = terms[s]
            if e - s == 1:
                # df=1 singleton fast path — the "pulsing" case
                # (Lucene104PostingsWriter.java:560-577 inlines these in the
                # term dict); scalar ops only, no numpy slicing
                fr = int(freqs[s])
                if with_positions:
                    pos_buf = forutil.for_encode(_pos_array(positions[s]))
                else:
                    pos_buf = b""
                off_buf = (
                    forutil.for_encode(np.frombuffer(offcells[s], dtype="<u4"))
                    if has_off
                    else b""
                )
                out.append(
                    (
                        field_name,
                        seg_id,
                        term,
                        0,
                        1,
                        int(doc_ids[s]),
                        int(doc_ids[s]),
                        fr,
                        int(norms[s]),
                        fr,
                        b"\x01\x00\x00",
                        forutil.pfor_encode(freqs[s : s + 1]),
                        norms[s : s + 1].tobytes(),
                        pos_buf,
                        off_buf,
                        [fr, int(norms[s])],
                    )
                )
                continue
            for ord_, bstart in enumerate(range(s, e, block_size)):
                bend = min(bstart + block_size, e)
                d = doc_ids[bstart:bend]
                f = freqs[bstart:bend]
                nm = norms[bstart:bend]
                first, gaps = forutil.delta_encode(d)
                if with_positions:
                    chunk = positions[bstart:bend]
                    if len(chunk) and isinstance(chunk[0], (bytes, bytearray)):
                        flat = np.frombuffer(b"".join(chunk), dtype="<u4")
                    else:  # merge path feeds decoded int lists
                        flat = (
                            np.concatenate(
                                [np.asarray(p) for p in chunk]
                            ).astype(np.uint32)
                            if bend > bstart
                            else np.empty(0, dtype=np.uint32)
                        )
                    pos_buf = forutil.for_encode(flat)
                else:
                    pos_buf = b""
                if has_off:
                    off_buf = forutil.for_encode(
                        np.frombuffer(b"".join(offcells[bstart:bend]), dtype="<u4")
                    )
                else:
                    off_buf = b""
                out.append(
                    (
                        field_name,
                        seg_id,
                        term,
                        ord_,
                        int(bend - bstart),
                        int(first),
                        int(d[-1]),
                        int(f.max()),
                        int(nm.min()),
                        int(f.sum()),
                        forutil.for_encode(gaps),
                        forutil.pfor_encode(f),
                        nm.tobytes(),
                        pos_buf,
                        off_buf,
                        _competitive_impacts(f, nm),
                    )
                )

    cols = [f.name for f in POSTINGS_SCHEMA.fields]

    def pack_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # hold back the trailing (seg_id, term) run — it may continue
            # in the next batch
            seg = pdf["seg_id"].to_numpy(dtype=np.int64)
            terms = pdf["term"].to_numpy()
            tail = (seg == seg[-1]) & (terms == terms[-1])
            # tail rows form a suffix (input sorted); cut = first tail row
            cut = len(pdf) - int(tail[::-1].argmin()) if not tail.all() else 0
            carry = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body) == 0:
                continue
            out: list = []
            pack_runs(body, out)
            yield pd.DataFrame(out, columns=cols)
        if carry is not None and len(carry):
            out = []
            pack_runs(carry, out)
            yield pd.DataFrame(out, columns=cols)

    return pack_stream


def _prepare_docs(corpus: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Source rows + ``doc_id`` (assigned from ``cfg.order_by`` or cast
    from ``cfg.doc_id_col``) + ``content_sha256`` of the text column —
    the docs table every build writes."""
    if cfg.doc_id_col is None:
        docs = with_doc_ids(corpus, cfg.order_by, num_partitions=cfg.num_partitions)
    else:
        docs = corpus.withColumn("doc_id", F.col(cfg.doc_id_col).cast("long"))
    return docs.withColumn(
        "content_sha256", F.sha2(F.coalesce(F.col(cfg.text_col), F.lit("")), 256)
    )


def _termstats_from_blocks(postings: DataFrame, field_name: str) -> DataFrame:
    """(field, term, df, ttf) aggregated over a packed block table."""
    return (
        postings.groupBy("term")
        .agg(F.sum("num_docs").alias("df"), F.sum("ttf_block").alias("ttf"))
        .select(F.lit(field_name).alias("field"), "term", "df", "ttf")
    )


def _invert_and_pack(
    docs: DataFrame, cfg: IndexConfig
) -> tuple[DataFrame, DataFrame]:
    """The one indexing chain: docs (with ``doc_id``) -> lazy
    (postings, doclens) frames. ``build_index`` and every segment build
    (``segments.build_segmented``, NRT micro-segments) run it.

    The exploded stream is NOT cached and flows through exactly ONE
    shuffle (the pack repartition). Caching it and running
    doclens/termstats groupBys over it (3 passes over ~35x the corpus
    row count) was the build's scaling killer: allocation/GC pressure in
    the single local JVM serialized all executor threads. Instead
    doclens comes from a separate counting pass, and termstats is an
    aggregate over the PACKED block table (tiny).

    Front-end: the plain StandardAnalyzer chain takes the JVM regex
    tokenize + Arrow-native grouping (``_make_arrow_grouper``) — posting
    rows through the one shuffle, zero Python-string churn. Stopwords,
    stored offsets or a custom analyzer take the Python inverter (shared
    analyzer implementation; offsets come from regex match spans).
    """
    if not cfg.stopwords and not cfg.with_offsets and cfg.analyzer is None:
        inverted = _jvm_tokenized(docs, cfg).mapInArrow(
            _make_arrow_grouper(cfg), schema=_INVERTED_SCHEMA
        )
    else:
        inverted = docs.select("doc_id", cfg.text_col).mapInPandas(
            _make_inverter(cfg), schema=_INVERTED_SCHEMA
        )
    repart_cols = [F.col("seg_id"), F.col("term")]
    if cfg.num_partitions:
        repartitioned = inverted.repartition(cfg.num_partitions, *repart_cols)
    else:
        repartitioned = inverted.repartition(*repart_cols)
    postings = repartitioned.sortWithinPartitions(
        "seg_id", "term", "doc_id"
    ).mapInPandas(_make_block_packer(cfg), schema=POSTINGS_SCHEMA)

    if not cfg.stopwords and cfg.analyzer is None:
        # JVM-side doclens: the emitted-token count is expressible as a
        # native regexp + filter + fold (analysis/sql.py, equivalence
        # pinned vs the Python analyzer in tests) — no second Python
        # tokenize pass, halving the build's Python CPU and keeping the
        # counting stage inside whole-stage codegen
        from lucene_spark.analysis.sql import sql_emitted_count, sql_norm_byte

        length = sql_emitted_count(F.col(cfg.text_col), cfg.max_token_length)
        doclens = docs.select(
            "doc_id",
            F.lit(cfg.field_name).alias("field"),
            length.cast("int").alias("length"),
        ).withColumn("norm", sql_norm_byte(F.col("length")))
    else:
        # stopword removal changes the emitted count — fall back to the
        # Python counting pass which shares the analyzer implementation
        doclens = docs.select("doc_id", cfg.text_col).mapInPandas(
            _make_doclen_counter(cfg), schema=_DOCLEN_COUNT_SCHEMA
        ).select(
            "doc_id",
            F.lit(cfg.field_name).alias("field"),
            "length",
            "norm",
        )
    return postings, doclens


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: IndexConfig | None = None,
    index_dir: str | None = None,
) -> InvertedIndex:
    cfg = cfg or IndexConfig()
    if cfg.with_offsets and cfg.analyzer is not None:
        # fail at config time with a clear message, not mid-job with a raw
        # AttributeError from an executor task
        try:
            cfg.analyzer.term_position_offset_arrays("")
        except Exception as e:
            raise ValueError(
                "with_offsets=True requires the analyzer to implement "
                "term_position_offset_arrays(text) (expanding filters — "
                "shingles/char-ngrams/phrase synonyms — have no single "
                "character span per emitted token): {e}".format(e=e)
            ) from e
    t0 = time.time()
    # granularity fix: parquet input splits follow maxPartitionBytes, not
    # core count (a 350MB corpus reads as ~5 splits), so every Python stage
    # downstream would run 1-2 quantized waves with no packing headroom.
    # Re-partition the (already id-assigned) docs to ~3 tasks/core and cache
    # THAT — all tokenize passes inherit the good granularity.
    par = cfg.num_partitions or spark.sparkContext.defaultParallelism * 3
    docs = _prepare_docs(corpus, cfg).repartition(par)
    # several downstream jobs re-read docs (doclens join, stats, retrieval):
    # cache it so the docid-assignment + sha pipeline runs once
    docs.persist()

    postings, doclens = _invert_and_pack(docs, cfg)
    # materialize the index once here: termstats/fieldstats below and every
    # query read this plan — without the cache they would re-run the build
    postings.persist()
    termstats = _termstats_from_blocks(postings, cfg.field_name)

    # searcher-wide stats (IndexSearcher.java:1144-1159 sums over leaves):
    # ONE action over a tagged UNION of the two single-row aggregates, so
    # the doclens counting pass and the postings build run as concurrent
    # stages of the same job instead of two serial jobs. NOT a crossJoin:
    # Catalyst lowers that to a broadcast nested-loop join whose broadcast
    # side would compute the ENTIRE postings build inside the
    # broadcast-exchange thread — tripping spark.sql.broadcastTimeout on
    # large corpora (observed at 1-4M docs on few cores).
    a_dl = doclens.agg(
        F.count("*").alias("max_doc"),
        F.sum((F.col("length") > 0).cast("long")).alias("doc_count"),
        F.sum("length").alias("sum_ttf"),
    ).select(F.lit("dl").alias("side"), "max_doc", "doc_count", "sum_ttf")
    a_ts = termstats.agg(F.sum("df").alias("sum_df")).select(
        F.lit("ts").alias("side"), F.col("sum_df")
    )
    rows = {
        r["side"]: r
        for r in a_dl.unionByName(a_ts, allowMissingColumns=True).collect()
    }
    dl_row, ts_row = rows["dl"], rows["ts"]
    fieldstats = {
        cfg.field_name: FieldStats(
            max_doc=int(dl_row["max_doc"]),
            doc_count=int(dl_row["doc_count"] or 0),
            sum_total_term_freq=int(dl_row["sum_ttf"] or 0),
            sum_doc_freq=int(ts_row["sum_df"] or 0),
        )
    }
    max_doc = int(dl_row["max_doc"])

    idx = InvertedIndex(
        docs=docs,
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        fieldstats=fieldstats,
        config=cfg,
        build_metrics={"build_sec": time.time() - t0, "max_doc": float(max_doc)},
    )
    if index_dir is not None:
        idx.save(index_dir)
        return load_index(spark, index_dir, cfg)
    return idx


def build_multi_field_index(
    spark: SparkSession,
    corpus: DataFrame,
    field_cfgs: Sequence[IndexConfig],
    order_by: tuple[str, ...] | None = ("repo", "path", "commit"),
    doc_id_col: str | None = None,
) -> InvertedIndex:
    """Multi-field index with PER-FIELD postings formats
    (``codecs/perfield/PerFieldPostingsFormat.java:62`` — the reference's
    field -> format mapping): every ``IndexConfig`` in ``field_cfgs``
    indexes its own ``text_col`` under its own ``field_name`` with its own
    options — positions/offsets level (IndexOptions), stopwords, analysis
    chain — exactly what a per-field format chooses in the reference.

    Doc ids are assigned ONCE over the corpus (shared across fields, like
    a single Lucene document with several indexed fields), then each field
    runs the standard single-field build; postings/doclens/termstats are
    field-tagged unions, so the searcher's field-filtered block reads and
    per-field norm caches work unchanged. The searcher is field-aware
    end-to-end; cross-field queries (Boolean over different fields,
    CombinedFieldQuery) compose on top.
    """
    if len({c.field_name for c in field_cfgs}) != len(field_cfgs):
        raise ValueError("field_cfgs must have distinct field_name values")
    if doc_id_col is None:
        docs = with_doc_ids(corpus, order_by)
    else:
        docs = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    docs = docs.persist()

    parts = [
        build_index(spark, docs, replace(cfg, doc_id_col="doc_id")) for cfg in field_cfgs
    ]
    postings = parts[0].postings
    doclens = parts[0].doclens
    termstats = parts[0].termstats
    for p in parts[1:]:
        postings = postings.unionByName(p.postings)
        doclens = doclens.unionByName(p.doclens)
        termstats = termstats.unionByName(p.termstats)
    fieldstats = {}
    for p in parts:
        fieldstats.update(p.fieldstats)
    return InvertedIndex(
        docs=parts[0].docs,
        postings=postings.persist(),
        doclens=doclens,
        termstats=termstats,
        fieldstats=fieldstats,
        config=field_cfgs[0],
        build_metrics={
            "build_sec": sum(p.build_metrics.get("build_sec", 0.0) for p in parts),
            "max_doc": parts[0].build_metrics.get("max_doc", 0.0),
        },
    )


def load_index(
    spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    cfg = cfg or IndexConfig()
    fs_rows = spark.read.parquet(f"{index_dir}/fieldstats").collect()
    fieldstats = {
        r["field"]: FieldStats(
            max_doc=int(r["max_doc"]),
            doc_count=int(r["doc_count"]),
            sum_total_term_freq=int(r["sum_total_term_freq"]),
            sum_doc_freq=int(r["sum_doc_freq"]),
        )
        for r in fs_rows
    }
    from lucene_spark.index.deletes import read_deletes

    return InvertedIndex(
        docs=spark.read.parquet(f"{index_dir}/docs"),
        postings=spark.read.parquet(f"{index_dir}/postings"),
        doclens=spark.read.parquet(f"{index_dir}/doclens"),
        termstats=spark.read.parquet(f"{index_dir}/termstats"),
        fieldstats=fieldstats,
        config=cfg,
        deletes=read_deletes(spark, index_dir),
    )
