"""Sequence packing — concat-and-chunk assignment of documents into
fixed-token training sequences (the GPT-style packing every pretraining
loader applies: concatenate the token stream in a deterministic order,
split every ``seq_len`` tokens).

Spark-first shape, 100-TB-aware:

- token counts are the engine's tokenizer-regex counts (JVM-side
  ``regexp_extract_all`` size — no Python);
- the document order inside a pack group is (source, doc_id) — a
  deterministic total order, so the assignment is reproducible;
- the running offset is ONE window cumsum partitioned by the pack
  group: Spark's window over ``partitionBy(group)`` is a single shuffle
  on the group key.  At 100 TB you pack per-shard (group = source or
  source×date-bucket), never globally — a global single-partition
  window is exactly the degenerate case the ``group_col`` parameter
  exists to avoid (``group_col=None`` still partitions the window by a
  constant and is documented as small-data-only);
- output is the ASSIGNMENT (doc -> sequence id + offsets), not the
  materialized token stream: the heavy concat happens in the training
  loader; the assignment is what needs to be global-consistent.

Every column is integer arithmetic over counts, so a DuckDB window
oracle reproduces the assignment bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from lucene_spark.pipeline.dedup import TOKEN_RE

__all__ = ["pack_sequences"]


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = "source",
) -> DataFrame:
    """(group, doc_id, n_tokens, start_offset, seq_first, seq_last,
    n_seqs) — the concat-and-chunk packing assignment.

    ``start_offset`` = running token offset of the doc inside its
    group's concatenated stream (order: doc_id asc); the doc's tokens
    occupy sequences ``seq_first .. seq_last`` (0-based, each sequence
    exactly ``seq_len`` tokens; the group's final partial sequence is
    sequence ``floor(total/seq_len)``).  Empty docs occupy zero tokens:
    they report their boundary position with ``seq_last = seq_first``.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    toks = F.size(F.expr(f"regexp_extract_all({text_col}, '{TOKEN_RE}', 0)"))
    grp = F.col(group_col) if group_col else F.lit("_all")
    base = docs.select(
        grp.alias("group"),
        F.col(id_col).alias("doc_id"),
        toks.cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("group").orderBy("doc_id")
    start = (
        F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
    ).alias("start_offset")
    out = base.select("group", "doc_id", "n_tokens", start)
    end_tok = F.col("start_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0))
    return out.select(
        "group",
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).cast("long").alias("seq_first"),
        F.floor(end_tok / seq_len).cast("long").alias("seq_last"),
        (F.floor(end_tok / seq_len) - F.floor(F.col("start_offset") / seq_len) + 1)
        .cast("long")
        .alias("n_seqs"),
    )
