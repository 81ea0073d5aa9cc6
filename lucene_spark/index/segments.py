"""Segmented index lifecycle: checkpointed build, tiered merge, NRT load.

The distributed re-expression of Lucene's segment machinery:

- a *segment* is one build unit's postings+doclens+termstats parquet dir
  (the role of one flushed DWPT segment, ``index/DocumentsWriterPerThread.java:442``);
  doc-id ranges are disjoint across segments (seg = doc_id // docs_per_segment);
- the build loops over pending segments and appends one ``_checkpoint`` row
  per completed segment (id, doc counts, content checksum, wall time) — a
  restart skips completed segments: the per-partition checkpoint/lineage
  resume contract (``index/SegmentInfos.java:54-63`` two-phase commit analog);
- ``merge_segments`` implements a TieredMergePolicy-flavored selection
  (floored sizes, smallest-first, budgeted segment count —
  ``index/TieredMergePolicy.java:77-83,:676-723``) and rewrites the merged
  postings with the SAME packer the build uses; global doc ids mean merge =
  decode → re-pack, no doc-id rebase needed (ids were assigned globally,
  unlike Lucene's per-segment ids re-based at read);
- ``load_segments`` unions every live segment (MultiReader analog,
  ``index/MultiReader.java``) and re-aggregates searcher-wide stats from the
  per-segment stats tables (``search/IndexSearcher.java:1144-1159`` sums
  field stats over leaves the same way).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.index.build import (
    IndexConfig,
    InvertedIndex,
    POSTINGS_SCHEMA,
    _invert_and_pack,
    _make_block_packer,
    _prepare_docs,
    _termstats_from_blocks,
)
from lucene_spark.search.similarity import FieldStats

__all__ = ["build_segmented", "load_segments", "merge_segments", "list_segments"]

_CKPT_SCHEMA = (
    "segment string, seg_lo long, seg_hi long, n_docs long, n_blocks long, "
    "content_xor long, wall_sec double, status string, ts double"
)


def _ckpt_path(index_dir: str) -> str:
    return f"{index_dir}/_checkpoint"


def _read_checkpoint(spark: SparkSession, index_dir: str) -> DataFrame:
    try:
        return spark.read.parquet(_ckpt_path(index_dir))
    except Exception:
        return spark.createDataFrame([], schema=_CKPT_SCHEMA)


def list_segments(spark: SparkSession, index_dir: str) -> list[dict]:
    """Live segments (latest status per segment name wins, by ts)."""
    rows = _read_checkpoint(spark, index_dir).collect()
    latest: dict[str, dict] = {}
    for r in sorted(rows, key=lambda r: r["ts"]):
        latest[r["segment"]] = r.asDict()
    return [d for d in latest.values() if d["status"] == "live"]


def _append_checkpoint(spark: SparkSession, index_dir: str, rows: list[dict]) -> None:
    spark.createDataFrame(
        [
            (
                r["segment"],
                int(r["seg_lo"]),
                int(r["seg_hi"]),
                int(r["n_docs"]),
                int(r["n_blocks"]),
                int(r["content_xor"]),
                float(r["wall_sec"]),
                r["status"],
                float(time.time()),
            )
            for r in rows
        ],
        schema=_CKPT_SCHEMA,
    ).write.mode("append").parquet(_ckpt_path(index_dir))


def _build_one_segment(
    spark: SparkSession, docs: DataFrame, cfg: IndexConfig, seg_dir: str
) -> tuple[int, int]:
    """Build one segment's postings/doclens/termstats with the build's one
    pipeline (``build._invert_and_pack``); returns (n_docs, n_blocks)."""
    postings, doclens = _invert_and_pack(docs, cfg)
    postings.write.mode("overwrite").parquet(f"{seg_dir}/postings")
    doclens.write.mode("overwrite").parquet(f"{seg_dir}/doclens")
    # per-segment term stats from the written block table (no re-shuffle of
    # the exploded posting stream)
    written = spark.read.parquet(f"{seg_dir}/postings")
    _termstats_from_blocks(written, cfg.field_name).write.mode("overwrite").parquet(
        f"{seg_dir}/termstats"
    )
    n_docs = docs.count()
    n_blocks = written.count()
    return n_docs, n_blocks


def build_segmented(
    spark: SparkSession,
    corpus: DataFrame,
    cfg: IndexConfig,
    index_dir: str,
) -> InvertedIndex:
    """Checkpointed build: one segment per docs_per_segment id range;
    completed segments are skipped on restart (resume-from-checkpoint)."""
    docs = _prepare_docs(corpus, cfg)
    docs.persist()
    try:
        max_doc = docs.count()
        dps = cfg.docs_per_segment
        n_segs = (max_doc + dps - 1) // dps if max_doc else 0
        done = {d["segment"] for d in list_segments(spark, index_dir)}
        docs.write.mode("overwrite").parquet(f"{index_dir}/docs")
        for s in range(n_segs):
            name = f"seg_{s:06d}"
            if name in done:
                continue
            t0 = time.time()
            lo, hi = s * dps, min((s + 1) * dps, max_doc)
            part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            seg_dir = f"{index_dir}/segments/{name}"
            n_docs, n_blocks = _build_one_segment(spark, part, cfg, seg_dir)
            cx = part.select(
                F.expr(
                    "bit_xor(cast(conv(substring(content_sha256, 1, 15), 16, 10) as bigint))"
                ).alias("x")
            ).collect()[0]["x"]
            _append_checkpoint(
                spark,
                index_dir,
                [
                    {
                        "segment": name,
                        "seg_lo": lo,
                        "seg_hi": hi,
                        "n_docs": n_docs,
                        "n_blocks": n_blocks,
                        "content_xor": cx or 0,
                        "wall_sec": time.time() - t0,
                        "status": "live",
                    }
                ],
            )
    finally:
        docs.unpersist()
    return load_segments(spark, index_dir, cfg)


def load_segments(
    spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    """MultiReader analog: union live segments, re-aggregate global stats."""
    cfg = cfg or IndexConfig()
    segs = list_segments(spark, index_dir)
    if not segs:
        raise FileNotFoundError(f"no live segments under {index_dir}")
    post_dirs = [f"{index_dir}/segments/{d['segment']}/postings" for d in segs]
    len_dirs = [f"{index_dir}/segments/{d['segment']}/doclens" for d in segs]
    ts_dirs = [f"{index_dir}/segments/{d['segment']}/termstats" for d in segs]
    postings = spark.read.parquet(*post_dirs)
    doclens = spark.read.parquet(*len_dirs)
    termstats = (
        spark.read.parquet(*ts_dirs)
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
    )
    agg = doclens.agg(
        F.count("*").alias("max_doc"),
        F.sum((F.col("length") > 0).cast("long")).alias("doc_count"),
        F.sum("length").alias("sum_ttf"),
    ).collect()[0]
    sum_df = termstats.agg(F.sum("df")).collect()[0][0]
    fieldstats = {
        cfg.field_name: FieldStats(
            max_doc=int(agg["max_doc"]),
            doc_count=int(agg["doc_count"] or 0),
            sum_total_term_freq=int(agg["sum_ttf"] or 0),
            sum_doc_freq=int(sum_df or 0),
        )
    }
    docs = spark.read.parquet(f"{index_dir}/docs")
    try:  # NRT micro-segments append their docs under docs_delta
        delta = spark.read.parquet(f"{index_dir}/docs_delta")
        docs = docs.unionByName(delta, allowMissingColumns=True)
    except Exception:
        pass
    from lucene_spark.index.deletes import read_deletes

    return InvertedIndex(
        docs=docs,
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        fieldstats=fieldstats,
        config=cfg,
        deletes=read_deletes(spark, index_dir),
    )


def select_merge_candidates(
    segments: list[dict],
    floor_docs: int = 1024,
    segs_per_tier: int = 8,
    max_merged_docs: int = 1 << 22,
) -> list[list[dict]]:
    """TieredMergePolicy-flavored selection (TieredMergePolicy.java:676-723,
    simplified): if the live count exceeds the tier budget, merge the
    smallest run of up to segs_per_tier segments (floored sizes, so many
    tiny segments count as merge-worthy) whose sum fits max_merged_docs."""
    if len(segments) <= segs_per_tier:
        return []
    by_size = sorted(segments, key=lambda d: (max(d["n_docs"], floor_docs), d["segment"]))
    cand: list[dict] = []
    total = 0
    for d in by_size:
        if len(cand) == segs_per_tier:
            break
        if total + d["n_docs"] > max_merged_docs and cand:
            break
        cand.append(d)
        total += d["n_docs"]
    return [cand] if len(cand) >= 2 else []


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    cfg: IndexConfig,
    candidates: list[dict] | None = None,
    purge_deletes: "DataFrame | None" = None,
) -> list[str]:
    """Merge segment groups: decode postings rows, re-pack with the build's
    packer under a fresh segment name (SegmentMerger.merge analog,
    ``index/SegmentMerger.java:116-174``; doc ids are global so no rebase).
    Hot terms re-shuffle across the merged partitioning — the salted-shuffle
    answer to Lucene's single-threaded k-way term merge."""
    from lucene_spark.search.searcher import (
        _DECODE_POS_SCHEMA,
        _decode_blocks_with_positions,
    )

    if cfg.with_offsets:
        raise NotImplementedError(
            "segment merge does not carry stored offsets through the "
            "decode/re-pack cycle — merge with with_offsets=False (offsets "
            "drop) or rebuild the offset-carrying index"
        )
    segs = list_segments(spark, index_dir)
    groups = (
        [candidates] if candidates else select_merge_candidates(segs)
    )
    merged_names: list[str] = []
    for group in groups:
        if not group:
            continue
        t0 = time.time()
        names = sorted(d["segment"] for d in group)
        new_name = f"merge_{names[0]}_{names[-1]}_{len(names)}"
        new_seg_id = min(int(d["seg_lo"]) for d in group) // cfg.docs_per_segment
        post = spark.read.parquet(
            *[f"{index_dir}/segments/{n}/postings" for n in names]
        )
        rows = post.mapInPandas(
            _decode_blocks_with_positions, schema=_DECODE_POS_SCHEMA
        ).select(
            F.lit(new_seg_id).cast("long").alias("seg_id"),
            "term",
            "doc_id",
            "freq",
            "norm",
            "positions",
        )
        if purge_deletes is not None:  # delete reclaim during merge
            rows = rows.join(F.broadcast(purge_deletes), "doc_id", "left_anti")
        merged = (
            rows.repartition(F.col("seg_id"), F.col("term"))
            .sortWithinPartitions("seg_id", "term", "doc_id")
            .mapInPandas(_make_block_packer(cfg), schema=POSTINGS_SCHEMA)
        )
        seg_dir = f"{index_dir}/segments/{new_name}"
        merged.write.mode("overwrite").parquet(f"{seg_dir}/postings")
        written = spark.read.parquet(f"{seg_dir}/postings")
        doclens = spark.read.parquet(
            *[f"{index_dir}/segments/{n}/doclens" for n in names]
        )
        if purge_deletes is not None:
            doclens = doclens.join(
                F.broadcast(purge_deletes), "doc_id", "left_anti"
            )
            # stats change when rows are reclaimed: recompute from blocks
            termstats = _termstats_from_blocks(written, cfg.field_name)
        else:
            termstats = (
                spark.read.parquet(
                    *[f"{index_dir}/segments/{n}/termstats" for n in names]
                )
                .groupBy("field", "term")
                .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
            )
        doclens.write.mode("overwrite").parquet(f"{seg_dir}/doclens")
        termstats.write.mode("overwrite").parquet(f"{seg_dir}/termstats")
        n_blocks = written.count()
        rows_ckpt = [
            {
                "segment": n,
                "seg_lo": d["seg_lo"],
                "seg_hi": d["seg_hi"],
                "n_docs": d["n_docs"],
                "n_blocks": d["n_blocks"],
                "content_xor": d["content_xor"],
                "wall_sec": 0.0,
                "status": "merged",
            }
            for n, d in zip(names, sorted(group, key=lambda d: d["segment"]))
        ]
        group_xor = 0
        for d in group:
            group_xor ^= int(d["content_xor"])
        rows_ckpt.append(
            {
                "segment": new_name,
                "seg_lo": min(int(d["seg_lo"]) for d in group),
                "seg_hi": max(int(d["seg_hi"]) for d in group),
                "n_docs": sum(int(d["n_docs"]) for d in group),
                "n_blocks": n_blocks,
                "content_xor": group_xor,
                "wall_sec": time.time() - t0,
                "status": "live",
            }
        )
        _append_checkpoint(spark, index_dir, rows_ckpt)
        merged_names.append(new_name)
    return merged_names
