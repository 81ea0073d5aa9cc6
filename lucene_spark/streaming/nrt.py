"""Near-real-time ingest: Structured Streaming micro-segments.

Lucene's NRT story (``index/DirectoryReader.java:241`` ``openIfChanged``,
``search/SearcherManager.java:53``): writers flush segments without a
commit; reopened readers see base + freshly-flushed segments.

Spark re-expression: a ``foreachBatch`` sink builds one *micro-segment*
(postings/doclens/termstats parquet dir + checkpoint row) per micro-batch;
``load_segments`` (the MultiReader analog) then serves base ∪ delta with
globally re-aggregated stats — a refresh is just re-calling it. Streaming
doc ids come from a reserved high id range per epoch so they never collide
with batch-built segments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window

from lucene_spark.index.build import IndexConfig, _with_content_sha256
from lucene_spark.index.segments import _append_checkpoint, _build_one_segment

__all__ = ["micro_segment_writer", "start_nrt_ingest", "EPOCH_BASE"]

# streaming ids: (EPOCH_BASE + epoch * epoch_capacity + rank); far above any
# batch-assigned dense id
EPOCH_BASE = 1 << 40


def micro_segment_writer(
    index_dir: str,
    cfg: IndexConfig,
    epoch_capacity: int = 1 << 20,
    name_prefix: str = "nrt",
):
    """foreachBatch function: micro-batch DataFrame -> one micro-segment.

    Doc ids are deterministic within the batch (rank over cfg.order_by
    when set, else batch arrival order), so a replayed batch
    (at-least-once upstream) rewrites the same segment dir idempotently
    rather than duplicating docs. A batch larger than epoch_capacity would
    overflow into the next epoch's reserved id range — rejected up front.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        import time

        t0 = time.time()
        spark = batch_df.sparkSession
        base = EPOCH_BASE + int(epoch_id) * epoch_capacity
        if cfg.order_by:
            w = Window.orderBy(*[F.col(c) for c in cfg.order_by])
            ranked = batch_df
        else:
            # arrival-order ids (cfg.order_by=None is legal — Lucene's
            # sequential assignment); monotonically_increasing_id gives a
            # deterministic batch-local order, densified by the rank below
            ranked = batch_df.withColumn("_arrival", F.monotonically_increasing_id())
            w = Window.orderBy("_arrival")
        docs = _with_content_sha256(
            ranked.withColumn(
                "doc_id", F.row_number().over(w) - 1 + F.lit(base)
            ).drop("_arrival"),
            cfg.text_col,
        )
        # cache before counting: the overflow check and the segment build
        # both consume this plan — without the cache each would re-run the
        # single-partition window sort + sha256 pass
        docs.persist()
        try:
            n_batch = docs.count()
            if n_batch > epoch_capacity:
                raise ValueError(
                    f"micro-batch of {n_batch} docs overflows the epoch id "
                    f"range (epoch_capacity={epoch_capacity}); raise "
                    "epoch_capacity or split the batch upstream"
                )
            name = f"{name_prefix}_{int(epoch_id):06d}"
            seg_dir = f"{index_dir}/segments/{name}"
            n_docs, n_blocks = _build_one_segment(spark, docs, cfg, seg_dir)
            docs.write.mode("append").parquet(f"{index_dir}/docs_delta")
            _append_checkpoint(
                spark,
                index_dir,
                [
                    {
                        "segment": name,
                        "seg_lo": base,
                        "seg_hi": base + n_docs,
                        "n_docs": n_docs,
                        "n_blocks": n_blocks,
                        "content_xor": 0,
                        "wall_sec": time.time() - t0,
                        "status": "live",
                    }
                ],
            )
        finally:
            docs.unpersist(blocking=False)

    return write_batch


def start_nrt_ingest(
    stream_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Wire a streaming docs DataFrame into micro-segment builds.

    stream_df: a streaming DataFrame with cfg.order_by + cfg.text_col
    columns (e.g. ``spark.readStream.schema(...).parquet(drop_dir)``).
    """
    writer = (
        stream_df.writeStream.foreachBatch(micro_segment_writer(index_dir, cfg))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
