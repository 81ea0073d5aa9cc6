"""Segmented build, checkpoint resume, tiered merge, NRT micro-segments.

Mirrors the reference test levels: CheckIndex-style invariants over the
segment catalog (index/CheckIndex.java), merge equivalence
(SegmentMerger.merge), and openIfChanged-style NRT visibility."""

import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from lucene_spark.index.build import IndexConfig, build_index
from lucene_spark.index.segments import (
    build_segmented,
    list_segments,
    load_segments,
    merge_segments,
    select_merge_candidates,
)
from lucene_spark.search import query as Q
from lucene_spark.search.searcher import IndexSearcher

SF = "/root/testdata/sf0.001"

CFG = IndexConfig(
    text_col="text", field_name="text", doc_id_col="doc_id", docs_per_segment=128
)


@pytest.fixture(scope="module")
def seg_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segidx"))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = build_segmented(spark, docs, CFG, d)
    return d, idx


def _decoded_rows(idx):
    from lucene_spark.search.searcher import _DECODE_SCHEMA, _decode_blocks

    cols = ["term", "first_doc", "doc_gaps", "freqs", "norms"]
    return {
        (r["term"], r["doc_id"], r["freq"], r["norm"])
        for r in idx.postings.select(cols)
        .mapInPandas(_decode_blocks, schema=_DECODE_SCHEMA)
        .collect()
    }


def _block_rows(idx):
    return sorted(
        (
            r["seg_id"],
            r["term"],
            r["block_ord"],
            bytes(r["doc_gaps"]),
            bytes(r["freqs"]),
            bytes(r["norms"]),
            bytes(r["positions"]),
            tuple(r["impacts"]),
        )
        for r in idx.postings.collect()
    )


def _doclen_rows(idx):
    return sorted((r["doc_id"], r["length"], r["norm"]) for r in idx.doclens.collect())


def test_segmented_build_matches_monolithic(spark, seg_index):
    d, idx = seg_index
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mono = build_index(spark, docs, CFG)
    assert _decoded_rows(idx) == _decoded_rows(mono)
    assert idx.fieldstats["text"] == mono.fieldstats["text"]
    # byte level: both builds run the same pipeline, so the packed blocks
    # and the doclens table match exactly, not just their decoded postings
    assert _block_rows(idx) == _block_rows(mono)
    assert _doclen_rows(idx) == _doclen_rows(mono)


def test_checkpoint_has_one_live_row_per_segment(spark, seg_index):
    d, idx = seg_index
    segs = list_segments(spark, d)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(segs) == (n_docs + CFG.docs_per_segment - 1) // CFG.docs_per_segment
    assert sum(s["n_docs"] for s in segs) == n_docs
    # lineage invariant: content checksum recorded per segment
    assert all(s["content_xor"] != 0 for s in segs)


def test_resume_skips_completed_segments(spark, seg_index, tmp_path):
    """Interrupting after N segments and restarting must rebuild only the
    missing ones — verified by checkpoint row counts staying single."""
    d, _ = seg_index
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = {s["segment"]: s["wall_sec"] for s in list_segments(spark, d)}
    idx2 = build_segmented(spark, docs, CFG, d)  # full restart, nothing pending
    after = {s["segment"]: s["wall_sec"] for s in list_segments(spark, d)}
    assert before == after  # identical rows -> no segment was rebuilt
    s = IndexSearcher(idx2)
    assert s.search(Q.TermQuery("text", "spark"), k=5).count() == 5


def test_merge_preserves_postings_and_search(spark, seg_index):
    d, idx = seg_index
    pre_rows = _decoded_rows(idx)
    pre_top = [
        (r["doc_id"], r["score"])
        for r in IndexSearcher(idx).search(Q.TermQuery("text", "spark"), k=10).collect()
    ]
    segs = sorted(list_segments(spark, d), key=lambda s: s["segment"])
    merged = merge_segments(spark, d, CFG, candidates=segs[:2])
    assert merged
    idx2 = load_segments(spark, d, CFG)
    assert _decoded_rows(idx2) == pre_rows
    post_top = [
        (r["doc_id"], r["score"])
        for r in IndexSearcher(idx2).search(Q.TermQuery("text", "spark"), k=10).collect()
    ]
    assert post_top == pre_top


def test_tiered_selection_budget():
    segs = [
        {"segment": f"seg_{i}", "n_docs": 10 * (i + 1), "seg_lo": i, "seg_hi": i + 1,
         "content_xor": 1, "n_blocks": 1}
        for i in range(10)
    ]
    groups = select_merge_candidates(segs, floor_docs=8, segs_per_tier=4)
    assert len(groups) == 1 and len(groups[0]) == 4
    # smallest-first
    assert [g["segment"] for g in groups[0]] == ["seg_0", "seg_1", "seg_2", "seg_3"]
    assert select_merge_candidates(segs[:3], segs_per_tier=4) == []


def test_nrt_micro_segments(spark, tmp_path):
    """foreachBatch micro-segment ingest: base + streamed docs both visible
    after reload (openIfChanged analog)."""
    from lucene_spark.streaming.nrt import start_nrt_ingest

    base_dir = str(tmp_path / "nrt_idx")
    drop_dir = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    build_segmented(spark, docs.limit(200), CFG, base_dir)

    cfg = IndexConfig(
        text_col="text",
        field_name="text",
        doc_id_col=None,
        order_by=("source", "doc_id_src"),
        docs_per_segment=128,
    )
    # the "stream": two new docs landing as a file
    new = docs.limit(2).select(
        F.col("doc_id").alias("doc_id_src"),
        F.lit("zzznrtterm zzznrtterm spark").alias("text"),
        "lang",
        "source",
    )
    new.write.mode("overwrite").parquet(drop_dir)
    stream = spark.readStream.schema(new.schema).parquet(drop_dir)
    q = start_nrt_ingest(stream, base_dir, cfg, ckpt)
    q.awaitTermination(120)

    idx = load_segments(spark, base_dir, CFG)
    s = IndexSearcher(idx)
    hits = s.search(Q.TermQuery("text", "zzznrtterm"), k=10).collect()
    assert len(hits) == 2
    assert all(r["doc_id"] >= (1 << 40) for r in hits)
    # base docs still searchable
    assert s.search(Q.TermQuery("text", "spark"), k=5).count() == 5


def test_mixed_batch_nrt_merge_raises(spark, tmp_path):
    """A merge over batch-built and NRT segments puts doc ids below and
    above 2**40 into one block; their gap does not fit the uint32 gap
    format, so the merge must fail instead of writing wrapped ids
    (2**40 + k read back as 2**32 + k). The failed merge leaves the
    segment catalog as it was."""
    from lucene_spark.streaming.nrt import EPOCH_BASE, micro_segment_writer

    index_dir = str(tmp_path / "mixed_idx")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    build_segmented(spark, docs.limit(200), CFG, index_dir)
    new = docs.limit(2).select(
        F.lit("zzzmixedterm spark").alias("text"), "lang", "source"
    )
    micro_segment_writer(index_dir, replace(CFG, doc_id_col=None, order_by=None))(
        new, 0
    )
    segs = list_segments(spark, index_dir)
    assert any(d["seg_lo"] >= EPOCH_BASE for d in segs)
    assert any(d["seg_lo"] < EPOCH_BASE for d in segs)
    with pytest.raises(Exception, match="uint32 gap format"):
        merge_segments(spark, index_dir, CFG, candidates=segs)
    assert sorted(d["segment"] for d in list_segments(spark, index_dir)) == sorted(
        d["segment"] for d in segs
    )
    s = IndexSearcher(load_segments(spark, index_dir, CFG))
    hits = s.search(Q.TermQuery("text", "zzzmixedterm"), k=10).collect()
    assert sorted(r["doc_id"] for r in hits) == [EPOCH_BASE, EPOCH_BASE + 1]
