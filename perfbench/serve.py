"""``serve``: a seeded query stream against a built index in its serving
layout.

Set-up: ``build_index`` over a 500-doc corpus, then
``IndexSearcher.optimize_for_serving(cache_positions=True)``. One cycle sends
one query of each class (term, boolean AND/OR, phrase, prefix) through
``QueryParser.parse`` and ``IndexSearcher.search(k=10)``. Every top-10 is checked against the
pure-Python BM25 oracle of ``tests/oracle.py``: the same doc ids and
bit-identical float32 scores.

A traced run ends with the near-real-time (NRT) write path, on parquet
segments without the serving layout: ``build_segmented`` over the first
``NRT_BASE`` docs, then per op one ``micro_segment_writer`` batch, the merge
policy over the NRT tier (``select_merge_candidates`` -> ``merge_segments``),
a refresh (``load_segments`` + ``IndexSearcher``) and one term query,
checked against the oracle over the docs indexed so far.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

import corpus

CLASSES = ("term", "bool", "phrase", "prefix")
K = 10
N_DOCS = 500
#: NRT phase: base docs, segments of the base, docs per batch, batches,
#: and segments per tier of the NRT merge policy: the third batch makes
#: the policy merge the two oldest batch segments.
NRT_BASE, NRT_SEGMENTS, NRT_BATCH, NRT_OPS, NRT_TIER = 200, 4, 100, 3, 2


class Workload:
    #: set-ups, and how many of the first are not counted: the first is
    #: cold (~3x a warm one), later ones hold within ~5%
    setups, setups_untimed = 3, 1
    #: warm-up: cycles per rolling window, at most this many cycles and
    #: this much op time
    warm_window, warm_max, warm_max_s = 3, 10, 7.0

    min_cycles = 2

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.work = work
        self.pdf = corpus.documents(N_DOCS, seed)
        path = work / "documents.parquet"
        self.pdf.to_parquet(path, index=False)
        self.docs = spark.read.parquet(str(path))
        self.stream = corpus.query_stream(self.pdf, seed, 200)
        self._next = 0
        self.searcher = None
        from tests.oracle import OracleIndex

        self.oracle = OracleIndex(dict(zip(self.pdf["doc_id"].tolist(), self.pdf["text"])))

    def reset(self) -> None:
        """Drop what a previous set-up materialized, so each set-up starts
        from the same state and the cache bytes are this set-up's."""
        self.searcher = None
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def setup(self, tr) -> None:
        from lucene_spark.index.build import IndexConfig, build_index
        from lucene_spark.search.searcher import IndexSearcher

        cfg = IndexConfig(text_col="text", field_name="text", doc_id_col="doc_id")
        with tr.span("setup:index.build"):
            idx = build_index(self.spark, self.docs, cfg)
        with tr.span("setup:serving.optimize"):
            searcher = IndexSearcher(idx)
            searcher.optimize_for_serving(cache_positions=True)
        self.searcher = searcher

    def setup_layers(self, spans: list[dict]) -> dict:
        ms = {s["name"]: (s["end"] - s["start"]) * 1000 for s in spans}
        return {
            "build_ms": ms.get("setup:index.build"),
            "optimize_ms": ms.get("setup:serving.optimize"),
        }

    def describe(self) -> dict:
        return {"docs": len(self.pdf), "postings_blocks": self.searcher.index.postings.count()}

    def next_cycle(self):
        i = self._next % len(self.stream["term"])
        self._next += 1
        return [(c, self.stream[c][i]) for c in CLASSES]

    # ---- one op (timed)

    def run(self, cls: str, q: str, tr):
        from lucene_spark.search.queryparser import QueryParser

        if cls.startswith("nrt"):
            return self.run_nrt(cls, q, tr)
        with tr.span("plan:queryparser.parse"):
            parsed = QueryParser("text").parse(q)
        with tr.span("plan:searcher.search"):
            df = self.searcher.search(parsed, k=K)
        with tr.span("exec:collect"):
            return df.collect()

    # ---- checks (untimed)

    def expected(self, q: str) -> list[tuple[int, float]]:
        o = self.oracle
        if q.startswith('"'):
            scores = o.phrase_scores(q.strip('"').split())
        elif q.endswith("*"):
            p = q[:-1]
            hits = {d for t, ds in o.postings.items() if t.startswith(p) for d in ds}
            scores = dict.fromkeys(hits, np.float32(1.0))
        elif q.startswith("+"):
            scores = o.and_scores([w[1:] for w in q.split()])
        elif " " in q:
            scores = o.or_scores(q.split())
        else:
            scores = o.term_scores(q)
        return o.top_k(scores, K)

    def check(self, cls: str, q: str, rows) -> bool:
        if cls.startswith("nrt"):
            return self.check_nrt(cls, q, rows)
        return _same([(r["doc_id"], r["score"]) for r in rows], self.expected(q))

    def final_checks(self) -> tuple[bool, dict]:
        return True, {}

    # ---- NRT phase (traced runs only, after the timed window)

    def nrt_config(self):
        from lucene_spark.index.build import IndexConfig

        return IndexConfig(
            text_col="text", field_name="text", doc_id_col="doc_id",
            order_by=("doc_id",), docs_per_segment=NRT_BASE // NRT_SEGMENTS,
        )

    def trace_ops(self):
        return [("nrt_base", None)] + [("nrt", i) for i in range(NRT_OPS)]

    def run_nrt(self, cls: str, i, tr):
        from pyspark.sql import functions as F

        from lucene_spark.index.segments import (
            build_segmented, list_segments, load_segments, merge_segments,
            select_merge_candidates,
        )
        from lucene_spark.search.queryparser import QueryParser
        from lucene_spark.search.searcher import IndexSearcher
        from lucene_spark.streaming.nrt import EPOCH_BASE, micro_segment_writer

        cfg, index_dir = self.nrt_config(), str(self.work / "nrt")
        doc_id = F.col("doc_id")
        if cls == "nrt_base":
            with tr.span("nrt:build_segmented"):
                build_segmented(self.spark, self.docs.filter(doc_id < NRT_BASE), cfg, index_dir)
            return {"live": len(list_segments(self.spark, index_dir))}
        lo = NRT_BASE + i * NRT_BATCH
        batch = self.docs.filter((doc_id >= lo) & (doc_id < lo + NRT_BATCH))
        before = _dir_bytes(index_dir)
        with tr.span("nrt:write"):
            micro_segment_writer(index_dir, cfg)(batch, i)
        written = _dir_bytes(index_dir) - before
        with tr.span("nrt:merge"):
            # the policy sees the NRT tier only: merging an NRT segment with
            # a batch-built one corrupts doc ids (README, "Known defect, not exercised")
            groups = select_merge_candidates(
                [d for d in list_segments(self.spark, index_dir) if d["seg_lo"] >= EPOCH_BASE],
                segs_per_tier=NRT_TIER,
            )
            merged = merge_segments(self.spark, index_dir, cfg, groups[0]) if groups else []
        with tr.span("nrt:refresh"):
            searcher = IndexSearcher(load_segments(self.spark, index_dir, cfg))
        q = self.stream["term"][i]
        with tr.span("nrt:query"):
            rows = searcher.search(QueryParser("text").parse(q), k=K).collect()
        text = self.pdf["text"][lo : lo + NRT_BATCH]
        return {
            "rows": rows,
            "query": q,
            "searcher": searcher,
            "bytes_written": written,
            "input_bytes": sum(len(t.encode()) for t in text),
            "merges": len(merged),
            "live": len(list_segments(self.spark, index_dir)),
        }

    def check_nrt(self, cls: str, i, out) -> bool:
        """The top-10 of the op's term query, and all of its hits, against
        the oracle over the base docs and batches ``0..i`` under the ids
        the NRT writer gives them (a reserved range per epoch, in
        ``doc_id`` order). All hits, because a top-10 holds a batch doc on
        some seeds only."""
        if cls == "nrt_base":
            return out["live"] == NRT_SEGMENTS
        from lucene_spark.search.queryparser import QueryParser
        from lucene_spark.streaming.nrt import EPOCH_BASE
        from tests.oracle import OracleIndex

        texts = self.pdf["text"].tolist()
        docs = dict(enumerate(texts[:NRT_BASE]))
        for e in range(i + 1):
            lo = NRT_BASE + e * NRT_BATCH
            for r, t in enumerate(texts[lo : lo + NRT_BATCH]):
                docs[EPOCH_BASE + e * (1 << 20) + r] = t
        scores = OracleIndex(docs).term_scores(out["query"])
        full = out["searcher"].search(QueryParser("text").parse(out["query"]), k=len(docs))
        return _same(
            [(r["doc_id"], r["score"]) for r in out["rows"]], OracleIndex.top_k(scores, K)
        ) and _same(
            [(r["doc_id"], r["score"]) for r in full.collect()],
            OracleIndex.top_k(scores, len(docs)),
        )

    def trace_layers(self, tr, ops: list[dict]) -> dict:
        """Per-op means of the NRT steps, of the Spark jobs and tasks an op
        ran and of the merges, then the live segments after the last op
        and bytes written per input text byte."""
        ms: dict[str, float] = {}
        nrt = [o for o in ops if o["cls"] == "nrt"]
        jobs = tasks = 0
        for o in ops:
            for s in tr.op_spans(o["id"]):
                if s["name"].startswith("nrt:"):
                    key = s["name"][4:] + "_ms"
                    ms[key] = ms.get(key, 0.0) + (s["end"] - s["start"]) * 1000
                if o in nrt:
                    jobs, tasks = jobs + s["jobs"], tasks + s["tasks"]
        outs = [o["out"] for o in nrt]
        return {
            "build_segmented_ms": ms.get("build_segmented_ms"),
            **{k: ms.get(k, 0.0) / len(nrt) for k in ("write_ms", "merge_ms", "refresh_ms", "query_ms")},
            "jobs": jobs / len(nrt),
            "tasks": tasks / len(nrt),
            "merges": sum(x["merges"] for x in outs) / len(nrt),
            "live_segments": outs[-1]["live"],
            "bytes_written_per_input_byte": sum(x["bytes_written"] for x in outs)
            / sum(x["input_bytes"] for x in outs),
            "nrt_ops": len(nrt),
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _same(got, want) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want)
    )
