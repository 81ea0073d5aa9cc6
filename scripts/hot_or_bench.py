"""Hot-term disjunction A/B at scale: plain one-shuffle OR vs the
MAXSCORE essential/non-essential split (``search/MaxScoreBulkScorer.java:26-70``).

Round-2 verdict item 1: uniformly-hot disjunctions used to fall back to a
full decode. The essential strategy demotes the weaker clause to
probe-at-candidates; this script evidences the wall-time WIN at a corpus
size where decode cost dominates Spark job overhead (the regime the
machinery exists for — at sf0.1's 5,000 docs per-job scheduling swamps
any decode saving; see BENCH.md).

Usage:  python scripts/hot_or_bench.py
Env:    HOT_OR_N_DOCS (default 2_000_000), HOT_OR_CPUS (default 32),
        HOT_OR_INPUT_DIR (default /tmp/hot_or_corpus — keyed by dir name
        only: use a fresh dir when changing HOT_OR_N_DOCS).

The ``pruned`` searcher is built with ``prune_engage_min_rows=0``, so the
A/B measures the essential split itself at any HOT_OR_N_DOCS. The
``plain`` column is what the default engagement gate picks anyway when the
estimated demotable rows are below 2^20.

Prints ONE JSON line: plain/pruned wall seconds (best of 2 after a warm
pass each), the engaged strategy's block counters, and bit-identity of
the two rankings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GEN_PARTITIONS = 64


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def ensure_corpus(spark, n_docs: int, out_dir: str) -> None:
    if os.path.isdir(out_dir) and os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return
    from lucene_spark.testing.corpus import generate_corpus

    per_part = n_docs // GEN_PARTITIONS

    def gen(batches):
        for pdf in batches:
            for pid in pdf["id"]:
                yield generate_corpus(per_part, seed=42 + int(pid))

    schema = "repo string, path string, commit string, lang string, content string"
    (
        spark.range(GEN_PARTITIONS)
        .repartition(GEN_PARTITIONS, "id")
        .mapInPandas(gen, schema=schema)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def main() -> None:
    n_docs = int(os.environ.get("HOT_OR_N_DOCS", "2000000"))
    cpus = int(os.environ.get("HOT_OR_CPUS", "32"))
    input_dir = os.environ.get("HOT_OR_INPUT_DIR", "/tmp/hot_or_corpus")

    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.search import query as Q
    from lucene_spark.search.searcher import IndexSearcher

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_corpus(spark, n_docs, input_dir)
    corpus = spark.read.parquet(input_dir)

    t0 = time.time()
    cfg = IndexConfig(
        text_col="content",
        field_name="content",
        order_by=None,
        docs_per_segment=1 << 14,
        with_positions=False,  # term/boolean serving needs no positions
    )
    idx = build_index(spark, corpus, cfg)
    idx.postings.count()
    idx.doclens.persist().count()
    idx.termstats.persist().count()
    build_sec = time.time() - t0

    # two shapes:
    # - selective-OR (the textbook MAXSCORE case, a strong term OR a
    #   stopword): 'lambda' (Zipf rank 23, df ~30%) OR 'the' (rank 1,
    #   df ~90%) — theta lands near the strong clause's ceiling, the
    #   stopword demotes, candidates are a handful, and the stopword's
    #   postings (the bulk of the corpus) are never decoded;
    # - flat-OR ('the' OR 'if', both near-ubiquitous with saturated
    #   near-equal scores): ~30% of docs are within a whisker of the
    #   top-10 cutoff, so candidate-granularity pruning cannot beat one
    #   flat decode — the cost guard correctly falls back (the reference
    #   degrades to full windows on this shape too).
    pairs = {
        "selective_or": ("lambda", "the"),
        "flat_or": ("the", "if"),
    }

    plain = IndexSearcher(idx)
    plain.optimize_for_serving()
    # same index: plain already compacted it, so pruned only warms its memos
    pruned = IndexSearcher(idx, prune_engage_min_rows=0)
    pruned.preload_stats()
    pruned.preload_block_meta()

    def best_of(fn, n=2):
        best = float("inf")
        for _ in range(n):
            t = time.time()
            fn().collect()
            best = min(best, time.time() - t)
        return best

    report: dict = {
        "metric": "hot_or_essential_vs_plain",
        "n_docs": n_docs,
        "cpus": cpus,
        "build_sec": round(build_sec, 2),
        "pairs": {},
    }
    for name, (a, b) in pairs.items():
        hot_or = Q.BooleanQuery.of(
            should=[Q.TermQuery("content", a), Q.TermQuery("content", b)]
        )
        # stats harvest (untimed; also warms the pruned path)
        pruned.collect_stats = True
        rows_pruned = pruned.search(hot_or, k=10).collect()
        stats = dict(pruned.last_stats)
        pruned.collect_stats = False
        rows_plain = plain.search(hot_or, k=10).collect()  # warm plain path
        plain_sec = best_of(lambda: plain.search(hot_or, k=10, prune=False))
        pruned_sec = best_of(lambda: pruned.search(hot_or, k=10))
        report["pairs"][name] = {
            "clauses": [a, b],
            "plain_sec": round(plain_sec, 3),
            "pruned_sec": round(pruned_sec, 3),
            "speedup": round(plain_sec / pruned_sec, 3) if pruned_sec else None,
            "rank_identical": [(r["doc_id"], r["score"]) for r in rows_plain]
            == [(r["doc_id"], r["score"]) for r in rows_pruned],
            "prune_stats": stats,
        }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
