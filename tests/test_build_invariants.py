"""CheckIndex-style structural invariants + save/load round-trip."""

import pytest

from lucene_spark.analysis.tokenizer import StandardAnalyzer
from lucene_spark.index.build import IndexConfig, build_index, load_index
from lucene_spark.index.checkindex import verify_index
from lucene_spark.search import query as Q
from lucene_spark.search.searcher import IndexSearcher
from lucene_spark.testing.corpus import generate_corpus


@pytest.fixture(scope="module")
def idx(spark):
    corpus = spark.createDataFrame(generate_corpus(200, seed=3))
    return build_index(spark, corpus, IndexConfig(docs_per_segment=50))


def test_verify_index_clean(idx):
    report = verify_index(idx)
    assert all(v == 0 for v in report.values()), report


def test_save_load_roundtrip(spark, idx, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    idx.save(d)
    idx2 = load_index(spark, d, idx.config)
    assert idx2.fieldstats == idx.fieldstats
    assert idx2.postings.count() == idx.postings.count()
    s1 = IndexSearcher(idx).search(Q.TermQuery("content", "the"), k=5).collect()
    s2 = IndexSearcher(idx2).search(Q.TermQuery("content", "the"), k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in s1] == [
        (r["doc_id"], r["score"]) for r in s2
    ]
    # lineage + metrics tables exist (resumability/lineage contract)
    assert spark.read.parquet(f"{d}/_lineage").count() > 0
    assert spark.read.parquet(f"{d}/_metrics").count() > 0


def test_deterministic_rebuild(spark):
    corpus = spark.createDataFrame(generate_corpus(120, seed=11))
    a = build_index(spark, corpus, IndexConfig(docs_per_segment=40))
    b = build_index(spark, corpus, IndexConfig(docs_per_segment=40))
    pa = sorted(
        (r["seg_id"], r["term"], r["block_ord"], r["first_doc"], bytes(r["doc_gaps"]))
        for r in a.postings.collect()
    )
    pb = sorted(
        (r["seg_id"], r["term"], r["block_ord"], r["first_doc"], bytes(r["doc_gaps"]))
        for r in b.postings.collect()
    )
    assert pa == pb


def test_invert_modes_bit_identical(spark):
    """The two invert front-ends must produce bit-identical postings,
    doclens and stats: the default plain chain (JVM tokenize + Arrow
    grouping, JVM doclens) and the Python analyzer pass with the Python
    doclen counter, forced here by passing the default analyzer
    explicitly — the Arrow front-end is only an execution strategy."""
    corpus = spark.createDataFrame(generate_corpus(300, seed=19)).cache()
    corpus.count()

    def fingerprint(cfg):
        ix = build_index(spark, corpus, cfg)
        rows = sorted(
            (
                r["field"],
                r["seg_id"],
                r["term"],
                r["block_ord"],
                r["num_docs"],
                r["first_doc"],
                r["last_doc"],
                r["max_freq"],
                r["min_norm"],
                r["ttf_block"],
                bytes(r["doc_gaps"]),
                bytes(r["freqs"]),
                bytes(r["norms"]),
                bytes(r["positions"]),
                bytes(r["offsets"]),
                tuple(r["impacts"]),
            )
            for r in ix.postings.collect()
        )
        dl = sorted(
            (r["doc_id"], r["length"], r["norm"]) for r in ix.doclens.collect()
        )
        ix.postings.unpersist()
        return rows, dl, ix.fieldstats

    default = fingerprint(IndexConfig(docs_per_segment=64))
    python = fingerprint(
        IndexConfig(
            docs_per_segment=64, analyzer=StandardAnalyzer(max_token_length=255)
        )
    )
    assert default == python


def test_stopword_config_takes_python_front_end(spark):
    """Stopwords route the build onto the Python inverter and Python
    doclen counter (the JVM chain has no stop filter): stopped terms get
    no postings, lengths count only emitted tokens, and ``num_partitions``
    sets the pack shuffle's width."""
    stop = frozenset({"the", "return"})
    corpus = spark.createDataFrame(generate_corpus(120, seed=2))
    cfg = IndexConfig(docs_per_segment=40, stopwords=stop, num_partitions=3)
    ix = build_index(spark, corpus, cfg)

    report = verify_index(ix)
    assert all(v == 0 for v in report.values()), report
    terms = {r["term"] for r in ix.postings.select("term").distinct().collect()}
    assert terms and not terms & stop
    assert ix.postings.rdd.getNumPartitions() == 3

    analyzer = StandardAnalyzer(stopwords=stop)
    texts = {r["doc_id"]: r["content"] for r in ix.docs.collect()}
    lengths = {r["doc_id"]: r["length"] for r in ix.doclens.collect()}
    assert lengths == {d: analyzer.emitted_count(t) for d, t in texts.items()}
    assert any(
        analyzer.emitted_count(t) < StandardAnalyzer().emitted_count(t)
        for t in texts.values()
    )
    hits = IndexSearcher(ix).search(Q.TermQuery("content", "the"), k=5)
    assert hits.count() == 0
