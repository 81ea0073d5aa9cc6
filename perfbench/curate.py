"""``curate``: passes of the training-data curation flow of
``examples/training_pipeline.py`` over a seeded corpus.

Set-up loads the corpus from parquet into Spark's cache. One op is one pass:
exact dedup, MinHash LSH pairs (the larger id of each pair is dropped),
quality, then on the kept docs paragraph dedup, PII scrub, source mixing and
sequence packing. Each stage is its own action (a ``collect``). The
stages take the parameters and input expressions of the repo's DuckDB oracle
pairs (``__spark_entry__.oracle_sql()``), so the first pass is checked
against those oracles over the same stage inputs; every later pass must
repeat the first pass row for row.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import corpus

# the input expressions of the paragraph-dedup and PII pairs: paragraph
# breaks planted at " table ", a contact line with an email and an IPv4
PARA_TEXT = "replace(coalesce(text, ''), ' table ', chr(10) || chr(10))"
PII_TEXT = (
    "coalesce(text, '') || ' contact user' || doc_id "
    "|| '@example.com or 10.0.' || (doc_id % 200) || '.7 now'"
)
MIX_RATES = {"src3": 0.5, "src7": 2.25}

#: stage -> (oracle pair, the stage input it is computed over)
ORACLES = {
    "exact_dedup": ("dedup_exact", "docs"),
    "minhash_pairs": ("dedup_minhash_lsh_pairs", "docs1"),
    "quality": ("text_quality_scores", "docs2"),
    "paragraph_dedup": ("paragraph_dedup_firstseen", "kept"),
    "pii_scrub": ("scrub_pii_counts", "kept"),
    "mixing": ("domain_mixture_sample", "kept"),
    "packing": ("pack_sequences_128", "kept"),
}


class Workload:
    #: set-ups, and how many of the first are not counted: a set-up takes
    #: ~3 s cold, then falls from ~0.28 s to ~0.2 s over the next ten and
    #: keeps falling slowly after that
    setups, setups_untimed = 10, 5
    #: warm-up: passes per rolling window, at most this many passes and
    #: this much op time. Pass times fall ~12 s -> ~7 s -> ~6 s and then
    #: hold within ~10%: the first timed pass is the third, ~5% above
    #: steady state, which is all a run can afford.
    warm_window, warm_max, warm_max_s = 1, 2, 40.0
    min_cycles = 2

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.pdf = corpus.documents(500, seed)
        self.path = str(work / "documents.parquet")
        self.pdf.to_parquet(self.path, index=False)
        self.docs = None
        self.stage_rows: dict[str, int] = {}
        self.first_prints: dict | None = None
        self.oracle_ok: bool | None = None
        self.oracle_report: dict = {}

    def reset(self) -> None:
        if self.docs is not None:
            self.docs.unpersist(blocking=True)
        self.docs = None

    def setup(self, tr) -> None:
        with tr.span("setup:load"):
            docs = self.spark.read.parquet(self.path).persist()
            docs.count()
        self.docs = docs

    def setup_layers(self, spans: list[dict]) -> dict:
        return {}

    def describe(self) -> dict:
        return {"docs": len(self.pdf), "stage_rows": self.stage_rows}

    def next_cycle(self):
        return [("pass", None)]

    # ---- one op (timed)

    def run(self, cls: str, _arg, tr):
        from pyspark.sql import functions as F

        from lucene_spark.pipeline import dedup, mixing, packing
        from lucene_spark.pipeline import text as textops

        out: dict[str, list] = {}
        cached = []

        def stage(name, build):
            """Build a stage's result, collect it, and keep it cached, so
            later stages read it instead of recomputing its lineage."""
            with tr.span(f"pipeline.{name}"):
                with tr.span(f"plan:{name}"):
                    df = build().persist()
                cached.append(df)
                with tr.span("exec:collect"):
                    out[name] = df.collect()
            return df

        docs = self.docs
        groups = stage("exact_dedup", lambda: dedup.exact_duplicate_groups(docs, text_col="text"))
        keep = groups.select(F.col("min_doc_id").alias("doc_id"))
        docs1 = docs.join(F.broadcast(keep), "doc_id", "left_semi")
        pairs = stage(
            "minhash_pairs",
            lambda: dedup.minhash_lsh_pairs(docs1, text_col="text", num_perm=16, bands=4),
        )
        # keep the smallest id of each candidate pair (copies follow originals)
        drop = pairs.select(F.col("id_b").alias("doc_id"))
        docs2 = docs1.join(F.broadcast(drop), "doc_id", "left_anti")
        scored = stage(
            "quality",
            lambda: textops.quality_scores(docs2, text_col="text").select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                "mean_token_len",
                "stopword_ratio",
                "quality",
            ),
        )
        kept = docs2.join(
            scored.filter(F.col("quality") >= 0.5).select("doc_id"), "doc_id", "left_semi"
        )
        stage(
            "paragraph_dedup",
            lambda: dedup.paragraph_dedup(
                kept.select("doc_id", F.expr(PARA_TEXT).alias("text")), min_chars=1
            ),
        )
        stage(
            "pii_scrub",
            lambda: textops.scrub_pii(
                kept.select("doc_id", F.expr(PII_TEXT).alias("text")),
                patterns={k: textops.PII_PATTERNS[k] for k in ("email", "ipv4")},
            ),
        )

        stage(
            "mixing",
            lambda: mixing.mix_sources(kept, MIX_RATES).select("doc_id", "source", "epoch"),
        )
        stage("packing", lambda: packing.pack_sequences(kept, seq_len=128, group_col="source"))
        for df in cached:
            df.unpersist()
        return out

    # ---- checks (untimed)

    def check(self, cls: str, _arg, out: dict) -> bool:
        prints = {name: _fingerprint(rows) for name, rows in out.items()}
        if self.first_prints is None:
            self.stage_rows = {k: len(v) for k, v in out.items()}
            self.first_prints = prints
            self.oracle_ok = self._check_oracles(out)
        return prints == self.first_prints

    def stage_inputs(self, out: dict) -> dict:
        """The stage inputs, rebuilt in pandas from the collected results."""
        docs = self.pdf
        docs1 = docs[docs["doc_id"].isin({r["min_doc_id"] for r in out["exact_dedup"]})]
        docs2 = docs1[~docs1["doc_id"].isin({r["id_b"] for r in out["minhash_pairs"]})]
        good = {r["doc_id"] for r in out["quality"] if r["quality"] >= 0.5}
        kept = docs2[docs2["doc_id"].isin(good)]
        return {"docs": docs, "docs1": docs1, "docs2": docs2, "kept": kept}

    def _check_oracles(self, out: dict) -> bool:
        import duckdb

        import __spark_entry__

        sqls = __spark_entry__.oracle_sql()
        frames = self.stage_inputs(out)
        con = duckdb.connect()
        try:
            ok = True
            for stage, (pair, src) in ORACLES.items():
                con.register("documents", frames[src])
                rel = con.sql(sqls[pair])
                cols = [c.lower() for c in rel.columns]
                rows = out[stage]
                names = list(rows[0].asDict()) if rows else cols
                want = _norm([dict(zip(cols, r)) for r in rel.fetchall()], names)
                got = _norm([r.asDict() for r in rows], names)
                same = sorted(cols) == sorted(c.lower() for c in names) and got == want
                self.oracle_report[stage] = {"pair": pair, "rows": len(rows), "match": same}
                ok &= same
                con.unregister("documents")
            return ok
        finally:
            con.close()

    def final_checks(self) -> tuple[bool, dict]:
        return bool(self.oracle_ok), {"oracle_pairs": self.oracle_report}

    def trace_ops(self):
        return []


def _norm(rows: list[dict], names: list[str]) -> list[tuple]:
    out = [tuple(r[n.lower()] if n.lower() in r else r[n] for n in names) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _fingerprint(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()
