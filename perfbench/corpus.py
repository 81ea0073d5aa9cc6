"""Seeded inputs for the benchmark: a documents table and a query stream.

The documents table has the schema of the sf* ``documents.parquet`` tables
(``doc_id, text, lang, source, n_chars``). The vocabulary is fixed, so every
seed does the same kind of work; the seed picks the documents and queries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# the 30 words of the sf* corpora, then a fixed tail of generated words;
# "table" must stay: the paragraph-dedup pair splits paragraphs at " table "
CORE = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fi", "go"]
TAIL = sorted(
    {a + b + c for a in _SYL for b in _SYL for c in ("", "n", "r")} - set(CORE)
)[:170]
VOCAB = CORE + TAIL
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """``n_docs`` documents: Zipf-weighted words, 10-100 tokens each, ~1%
    exact copies and ~2% near copies (a few words replaced) of original
    docs, so the dedup stages have work to find."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.7
    w /= w.sum()
    texts: list[str] = []
    originals: list[int] = []  # copies are made of originals only
    for i in range(n_docs):
        r = rng.random()
        if originals and r < 0.01:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            continue
        if originals and r < 0.03:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.choice(len(toks), size=max(1, len(toks) // 30), replace=False):
                toks[j] = VOCAB[int(rng.choice(len(VOCAB), p=w))]
            texts.append(" ".join(toks))
            continue
        n = int(rng.integers(10, 101))
        originals.append(i)
        texts.append(" ".join(VOCAB[k] for k in rng.choice(len(VOCAB), size=n, p=w)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def query_stream(docs: pd.DataFrame, seed: int, n: int) -> dict[str, list]:
    """``n`` queries per class, as query-parser strings. Each class does
    about the same work on every seed: words come from the middle half of
    the document-frequency ranking, boolean queries alternate OR and AND,
    phrases are adjacent pairs of such words, and every prefix expands to
    exactly three terms."""
    rng = np.random.default_rng(seed + 1_000_003)
    toks = [t.split() for t in docs["text"]]
    df: dict[str, int] = {}
    for t in toks:
        for w in set(t):
            df[w] = df.get(w, 0) + 1
    ranked = sorted(df, key=lambda w: (df[w], w))
    mid = ranked[len(ranked) // 4 : 3 * len(ranked) // 4]
    in_mid = set(mid)
    phrases = sorted(
        {(a, b) for t in toks for a, b in zip(t, t[1:]) if a != b and a in in_mid and b in in_mid}
    )
    by_prefix: dict[str, int] = {}
    for w in df:
        by_prefix[w[:3]] = by_prefix.get(w[:3], 0) + 1
    prefixes = sorted(p for p, c in by_prefix.items() if c == 3)

    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    def two():
        a, b = rng.choice(len(mid), size=2, replace=False)
        return mid[a], mid[b]

    return {
        "term": [pick(mid) for _ in range(n)],
        "bool": [("{} {}" if i % 2 == 0 else "+{} +{}").format(*two()) for i in range(n)],
        "phrase": ['"{} {}"'.format(*pick(phrases)) for _ in range(n)],
        "prefix": [pick(prefixes) + "*" for _ in range(n)],
    }
