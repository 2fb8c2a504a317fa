"""Seeded text corpus for the ``corpus_dedup`` workload.

Words are drawn from a Zipfian vocabulary. ``DUP_SHARE`` of the
documents sit in near-duplicate clusters: a base document plus 1-3
variants that each differ from it by 1-3 word substitutions (the shape
of the clustered corpus in tests/test_recall.py). The rest are unique
documents. The same seed always gives the same rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

N_DOCS = 1000
VOCAB = 10000
ZIPF_S = 0.9
DUP_SHARE = 0.3
WORDS_PER_DOC = (30, 60)
LANGS = ("en", "pl", "de")

SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())])


def generate(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    rng = np.random.default_rng([seed, 0xC0])
    weights = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    weights /= weights.sum()
    vocab = np.array([f"w{i}" for i in range(VOCAB)])

    def draw(n: int) -> np.ndarray:
        return rng.choice(VOCAB, size=n, p=weights)

    texts: list[np.ndarray] = []
    n_clustered = round(n_docs * DUP_SHARE)
    while len(texts) < n_clustered:
        base = draw(int(rng.integers(*WORDS_PER_DOC, endpoint=True)))
        texts.append(base)
        for _ in range(int(rng.integers(1, 3, endpoint=True))):
            var = base.copy()
            for _ in range(int(rng.integers(1, 3, endpoint=True))):
                var[rng.integers(len(var))] = draw(1)[0]
            texts.append(var)
    del texts[n_clustered:]
    while len(texts) < n_docs:
        texts.append(draw(int(rng.integers(*WORDS_PER_DOC, endpoint=True))))

    order = rng.permutation(n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(1, n_docs + 1), pa.int64()),
            "text": [" ".join(vocab[texts[i]]) for i in order],
            "lang": [LANGS[i % len(LANGS)] for i in order],
        },
        schema=SCHEMA,
    )


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set of one document, as ``dedup.word_shingles`` builds
    it for this corpus (lower-case words joined by single spaces, so
    normalization is the identity)."""
    words = text.split(" ")
    if len(words) < n:
        return {text}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
