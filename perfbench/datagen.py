"""Seeded generator of the ``wordcount_corpus`` inputs.

``corpus(out_dir, seed, ...)`` writes a Zipf text corpus: a random
vocabulary, documents as lines of ``.txt`` files plus the same
documents as ``documents.parquet`` (the schema of the engine's test
``documents`` table, so ``__spark_entry__.queries()`` reads it
unchanged), and the exact per-word counts (``counts.json``) the
word-count output is checked against.

Same seed, same bytes.  Nothing here imports Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _documents(out_dir: str, rng, texts: list[str]) -> None:
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"), compression="snappy")


def _vocabulary(rng, size: int) -> list[str]:
    """Distinct random words; the word of rank r has 4 + r % 8 letters,
    so the corpus's byte size does not depend on the seed."""
    lengths = 4 + np.arange(size) % 8
    codes = rng.integers(ord("a"), ord("z") + 1, (size, lengths.max()), dtype=np.uint8)
    seen: set[str] = set()
    out: list[str] = []
    for row, k in zip(codes, lengths):
        w = row[:k].tobytes().decode()
        while w in seen:
            w = rng.integers(ord("a"), ord("z") + 1, k, dtype=np.uint8).tobytes().decode()
        seen.add(w)
        out.append(w)
    return out


def corpus(out_dir: str, seed: int, n_docs: int, vocab: int, zipf_s: float = 1.05, files: int = 4) -> dict:
    """Write the Zipf corpus; return its facts (sizes, distinct words)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_vocabulary(rng, vocab))
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    lens = rng.integers(20, 201, n_docs)
    ids = rng.choice(vocab, int(lens.sum()), p=p)
    flat = words[ids]
    ends = np.cumsum(lens)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, lens)]
    _documents(out_dir, rng, texts)
    txt_dir = os.path.join(out_dir, "txt")
    os.makedirs(txt_dir, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(n_docs), files)):
        with open(os.path.join(txt_dir, f"part-{i:02d}.txt"), "w") as fh:
            fh.write("\n".join(texts[j] for j in chunk) + "\n")
    counts = np.bincount(ids, minlength=vocab)
    exact = {str(words[i]): int(c) for i, c in enumerate(counts) if c}
    with open(os.path.join(out_dir, "counts.json"), "w") as fh:
        json.dump(exact, fh)
    return {
        "docs": n_docs,
        "tokens": int(lens.sum()),
        "vocabulary": vocab,
        "distinct_words": len(exact),
        "text_mb": round(sum(len(t) + 1 for t in texts) / 1e6, 3),
    }
