"""Seeded input generator: pure Python, numpy and pyarrow.

The same ``seed`` gives byte-identical files. The program under test only
ever receives these files (parquet for documents, JSON for queries).

Text is lowercase ASCII words separated by single spaces (and newlines in
the search corpus), so lowercasing and substring matching behave the same
in the JVM, DuckDB and Python.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_TYPES = ("gist", "github", "file", "text")
# One op of ``ingest_search`` runs two searches; four ops' worth of
# searches cycle through the reference's search modes.
SEARCH_CYCLE = ("rerank", "rerank", "hybrid", "filtered")
# Planted shares of each curate batch: quality-gate failures, exact and
# near duplicates.
GATE_FAIL, EXACT_DUP, NEAR_DUP = 0.08, 0.05, 0.05
# Zipf rank offset of the search vocabulary: flattens the head so no word
# sits in every chunk.
ZIPF_OFFSET = 8.0

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct random words of 3 to 9 letters."""
    words: dict[str, None] = {}
    while len(words) < size:
        lens = rng.integers(3, 10, size=size)
        letters = rng.choice(_LETTERS, size=int(lens.sum()))
        pos = 0
        for n in lens:
            words.setdefault("".join(letters[pos : pos + n]), None)
            pos += n
    return list(words)[:size]


def zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n) + ZIPF_OFFSET)
    return p / p.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _search_doc(rng, vocab, probs) -> str:
    """~2.5k chars: 300-480 Zipf words, a newline every 12-20 words."""
    idx = rng.choice(len(vocab), size=int(rng.integers(300, 481)), p=probs)
    out, line = [], []
    brk = int(rng.integers(12, 21))
    for i in idx:
        line.append(vocab[i])
        if len(line) == brk:
            out.append(" ".join(line))
            line, brk = [], int(rng.integers(12, 21))
    if line:
        out.append(" ".join(line))
    return "\n".join(out)


def _docs_table(rng, vocab, probs, prefix: str, n: int) -> pa.Table:
    types = rng.integers(0, len(SOURCE_TYPES), size=n)
    return pa.table(
        {
            "source_id": [f"{prefix}-{i:05d}" for i in range(n)],
            "content": [_search_doc(rng, vocab, probs) for _ in range(n)],
            "source_type": [SOURCE_TYPES[t] for t in types],
        }
    )


def gen_ingest_search(out_dir: str, seed: int, base_docs: int, batch_docs: int,
                      n_ops: int) -> dict:
    """Base corpus, one new-document batch per op, and two queries per op.

    Returns the manifest (file names and query specs) also written to
    ``manifest.json``."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 3000)
    probs = zipf_probs(len(vocab))
    _write(_docs_table(rng, vocab, probs, f"base{seed}", base_docs),
           os.path.join(out_dir, "base.parquet"))
    batches = []
    for k in range(n_ops):
        name = f"batch{k:03d}.parquet"
        _write(_docs_table(rng, vocab, probs, f"b{seed}x{k:03d}", batch_docs),
               os.path.join(out_dir, name))
        batches.append(name)
    queries = []
    for j in range(2 * n_ops):
        mode = SEARCH_CYCLE[j % len(SEARCH_CYCLE)]
        # Mid-frequency words: common enough to appear in chunks, rare
        # enough that rerank/hybrid boosts differ between candidates.
        words = [vocab[int(i)] for i in rng.integers(20, 400, size=int(rng.integers(2, 4)))]
        q = {"text": " ".join(words), "mode": mode}
        if mode == "filtered":
            q["source_type"] = SOURCE_TYPES[int(rng.integers(0, len(SOURCE_TYPES)))]
        queries.append(q)
    manifest = {"base": "base.parquet", "batches": batches, "queries": queries}
    _dump(manifest, out_dir)
    return manifest


def gen_curate(out_dir: str, seed: int, batch_docs: int, n_ops: int) -> dict:
    """One ``batch_docs``-document batch per op with planted quality-gate
    failures (one word repeated as ~40% of the tokens), exact duplicates
    (an earlier clean document's text) and near-duplicates (an earlier
    clean document's words shuffled: SimHash is a bag-of-tokens hash, so
    the copy sits at Hamming distance 0 while the text differs).

    The planted counts are the generator's ground truth; survivors
    themselves are checked against the registry's curation SQL."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 6000)
    batches, planted = [], []
    for k in range(n_ops):
        texts, kinds, clean = [], [], []
        for _ in range(batch_docs):
            u = rng.random()
            if u < GATE_FAIL:
                words = _words(rng, vocab)
                rep = words[0]
                for j in range(0, len(words), 5):
                    words[j] = rep
                    if j + 1 < len(words):
                        words[j + 1] = rep
                texts.append(" ".join(words))
                kinds.append("gate_fail")
            elif u < GATE_FAIL + EXACT_DUP and clean:
                texts.append(clean[int(rng.integers(0, len(clean)))])
                kinds.append("exact_dup")
            elif u < GATE_FAIL + EXACT_DUP + NEAR_DUP and clean:
                words = clean[int(rng.integers(0, len(clean)))].split(" ")
                texts.append(" ".join(words[p] for p in rng.permutation(len(words))))
                kinds.append("near_dup")
            else:
                texts.append(" ".join(_words(rng, vocab)))
                kinds.append("clean")
                clean.append(texts[-1])
        name = f"curate{k:03d}.parquet"
        _write(
            pa.table(
                {
                    "doc_id": pa.array(
                        [k * 1_000_000 + i for i in range(batch_docs)], pa.int64()
                    ),
                    "text": texts,
                    "lang": ["en"] * batch_docs,
                }
            ),
            os.path.join(out_dir, name),
        )
        batches.append(name)
        planted.append({kind: kinds.count(kind) for kind in
                        ("clean", "gate_fail", "exact_dup", "near_dup")})
    manifest = {"batches": batches, "planted": planted}
    _dump(manifest, out_dir)
    return manifest


def _words(rng, vocab) -> list[str]:
    """60-160 words drawn uniformly: no word dominates, so clean documents
    pass the quality gate."""
    return [vocab[i] for i in rng.integers(0, len(vocab), size=int(rng.integers(60, 161)))]


def _dump(manifest: dict, out_dir: str) -> None:
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
