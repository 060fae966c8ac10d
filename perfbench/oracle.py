"""Output oracles, independent of the Spark engine.

Search: a numpy brute-force re-implementation of the fixed-size chunker,
the sha256 test embedder, cosine scoring with Spark's index-order double
accumulation, rerank/hybrid re-scoring, Spark's HALF_UP ``round(x, 6)`` and
the ``(score desc, id asc)`` order. Scores are compared for exact equality.

Curation: DuckDB running the registry's own curation SQL over one batch for
the survivor set, and a recount of every written shard row for the census.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

DIM = 64
CHUNK_SIZE = 1000
CHUNK_OVERLAP = 200
_SIX = Decimal("0.000001")


def chunk_fixed(text: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP):
    """[(chunk_index, content)]: window ``size`` stepping ``size - overlap``,
    one chunk when the text fits, each trimmed, empty ones dropped (their
    index is still consumed)."""
    n = len(text)
    if n == 0:
        return []
    spans = [(0, n)] if n <= size else []
    start = 0
    while n > size and start < n:
        end = min(start + size, n)
        spans.append((start, end))
        if end >= n:
            break
        start += size - overlap
    out = []
    for i, (s, e) in enumerate(spans):
        c = text[s:e].strip()
        if c:
            out.append((i, c))
    return out


def embed_matrix(texts, dim: int = DIM) -> np.ndarray:
    """float64 unit vectors, row i from sha256(texts[i]): component j is the
    big-endian uint32 at byte offset 4j mod 32, mapped to [-1, 1)."""
    if not texts:
        return np.zeros((0, dim))
    digests = b"".join(hashlib.sha256(t.encode("utf-8")).digest() for t in texts)
    words = np.frombuffer(digests, dtype=">u4").reshape(len(texts), 8)
    raw = words[:, np.arange(dim) % 8].astype(np.float64) / 2**31 - 1.0
    out = np.zeros_like(raw)
    for i in range(len(texts)):
        row = raw[i].copy()
        n = float(np.linalg.norm(row))
        if n != 0.0:
            out[i] = row / n
    return out


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated in index order, 0.0 + a0*b0 + ... —
    the order of Spark's ``aggregate(zip_with(...))``; ``b`` is one vector
    or one per row."""
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * (b[:, j] if b.ndim == 2 else b[j])
    return acc


def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(float(x))).quantize(_SIX, rounding=ROUND_HALF_UP))


def query_words(query: str) -> list[str]:
    return [w for w in re.split(r"\s+", query.lower()) if w]


class SearchOracle:
    """The chunk store the program should hold, grown one document batch at
    a time, and brute-force top-k search over it."""

    def __init__(self):
        self.ids: list[str] = []
        self.contents: list[str] = []
        self.types: list[str] = []
        self.sources: dict[str, list[str]] = {}
        self._emb: list[np.ndarray] = []
        self._cache: tuple[np.ndarray, np.ndarray] | None = None

    def add_docs(self, source_ids, contents, source_types) -> None:
        new_contents = []
        for sid, text, st in zip(source_ids, contents, source_types):
            ids = []
            for idx, c in chunk_fixed(text):
                cid = hashlib.sha256(f"{sid}#{idx}".encode()).hexdigest()
                ids.append(cid)
                self.ids.append(cid)
                self.contents.append(c)
                self.types.append(st)
                new_contents.append(c)
            self.sources[sid] = ids
        # Stored embeddings are ARRAY<FLOAT>: round through float32.
        self._emb.append(embed_matrix(new_contents).astype(np.float32).astype(np.float64))
        self._cache = None

    def _matrix(self):
        if self._cache is None:
            e = np.concatenate(self._emb) if self._emb else np.zeros((0, DIM))
            self._cache = (e, np.sqrt(seq_dot(e, e)))
        return self._cache

    def search(self, query: str, k: int = 10, mode: str = "rerank",
               source_type: str | None = None) -> list[tuple[str, float]]:
        e, ne = self._matrix()
        qv = embed_matrix([query])[0]
        qn = 0.0
        for v in qv.tolist():
            qn += v * v
        qn = qn**0.5
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(ne == 0.0, 0.0, seq_dot(e, qv) / (ne * qn))
        rows = np.arange(len(self.ids))
        if source_type is not None:
            rows = rows[np.array(self.types)[rows] == source_type]
        if len(rows) == 0:
            return []
        # numpy's round differs from HALF_UP only on exact ties, so it picks
        # a superset of the top-k candidates; exact rounding decides.
        approx = np.round(cos[rows], 6)
        cut = np.sort(approx)[-min(k, len(rows))] - 2e-6
        cand = [(round6(cos[r]), self.ids[r], r) for r in rows[approx >= cut]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        top = cand[:k]
        words = query_words(query)
        out = []
        for score, cid, r in top:
            low = self.contents[r].lower()
            mc = sum(1 for w in words if w in low)
            if mode == "hybrid":
                ratio = mc / float(len(words)) if words else 0.0
                score = round6(score * (1.0 - 0.3) + ratio * 0.3)
            elif words:
                score = round6(score + mc * 0.1)
            out.append((cid, score))
        out.sort(key=lambda t: (-t[1], t[0]))
        return out


def curation_sql() -> str:
    """The registry's curation survivor SQL over a ``documents`` view."""
    from gistdex_spark import queries

    return f"WITH {queries._CURATION_KEPT_CTES} SELECT doc_id FROM kept ORDER BY doc_id"


def curate_kept(batch_path: str, kept_sql: str) -> list[int]:
    """Sorted survivor doc_ids of one batch, from DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{batch_path}')"
        )
        return [r[0] for r in con.execute(kept_sql).fetchall()]
    finally:
        con.close()


def shard_census(rows: list[dict], texts: dict[int, str], shard_tokens: int):
    """The per-shard census of written shard rows (sorted by doc_id), or
    None when a row's token count, span start or shard id is wrong: tokens
    are whitespace words, starts are the running token sum in doc_id order,
    and a row lands in shard ``start // shard_tokens``."""
    census: dict[int, list[int]] = {}
    start = 0
    for r in rows:
        n = len(texts[r["doc_id"]].lower().split())
        if (r["n_tok"], r["start"], r["shard_id"]) != (n, start, start // shard_tokens):
            return None
        c = census.setdefault(r["shard_id"], [0, r["doc_id"], r["doc_id"], 0, start, start])
        c[0] += 1
        c[2] = r["doc_id"]
        c[3] += n
        c[5] = start + n
        start += n
    return [(sid, *c) for sid, c in sorted(census.items())]
