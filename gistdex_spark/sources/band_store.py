"""SimHash band store at rest: incremental near-dup without re-reading text.

``operators/dedup.simhash_pairs_between`` notes the 100 TB incremental
shape — "the existing corpus side is the stored signature table, read
not recomputed". This module is that claim as exercised code, the
near-dup counterpart of ``lsh_store`` (which plays the same role for
embedding ANN):

- ``write_band_store`` computes each document's SimHash signature and
  its ``bands`` band values in the write pass (one map-only projection
  over the text — the only time the text is ever touched) and persists
  (id, simhash, band0..band{B-1}) hive-partitioned by ``band0``. The
  stored row is ~20 bytes; the 100 TB corpus's dedup state is a ~100 GB
  signature table.
- ``incremental_pairs_stored`` checks a NEW batch against the store:
  the batch's signatures are computed once (and lineage-cut — the frame
  is referenced by the probe filter and the join), the store scan reads
  only the signature columns and is pre-filtered by the batch's
  observed band values (bounded IN-lists — each 8-bit band has at most
  256 distinct values, so the collect is bounded by ``bands * 2^width``
  regardless of batch size; wider bands skip the prefilter past a cap
  rather than collect unboundedly), and the banded equality join +
  Hamming verify + first-band dedup reuse the EXACT logic of
  ``simhash_pairs_between`` — the result frame is equal by
  construction, pinned in tests/test_band_store.py.

Exactness: for ``max_distance < bands`` the pigeonhole argument holds
unchanged (a pair within distance d agrees on >= bands - d > 0 bands),
and the band prefilter cannot lose candidates — a stored row that
agrees with some batch row on band t necessarily carries one of the
batch's observed band-t values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.materialize import checkpoint
from gistdex_spark.operators.dedup import simhash

# Past this many collected band values the IN-list prefilter stops
# paying for itself (and the collect stops being "tiny"); the join alone
# is still exact.
_PREFILTER_CAP = 4096


def _band_cols(sig_col: str, bits: int, bands: int) -> list:
    width = bits // bands
    mask = (1 << width) - 1
    return [
        F.shiftright(sig_col, b * width).bitwiseAND(F.lit(mask)).alias(f"band{b}")
        for b in range(bands)
    ]


def write_band_store(
    docs: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    mode: str = "overwrite",
) -> None:
    """Signature + band columns, hive-partitioned by ``band0`` (at most
    ``2^(bits/bands)`` directories — 256 for the 32/4 default). The
    layout repartition gives each band directory its own files, same
    rationale as write_lsh_store."""
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    sig = simhash(docs, content_col, bits).select(
        F.col("doc_id").alias(id_col) if id_col != "doc_id" else F.col(id_col),
        "simhash",
        *_band_cols("simhash", bits, bands),
    )
    sig.repartition("band0").write.mode(mode).partitionBy("band0").parquet(path)


def incremental_pairs_stored(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    content_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_distance: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """(new_id, old_id, hamming): the new batch's near-dups against the
    stored corpus — value-identical to ``simhash_pairs_between(new,
    old_text)`` with the old side's signatures READ instead of
    recomputed, and the store scan prefiltered to the batch's observed
    band values."""
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    if max_distance >= bands:
        raise ValueError("banded join is exact only for max_distance < bands")
    width = bits // bands
    mask = (1 << width) - 1

    new_sig = checkpoint(simhash(new, content_col, bits))

    # Bounded band-value collection: one tiny agg over the (already
    # materialized) batch signatures. collect_set per band is bounded by
    # min(|batch|, 2^width) values; past _PREFILTER_CAP total, fall back
    # to the unfiltered exploded scan — the equality join alone is exact
    # either way.
    sets_row = new_sig.select(
        *[F.collect_set(e).alias(f"s{b}")
          for b, e in enumerate(_band_cols("simhash", bits, bands))]
    ).first()
    band_sets = [sorted(sets_row[f"s{b}"]) for b in range(bands)]

    if sum(len(s) for s in band_sets) <= _PREFILTER_CAP:
        # One narrow scan per band, each with a SINGLE-column IN filter:
        # band0's IN-list is a partition predicate (directories pruned
        # before IO), band1+'s are pushed parquet filters (row-group
        # skipping) — an OR across the bands on one scan pushes to
        # NEITHER (mixed partition/data disjunction), which is why the
        # probe is a union, not a filter. Correctness: a pair's
        # first-agreeing band b has equal band-b values, so the store
        # row's band-b value is in the batch's band-b set and branch b
        # emits exactly that posting; postings a branch drops could
        # never have joined (value absent from the batch's set).
        branches = []
        for b, vals in enumerate(band_sets):
            if not vals:
                continue
            branches.append(
                spark.read.parquet(path)
                .filter(F.col(f"band{b}").isin(vals))
                .select(
                    F.col(id_col).alias("old_id"),
                    F.col("simhash").alias("sig_o"),
                    F.lit(b).cast("int").alias("band_idx"),
                    F.col(f"band{b}").cast("bigint").alias("band_val"),
                )
            )
        if not branches:
            o = spark.read.parquet(path).select(
                F.col(id_col).alias("old_id"),
                F.col("simhash").alias("sig_o"),
                F.posexplode(
                    F.array(*[F.col(f"band{b}") for b in range(bands)])
                ).alias("band_idx", "band_val"),
            ).limit(0)
        else:
            from functools import reduce

            o = reduce(lambda a, c: a.unionByName(c), branches)
    else:
        o = spark.read.parquet(path).select(
            F.col(id_col).alias("old_id"),
            F.col("simhash").alias("sig_o"),
            F.posexplode(
                F.array(*[F.col(f"band{b}") for b in range(bands)])
            ).alias("band_idx", "band_val"),
        )

    n = new_sig.select(
        F.col("doc_id").alias("new_id"),
        F.col("simhash").alias("sig_n"),
        F.posexplode(
            F.array(*_band_cols("simhash", bits, bands))
        ).alias("band_idx", "band_val"),
    )
    # First-band dedup, verbatim from simhash_pairs_between: a pair
    # exits the join exactly once, at the first band both agree on.
    first_band = F.expr(
        f"band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"(shiftright(sig_n, b * {width}) & {mask}) = "
        f"(shiftright(sig_o, b * {width}) & {mask}))"
    )
    return (
        n.join(o, ["band_idx", "band_val"])
        .withColumn(
            "hamming", F.expr("cast(bit_count(sig_n ^ sig_o) as int)")
        )
        .filter((F.col("hamming") <= max_distance) & first_band)
        .select("new_id", "old_id", "hamming")
    )
