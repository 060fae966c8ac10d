"""Packed-shard writer (sources/shard_writer): the written bytes must
re-derive the manifest exactly (census == manifest == assignment), rows
inside each shard file must be in doc_id order (the loader concatenates
top to bottom), the written spans must tile [0, total_tokens) with no
gap or overlap, and the token-unit seam must carry through."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gistdex_spark.operators.pipeline import shard_manifest
from gistdex_spark.sources.shard_writer import (
    read_shard_census,
    read_shard_manifest,
    write_packed_shards,
)
from gistdex_spark.sources.tables import load_table
from tests.conftest import SF_CORRECTNESS, persistent_rdd_ids

SHARD_TOKENS = 2048


def _frame(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shards") / "packed")
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    write_packed_shards(docs, out, shard_tokens=SHARD_TOKENS)
    return out


def test_census_equals_manifest_equals_assignment(spark, written):
    """Three-way: census from written bytes == the manifest sidecar ==
    a fresh shard_manifest over the source corpus."""
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    census = _frame(read_shard_census(spark, written))
    sidecar = _frame(read_shard_manifest(spark, written))
    fresh = _frame(shard_manifest(docs, shard_tokens=SHARD_TOKENS))
    assert census == sidecar == fresh
    assert len(census) > 1  # multiple shards, non-vacuous


def test_in_shard_file_order_is_doc_id(written):
    """Every written parquet file must hold doc_ids in ascending order —
    in-shard order is part of the writer contract, read RAW (pyarrow,
    no Spark reorder)."""
    files = glob.glob(os.path.join(written, "shard_id=*", "*.parquet"))
    assert files
    checked = 0
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), f
        checked += len(ids)
    assert checked > 0


def test_spans_tile_exactly(spark, written):
    """The stored (start, n_tok) spans, ordered by doc_id, must tile
    [0, total) exactly: each document starts where the previous ended.
    This is the seek contract a loader relies on."""
    rows = (
        spark.read.parquet(written)
        .select("doc_id", "n_tok", "start")
        .orderBy("doc_id")
        .collect()
    )
    docs_n = load_table(spark, SF_CORRECTNESS, "documents").count()
    assert len(rows) == docs_n  # no dropped/duplicated docs
    pos = 0
    for r in rows:
        assert r["start"] == pos, r["doc_id"]
        pos += r["n_tok"]
    assert pos == sum(r["n_tok"] for r in rows)


def test_shard_id_matches_start(spark, written):
    """Assignment rule on the written rows: shard_id (the hive
    partition value) == floor(start / shard_tokens) for every row."""
    bad = (
        spark.read.parquet(written)
        .filter(
            F.col("shard_id").cast("bigint")
            != F.floor(F.col("start") / F.lit(SHARD_TOKENS))
        )
        .count()
    )
    assert bad == 0


def test_token_unit_seam_carries_through(spark, tmp_path):
    """Writing with the BPE count column must produce a manifest equal
    to shard_manifest under the same unit — the writer inherits the
    token_count_col seam, not a private unit."""
    from gistdex_spark.functions.bpe import bpe_token_count, load_merges

    merges_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "bpe_merges.json",
    )
    merges = load_merges(merges_path)
    docs = load_table(spark, SF_CORRECTNESS, "documents").filter(
        F.col("doc_id") < 100
    )
    out = str(tmp_path / "bpe_shards")
    write_packed_shards(
        docs, out, shard_tokens=512,
        token_count_col=bpe_token_count("text", merges),
    )
    want = _frame(
        shard_manifest(
            docs, shard_tokens=512,
            token_count_col=bpe_token_count("text", merges),
        )
    )
    assert _frame(read_shard_census(spark, out)) == want
    assert len(want) > 1


def test_append_converges_to_single_write(spark, tmp_path):
    """write(b1); append(b2); append(b3) must census-equal
    write(b1∪b2∪b3) — the daily-ingest contract: spans continue at the
    stored stream end, existing rows never rewritten. Each unseamed
    append releases its own checkpoints."""
    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    from gistdex_spark.sources.shard_writer import append_packed_shards

    out_inc = str(tmp_path / "inc")
    out_all = str(tmp_path / "all")
    b1 = docs.filter(F.col("doc_id") < 150)
    b2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 320))
    b3 = docs.filter(F.col("doc_id") >= 320)
    write_packed_shards(b1, out_inc, shard_tokens=SHARD_TOKENS)
    before = persistent_rdd_ids(spark)
    append_packed_shards(spark, b2, out_inc, shard_tokens=SHARD_TOKENS)
    append_packed_shards(spark, b3, out_inc, shard_tokens=SHARD_TOKENS)
    assert persistent_rdd_ids(spark) <= before
    write_packed_shards(docs, out_all, shard_tokens=SHARD_TOKENS)
    got = _frame(read_shard_census(spark, out_inc))
    want = _frame(read_shard_census(spark, out_all))
    assert got == want and len(got) > 1
    # manifest sidecar refreshed to the full census
    assert _frame(read_shard_manifest(spark, out_inc)) == want
    # the appended spans still tile exactly
    rows = (
        spark.read.parquet(out_inc)
        .select("n_tok", "start")
        .orderBy("doc_id")
        .collect()
    )
    pos = 0
    for r in rows:
        assert r["start"] == pos
        pos += r["n_tok"]


def test_write_without_seam_tokenizes_once_and_releases(spark, tmp_path):
    """Without a ``materialize`` seam the writer owns its checkpoints:
    the token count is evaluated once per document (the prefix sum's
    input is materialized before the range exchange samples it), and no
    checkpoint outlives the write."""
    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    calls = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def n_tok(text):
        calls.add(1)
        return len(text.split())

    before = persistent_rdd_ids(spark)
    out = str(tmp_path / "counted")
    write_packed_shards(
        docs, out, shard_tokens=SHARD_TOKENS, token_count_col=n_tok("text")
    )
    assert calls.value == n_docs
    assert persistent_rdd_ids(spark) <= before
    assert _frame(read_shard_census(spark, out))


def test_append_rejects_non_monotone_batch(spark, tmp_path):
    """Assignment is a function of the doc_id-ordered stream: a batch
    containing an id at or below the stored maximum must raise (history
    would need rewriting), and the store must be untouched."""
    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    from gistdex_spark.sources.shard_writer import append_packed_shards

    out = str(tmp_path / "mono")
    write_packed_shards(
        docs.filter(F.col("doc_id") >= 100), out, shard_tokens=SHARD_TOKENS
    )
    before = _frame(read_shard_census(spark, out))
    with pytest.raises(ValueError, match="doc_id <= stored max"):
        append_packed_shards(
            spark,
            docs.filter(F.col("doc_id") < 100),
            out,
            shard_tokens=SHARD_TOKENS,
        )
    assert _frame(read_shard_census(spark, out)) == before


@pytest.mark.parametrize("seam", [False, True], ids=["no_seam", "seam"])
def test_append_guard_runs_before_write(spark, tmp_path, seam):
    """Both guard paths reject an out-of-order batch and leave the store
    untouched. Without a seam the guard probes doc_id alone, so it raises
    before the batch's token count is ever evaluated."""
    from gistdex_spark.sources.shard_writer import append_packed_shards

    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "guard")
    write_packed_shards(
        docs.filter(F.col("doc_id") >= 100), out, shard_tokens=SHARD_TOKENS
    )
    before = _frame(read_shard_census(spark, out))
    late = docs.filter(F.col("doc_id") < 100)
    kw = (
        {"materialize": lambda d: d.localCheckpoint(eager=True)}
        if seam
        else {"token_count_col": F.raise_error(F.lit("token count evaluated"))}
    )
    with pytest.raises(ValueError, match="doc_id <= stored max"):
        append_packed_shards(
            spark, late, out, shard_tokens=SHARD_TOKENS, **kw
        )
    assert _frame(read_shard_census(spark, out)) == before


def test_curriculum_writer_ranks_narrow_rows(spark, monkeypatch):
    """curriculum_shard_write_census must stamp its curriculum order on
    NARROW (doc_id, quality) rows — the global_row_index docstring's own
    rule: the rank depends only on (quality, doc_id), so the range
    exchange and the materialized (checkpointed) ranged frame must never
    carry the text payload. The payload joins the rank map by doc_id
    once, on its way into the writer. Regression guard for the r14-opt
    restructure; the VALUE is separately oracle-gated (parity suite)."""
    from gistdex_spark.operators import pipeline as pipeline_mod
    from gistdex_spark.queries import REGISTRY

    seen: list[list[str]] = []
    real = pipeline_mod.global_row_index

    def spy(df, *args, **kwargs):
        seen.append(list(df.columns))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(
        "gistdex_spark.queries.P.global_row_index", spy
    )
    REGISTRY["curriculum_shard_write_census"](spark, SF_CORRECTNESS).collect()
    assert seen, "curriculum writer no longer routes through global_row_index"
    for cols in seen:
        assert "text" not in cols, (
            f"rank input must be narrow, got {cols}: payload bytes would "
            "cross the range exchange and be materialized by the checkpoint"
        )


def test_torn_store_append_raises_not_drops(spark, tmp_path):
    """Torn-store detection (r14 ADVICE high): if a crashed append
    published only part of a batch (committer-v2 semantics), the stored
    spans no longer tile [0, total). A later append must RAISE, not
    trust max(doc_to) and freeze the hole into the stream."""
    import shutil

    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    from gistdex_spark.sources.shard_writer import append_packed_shards

    out = str(tmp_path / "torn")
    write_packed_shards(docs, out, shard_tokens=SHARD_TOKENS)
    shard_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("shard_id=")
    )
    assert len(shard_dirs) >= 3, "need an interior shard to tear out"
    # Tear an INTERIOR shard out: a hole the max-doc guard cannot see.
    shutil.rmtree(os.path.join(out, shard_dirs[len(shard_dirs) // 2]))
    max_doc = (
        spark.read.parquet(out).agg(F.max("doc_id").alias("m")).first()["m"]
    )
    late = spark.range(max_doc + 1, max_doc + 4).select(
        F.col("id").alias("doc_id"), F.lit("tail doc").alias("text")
    )
    with pytest.raises(ValueError, match="torn"):
        append_packed_shards(spark, late, out, shard_tokens=SHARD_TOKENS)


def test_nofork_local_fs_installed_and_checksummed(spark, tmp_path):
    """The vendored NoForkLocalFileSystem (r15-opt: kills the
    per-created-path /bin/chmod fork of libhadoop-less local FS) must be
    the active file:// implementation, and must preserve
    ChecksumFileSystem semantics — CRC sidecars still written, values
    unchanged through a partitioned write+read roundtrip."""
    assert (
        spark.conf.get("spark.hadoop.fs.file.impl")
        == "gistdexspark.fs.NoForkLocalFileSystem"
    )
    docs = load_table(spark, SF_CORRECTNESS, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "nofork")
    write_packed_shards(docs, out, shard_tokens=SHARD_TOKENS)
    got = _frame(read_shard_census(spark, out))
    assert len(got) > 1
    crcs = glob.glob(os.path.join(out, "shard_id=*", ".*.crc"))
    assert crcs, "checksum sidecars must survive the no-fork FS swap"
