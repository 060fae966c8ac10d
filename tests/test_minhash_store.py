"""MinHash store at rest: yesterday's pair set + the incremental frame
must equal the batch minhash_lsh_pairs on (old ∪ new) exactly, the
store probe must prune partitions (p0 prefix) and push band IN-lists,
the prefilter cap must only ever disable an optimization, and geometry
mismatches must fail loudly."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from gistdex_spark.operators.dedup import minhash_lsh_pairs
from gistdex_spark.sources import minhash_store
from gistdex_spark.sources.minhash_store import (
    incremental_pairs_full,
    incremental_pairs_stored,
    write_minhash_store,
)
from gistdex_spark.sources.tables import load_table
from tests.conftest import SF_CORRECTNESS, drain, persistent_rdd_ids

# A loose threshold so the synthetic corpus yields a non-vacuous pair
# set across all three (old×old / new×old / new×new) categories.
TH = 0.25


@pytest.fixture(scope="module")
def split(spark):
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    # % 4 == 0 keeps the new slice large enough to carry WITHIN-slice
    # near-dups (the new×new category must be non-vacuous below).
    new = docs.filter(F.col("doc_id") % 4 == 0)
    old = docs.filter(F.col("doc_id") % 4 != 0)
    return new, old


@pytest.fixture(scope="module")
def store_path(spark, split, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("minhash") / "store")
    write_minhash_store(split[1], path)
    return path


def _frame(df):
    return sorted(map(tuple, df.collect()))


def test_union_decomposition_equals_batch_rebuild(spark, split, store_path):
    """The daily-ingest contract: pairs(old) ∪ incremental_full(new)
    == minhash_lsh_pairs(old ∪ new). Old text is never re-shingled —
    the old side of the incremental frame is the stored signature
    read."""
    new, old = split
    want = _frame(minhash_lsh_pairs(old.unionByName(new), threshold=TH))
    old_pairs = _frame(minhash_lsh_pairs(old, threshold=TH))
    incr = _frame(
        incremental_pairs_full(spark, store_path, new, threshold=TH)
    )
    assert sorted(old_pairs + incr) == want
    # non-vacuous on every category
    assert len(old_pairs) > 0
    new_ids = {r[0] for r in new.select("doc_id").collect()}
    cross = [p for p in incr if (p[0] in new_ids) != (p[1] in new_ids)]
    nn = [p for p in incr if p[0] in new_ids and p[1] in new_ids]
    assert len(cross) > 0 and len(nn) > 0


def test_store_probe_prunes_partitions_and_pushes_bands(
    spark, split, store_path
):
    new, _ = split
    df = incremental_pairs_stored(spark, store_path, new, threshold=TH)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # band0's derived prefix list prunes directories before IO; every
    # band's string IN-list is a pushed parquet filter.
    assert re.search(r"PartitionFilters: \[p0#\d+ INSET", plan)
    for b in range(4):
        assert f"In(band{b}" in plan
    # the stored signatures are read, never recomputed: no shingling
    # (md5-of-substring minhash arithmetic) on the store branches —
    # conv() appears only in the batch side's signature build.
    n_conv = plan.count("conv(substring(md5(")
    assert n_conv == 0, "store branch re-shingles text"


def test_prefilter_cap_disables_not_corrupts(
    spark, split, store_path, monkeypatch
):
    new, old = split
    want = _frame(
        incremental_pairs_stored(spark, store_path, new, threshold=TH)
    )
    monkeypatch.setattr(minhash_store, "_PREFILTER_CAP", 0)
    got = _frame(
        incremental_pairs_stored(spark, store_path, new, threshold=TH)
    )
    assert got == want and len(got) > 0


def test_geometry_guards(spark, split, store_path, tmp_path):
    new, old = split
    # probe with mismatched shingle width / band count fails loudly
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_pairs_stored(spark, store_path, new, n=4)
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_pairs_stored(spark, store_path, new, bands=2)
    # append with mismatched geometry fails before any rows land
    n_before = spark.read.parquet(store_path).count()
    with pytest.raises(ValueError, match="geometry mismatch"):
        write_minhash_store(new, store_path, num_hashes=8, mode="append")
    assert spark.read.parquet(store_path).count() == n_before
    with pytest.raises(ValueError, match="divisible"):
        write_minhash_store(new, str(tmp_path / "bad"), num_hashes=10, bands=4)


def test_update_applies_batch_and_replay_is_idempotent(
    spark, split, tmp_path_factory
):
    """update_minhash_store returns the incremental pair frame and
    appends the batch's signatures; REPLAYING the same batch (the
    at-least-once redelivery case) must not append duplicate signature
    rows — duplicated members would make every later probe emit
    duplicate pairs."""
    from gistdex_spark.sources.minhash_store import update_minhash_store

    new, old = split
    b1 = new.filter(F.col("doc_id") < 250)
    b2 = new.filter(F.col("doc_id") >= 250)
    path = str(tmp_path_factory.mktemp("minhash_upd") / "store")
    write_minhash_store(old, path)
    first = _frame(update_minhash_store(spark, path, b1, threshold=TH))
    # the first application's returned frame IS the incremental frame
    assert len(first) > 0
    n_rows = spark.read.parquet(path).count()
    # replay: same batch again — no new signature rows AND an EMPTY
    # returned pair frame (r13 ADVICE medium: the old code computed
    # pairs before the id guard, so a replay returned self-pairs at
    # est_jaccard 1.0 plus a re-emission of yesterday's new×old pairs,
    # breaking the accumulation contract)
    replay = _frame(update_minhash_store(spark, path, b1, threshold=TH))
    assert replay == []
    assert spark.read.parquet(path).count() == n_rows
    # the next batch's pairs against the grown store stay exact
    want = _frame(
        minhash_lsh_pairs(
            old.unionByName(b1).unionByName(b2), threshold=TH
        )
    )
    base = _frame(minhash_lsh_pairs(old.unionByName(b1), threshold=TH))
    incr = _frame(incremental_pairs_full(spark, path, b2, threshold=TH))
    assert sorted(base + incr) == want


def test_streaming_admission_matches_batch_decision(spark, tmp_path):
    """The streaming mirror: micro-batches filtered through
    stream_neardup_filter_minhash_stored must admit exactly the
    documents with no stored near-dup at the threshold — the batch
    operator's decision, with the corpus side read from signatures."""
    import json as _json
    import os

    from gistdex_spark.streaming.ingest import (
        stream_neardup_filter_minhash_stored,
    )

    static_docs = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog " * 10),
            (101, "pack my box with five dozen liquor jugs today " * 10),
        ],
        "doc_id BIGINT, text STRING",
    )
    store = str(tmp_path / "mh_store")
    write_minhash_store(static_docs, store)

    incoming = [
        (1, "the quick brown fox jumps over the lazy dog " * 10 + "x"),
        (2, "completely different content about spark streaming " * 10),
        (3, "pack my box with five dozen liquor jugs today " * 10 + "y"),
    ]
    src = str(tmp_path / "mh_src")
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/b0.json", "w") as f:
        for i, t in incoming:
            f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").json(src)
    out = str(tmp_path / "mh_out")
    q = stream_neardup_filter_minhash_stored(
        stream, store, out, threshold=TH,
        checkpoint_dir=str(tmp_path / "mh_ckpt"),
    )
    drain(q, 120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}

    batch = spark.createDataFrame(incoming, "doc_id BIGINT, text STRING")
    rejected = {
        r.doc_id_a
        for r in incremental_pairs_stored(
            spark, store, batch, threshold=TH
        ).collect()
        if r.doc_id_a in {1, 2, 3}
    } | {
        r.doc_id_b
        for r in incremental_pairs_stored(
            spark, store, batch, threshold=TH
        ).collect()
        if r.doc_id_b in {1, 2, 3}
    }
    assert got == {i for i, _ in incoming} - rejected
    assert 2 in got  # the novel doc was admitted


def test_stream_minhash_filter_releases_its_checkpoints(spark, tmp_path):
    """Every micro-batch's probe checkpoints are released with the
    batch: after a multi-batch run no RDD the stream created is still
    persisted."""
    import json as _json
    import os

    from gistdex_spark.streaming.ingest import (
        stream_neardup_filter_minhash_stored,
    )

    store = str(tmp_path / "mh_store")
    write_minhash_store(
        spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog " * 10)],
            "doc_id BIGINT, text STRING",
        ),
        store,
    )
    src = str(tmp_path / "mh_src")
    os.makedirs(src)
    for b, rows in enumerate([
        [(1, "the quick brown fox jumps over the lazy dog " * 10 + "x")],
        [(2, "completely different content about spark streaming " * 10)],
    ]):
        with open(f"{src}/b{b}.json", "w") as f:
            for i, t in rows:
                f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    before = persistent_rdd_ids(spark)
    q = stream_neardup_filter_minhash_stored(
        stream, store, str(tmp_path / "mh_out"), threshold=TH,
        checkpoint_dir=str(tmp_path / "mh_ckpt"),
    )
    drain(q, 120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    assert persistent_rdd_ids(spark) <= before


def test_append_then_probe_still_exact(spark, split, tmp_path_factory):
    """Growing the store by appending a batch (signatures only) must
    leave the next batch's incremental frame equal to the batch rebuild
    over all three slices."""
    new, old = split
    b1 = new.filter(F.col("doc_id") < 250)
    b2 = new.filter(F.col("doc_id") >= 250)
    path = str(tmp_path_factory.mktemp("minhash_app") / "store")
    write_minhash_store(old, path)
    write_minhash_store(b1, path, mode="append")
    want = _frame(
        minhash_lsh_pairs(
            old.unionByName(b1).unionByName(b2), threshold=TH
        )
    )
    base = _frame(minhash_lsh_pairs(old.unionByName(b1), threshold=TH))
    incr = _frame(incremental_pairs_full(spark, path, b2, threshold=TH))
    assert sorted(base + incr) == want


def test_partial_replay_contributes_only_fresh_slice(
    spark, split, tmp_path_factory
):
    """A batch mixing replayed (already-stored) ids with genuinely new
    ones must contribute exactly the fresh slice's pairs — fresh×stored
    (including fresh×replayed: those ARE stored) plus fresh×fresh — and
    append only the fresh signatures. Accumulation stays frame-equal to
    the batch rebuild."""
    from gistdex_spark.sources.minhash_store import update_minhash_store

    new, old = split
    b1 = new.filter(F.col("doc_id") < 250)
    b2 = new.filter(F.col("doc_id") >= 250)
    path = str(tmp_path_factory.mktemp("minhash_partial") / "store")
    write_minhash_store(old, path)
    acc = _frame(minhash_lsh_pairs(old, threshold=TH))
    acc += _frame(update_minhash_store(spark, path, b1, threshold=TH))
    # partial replay: b1 (stored) ∪ b2 (fresh) in one batch
    mixed = b1.unionByName(b2)
    got = _frame(update_minhash_store(spark, path, mixed, threshold=TH))
    b1_ids = {r[0] for r in b1.select("doc_id").collect()}
    # no returned pair may be a self-pair or lie entirely inside b1
    assert all(a != b for a, b, _ in got)
    assert not [p for p in got if p[0] in b1_ids and p[1] in b1_ids]
    acc += got
    want = _frame(
        minhash_lsh_pairs(old.unionByName(b1).unionByName(b2), threshold=TH)
    )
    assert sorted(acc) == want
    # store rows: old + b1 + b2, each exactly once
    n_docs = old.count() + b1.count() + b2.count()
    assert spark.read.parquet(path).count() == n_docs


def test_id_col_honored_end_to_end(spark, split, tmp_path_factory):
    """id_col != 'doc_id' must work through write, probe, full, and
    update (r13 ADVICE low: the replay guard hardcoded doc_id while the
    other paths renamed, so this exact call raised AnalysisException).
    The pair frames must be value-identical to the doc_id-shaped run."""
    from gistdex_spark.sources.minhash_store import update_minhash_store

    new, old = split
    b1 = new.filter(F.col("doc_id") < 250)
    old_r = old.withColumnRenamed("doc_id", "item_id")
    b1_r = b1.withColumnRenamed("doc_id", "item_id")
    path = str(tmp_path_factory.mktemp("minhash_idcol") / "store")
    write_minhash_store(old_r, path, id_col="item_id")
    assert "item_id" in spark.read.parquet(path).columns
    got = _frame(
        update_minhash_store(spark, path, b1_r, threshold=TH, id_col="item_id")
    )
    path_d = str(tmp_path_factory.mktemp("minhash_idcol_d") / "store")
    write_minhash_store(old, path_d)
    want = _frame(update_minhash_store(spark, path_d, b1, threshold=TH))
    assert got == want and len(got) > 0
    # replay under the custom id column is also a no-op
    assert _frame(
        update_minhash_store(spark, path, b1_r, threshold=TH, id_col="item_id")
    ) == []


def test_p0_width_is_layout_only(spark, split, tmp_path_factory):
    """r14-opt: the partition-prefix width is a LAYOUT property recorded
    in the sidecar — a 16-dir store (p0_chars=1) must (a) record the
    width, (b) derive 1-char pruning prefixes in the probe, (c) return
    pair frames identical to the default 256-dir store, and (d) guard
    appends: an explicit mismatching width raises before rows land,
    while an unspecified width inherits the store's."""
    new, old = split
    path1 = str(tmp_path_factory.mktemp("minhash_p01") / "store")
    write_minhash_store(old, path1, p0_chars=1)
    meta = __import__(
        "gistdex_spark.sources.store_meta", fromlist=["read_store_meta"]
    ).read_store_meta(path1)
    assert meta["p0_chars"] == 1
    df = incremental_pairs_stored(spark, path1, new, threshold=TH)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[p0#\d+ INSET ((?:\w+)(?:, \w+)*)", plan)
    assert m and all(len(v) == 1 for v in m.group(1).split(", "))
    path2 = str(tmp_path_factory.mktemp("minhash_p02") / "store")
    write_minhash_store(old, path2)
    want = _frame(incremental_pairs_stored(spark, path2, new, threshold=TH))
    assert _frame(df) == want and len(want) > 0
    # appends: explicit mismatch raises before any rows land …
    n_before = spark.read.parquet(path1).count()
    with pytest.raises(ValueError, match="geometry mismatch"):
        write_minhash_store(new, path1, mode="append", p0_chars=2)
    assert spark.read.parquet(path1).count() == n_before
    # … and an unspecified width inherits the store's layout
    write_minhash_store(new, path1, mode="append")
    assert spark.read.parquet(path1).count() == n_before + new.count()


def test_decontaminate_stored_equals_between(spark, tmp_path):
    """Stored-benchmark decontamination: probing the corpus against a
    persisted benchmark store must be frame-equal to the recompute
    form's minhash_pairs_between(corpus, benchmark) — same banding
    expression, same first-agreeing-band dedup, same rounded estimate.
    The benchmark side is never re-shingled (the fixed-eval-suite
    daily-ingest shape)."""
    from gistdex_spark.operators.dedup import minhash_pairs_between
    from gistdex_spark.sources.minhash_store import (
        decontaminate_pairs_stored,
    )

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    store = str(tmp_path / "bench_store")
    write_minhash_store(bench, store)
    want = _frame(minhash_pairs_between(corpus, bench, threshold=TH))
    got = _frame(
        decontaminate_pairs_stored(spark, store, corpus, threshold=TH)
    )
    assert got == want and len(got) > 0
