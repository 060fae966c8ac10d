"""Streaming ingestion: a document stream indexed into the chunk store.

``foreachBatch`` is the right tool because the ingest pipeline needs two
things a pure streaming sink can't do: the incremental anti-join against
the EXISTING store (skip already-indexed sources, reference behavior J7)
and the batch writer's partitioned layout. Each micro-batch runs the
identical batch pipeline — chunk, embed, id, append — so stream ingest
and batch ingest produce byte-identical stores.

Exactly-once: the anti-join dedupes re-delivered sources against the
store itself, so a replayed micro-batch is a no-op — idempotent without
relying on sink-side transactions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.materialize import Materializer, scope


def stream_index(
    texts: DataFrame,
    store_path: str,
    dim: int = 64,
    strategy: str = "fixed",
    size: int = 1000,
    overlap: int = 200,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_index",
):
    """Start an AvailableNow ingestion of a streaming (source_id, content
    [, source_type]) frame into the chunk store at ``store_path``.
    Returns the StreamingQuery; callers awaitTermination()."""
    from gistdex_spark.api import GistdexSpark

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        engine = GistdexSpark(batch_df.sparkSession, store_path, dim=dim)
        engine.index_text(
            batch_df,
            strategy=strategy,
            size=size,
            overlap=overlap,
            incremental=True,
        )

    writer = (
        texts.writeStream.foreachBatch(ingest_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_neardup_filter(
    docs: DataFrame,
    static_docs: DataFrame,
    out_path: str,
    max_distance: int = 3,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_neardup_filter",
):
    """Streaming near-dup ADMISSION filter: each micro-batch of incoming
    (doc_id, text) documents is SimHash-banded-joined against the static
    corpus and only documents with NO static near-dup within Hamming
    ``max_distance`` are appended to ``out_path`` (parquet).

    ``foreachBatch`` because the check is the batch operator
    :func:`~gistdex_spark.operators.dedup.simhash_pairs_between`
    verbatim (its signature agg needs full-batch semantics a pure
    streaming plan would treat as unbounded state) — so the stream and
    batch admission decisions are identical by construction, and the
    anti-join makes re-delivered batches idempotent at the decision
    level. At 100 TB the static side is the STORED signature table
    (read, not recomputed) partitioned by band — that form is
    :func:`stream_neardup_filter_stored`, backed by
    ``sources/band_store``. Within-batch self-duplicates
    are deliberately left to the periodic full dedup pass over the
    accepted store (the standard two-tier design: cheap admission
    filter at ingest, transitive-closure dedup offline).
    """
    from gistdex_spark.operators.dedup import simhash_pairs_between

    return _neardup_admission(
        docs,
        lambda batch: simhash_pairs_between(
            batch, static_docs, max_distance=max_distance
        ),
        out_path,
        checkpoint_dir,
        query_name,
    )


def stream_neardup_filter_stored(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    max_distance: int = 3,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_neardup_filter_stored",
):
    """:func:`stream_neardup_filter` with the static corpus side read
    from a :mod:`~gistdex_spark.sources.band_store` signature store —
    each micro-batch probes (id, simhash, band) columns with per-band
    partition/row-group pruning instead of re-tokenizing the corpus's
    text every batch. Admission decisions are identical to the
    recompute form by the store's frame-equality contract
    (tests/test_band_store.py + tests/test_stream_ingest.py)."""
    from gistdex_spark.sources.band_store import incremental_pairs_stored

    return _neardup_admission(
        docs,
        lambda batch: incremental_pairs_stored(
            batch.sparkSession, store_path, batch, max_distance=max_distance
        ),
        out_path,
        checkpoint_dir,
        query_name,
    )


def stream_neardup_filter_minhash_stored(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_neardup_filter_minhash_stored",
):
    """:func:`stream_neardup_filter_stored` for the MinHash/Jaccard
    family: each micro-batch probes a ``sources/minhash_store``
    signature store (band-prefix partition pruning + pushed band
    filters; the corpus text is never re-shingled) and only documents
    with NO stored near-dup at ``est_jaccard ≥ threshold`` are
    admitted. Decisions are identical to recomputing both sides by the
    store's frame-equality contract (tests/test_minhash_store.py);
    within-batch self-duplicates are left to the offline pass, the
    band_store admission design verbatim."""
    from gistdex_spark.sources.minhash_store import _new_old_pairs

    return _neardup_admission(
        docs,
        lambda batch: _new_old_pairs(
            batch.sparkSession, store_path, batch,
            num_hashes=num_hashes, bands=bands, n=n, threshold=threshold,
        ),
        out_path,
        checkpoint_dir,
        query_name,
    )


def _neardup_admission(
    docs: DataFrame,
    pairs_of_batch,
    out_path: str,
    checkpoint_dir: str | None,
    query_name: str,
):
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # The pair probe's checkpoints are released with the batch.
        with Materializer() as m, scope(m):
            hits = (
                pairs_of_batch(batch_df)
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            survivors = batch_df.join(hits, "doc_id", "left_anti")
            # Redelivery guard: foreachBatch is at-least-once (a crash
            # between the append and the batch commit replays the
            # batch), so anti-join against the ids ALREADY in the
            # accepted store — exactly the idempotence contract
            # stream_index keeps via its store anti-join. First batch:
            # no store yet.
            spark = batch_df.sparkSession
            from pyspark.errors import AnalysisException

            try:
                existing = spark.read.parquet(out_path).select("doc_id")
                survivors = survivors.join(existing, "doc_id", "left_anti")
            except AnalysisException:
                # Store not created yet (first batch): PATH_NOT_FOUND /
                # UNABLE_TO_INFER_SCHEMA. Anything else (corrupt footer,
                # FS error) must SURFACE — swallowing it would silently
                # disable the idempotence guard and let a replay append
                # duplicates.
                pass
            survivors.write.mode("append").parquet(out_path)

    writer = (
        docs.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_shard_append(
    docs: DataFrame,
    out_path: str,
    shard_tokens: int = 2048,
    checkpoint_dir: str | None = None,
    query_name: str = "stream_shard_append",
):
    """Streaming packed-shard WRITER: each micro-batch of (doc_id,
    text) rows is appended to a ``sources/shard_writer`` store —
    spans continue at the stored stream end, so the shards on disk
    converge to exactly the single-shot ``write_packed_shards`` over
    everything seen (tests/test_stream_ingest.py mirror discipline;
    the batch operator is :func:`~gistdex_spark.sources.shard_writer.
    append_packed_shards` verbatim).

    Redelivery guard: foreachBatch is at-least-once, and the writer's
    monotone-doc_id contract gives the guard for free — replayed rows
    are exactly those at or below the stored max doc_id, so the batch
    is filtered against it (one manifest-sized census read) and a full
    replay becomes a no-op instead of raising or double-appending. The
    first batch bootstraps the store.

    Crash safety (r14 ADVICE high): this PERSISTENT max-doc-guarded
    store must not inherit the session-wide FileOutputCommitter v2 —
    v2 publishes task output immediately, so a job dying mid-append
    leaves a torn batch visible and the max-doc filter would drop the
    replay's unwritten lower-doc rows forever. Every write on this path
    therefore scopes the committer back to v1 per-write
    (``committer_version="1"`` — nothing visible before job commit),
    and the guard additionally VERIFIES stream contiguity from the
    census before trusting max_doc (the tiling check also runs inside
    ``append_packed_shards``), so even a tear inside v1's job-commit
    window surfaces as a loud error instead of a silent gap.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        from pyspark.errors import AnalysisException  # noqa: PLC0415

        from gistdex_spark.sources.shard_writer import (  # noqa: PLC0415
            _check_untorn,
            append_packed_shards,
            read_shard_census,
            write_packed_shards,
        )

        batch = batch_df.select("doc_id", "text")
        # Every checkpoint of this micro-batch (the census, the append's
        # narrow spans) is released when the batch is done.
        with Materializer() as m:
            try:
                # ONE store scan per micro-batch (r14-opt): the census is
                # materialized here, drives the redelivery filter, and is
                # handed to append_packed_shards (stored_census seam) so
                # the append's guard + manifest refresh reuse it instead
                # of re-scanning the store.
                census = m(read_shard_census(spark, out_path))
            except AnalysisException:
                # Store not created yet (first batch): PATH_NOT_FOUND /
                # UNABLE_TO_INFER_SCHEMA. Anything else (corrupt footer,
                # FS error) must SURFACE — swallowing it would bootstrap
                # a second store over a readable one.
                write_packed_shards(
                    batch, out_path, shard_tokens=shard_tokens,
                    committer_version="1",
                )
                return
            # One agg for the redelivery scalar AND the torn-store tiling
            # check — the check must run BEFORE the fresh-empty early
            # return: a tear that kept the batch's highest doc_id would
            # otherwise look like "already appended" and freeze the gap
            # in forever (docstring).
            stored = census.agg(
                F.max("doc_to").alias("max_doc"),
                F.max("token_end").alias("stream_end"),
                F.sum("n_tokens").alias("sum_tokens"),
                F.min("token_start").alias("min_start"),
            ).first()
            _check_untorn(stored, out_path)
            max_doc = stored["max_doc"]
            fresh = (
                batch.filter(F.col("doc_id") > F.lit(max_doc))
                if max_doc is not None
                else batch
            )
            if not fresh.head(1):
                return
            append_packed_shards(
                spark, fresh, out_path, shard_tokens=shard_tokens,
                materialize=m, stored_census=census, committer_version="1",
            )

    writer = (
        docs.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_graph_update(
    emb: DataFrame,
    store_path: str,
    k: int = 5,
    nbits: int = 6,
    n_tables: int = 10,
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    query_name: str = "stream_graph_update",
):
    """Streaming kNN-GRAPH maintenance: each micro-batch of incoming
    (id, embedding) rows is merged into a ``sources/graph_store`` — new
    rows probe the STORED bucket columns, score against bucket members
    only, and the stored edge list re-ranks under the new candidates.
    Old-vs-old is never rescored; each batch's work is
    (batch × bucket-mates) + (batch × batch), not corpus².

    ``foreachBatch`` because the merge is the batch operator
    :func:`~gistdex_spark.sources.graph_store.update_graph_store`
    verbatim — stream and batch maintenance produce identical stored
    graphs by the store's frame-equality contract
    (tests/test_graph_store.py). Redelivery guard: foreachBatch is
    at-least-once, so the batch is anti-joined against the ids already
    in the store's members before applying — a replayed batch becomes
    a no-op instead of appending duplicate members and corrupting the
    graph. The guard is SOUND because the store commits members and
    edges with one atomic version flip (r13; the r12 layout appended
    members before the edge swap, so a crash in that window made the
    replay a no-op while the members' edges were never built — the
    graph silently diverged). Post-flip the batch's members imply its
    edges; pre-flip (including a crash mid-bootstrap, which now leaves
    the store UNINITIALIZED rather than half-written) the replay
    redoes the whole merge against unchanged state.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        from gistdex_spark.sources.graph_store import (
            resolve_store_root,
            update_graph_store,
            write_graph_store,
        )

        root = resolve_store_root(store_path)
        if root is None:
            # Store not initialized: the first batch bootstraps it.
            write_graph_store(
                batch_df, store_path, k=k, nbits=nbits, n_tables=n_tables,
                id_col=id_col,
            )
            return
        import os

        existing = spark.read.parquet(os.path.join(root, "members")).select(
            id_col
        )
        fresh = batch_df.join(existing, id_col, "left_anti")
        if not fresh.head(1):
            return
        # The merge's checkpoints are released with the batch.
        with Materializer() as m, scope(m):
            update_graph_store(
                spark, store_path, fresh, k=k, nbits=nbits, n_tables=n_tables,
                id_col=id_col,
            )

    writer = (
        emb.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
