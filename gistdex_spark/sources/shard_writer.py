"""Packed-shard writer: consume the shard manifest assignment and
actually WRITE the pretraining shards.

``operators/pipeline.shard_manifest`` computes the fixed-token-budget
shard assignment (concatenate in doc_id order, a document lands in the
shard its first token falls in); until round 14 nothing consumed it —
the manifest was an audit, not a writer (r13 verdict item 5). This
module closes that gap:

- :func:`write_packed_shards` materializes one parquet directory PER
  SHARD (``shard_id=N/`` hive partitions) with rows
  (doc_id, text, n_tok, start) in in-shard doc_id order, plus the
  manifest itself under ``_manifest/`` (underscore-prefixed, invisible
  to Spark's partition discovery of the shard data). The token span
  every row carries (start, start + n_tok) is the footer metadata a
  loader needs to seek without re-tokenizing.
- :func:`read_shard_census` re-derives the per-shard census from the
  STORED columns of the written shards — NOT from the source corpus.
  Census == manifest == the DuckDB prefix-sum oracle is therefore an
  end-to-end write/read verification: a writer that dropped rows,
  mangled assignment, or wrote wrong spans cannot pass (the registry's
  ``shard_write_census`` carries exactly that oracle).

Write shape at scale (r14-opt): decide with small rows, move big rows
once (the §8 discipline of the optimization guide). The assignment
comes from ONE ``global_prefix_sum`` over NARROW metadata —
(doc_id, n_tok) only; one range exchange, no corpus-wide window, and
the materialized checkpoint holds a few dozen bytes per document no
matter how large the payloads are (the pre-r14-opt shape ran the
prefix sum over the payload-bearing rows, checkpointing the whole
corpus and shuffling payload bytes through the range exchange, and
then ran a SECOND full tokenize pass for the manifest). The narrow
assignment frame feeds the manifest aggregation directly and joins
back to the payload rows for the data write — broadcast when it fits,
a co-shuffled doc_id join past that — so payload bytes are never
checkpointed and cross ONE exchange while the spans side broadcasts
(the final ``repartition("shard_id")``) or TWO past broadcast scale
(the doc_id join's co-shuffle plus the shard repartition; at 100 TB
the spans frame is corpus-row-count-sized, so the two-exchange shape
is the honest production expectation — still strictly better than the
pre-r14 form, which checkpointed every payload byte AND shuffled it
through the range exchange). Each shard's rows land in one task → one
file per shard, sorted by ``sortWithinPartitions(shard_id, doc_id)`` (rows
inside a parquet file keep task-local sort order). Shards carry equal
token mass by construction, so the shuffle is skew-free; choose
``shard_tokens`` so one shard ≈ one target file size (the test
harness's 2048 tokens is a toy — a 100 TB run uses ~10⁸ tokens/shard,
keeping the partition count in the thousands).

In-shard ORDER is part of the contract (a sequence-packing loader
concatenates the file top to bottom): pinned in
tests/test_shard_writer.py by reading each shard file raw and
asserting doc_id monotonicity, alongside the census round-trip and a
reconstruction check that the concatenated spans tile [0, total)
exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.materialize import Materialize, Materializer
from gistdex_spark.operators.pipeline import global_prefix_sum


def _with_committer(writer, committer_version):
    """Per-WRITE FileOutputCommitter algorithm override: DataFrameWriter
    options are injected into the write job's Hadoop conf
    (``newHadoopConfWithOptions``), so this scopes the committer to one
    write without touching the session-wide v2 default (session.py).
    The streaming shard-append path passes ``"1"``: v2 publishes task
    outputs immediately, so a job dying mid-append leaves a torn batch
    VISIBLE, and the replay's max-doc redelivery guard would then drop
    the batch's unwritten lower-doc rows forever (r14 ADVICE). With v1
    nothing is visible until job commit; the remaining tear window (a
    crash inside job commit itself) is caught by the contiguity
    verification in :func:`append_packed_shards`. Plumbing is
    empirically pinned by tests/test_shard_writer.py (an invalid
    version must raise from inside the committer)."""
    if committer_version is not None:
        writer = writer.option(
            "mapreduce.fileoutputcommitter.algorithm.version",
            str(committer_version),
        )
    return writer


def _check_untorn(stored, out_path: str) -> None:
    """Torn-store detection from the census scalars: written spans are
    disjoint by construction and a correct store tiles [0, total)
    exactly (test-pinned), so min(token_start) == 0 and
    sum(n_tokens) == max(token_end) iff no interior rows are missing. A
    tear that lost only the TOP of a batch is indistinguishable from a
    shorter successful append and heals on replay; any interior hole
    means a committer published part of a crashed job (v2 semantics) —
    appending past it would freeze the gap into the stream, so raise
    loudly instead of silently dropping the replayed rows."""
    stream_end = int(stored["stream_end"] or 0)
    sum_tokens = int(stored["sum_tokens"] or 0)
    min_start = int(stored["min_start"] or 0)
    if min_start != 0 or sum_tokens != stream_end:
        raise ValueError(
            f"shard store at {out_path} is torn: stored spans cover "
            f"{sum_tokens} tokens but the stream claims "
            f"[{min_start}, {stream_end}) — a previous write crashed "
            f"after publishing partial task output. Repair by "
            f"rewriting the store (write_packed_shards over the full "
            f"source) before appending."
        )


def _census_agg(rows: DataFrame) -> DataFrame:
    """The seven manifest columns aggregated from per-row
    (shard_id, doc_id, n_tok, start) — ONE definition shared by the
    write-side manifest (aggregated from the staged frame), the
    read-side census (aggregated from the written bytes), and the
    append-side merge, so the three cannot drift. Identical math to
    ``operators/pipeline.shard_manifest``'s aggregation (equality
    pinned in tests/test_shard_writer.py)."""
    return rows.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("doc_from"),
        F.max("doc_id").cast("bigint").alias("doc_to"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("start").cast("bigint").alias("token_start"),
        F.max(F.col("start") + F.col("n_tok"))
        .cast("bigint")
        .alias("token_end"),
    )


def _merge_manifests(parts: DataFrame) -> DataFrame:
    """Merge manifest rows covering DISJOINT row sets of one store
    (stored census ∪ appended batch): only the boundary shard a
    straddle-continuing batch lands in appears in both halves, and
    sum/min/max over the union equals the census over all rows because
    every underlying row is counted in exactly one half."""
    return parts.groupBy("shard_id").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.min("doc_from").cast("bigint").alias("doc_from"),
        F.max("doc_to").cast("bigint").alias("doc_to"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("token_start").cast("bigint").alias("token_start"),
        F.max("token_end").cast("bigint").alias("token_end"),
    )


def _narrow_spans(
    df: DataFrame,
    shard_tokens: int,
    content_col: str,
    token_count_col,
    materialize: Materialize,
    offset: int = 0,
) -> DataFrame:
    """NARROW assignment frame (doc_id, n_tok, start, shard_id): one
    tokenize pass + one range-exchange prefix sum over metadata only,
    shifted by ``offset`` for appends.

    r14-opt (guide §8 — decide with small rows, move big rows once):
    the payload column stays OUT of this frame. The previous shape ran
    the prefix sum over (doc_id, payload, n_tok), so the payload rode
    the range exchange AND was materialized wholesale in the prefix
    sum's checkpoint — at 100 TB that checkpoints the entire
    corpus to decide byte offsets that depend only on (doc_id, n_tok).
    Now the checkpoint holds a few dozen bytes per document regardless
    of payload size; ``global_prefix_sum`` still materializes the
    ranged frame, so every consumer (data-write join, manifest
    aggregation, append guard math) reads ONE evaluated copy and the
    sample-seeded range boundaries cannot disagree between them."""
    from gistdex_spark.functions.text import tokens  # noqa: PLC0415

    n_tok = (
        token_count_col
        if token_count_col is not None
        else F.size(tokens(F.col(content_col)))
    )
    toks = df.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tok"),
    )
    spans = global_prefix_sum(
        toks, ["doc_id"], "n_tok", out_col="start", materialize=materialize
    )
    if offset:
        spans = spans.withColumn(
            "start", (F.col("start") + F.lit(offset)).cast("bigint")
        )
    b = F.lit(shard_tokens).cast("bigint")
    spans = spans.withColumn(
        "shard_id", F.floor(F.col("start") / b).cast("bigint")
    )
    # r15-opt: materialize the FINAL spans too (3rd seam call — still a
    # few dozen bytes/row). global_prefix_sum's internal checkpoint pins
    # the range boundaries, but the local-sum window + the broadcast
    # offsets join above it stayed lazy, so every consumer — the data
    # write's join, the manifest aggregation, the append guard —
    # replayed that machinery over the full metadata frame (profiled:
    # the manifest write alone re-ran ~4 jobs of window/broadcast
    # choreography). One evaluated copy serves all three; values are
    # identical (the plan is a deterministic function of the pinned
    # ranged frame).
    return materialize(spans)


def _attach_payload(
    df: DataFrame, spans: DataFrame, content_col: str
) -> DataFrame:
    """(doc_id, payload, n_tok, start, shard_id): the materialized
    narrow assignment joined back to the payload rows. doc_id is unique,
    so this is 1:1. The planner broadcasts the spans side whenever it
    fits (locally it always does — narrow rows), in which case the
    payload's ONLY exchange is the final repartition("shard_id") into
    its output shard; past broadcast scale it degrades to a co-shuffled
    join on doc_id, which still never materializes payload bytes in a
    checkpoint (guide §8.4's attach discussion)."""
    return df.select("doc_id", F.col(content_col)).join(
        spans, "doc_id"
    )


def write_packed_shards(
    df: DataFrame,
    out_path: str,
    shard_tokens: int = 2048,
    content_col: str = "text",
    token_count_col=None,
    materialize: Materialize | None = None,
    mode: str = "overwrite",
    committer_version: str | None = None,
) -> None:
    """Write the packed shards + manifest for ``df`` (must carry
    ``doc_id`` and ``content_col``). ``token_count_col`` is the token
    unit seam shared with the manifest/packing operators (whitespace
    words by default, a BPE count column for tokenizer-aware budgets).
    The data write and the manifest are both pure functions of the ONE
    materialized narrow assignment frame (module docstring), so they
    agree by construction — and :func:`read_shard_census` verifies it
    from the written bytes. The manifest aggregates the narrow frame
    directly: the payload never feeds it, so its branch touches no
    payload bytes at all.

    ``materialize`` takes the writer's narrow checkpoints (the prefix
    sum's input and ranged frame, then the final spans), and the caller
    owns their blocks. Without it the writer owns them and releases
    them on return.

    ``df`` must be DETERMINISTIC (stable rows across re-evaluation):
    the narrow spans are frozen by the prefix-sum materialization, but
    the payload branch re-evaluates ``df``'s lineage when it joins back
    — a nondeterministic ``df`` (fresh ``rand()``, a re-sampled
    source) could write text that disagrees with the frozen
    (n_tok, start), and the census cannot detect it because ``n_tok``
    is written from the spans rather than recomputed from the written
    payload. Pass a materialized (checkpointed/persisted) frame when in
    doubt; every in-repo caller reads deterministic parquet lineage."""
    with Materializer() as own:
        spans = _narrow_spans(
            df, shard_tokens, content_col, token_count_col,
            materialize or own,
        )
        staged = _attach_payload(df, spans, content_col)
        # Sorting by (shard_id, doc_id) is the SAME total order as doc_id
        # alone (shard_id is monotone in doc_id) but satisfies the
        # dynamic-partition writer's required ordering, so no task-side
        # sort is injected and the in-file doc_id contract never depends
        # on the injected sort being stable.
        (
            _with_committer(
                staged.repartition("shard_id")
                .sortWithinPartitions("shard_id", "doc_id")
                .write.mode(mode),
                committer_version,
            )
            .partitionBy("shard_id")
            .parquet(out_path)
        )
        _census_agg(spans).write.mode(mode).parquet(
            os.path.join(out_path, "_manifest")
        )


def append_packed_shards(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    shard_tokens: int = 2048,
    content_col: str = "text",
    token_count_col=None,
    materialize: Materialize | None = None,
    stored_census: DataFrame | None = None,
    committer_version: str | None = None,
) -> None:
    """Daily-ingest form: continue the token stream where the written
    shards end. The batch's spans start at the stored stream length
    (= max ``token_end``, which the tiling invariant makes equal to the
    total token count), so ``write(b1); append(b2)`` produces exactly
    the shards of ``write(b1 ∪ b2)`` — census-equal, same assignment
    rule, NO rewrite of existing rows (a straddle-continuing batch adds
    files to the last shard's directory; cross-file in-shard order is
    by ``doc_id``/``start``, which every row carries).

    Monotone-ingest contract (raises otherwise): the batch's doc_ids
    must all exceed the stored maximum — the assignment rule is a
    function of the doc_id-ordered stream, so an out-of-order batch
    would need to rewrite history (route it through a full rewrite
    instead). The guard is a doc_id-only probe of the batch, so it
    raises before any tokenize. The guard census is aggregated from
    the WRITTEN bytes (exact under at-least-once redelivery even if a
    previous manifest refresh crashed), but reads ONLY the narrow span
    columns — the payload bytes are never re-read. r14-opt: that ONE
    census is then reused for the manifest refresh (stored census ⊎
    batch aggregation, :func:`_merge_manifests`) instead of a second
    full-store scan, so an append scans the store's span columns once,
    not twice. The refreshed manifest still equals the written-bytes
    census by the disjoint-merge argument (pinned in
    tests/test_shard_writer.py).

    ``materialize``: as for :func:`write_packed_shards`; it also takes
    the stored census when this call reads it.

    ``stored_census``: advanced seam for callers (the streaming mirror)
    that already aggregated and materialized this store's census THIS
    batch — must be the frame of :func:`read_shard_census` over
    ``out_path``, current as of this append; anything staler breaks the
    redelivery guard. It must be materialized: the manifest merge reads
    it after the batch is written, when a fresh scan would count the
    batch twice.

    ``df`` must be DETERMINISTIC, exactly as for
    :func:`write_packed_shards` (same spans-vs-payload split, same
    hazard).
    """
    with Materializer() as own:
        materialize = materialize or own
        if stored_census is None:
            # Shard-count rows, materialized so the guard, the offset
            # scalar and the manifest merge all read one computed copy.
            stored_census = materialize(read_shard_census(spark, out_path))
        # ONE agg carries every guard scalar plus the torn-store tiling
        # check (r14 ADVICE: with committer v2 a crashed append can
        # publish partial task output; the max-doc redelivery guard alone
        # would then drop the replay's missing rows forever).
        stored = stored_census.agg(
            F.max("token_end").alias("stream_end"),
            F.max("doc_to").alias("max_doc"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("token_start").alias("min_start"),
        ).first()
        _check_untorn(stored, out_path)
        stream_end = int(stored["stream_end"] or 0)
        max_doc = stored["max_doc"]
        if max_doc is not None and (
            df.filter(F.col("doc_id") <= F.lit(max_doc))
            .select("doc_id")
            .head(1)
        ):
            _raise_non_monotone(max_doc)
        spans = _narrow_spans(
            df, shard_tokens, content_col, token_count_col, materialize,
            offset=stream_end,
        )
        staged = _attach_payload(df, spans, content_col)
        (
            _with_committer(
                staged.repartition("shard_id")
                .sortWithinPartitions("shard_id", "doc_id")
                .write.mode("append"),
                committer_version,
            )
            .partitionBy("shard_id")
            .parquet(out_path)
        )
        manifest = _merge_manifests(
            stored_census.unionByName(_census_agg(spans))
        )
        manifest.write.mode("overwrite").parquet(
            os.path.join(out_path, "_manifest")
        )


def _raise_non_monotone(max_doc) -> None:
    raise ValueError(
        f"append_packed_shards: batch contains doc_id <= stored "
        f"max {max_doc} — assignment is a function of the doc_id-"
        f"ordered stream; out-of-order ingest needs a full rewrite"
    )


def read_shard_census(spark: SparkSession, out_path: str) -> DataFrame:
    """Per-shard census derived purely from the WRITTEN shard rows —
    the same seven manifest columns, re-aggregated from stored
    (doc_id, n_tok, start) under the hive ``shard_id`` partition
    column. Equality with the manifest (and with the registry's DuckDB
    prefix-sum oracle) is the writer's end-to-end verification."""
    return _census_agg(spark.read.parquet(out_path))


def read_shard_manifest(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_path, "_manifest"))
