"""Table maintenance: small-file compaction and copy-on-write merge.

The reference mutates rows in place through its adapters —
`update(id, partial)` is a per-row read-modify-write
(`src/core/vector-db/adapters/base-adapter.ts:104-128`) and SQLite hides
file layout entirely. On a parquet lake both concerns become FILE
REWRITES, and both are daily-operations requirements at 100 TB:

- **Compaction**: incremental ingest (`index_text(incremental=True)`
  appends from a chunk_jsonl landing zone) accretes many small files;
  scans then pay per-file open/footer costs and lose split
  parallelism. `compact_store` rewrites a directory to ~target-sized
  files — the OPTIMIZE of Delta/Iceberg, expressed as read →
  repartition → atomic swap.
- **Merge**: `merge_upsert` is the MERGE INTO ... WHEN MATCHED UPDATE /
  WHEN NOT MATCHED INSERT plan shape: updates ∪ (base ⟕̸ updates) — one
  anti-join, one rewrite, last-writer-wins. At lake scale the rewrite is
  scoped to the partitions the update keys touch (partition-prune the
  base read first); here the store is one directory, so the whole thing
  rewrites — same plan, smaller blast radius.

Both swaps are write-temp-then-rename. HONEST LIMIT: two directory
renames cannot be one atomic operation on POSIX, so there is a
milliseconds-wide window between `rename(path, bak)` and
`rename(tmp, path)` in which a racing reader sees ENOENT, and a crash
inside it leaves the table absent with its data in a `.__bak-*` sibling.
Every entry point therefore runs ``_recover_store`` first: a missing
``path`` with a surviving backup is restored (newest backup wins), and
superseded backups left by a crash after the second rename are swept.
The ENOENT window itself is the price of staying on plain directories —
a table format with a transaction log makes the swap a metadata commit,
which is exactly what the Delta path below does when the `delta` package
is importable (`merge_upsert`/`compact_store` route through
DeltaTable MERGE / OPTIMIZE and never rename anything).
"""

from __future__ import annotations

import glob as _glob
import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _parquet_files(path: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return out


def _recover_store(path: str) -> bool:
    """Crash recovery for the swap window: if ``path`` is absent but a
    ``.__bak-*`` sibling survives (crash between the two renames), restore
    the newest backup; if ``path`` exists, sweep superseded backups (crash
    after the second rename, before cleanup) and orphaned ``.__tmp-*``
    dirs. Returns True when a restore happened."""
    baks = sorted(_glob.glob(path + ".__bak-*"), key=os.path.getmtime)
    restored = False
    if not os.path.exists(path) and baks:
        os.rename(baks.pop(), path)
        restored = True
    if os.path.exists(path):
        for stale in baks + _glob.glob(path + ".__tmp-*"):
            shutil.rmtree(stale, ignore_errors=True)
    return restored


def _atomic_swap(df: DataFrame, path: str) -> None:
    """Materialize ``df`` beside ``path`` and rename over it. See the
    module docstring for the (recoverable) non-atomicity window between
    the two renames."""
    tmp = f"{path}.__tmp-{uuid.uuid4().hex[:8]}"
    bak = f"{path}.__bak-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)


def _delta_table(spark: SparkSession, path: str):
    """DeltaTable handle when the `delta` package imports cleanly AND
    ``path`` is a Delta table (has a _delta_log); None otherwise — the
    optional-import dispatch pattern (PIL/tree-sitter use the same)."""
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        return None
    try:
        from delta.tables import DeltaTable  # noqa: PLC0415
    except ImportError:
        return None
    try:
        return DeltaTable.forPath(spark, path)
    except Exception:  # session lacks the Delta extensions
        return None


def compact_store(
    spark: SparkSession, path: str, target_mb: int = 128
) -> dict[str, int]:
    """Rewrite ``path`` into ~``target_mb``-sized parquet files.

    Returns {files_before, files_after, bytes} for observability. The
    repartition is round-robin — compaction has no ordering contract; to
    keep a zone-map layout, recompact through ``write_sorted_store`` /
    ``write_zorder_store`` instead. On a Delta table (with the `delta`
    package importable) this is OPTIMIZE executeCompaction — a metadata
    commit, no directory swap.
    """
    dt = _delta_table(spark, path)
    if dt is not None:
        files_before = len(_parquet_files(path))
        total = _dir_bytes(path)
        dt.optimize().executeCompaction()
        return {
            "files_before": files_before,
            "files_after": len(_parquet_files(path)),
            "bytes": total,
        }
    _recover_store(path)
    files_before = len(_parquet_files(path))
    total = _dir_bytes(path)
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    _atomic_swap(df.repartition(n), path)
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(path)),
        "bytes": total,
    }


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
) -> None:
    """MERGE: rows of ``updates`` replace base rows with the same ``key``;
    unmatched update rows insert. Idempotent — re-merging the same updates
    frame is a no-op on the final state.

    ``updates`` must carry the base schema and at most one row per key
    (enforce upstream with a latest-wins window when folding a CDC
    stream — `queries.upsert_latest_wins` is that operator). On a Delta
    table this is a real MERGE INTO (transaction-log commit); on a plain
    parquet directory it is copy-on-write: anti-join ∪ updates, then the
    recoverable directory swap.
    """
    dt = _delta_table(spark, path)
    if dt is not None:
        (
            dt.alias("b")
            .merge(updates.alias("u"), f"b.{key} = u.{key}")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    _recover_store(path)
    base = spark.read.parquet(path)
    survivors = base.join(updates.select(key), on=key, how="left_anti")
    merged = survivors.unionByName(updates)
    _atomic_swap(merged, path)


def compact_partitioned_store(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_mb: int = 128,
) -> dict[str, int]:
    """:func:`compact_store` for hive-partitioned stores (lsh_store /
    graph_store members partitioned by ``b0``, band_store by ``band0``):
    incremental appends leave a sliver file per batch per directory, and
    a round-robin rewrite would DESTROY the partition layout the probe
    pruning pins depend on. This rewrite repartitions BY the partition
    column (one task per directory — every directory gets coherent
    files) and writes back with the same ``partitionBy``, so
    PartitionFilters keep pruning after compaction. Sidecar files
    (e.g. store_meta's _meta.json) are preserved across the swap.

    On Delta this is the same OPTIMIZE metadata commit as compact_store
    (partitioning is table metadata there).
    """
    dt = _delta_table(spark, path)
    if dt is not None:
        files_before = len(_parquet_files(path))
        total = _dir_bytes(path)
        dt.optimize().executeCompaction()
        return {
            "files_before": files_before,
            "files_after": len(_parquet_files(path)),
            "bytes": total,
        }
    _recover_store(path)
    files_before = len(_parquet_files(path))
    total = _dir_bytes(path)
    sidecar = os.path.join(path, "_meta.json")
    meta = None
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            meta = f.read()
    df = spark.read.parquet(path)
    tmp = f"{path}.__tmp-{uuid.uuid4().hex[:8]}"
    bak = f"{path}.__bak-{uuid.uuid4().hex[:8]}"
    (
        df.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    if meta is not None:
        with open(os.path.join(path, "_meta.json"), "w") as f:
            f.write(meta)
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(path)),
        "bytes": total,
    }
