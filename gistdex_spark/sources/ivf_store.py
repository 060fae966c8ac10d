"""IVF store at rest: the corpus partitioned BY cluster, probes as
partition pruning.

operators/ivf.py claims the 100 TB probe story — "write the corpus
partitioned by ``cluster`` so a probe is partition PRUNING: nprobe=2 of
k=1024 cells reads ~0.2% of the data". This module is that claim as
exercised code: ``write_ivf_store`` materializes the assignment into a
hive-partitioned layout (``cluster=<id>/…``), and ``probe_stored``
searches with a partition-column filter, so Catalyst prunes the scan to
the probed directories before any IO. ``tests/test_ivf_store.py``
asserts from ``input_file_name()`` that ONLY the probed cells' files
are ever read.

Encoding stays the zero-shuffle assignment fold; the write's shuffle is
one repartition on ``cluster`` so each cell lands in its own files
(without it every task writes a sliver of every cell — k x tasks small
files, the anti-pattern compact_store exists to undo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.operators.ivf import assign_clusters


def write_ivf_store(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Assign and write ``emb`` hive-partitioned by ``cluster``."""
    assigned = assign_clusters(emb, centroids, id_col, embedding_col)
    (
        assigned.repartition("cluster")
        .write.mode(mode)
        .partitionBy("cluster")
        .parquet(path)
    )


def probe_stored(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Top-k by exact cosine inside the query's ``nprobe`` nearest cells,
    reading ONLY those cells' partition directories.

    The cell choice scores the kilobyte centroid frame driver-side (the
    same math probe() does distributed — here it must be a literal list
    so the filter is a pushable partition predicate, not a join), then
    the scan carries ``cluster IN (...)`` on the partition column:
    PartitionFilters in the plan, pruned before IO.
    """
    from gistdex_spark.operators.search import with_score

    cells = [
        int(r["c_id"])
        for r in with_score(centroids, query_vec, "c_vec")
        .orderBy(F.desc("score"), F.asc("c_id"))
        .limit(nprobe)
        .collect()
    ]
    scan = spark.read.parquet(path).filter(F.col("cluster").isin(cells))
    return (
        with_score(scan, query_vec, embedding_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
