"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configs are the ones we would set on a 1000-executor cluster, with the
shuffle-partition count scaled to ~2-3x total cores there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-code cache (compiled classes keyed by source text)
# defaults to 100 entries in 4 LRU segments of ~25. The curate chain
# (quality gate -> SimHash pairs -> components -> survivors -> packed
# shard write -> census, `curated_shard_write_census`) needs 99 classes,
# so a back-to-back rerun at sf0.01 compiled 21 of them again, with
# Janino and then the JIT. An index-and-search facade loop compiled 41
# classes in its first two writes and first op, then 2 new ones per op.
# 1000 holds both working sets. Static conf: it takes effect only in a
# JVM this call starts.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "gistdex-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = int(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; AQE coalesces small ones
        # and splits skewed ones, so this is safe at any SF.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Let Python DataSources (sources/jsonl_source.py) absorb filters.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Keep the codegen stage id out of generated class names. Under AQE
        # stages get their ids in the order they materialize, which varies
        # between runs, so the same code under a swapped name missed the
        # cache (corpus_curation_funnel_blocked: 4 recompiles on a rerun).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # events.parquet carries TIMESTAMP(NANOS); read as LONG nanos and
        # convert in the loader (Spark has no nanos timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep parquet scans splittable at 128MB; on 100 TB this yields
        # ~800k input splits which Spark schedules fine.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # FileOutputCommitter v2: task outputs move into place at TASK
        # commit (parallel) instead of a sequential driver-side merge at
        # JOB commit. With v1 the hive-partitioned store writers (packed
        # shards, minhash/band stores) pay one driver-serial rename per
        # partition directory — measured 20.5 s -> 7.3 s on the 365-dir
        # media shard write, and at cluster scale the serial job-commit
        # rename storm is the canonical object-store write bottleneck.
        # Trade-off (documented, deliberate): a job that dies mid-write
        # can leave partial task outputs visible. Store writes here are
        # per-run scratch (overwritten next run), guarded by their own
        # commit protocol (graph_store's atomic pointer flip, _meta.json
        # sidecars written after data), or — for the one path where
        # partial visibility WOULD corrupt recovery, the persistent
        # packed-shard append whose redelivery guard filters on stored
        # max doc_id — explicitly scoped back to v1 per-write plus a
        # stream-contiguity check (sources/shard_writer._with_committer
        # / _check_untorn; r14 ADVICE high).
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # file:// without libhadoop.so (every pip-installed PySpark node,
    # this sandbox included) forks /bin/chmod per created path —
    # RawLocalFileSystem.setPermission falls back to Shell.execCommand,
    # and both mkdir and file create call it. A hive-partitioned store
    # write pays one fork per directory and per file: measured ~2,900
    # forks / ~6 s of the 363-dir media shard write. The vendored
    # NoForkLocalFileSystem (gistdex_spark/vendor/hadoopfs — compiled
    # Java source committed alongside) is byte-identical LocalFileSystem
    # behavior, checksums included, with setPermission a no-op (created
    # paths keep process-umask modes — the same 644/755 the forked
    # chmod set). HDFS/S3 paths never route through fs.file.impl, so
    # this is scoped to local-disk I/O on any deployment. Kill switch:
    # SPARK_GRAFT_LOCAL_FS_NOFORK=0.
    nofork_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "vendor", "hadoopfs"
    )
    if os.environ.get(
        "SPARK_GRAFT_LOCAL_FS_NOFORK", "1"
    ) != "0" and os.path.exists(
        os.path.join(
            nofork_dir, "gistdexspark", "fs", "NoForkLocalFileSystem.class"
        )
    ):
        builder = (
            builder.config("spark.driver.extraClassPath", nofork_dir)
            .config("spark.executor.extraClassPath", nofork_dir)
            .config(
                "spark.hadoop.fs.file.impl",
                "gistdexspark.fs.NoForkLocalFileSystem",
            )
        )
    return builder.getOrCreate()
