"""Pluggable chunk-store adapters (UDF-2).

Reference semantics: `src/core/vector-db/adapters/registry.ts:23-140` +
`factory.ts` — a provider-name → adapter-factory registry with duplicate
protection, conditional registration of optional backends, and
config-driven creation.

Spark-first re-expression: an "adapter" is a (write, read) pair over a
Spark DataFrame format. The built-ins map to formats every cluster has —
parquet (default, partitioned by source_type like write_chunk_store),
orc, json — plus an in-memory adapter (temp-view backed, the analogue of
the reference's memory adapter). Lakehouse formats (delta/iceberg)
register conditionally, mirroring the reference's try-import of optional
backends; on this container they are absent and simply not listed.

At 100 TB the adapter choice IS the table layout: the parquet/lakehouse
adapters keep partitioning + predicate pushdown; json/csv exist for
interchange, not scale, same as the reference's memory adapter.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class StorageAdapter:
    provider: str
    write: Callable[[DataFrame, str, str], None]  # (df, path, mode)
    read: Callable[[SparkSession, str], DataFrame]


AdapterFactory = Callable[[dict], StorageAdapter]

# The chunk store's partition column; a read of the store returns it last.
PARTITION_COL = "source_type"


def _format_adapter(provider: str, fmt: str, partition: bool) -> AdapterFactory:
    def factory(config: dict) -> StorageAdapter:
        opts = dict(config.get("options") or {})

        def write(df: DataFrame, path: str, mode: str = "append") -> None:
            w = df.write.mode(mode).format(fmt).options(**opts)
            if partition and PARTITION_COL in df.columns:
                w = w.partitionBy(PARTITION_COL)
            w.save(path)

        def read(spark: SparkSession, path: str) -> DataFrame:
            return spark.read.format(fmt).options(**opts).load(path)

        return StorageAdapter(provider, write, read)

    return factory


def _memory_adapter_factory(config: dict) -> StorageAdapter:
    """Temp-view backed store (role of `memory-adapter.ts`): append unions
    into a session-scoped view; read returns the view. Test/dev only."""

    def write(df: DataFrame, path: str, mode: str = "append") -> None:
        spark = df.sparkSession
        name = f"mem_store_{path}".replace("/", "_").replace("-", "_")
        if mode == "append" and name in [
            t.name for t in spark.catalog.listTables() if t.isTemporary
        ]:
            df = spark.table(name).unionByName(df, allowMissingColumns=True)
        # Unowned cut on purpose: the view outlives any materialize scope.
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)

    def read(spark: SparkSession, path: str) -> DataFrame:
        name = f"mem_store_{path}".replace("/", "_").replace("-", "_")
        return spark.table(name)

    return StorageAdapter("memory", write, read)


class AdapterRegistry:
    """register / get / create / list_providers / has_provider /
    unregister / clear — the reference registry surface, synchronous."""

    def __init__(self):
        self._adapters: dict[str, AdapterFactory] = {}
        self._initialized = False

    def _initialize(self) -> None:
        if self._initialized:
            return
        self._initialized = True
        self.register("parquet", _format_adapter("parquet", "parquet", True))
        self.register("orc", _format_adapter("orc", "orc", True))
        self.register("json", _format_adapter("json", "json", False))
        self.register("csv", _format_adapter("csv", "csv", False))
        self.register("memory", _memory_adapter_factory)
        # Optional lakehouse backends: conditional, like the reference's
        # try-imported sqlite/duckdb adapters.
        try:
            import delta  # noqa: F401

            self.register("delta", _format_adapter("delta", "delta", True))
        except ImportError:
            pass

    def register(self, provider: str, factory: AdapterFactory) -> None:
        if provider in self._adapters:
            raise ValueError(f"Adapter already registered for provider: {provider}")
        self._adapters[provider] = factory

    def get(self, provider: str) -> AdapterFactory | None:
        self._initialize()
        return self._adapters.get(provider)

    def create(self, config: dict) -> StorageAdapter:
        self._initialize()
        factory = self.get(config["provider"])
        if factory is None:
            raise ValueError(
                f"No adapter registered for provider: {config['provider']}"
            )
        return factory(config)

    def list_providers(self) -> list[str]:
        self._initialize()
        return list(self._adapters)

    def has_provider(self, provider: str) -> bool:
        self._initialize()
        return provider in self._adapters

    def unregister(self, provider: str) -> bool:
        self._initialize()
        return self._adapters.pop(provider, None) is not None

    def clear(self) -> None:
        self._adapters.clear()
        self._initialized = False


def create_registry() -> AdapterRegistry:
    return AdapterRegistry()


DEFAULT_REGISTRY = create_registry()
