"""Spark 4 Python DataSource: a pluggable JSONL chunk format (UDF-2).

The reference exposes pluggable storage adapters behind a factory
(`/root/reference/src/core/vector-db/factory.ts`,
`adapters/base-adapter.ts`) so users can add custom persistence formats.
`sources/adapters.py` carries that registry; this module goes one step
further and makes a custom format a FIRST-CLASS Spark source — readable
and writable with `spark.read.format("chunk_jsonl")` /
`df.write.format("chunk_jsonl")` — via the Spark 4 Python DataSource API:

- **Parallel scan**: one InputPartition per file; a 100 TB layout with N
  files reads with N-way parallelism, no driver-side file content ever.
- **Partition pruning**: the writer lays files out hive-style
  (``<col>=<value>/part-*.jsonl``) when ``partition_col`` is set, and the
  reader prunes whole directories for pushed ``EqualTo`` filters on that
  column — pruned files are never opened.
- **Filter pushdown**: ``pushFilters`` accepts ``EqualTo``/``GreaterThan``
  on top-level columns and enforces them row-level inside the Python
  reader (Spark drops the residual filter for accepted ones, so
  enforcement here is a correctness obligation, not an optimization).

Exercised in tests/test_jsonl_source.py (round-trip, pruning, pushdown,
abort cleanup).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

DEFAULT_SCHEMA = (
    "source_id string, chunk_index int, content string, lang string"
)


@dataclass
class _FilePartition(InputPartition):
    path: str


@dataclass
class _WriteDone(WriterCommitMessage):
    paths: tuple[str, ...]


def _list_jsonl(root: str) -> list[str]:
    out = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in sorted(filenames):
            if f.endswith(".jsonl"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


class ChunkJsonlReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("chunk_jsonl requires a 'path' option")
        self.partition_col = options.get("partition_col")
        self.row_filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if isinstance(f, (EqualTo, GreaterThan)) and len(f.attribute) == 1:
                self.row_filters.append(f)
            else:
                yield f  # unsupported → Spark keeps the residual

    def partitions(self):
        files = _list_jsonl(self.path)
        # directory pruning: an EqualTo on the hive partition column rules
        # out every file not under "<col>=<value>/"
        if self.partition_col:
            for f in self.row_filters:
                if isinstance(f, EqualTo) and f.attribute == (self.partition_col,):
                    seg = f"{self.partition_col}={f.value}"
                    files = [p for p in files if seg in p.split(os.sep)]
        return [_FilePartition(p) for p in files]

    def _keep(self, rec: dict) -> bool:
        for f in self.row_filters:
            v = rec.get(f.attribute[0])
            if isinstance(f, EqualTo):
                if v != f.value:
                    return False
            elif isinstance(f, GreaterThan):
                if v is None or not v > f.value:
                    return False
        return True

    def read(self, partition: _FilePartition):
        names = [fld.name for fld in self.schema.fields]
        # hive-style dirs carry the partition column value in the path
        path_vals: dict[str, str] = {}
        for seg in partition.path.split(os.sep):
            if "=" in seg and not seg.endswith(".jsonl"):
                k, _, val = seg.partition("=")
                path_vals[k] = val
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                rec.update(path_vals)
                if self._keep(rec):
                    yield tuple(rec.get(n) for n in names)


class ChunkJsonlWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool) -> None:
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("chunk_jsonl requires a 'path' option")
        self.partition_col = options.get("partition_col")
        self.overwrite = overwrite

    def write(self, iterator) -> _WriteDone:
        names = [fld.name for fld in self.schema.fields]
        handles: dict[str, object] = {}
        paths: list[str] = []
        task = uuid.uuid4().hex[:12]
        try:
            for row in iterator:
                rec = dict(zip(names, tuple(row)))
                if self.partition_col:
                    sub = f"{self.partition_col}={rec.pop(self.partition_col)}"
                else:
                    sub = ""
                if sub not in handles:
                    d = os.path.join(self.path, sub) if sub else self.path
                    os.makedirs(d, exist_ok=True)
                    p = os.path.join(d, f"part-{task}.jsonl")
                    handles[sub] = open(p, "w", encoding="utf-8")
                    paths.append(p)
                handles[sub].write(json.dumps(rec, sort_keys=True) + "\n")
        finally:
            for h in handles.values():
                h.close()
        return _WriteDone(tuple(paths))

    def commit(self, messages) -> None:
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for p in m.paths:
                if os.path.exists(p):
                    os.remove(p)


class ChunkJsonlDataSource(DataSource):
    """`spark.dataSource.register(ChunkJsonlDataSource)` then
    `spark.read.format("chunk_jsonl").option("path", d).load()`."""

    @classmethod
    def name(cls) -> str:
        return "chunk_jsonl"

    def schema(self):
        return self.options.get("schema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> ChunkJsonlReader:
        return ChunkJsonlReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> ChunkJsonlWriter:
        if overwrite and self.options.get("path") and os.path.isdir(self.options["path"]):
            shutil.rmtree(self.options["path"])
        return ChunkJsonlWriter(schema, self.options, overwrite)
