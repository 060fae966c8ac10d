"""One benchmark run inside a fresh Python process and JVM.

Started by ``run.py`` with the path of a ``spec.json``; writes ``out.json``
beside it. It only drives the program through its public calls and times
them; every output check happens in ``run.py`` after this process ends.

Untraced ops call the program exactly as a user would. Traced ops (run with
``--trace 1``, alternating with untraced ops of the same sequence) make the
same calls, with the layer functions those calls reach wrapped for the
length of the op: each wrapper opens a span and forces its lazy frame with
an eager ``localCheckpoint()`` inside it, so each layer's work lands in its
own span once while the composition stays the program's.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext

import procstats
import tracing

K = 10
DIM = 64


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@contextmanager
def patched(wrappers):
    """Replace ``module.name`` by ``make(real)`` for each ``(module, name,
    make)`` while the block runs."""
    saved = []
    try:
        for mod, name, make in wrappers:
            real = getattr(mod, name)
            saved.append((mod, name, real))
            setattr(mod, name, make(real))
        yield
    finally:
        for mod, name, real in reversed(saved):
            setattr(mod, name, real)


class Op:
    """Helpers shared by one op's plain and traced forms."""

    def __init__(self, spark, tr: tracing.Tracer | None):
        self.spark = spark
        self.tr = tr
        # Traced only: frames whose row counts feed ratio metrics, counted
        # after the op's timed interval.
        self.frames = {}
        # RDDs this benchmark persisted during the op (its own checkpoints).
        self.ckpts: set[int] = set()

    def span(self, name):
        return self.tr.span(name) if self.tr else nullcontext()

    def layers(self, wrappers):
        """Traced: the layer wrappers, for the block. Plain: nothing."""
        return patched(wrappers) if self.tr else nullcontext()

    def checkpoint(self, df):
        """Eager ``localCheckpoint`` whose blocks ``release`` frees."""
        before = _persistent_ids(self.spark)
        out = df.localCheckpoint(eager=True)
        self.ckpts |= _persistent_ids(self.spark) - before
        return out

    def force(self, df):
        """Traced: materialize ``df`` inside the current span. Plain: as is."""
        return df if self.tr is None else self.checkpoint(df)

    def release(self) -> None:
        """Free the blocks of this op's own checkpoints; data the program
        persisted itself is left to the program."""
        live = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in self.ckpts:
            if live.containsKey(rid):
                live.get(rid).unpersist(False)


class IngestSearch:
    def __init__(self, spark, spec):
        from gistdex_spark.api import GistdexSpark

        self.spark = spark
        self.spec = spec
        self.store = os.path.join(spec["work"], "store")
        self.g = GistdexSpark(spark, self.store, dim=DIM)
        self.queries = spec["manifest"]["queries"]

    def setup(self, layers: dict) -> None:
        t = time.monotonic()
        self.g.index_text(
            self.spark.read.parquet(self._input(self.spec["manifest"]["base"])),
            incremental=False,
        )
        layers["indexer.build_s"] = time.monotonic() - t

    def _input(self, name):
        return os.path.join(self.spec["inputs"], name)

    def op(self, k: int, op: Op) -> dict:
        import gistdex_spark.api as api_mod

        texts = self.spark.read.parquet(self._input(self.spec["manifest"]["batches"][k]))
        with op.span("api.index_text"), op.layers(self._index_layers(op)):
            self.g.index_text(texts, incremental=True)
        results = []
        query_layer = [(api_mod, "embed_text",
                        lambda real: self._spanned(op, "embedder.query", real))]
        for q in self.queries[2 * k : 2 * k + 2]:
            kw = {"hybrid": True} if q["mode"] == "hybrid" else {}
            if q["mode"] == "filtered":
                kw["source_type"] = q["source_type"]
            with op.span("search"):
                with op.span("api.search.build"), op.layers(query_layer):
                    df = self.g.search(q["text"], k=K, **kw)
                with op.span("api.search.collect"):
                    rows = df.collect()
            results.append([(r["id"], r["score"]) for r in rows])
        return {"searches": results}

    @staticmethod
    def _spanned(op: Op, name: str, real):
        def call(*a, **kw):
            with op.span(name):
                return real(*a, **kw)

        return call

    def _index_layers(self, op: Op) -> list:
        """Wrappers for the layer calls ``GistdexSpark.index_text`` makes:
        ``index_text_df`` (its input is the incremental anti-join, forced
        first; its output rows are forced in ``embedder.udf``, where the
        Arrow embedding UDF runs in one stage with the broadcast join and
        the id hash), ``chunk_documents`` inside it, and
        ``write_chunk_store``."""
        import gistdex_spark.api as api_mod
        import gistdex_spark.sources.indexer as indexer_mod

        def wrap_index_text_df(real):
            def index_text_df(texts, *a, **kw):
                with op.span("api.incremental_filter"):
                    texts = op.force(texts)
                op.frames["docs"] = texts
                with op.span("indexer.assemble"):
                    rows = real(texts, *a, **kw)
                    with op.span("embedder.udf"):
                        return op.force(rows)

            return index_text_df

        def wrap_chunk_documents(real):
            def chunk_documents(*a, **kw):
                with op.span("chunking"):
                    chunks = op.force(real(*a, **kw))
                op.frames["chunks"] = chunks
                return chunks

            return chunk_documents

        return [
            (api_mod, "index_text_df", wrap_index_text_df),
            (indexer_mod, "chunk_documents", wrap_chunk_documents),
            (api_mod, "write_chunk_store",
             lambda real: self._spanned(op, "indexer.write", real)),
        ]

    def store_files(self) -> tuple[int, int, int]:
        files, size = procstats.dir_usage(self.store)
        return files, size, procstats.parquet_files(self.store)


class Curate:
    def __init__(self, spark, spec):
        self.spark = spark
        self.spec = spec

    def setup(self, layers: dict) -> None:
        layers["indexer.build_s"] = 0.0

    def shard_dir(self, k: int) -> str:
        return os.path.join(self.spec["work"], "shards", f"op{k:03d}")

    def op(self, k: int, op: Op) -> dict:
        """``curated_shard_write_census``'s composition over one fresh batch:
        quality gate -> SimHash pairs -> connected components -> survivors
        -> packed shard write -> census of the written shards."""
        from gistdex_spark.operators import dedup as D
        from gistdex_spark.operators import pipeline as P
        from gistdex_spark.sources.shard_writer import read_shard_census, write_packed_shards
        from gistdex_spark.sources.tables import spread

        path = os.path.join(self.spec["inputs"], self.spec["manifest"]["batches"][k])
        docs = spread(self.spark.read.parquet(path))
        with op.span("pipeline.quality_gate"):
            gated = op.force(P.quality_gate(docs))
        with op.span("dedup.simhash_pairs"):
            pairs = op.force(D.simhash_pairs(
                gated, bucket_partitions=self.spark.sparkContext.defaultParallelism))
        with op.span("dedup.connected_components"):
            comp = op.force(D.connected_components(pairs))
        with op.span("dedup.survivors"):
            kept = op.force(D.dedup_survivors(gated, comp))
        with op.span("shard_writer.write"):
            # The writer's materialize seam gets an eager checkpoint, as in the
            # registry query; ``Op.release`` frees the blocks after the op.
            write_packed_shards(kept.select("doc_id", "text"), self.shard_dir(k),
                                shard_tokens=self.spec["shard_tokens"],
                                materialize=op.checkpoint)
        with op.span("shard_writer.census"):
            census = read_shard_census(self.spark, self.shard_dir(k)).collect()
        if op.tr is not None:
            op.frames.update(docs=docs, gated=gated, pairs=pairs, survivors=kept)
        return {"census": sorted(tuple(int(v) for v in r) for r in census)}


WORKLOADS = {"ingest_search": IngestSearch, "curate": Curate}


def traced_layers(tr: tracing.Tracer, k: int, op: Op, wall: tuple[float, float],
                  store_delta: tuple[int, int]) -> dict:
    """Per-layer values of one traced op, read from its spans and Spark's
    status stores."""
    tr.drain()
    spans = [s for s in tr.spans if s["op_id"] == k]
    out: dict[str, float] = {}

    def dur(name):
        """Self time of the op's spans called ``name``, summed."""
        return sum(tracing.self_ms(spans, s) for s in spans if s["name"] == name)

    total = tr.job_counters([])
    intervals = []
    per_span_jobs = {}
    scan = {"files": 0, "rows": 0}
    search_input_bytes = 0
    for s in spans:
        jobs = tr.jobs(s["group"])
        c = tr.job_counters(jobs)
        per_span_jobs[s["name"]] = per_span_jobs.get(s["name"], 0) + len(jobs)
        for key in total:
            if key != "intervals":
                total[key] += c[key]
        intervals.extend(c["intervals"])
        if s["name"] == "api.search.collect":
            m = tr.scan_metrics(s["sql_from"], s["sql_to"])
            scan["files"] += m["files"]
            scan["rows"] += m["rows"]
            search_input_bytes += c["input_bytes"]
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                "gc_ms", "spill_bytes", "shuffle_write_bytes", "input_rows"):
        out[f"spark.{key}"] = total[key]
    lo, hi = wall
    out["driver.outside_jobs_ms"] = (hi - lo) * 1000.0 - tracing.union_ms(
        [(a / 1000.0, b / 1000.0) for a, b in intervals], lo, hi) * 1000.0
    counts = {name: df.count() for name, df in op.frames.items()}
    results = sum(1 for s in spans if s["name"] == "api.search.collect") * K
    out.update({
        "api.incremental_filter_ms": dur("api.incremental_filter"),
        "api.search.build_ms": dur("api.search.build"),
        "api.search.collect_ms": dur("api.search.collect"),
        "search.rows_scanned_per_result": procstats.ratio(scan["rows"], results),
        "scan.files_per_op": scan["files"],
        "scan.input_bytes_per_op": search_input_bytes,
        "embedder.query_ms": dur("embedder.query"),
        "embedder.udf_ms": dur("embedder.udf"),
        "embedder.rows": counts.get("chunks", 0),
        "chunking.ms": dur("chunking"),
        "chunking.chunks_per_doc": procstats.ratio(counts.get("chunks", 0),
                                                   counts.get("docs", 0)),
        "indexer.assemble_ms": dur("indexer.assemble"),
        "indexer.write_ms": dur("indexer.write"),
        "indexer.files_written": store_delta[0],
        "indexer.bytes_written": store_delta[1],
        "pipeline.quality_gate_ms": dur("pipeline.quality_gate"),
        "pipeline.gate_keep_ratio": procstats.ratio(counts.get("gated", 0),
                                                    counts.get("docs", 0)),
        "dedup.simhash_pairs_ms": dur("dedup.simhash_pairs"),
        "dedup.pairs": counts.get("pairs", 0),
        "dedup.connected_components_ms": dur("dedup.connected_components"),
        "dedup.cc_jobs": per_span_jobs.get("dedup.connected_components", 0),
        "dedup.survivors_ms": dur("dedup.survivors"),
        "dedup.survivor_ratio": procstats.ratio(counts.get("survivors", 0),
                                                counts.get("gated", 0)),
        "shard_writer.write_ms": dur("shard_writer.write"),
        "shard_writer.jobs": per_span_jobs.get("shard_writer.write", 0),
        "shard_writer.census_ms": dur("shard_writer.census"),
    })
    return out


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    from gistdex_spark.session import get_spark

    layers: dict[str, float] = {}
    t = time.monotonic()
    spark = get_spark("perfbench", cpus=spec["slots"])
    layers["session.get_spark_s"] = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    tr = tracing.Tracer(spark) if spec["trace"] else None
    wl = WORKLOADS[spec["workload"]](spark, spec)
    wl.setup(layers)

    is_ingest = spec["workload"] == "ingest_search"
    outputs, walls, warm_curve = [], [], []
    traced_ops, traced_walls, plain_walls = [], [], []
    t_warm = time.monotonic()
    n_ops = spec["warmup"] + spec["timed"]
    first = cpu0 = steal0 = None
    for k in range(n_ops):
        timed = k >= spec["warmup"]
        if timed and first is None:
            first = time.monotonic()
            layers["warmup_s"] = first - t_warm
            cpu0, steal0 = procstats.tree_cpu_ms(os.getpid()), procstats.host_steal_ms()
        traced = tr is not None and timed and (k - spec["warmup"]) % 2 == 0
        op = Op(spark, tr if traced else None)
        before = wl.store_files()[:2] if (traced and is_ingest) else (0, 0)
        if traced:
            tr.op_id = k
            ctx = tr.span("op")
        else:
            ctx = nullcontext()
        a = time.monotonic()
        wa = time.time()
        with ctx:
            out = wl.op(k, op)
        b = time.monotonic()
        wb = time.time()
        outputs.append(out)
        (walls if timed else warm_curve).append(b - a)
        if traced:
            after = wl.store_files()[:2] if is_ingest else (0, 0)
            traced_ops.append(traced_layers(tr, k, op, (wa, wb),
                                            (after[0] - before[0], after[1] - before[1])))
            traced_walls.append(b - a)
        elif timed:
            plain_walls.append(b - a)
        op.release()
    timed_wall = time.monotonic() - first
    cpu1, steal1 = procstats.tree_cpu_ms(os.getpid()), procstats.host_steal_ms()

    result = {
        "t_first_op": first,
        "timed_wall_s": timed_wall,
        "op_walls_s": walls,
        "warmup_curve_s": warm_curve,
        "cpu_ms": cpu1 - cpu0,
        "steal_ms": steal1 - steal0,
        "mem_mb": procstats.tree_hwm_mb(os.getpid()),
        "slots": spark.sparkContext.defaultParallelism,
        "layers": layers,
        "outputs": outputs,
        "traced_ops": traced_ops,
        "traced_walls_s": traced_walls,
        "plain_walls_s": plain_walls,
    }
    if is_ingest:
        files, size, parquet = wl.store_files()
        result["store"] = {"files": files, "bytes": size, "parquet_files": parquet}
    else:
        result["shard_usage"] = [procstats.dir_usage(wl.shard_dir(k)) for k in range(n_ops)]
    if tr is not None:
        result["spans"] = [{k: s[k] for k in ("name", "start", "end", "parent", "op_id")}
                           for s in tr.spans]
    spark.stop()
    with open(os.path.join(os.path.dirname(spec_path), "out.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
