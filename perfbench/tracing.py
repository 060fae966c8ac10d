"""Spans around calls into the program's layers, and the Spark counters
behind each span.

A span sets a Spark job group named after itself, so every job it starts
can be found afterwards in Spark's status stores (populated with the UI
disabled): the status tracker maps groups to jobs, the AppStatusStore holds
job intervals and stage metrics, and the SQL status store holds per-operator
metrics. Spans are kept in memory; counters are read after each op, outside
its timed interval.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op_id": self.op_id,
               "parent": parent["name"] if parent else None,
               "group": f"op{self.op_id}/{name}",
               "sql_from": self.sql_count()}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup("perfbench-idle", "outside spans")
            rec["sql_to"] = self.sql_count()
            self.spans.append(rec)

    # -- status stores -------------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        return int(self._sql_store().executionsCount())

    def drain(self) -> None:
        """Wait until the listener bus has applied every event, so the status
        stores are complete for the jobs run so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_counters(self, job_ids: list[int]) -> dict:
        """Summed stage metrics and job intervals (epoch ms) of ``job_ids``."""
        store = self.sc._jsc.sc().statusStore()
        c = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_run_ms": 0,
             "executor_cpu_ms": 0.0, "gc_ms": 0, "spill_bytes": 0,
             "shuffle_write_bytes": 0, "input_rows": 0, "input_bytes": 0,
             "intervals": []}
        seen = set()
        for jid in job_ids:
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                c["intervals"].append((sub.get().getTime(), comp.get().getTime()))
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never registered
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_ms"] += sd.executorRunTime()
                c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["gc_ms"] += sd.jvmGcTime()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["input_rows"] += sd.inputRecords()
                c["input_bytes"] += sd.inputBytes()
        return c

    def scan_metrics(self, sql_from: int, sql_to: int) -> dict:
        """Summed parquet-scan operator metrics over the SQL executions a
        span started (executions are numbered in start order and this
        client is single-threaded)."""
        store = self._sql_store()
        out = {"files": 0, "rows": 0}
        if sql_to <= sql_from:
            return out
        execs = store.executionsList(sql_from, sql_to - sql_from)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = {}
            pairs = store.executionMetrics(eid).toSeq()
            for j in range(pairs.size()):
                p = pairs.apply(j)
                values[int(p._1())] = str(p._2())
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not str(node.name()).startswith("Scan parquet"):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = {"number of files read": "files",
                           "number of output rows": "rows"}.get(str(metric.name()))
                    v = values.get(int(metric.accumulatorId()))
                    if key and v:
                        out[key] += _metric_int(v)
        return out


def _metric_int(text: str) -> int:
    """A SUM-type SQL metric's display string ("12,345") as an int."""
    return int(text.strip().split()[0].replace(",", ""))


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(spans: list[dict], rec: dict) -> float:
    """A span's duration minus the part of it its child spans cover, ms."""
    kids = [(s["start"], s["end"]) for s in spans
            if s["op_id"] == rec["op_id"] and s["parent"] == rec["name"]]
    return ((rec["end"] - rec["start"]) - union_ms(kids, rec["start"], rec["end"])) * 1000.0
