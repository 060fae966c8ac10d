"""Physical-plan inspection helpers — plan hygiene as testable assertions.

The optimizer work the reference hand-rolls (predicate pushdown into SQL
strings, top-k pushdown into the vec query — SURVEY.md §4) is Catalyst's
job here; these helpers let tests PIN the properties we rely on at 100 TB:

- filters reach the parquet scan (``PushedFilters``),
- scans read only the projected columns (``ReadSchema``),
- top-k compiles to ``TakeOrderedAndProject`` (heap, no global sort),
- small dims broadcast (no accidental sort-merge join),
- an operator's shuffle count stays at its designed number,
- a repeated query compiles no generated class again.

A plan regression (e.g. a refactor that breaks pushdown) then fails CI
instead of silently costing a full-scan at scale.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def executed_plan(df: DataFrame) -> str:
    # Widen metadata rendering while stringifying: the default 100-char cap
    # truncates long PushedFilters lists mid-bracket, which would make a
    # well-pushed scan look like it pushed nothing.
    spark = df.sparkSession
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)


def analyzed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def jobs_run(spark: SparkSession, group: str, fn: Callable[[], object]) -> int:
    """Call ``fn`` under its own job group; return how many Spark jobs it
    ran (work outside the call is not counted)."""
    sc = spark.sparkContext
    old = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", old)
    # the status store is filled from the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def collect_jobs(df: DataFrame, group: str) -> int:
    """Collect ``df`` under its own job group; return how many Spark jobs
    the collect ran (plan building outside the group is not counted)."""
    return jobs_run(df.sparkSession, group, df.collect)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far. Spark counts one
    Janino compile per miss of its generated-code cache, so an unchanged
    count across a repeated query means every class was reused."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def scans(df: DataFrame) -> list[dict]:
    """One dict per parquet scan: columns read, pushed filters."""
    out = []
    for line in executed_plan(df).splitlines():
        if "FileScan parquet" not in line:
            continue
        cols = re.search(r"FileScan parquet \[([^\]]*)\]", line)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", line)
        loc = re.search(r"Location:[^\[]*\[([^\]]*)\]", line)
        out.append(
            {
                "columns": [c.split("#")[0] for c in cols.group(1).split(",") if c]
                if cols
                else [],
                "pushed_filters": pushed.group(1) if pushed else "",
                "partition_filters": part.group(1) if part else "",
                "location": loc.group(1) if loc else "",
            }
        )
    return out


def scan_for(df: DataFrame, table: str) -> dict:
    """The scan dict whose file location mentions ``table``."""
    for s in scans(df):
        if table in s["location"]:
            return s
    raise AssertionError(f"no parquet scan of {table} in plan")


def num_shuffles(df: DataFrame) -> int:
    """Count shuffle exchanges (ReusedExchange NOT counted — it's free)."""
    plan = executed_plan(df)
    return len(re.findall(r"^\s*(?:\+-|:-)?\s*Exchange hashpartitioning", plan, re.M))


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


def final_plan(df: DataFrame) -> str:
    """Execute the frame and return the FINAL adaptive plan. AQE-era
    exchange reuse (ReusedExchange / shared ShuffleQueryStage) only shows
    here — the static executedPlan prints duplicated subtrees that the
    runtime will dedupe."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def single_partition_exchanges(df: DataFrame) -> int:
    """Count dangerous ``Exchange SinglePartition`` nodes — funnels of the
    whole upstream into ONE task (unpartitioned window/sort), the classic
    100 TB scale-killer.

    The benign form — final merge of a global scalar aggregate, whose
    child is a partial aggregate emitting one row per task — is excluded:
    only partials cross that exchange, not data.
    """
    lines = executed_plan(df).splitlines()
    n = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "partial_" in child and "Aggregate" in child:
            continue
        n += 1
    return n


def join_strategies(df: DataFrame) -> list[str]:
    plan = executed_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def codegen_stage_count(df: DataFrame) -> int:
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", executed_plan(df))))
