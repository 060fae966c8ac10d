#!/usr/bin/env python
"""Round-15 optimization profiler: per-query phase split + job counts.

profile_r14.py with two r15 additions:
  - plans land under plans/r15/
  - --plans-nockpt <tag>: capture the explain inside an identity
    materialize scope (gistdex_spark.materialize.scope), so a
    checkpointed query's plan shows its FULL lineage instead of the
    post-checkpoint stub (r14 verdict item "What's wrong #3":
    localCheckpoint truncates lineage, which made the before/after dumps
    of checkpointing queries non-evidence). The frame is only
    EXPLAINED in this mode, never executed — running a writer query
    without its materialization contract would write an inconsistent
    store, so nockpt capture refuses queries that perform writes during
    build (they are profiled by job counts instead, which is the honest
    artifact for them).

Usage: python profile_r15.py q1,q2,... [--runs 2] [--plans before]
       python profile_r15.py q1,q2 --plans-nockpt before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Queries whose build PERFORMS writes / eager driver actions that depend
# on their checkpoints — nockpt capture must skip these
# (see module docstring).
WRITER_QUERIES = {
    "shard_write_census",
    "shard_write_census_bpe",
    "media_shard_write_census",
    "curated_shard_write_census",
    "shard_append_census",
    "resampled_shard_write_census",
    "curriculum_shard_write_census",
    "eval_decontaminate_minhash_stored",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="write plans/r15/<q>_<tag>.txt explain output")
    ap.add_argument("--plans-nockpt", default=None,
                    help="EXPLAIN-only capture with checkpoints as identity "
                    "(full pre-checkpoint lineage); writes "
                    "plans/r15/<q>_<tag>.txt; no timing")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from gistdex_spark.session import get_spark

    spark = get_spark("gistdex-profile-r15", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from gistdex_spark import materialize as M
    from gistdex_spark.queries import REGISTRY

    names = [n for n in args.queries.split(",") if n]
    plandir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", "r15"
    )
    os.makedirs(plandir, exist_ok=True)

    def explain_to(df, name: str, tag: str) -> None:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plandir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)

    if args.plans_nockpt:
        for name in names:
            if name in WRITER_QUERIES:
                print(f"# {name}: SKIPPED (writer query — nockpt "
                      f"capture would execute writes without their "
                      f"checkpoints)",
                      file=sys.stderr, flush=True)
                continue
            try:
                with M.scope(lambda frame: frame):
                    df = REGISTRY[name](spark, sf_dir)
                explain_to(df, name, args.plans_nockpt)
                print(f"# {name}: full-lineage plan captured",
                      file=sys.stderr, flush=True)
            except Exception as exc:
                print(f"# {name}: nockpt capture failed: {exc}",
                      file=sys.stderr, flush=True)
        spark.stop()
        return

    # Warm up JVM + Python worker pool (mirrors bench.py).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from gistdex_spark.functions.embedder import embed_udf

    spark.range(256).repartition(int(cpus)).selectExpr(
        "cast(id as string) as t"
    ).select(embed_udf(dim=4)("t")).collect()

    tracker = spark.sparkContext.statusTracker()

    def n_jobs() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else 0

    results: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            results[name] = {"error": str(exc).split("\n")[0][:200]}
            print(f"# {name}: FAILED {results[name]['error']}",
                  file=sys.stderr, flush=True)
            continue
        laps = []
        for _ in range(args.runs):
            j0 = n_jobs()
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            j1 = n_jobs()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            j2 = n_jobs()
            laps.append(
                {
                    "build_sec": round(t1 - t0, 3),
                    "exec_sec": round(t2 - t1, 3),
                    "build_jobs": j1 - j0,
                    "exec_jobs": j2 - j1,
                }
            )
        best = dict(min(laps, key=lambda r: r["build_sec"] + r["exec_sec"]))
        best["laps"] = laps
        results[name] = best
        print(
            f"# {name}: build {best['build_sec']:.2f}s"
            f" ({best['build_jobs']} jobs)"
            f" exec {best['exec_sec']:.2f}s ({best['exec_jobs']} jobs)",
            file=sys.stderr, flush=True,
        )
        if args.plans:
            try:
                df = fn(spark, sf_dir)
                explain_to(df, name, args.plans)
            except Exception as exc:  # plan capture must not kill profiling
                print(f"# {name}: plan capture failed: {exc}",
                      file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)

    out = json.dumps({"sf_dir": sf_dir, "queries": results})
    print(out, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(out + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
