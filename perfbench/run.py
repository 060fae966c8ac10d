"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed``, starts a fresh Python process and JVM (``worker.py``) with a
clean store, shard and Spark local directory, checks every op's output
against the oracles once that process has ended, and prints one JSON line
last: the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``.

The op count is fixed by ``--seconds`` and the workload's nominal op time,
never by elapsed time, so every commit runs the same ops. See README.md for
the workloads, sizes and what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the curation oracle reads the registry's SQL

import gen  # noqa: E402
import procstats  # noqa: E402

# Spark task slots: half of this 4-core box's cores. The driver Python
# process burns close to one core per op on its own, so it gets the rest.
SLOTS = 2
# Per workload: input sizes, warm-up ops (untimed, counted in setup_s) and
# the nominal seconds per op that turns --seconds into a fixed op count.
WORKLOADS = {
    "ingest_search": {"base_docs": 500, "batch_docs": 25, "warmup": 2, "op_s": 2.5},
    "curate": {"batch_docs": 150, "warmup": 2, "op_s": 3.3},
}
CHILD_DEADLINE_S = 170.0
# Fixed driver heap (initial = max): the peak RSS of a growing heap depends on
# when the collector ran, which made mem_mb vary by ~15% between runs.
HEAP = "2g"
# C1 only: with the C2 compiler the driver's planning code kept getting
# faster for ~25 curate ops (~75 s), longer than a run can warm up, and C2's
# compiler threads burned about as much CPU as the ops themselves. C1
# reaches its compiled state within the two warm-up ops.
JIT = "-XX:TieredStopAtLevel=1"
SHARD_TOKENS = 2048  # the registry's shard budget, passed to write_packed_shards


def die(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def generate(workload: str, cfg: dict, inputs: str, seed: int, n_ops: int) -> dict:
    if workload == "ingest_search":
        return gen.gen_ingest_search(inputs, seed, cfg["base_docs"], cfg["batch_docs"], n_ops)
    return gen.gen_curate(inputs, seed, cfg["batch_docs"], n_ops)


def child_env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        # Every JVM, spark-submit's launcher included: temp files in the run
        # directory, and no /tmp/hsperfdata_* files.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData {JIT} -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Xms{HEAP} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                continue
    return False


def run_child(work: str, spec_path: str, deadline: float) -> tuple[int, float]:
    """Run the worker in its own process group; return (exit code, spawn
    time). Afterwards every process of the group (JVM, Python workers) is
    killed and waited for."""
    with open(os.path.join(work, "worker.log"), "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=work, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            end = time.monotonic() + 10
            while _group_alive(proc.pid) and time.monotonic() < end:
                time.sleep(0.1)
    return rc, t_spawn


def check_ingest(inputs: str, manifest: dict, out: dict, work: str) -> list[bool]:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from oracle import SearchOracle

    stored: dict[str, set] = {}
    table = ds.dataset(os.path.join(work, "store"), format="parquet",
                       partitioning="hive").to_table(columns=["source_id", "id"])
    for sid, cid in zip(table["source_id"].to_pylist(), table["id"].to_pylist()):
        stored.setdefault(sid, set()).add(cid)

    def present(t) -> bool:
        return all(stored.get(sid) == set(orc.sources[sid])
                   for sid in t["source_id"].to_pylist())

    orc = SearchOracle()
    base = pq.read_table(os.path.join(inputs, manifest["base"]))
    orc.add_docs(base["source_id"].to_pylist(), base["content"].to_pylist(),
                 base["source_type"].to_pylist())
    ok_base = present(base)
    results = []
    for k, op_out in enumerate(out["outputs"]):
        t = pq.read_table(os.path.join(inputs, manifest["batches"][k]))
        orc.add_docs(t["source_id"].to_pylist(), t["content"].to_pylist(),
                     t["source_type"].to_pylist())
        ok = ok_base and present(t)
        for q, got in zip(manifest["queries"][2 * k : 2 * k + 2], op_out["searches"]):
            want = orc.search(q["text"], k=10, mode=q["mode"],
                              source_type=q.get("source_type"))
            ok = ok and [tuple(r) for r in got] == want
        results.append(ok)
    # No chunk stored twice, none missing.
    if table.num_rows != len(orc.ids):
        results = [False] * len(results)
    return results


def check_curate(inputs: str, manifest: dict, out: dict, work: str) -> list[bool]:
    """Survivors from the written shards against the registry's curation
    SQL; each written row's token count, span start and shard id against a
    recount; the Spark census against the census of the written rows."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from oracle import curate_kept, curation_sql, shard_census

    kept_sql = curation_sql()
    paths = [os.path.join(inputs, manifest["batches"][k]) for k in range(len(out["outputs"]))]
    # One DuckDB connection per batch, run side by side: the worker has
    # exited, so the oracle has the machine to itself.
    with ThreadPoolExecutor(max_workers=4) as pool:
        kept_sets = list(pool.map(lambda p: curate_kept(p, kept_sql), paths))
    results = []
    for k, (op_out, kept) in enumerate(zip(out["outputs"], kept_sets)):
        batch = pq.read_table(paths[k])
        texts = dict(zip(batch["doc_id"].to_pylist(), batch["text"].to_pylist()))
        rows = ds.dataset(os.path.join(work, "shards", f"op{k:03d}"), format="parquet",
                          partitioning="hive").to_table(
            columns=["doc_id", "n_tok", "start", "shard_id"]).to_pylist()
        rows.sort(key=lambda r: r["doc_id"])
        results.append(
            [r["doc_id"] for r in rows] == kept
            and shard_census(rows, texts, SHARD_TOKENS)
            == [tuple(r) for r in op_out["census"]])
    return results


def median_ms(walls_s: list[float]) -> float:
    import numpy as np

    return float(np.percentile(walls_s, 50)) * 1000.0


def input_bytes(inputs: str, names: list[str], col: str) -> int:
    import pyarrow.parquet as pq

    return sum(len(s.encode("utf-8")) for n in names
               for s in pq.read_table(os.path.join(inputs, n), columns=[col])[col].to_pylist())


def end_to_end(workload: str, out: dict, t_spawn: float, manifest: dict,
               inputs: str, n_ops: int) -> dict:
    walls = out["op_walls_s"]
    if workload == "ingest_search":
        written = out["store"]["bytes"]
        received = input_bytes(inputs, [manifest["base"]] + manifest["batches"][:n_ops],
                               "content")
    else:
        written = sum(b for _f, b in out["shard_usage"])
        received = input_bytes(inputs, manifest["batches"][:n_ops], "text")
    return {
        "setup_s": out["t_first_op"] - t_spawn,
        "op_p50_ms": median_ms(walls),
        "ops_per_s": len(walls) / out["timed_wall_s"],
        "cpu_ms_per_op": out["cpu_ms"] / len(walls),
        "write_bytes_per_input_byte": procstats.ratio(written, received),
        "mem_mb": out["mem_mb"],
    }


def per_layer(out: dict, workload: str, warmup: int) -> dict:
    ops = out["traced_ops"]
    vals = {key: sum(o[key] for o in ops) / len(ops) for key in ops[0]}
    vals.update(out["layers"])
    vals["store.files_total"] = out["store"]["parquet_files"] if "store" in out else 0
    if workload == "curate":
        traced_k = [warmup + i for i in range(0, len(out["op_walls_s"]), 2)]
        usage = [out["shard_usage"][k] for k in traced_k]
        vals["shard_writer.files_written"] = sum(f for f, _b in usage) / len(usage)
        vals["shard_writer.bytes_written"] = sum(b for _f, b in usage) / len(usage)
    else:
        vals["shard_writer.files_written"] = vals["shard_writer.bytes_written"] = 0
    vals["host.steal_ms"] = out["steal_ms"]
    vals["trace.op_p50_ms"] = median_ms(out["traced_walls_s"])
    vals["trace.overhead"] = procstats.ratio(median_ms(out["traced_walls_s"]),
                                             median_ms(out["plain_walls_s"]))
    return vals


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "gistdex_spark", "session.py")):
        die(f"program sources not found under {ROOT}", 2)
    declared = declared_metrics()[args.trace]
    cfg = WORKLOADS[args.workload]
    # At least 4 timed ops, so a traced run has 2 traced and 2 untraced ops.
    timed = max(4, round(args.seconds / cfg["op_s"]))
    n_ops = cfg["warmup"] + timed

    base = os.path.join(HERE, ".work")
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, name)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    for d in ("inputs", "local", "tmp"):
        os.makedirs(os.path.join(work, d))

    t = time.monotonic()
    manifest = generate(args.workload, cfg, inputs, args.seed, n_ops)
    gen_s = time.monotonic() - t
    print(f"gen_s={gen_s:.3f}")
    spec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "slots": SLOTS, "shard_tokens": SHARD_TOKENS, "warmup": cfg["warmup"],
            "timed": timed, "work": work, "inputs": inputs, "manifest": manifest}
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    rc, t_spawn = run_child(work, spec_path, t_start + CHILD_DEADLINE_S)
    out_path = os.path.join(work, "out.json")
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "worker.log")) as f:
            tail = f.read()[-4000:]
        die(f"worker exited with {rc}\n{tail}")
    with open(out_path) as f:
        out = json.load(f)

    t = time.monotonic()
    check = check_ingest if args.workload == "ingest_search" else check_curate
    ok = check(inputs, manifest, out, work)
    oracle_s = time.monotonic() - t
    timed_ok = ok[cfg["warmup"]:]
    failed = sum(1 for x in timed_ok if not x)

    if args.trace:
        values = per_layer(out, args.workload, cfg["warmup"])
    else:
        values = end_to_end(args.workload, out, t_spawn, manifest, inputs, n_ops)
    missing = sorted(set(declared) - set(values))
    if missing:
        die(f"metrics not computed: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in declared.items()}
    detail = {"args": vars(args), "slots": out["slots"], "warmup_ops": cfg["warmup"],
              "timed_ops": timed, "gen_s": gen_s, "oracle_s": oracle_s,
              "warmup_curve_s": out["warmup_curve_s"], "op_walls_s": out["op_walls_s"],
              "steal_ms": out["steal_ms"], "ok": ok, "values": values,
              "layers": out["layers"],
              "planted": manifest.get("planted"), "spans": out.get("spans")}
    with open(os.path.join(base, name + ".json"), "w") as f:
        json.dump(detail, f)
    shutil.rmtree(work, ignore_errors=True)

    print(f"slots={out['slots']} warmup_ops={cfg['warmup']} timed_ops={timed} "
          f"oracle_s={oracle_s:.3f} steal_ms={out['steal_ms']:.0f}")
    print("warmup_curve_s=" + json.dumps([round(x, 3) for x in out["warmup_curve_s"]]))
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": all(ok), "attempted": len(timed_ok), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
