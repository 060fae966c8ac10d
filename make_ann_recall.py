"""ANN recall curves: recall@10 + latency for every ANN family — IVF /
PQ / IVF-PQ across their tuning knobs, LSH sign-bucket multiprobe across
the probe radius, binary-sign across the Hamming shortlist — against the
exact kNN ground truth on the same embeddings table.

The floor gates in make_parity.py prove "above floor"; this artifact is
the CURVE a user choosing nprobe / radius / shortlist actually needs.
Run:

    python make_ann_recall.py [sf_dir] [out_json]

Defaults: /root/testdata/sf0.1 -> ANN_RECALL_r09.json. Latencies are
median-of-queries single-run wall clock on local[32] (the same caveats
as bench.py: believe relative shape, not absolute microseconds).
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from gistdex_spark.functions.embedder import embed_text
from gistdex_spark.operators import ivf as IVF
from gistdex_spark.operators import pq as PQ
from gistdex_spark.operators.search import with_score
from gistdex_spark.session import get_spark
from gistdex_spark.sources.tables import load_table, spread

K = 10
QUERY_TEXTS = [
    "distributed query engine internals",
    "vector similarity search index",
    "training data deduplication pipeline",
    "streaming window aggregation semantics",
    "parquet column pruning pushdown",
]


def exact_topk(emb, qv, k=K):
    return [
        r["vec_id"]
        for r in with_score(emb, qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def timed_ids(df, id_col="vec_id"):
    t0 = time.perf_counter()
    ids = [r[id_col] for r in df.collect()]
    return ids, time.perf_counter() - t0


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "ANN_RECALL_r10.json"
    spark = get_spark("ann-recall", cpus="32")
    emb = spread(load_table(spark, sf_dir, "embeddings")).persist()
    n = emb.count()
    queries = [embed_text(t) for t in QUERY_TEXTS]
    truth = [set(exact_topk(emb, qv)) for qv in queries]
    points = []

    def record(family, params, runs):
        recalls = [len(set(ids) & truth[i]) / K for i, (ids, _) in enumerate(runs)]
        lats = [lat for _, lat in runs]
        points.append(
            {
                "family": family,
                **params,
                "recall_at_10": round(statistics.mean(recalls), 3),
                "recall_min": round(min(recalls), 3),
                "median_latency_s": round(statistics.median(lats), 3),
            }
        )
        print(f"{family} {params}: recall={points[-1]['recall_at_10']} "
              f"lat={points[-1]['median_latency_s']}s", flush=True)

    # ---- IVF (trained k-means|| on sample): nprobe sweep ----------------
    cents = IVF.train_centroids(emb, k=16, seed=42)
    assigned = IVF.assign_clusters(emb, cents).persist()
    assigned.count()
    for nprobe in (1, 2, 4, 8):
        runs = [
            timed_ids(IVF.probe(assigned, cents, qv, k=K, nprobe=nprobe))
            for qv in queries
        ]
        record("ivf", {"n_centroids": 16, "nprobe": nprobe}, runs)
    assigned.unpersist()

    # ---- PQ: codebook-size sweep (m=16 subspaces) -----------------------
    for ksub in (16, 64, 256):
        books = PQ.train_pq_codebooks(emb, m=16, ksub=ksub, seed=42)
        runs = [
            timed_ids(PQ.pq_search(emb, books, qv, k=K, shortlist=50))
            for qv in queries
        ]
        record("pq", {"m": 16, "ksub": ksub, "shortlist": 50}, runs)

    # ---- IVF-PQ: nprobe x ksub over a persisted index -------------------
    for ksub in (16, 256):
        books = PQ.train_pq_codebooks(emb, m=16, ksub=ksub, seed=42)
        t0 = time.perf_counter()
        index = PQ.ivfpq_index(emb, cents, books).persist()
        index.count()
        build_s = round(time.perf_counter() - t0, 3)
        for nprobe in (1, 2, 4, 8):
            runs = [
                timed_ids(
                    PQ.ivfpq_search(
                        emb, cents, books, qv, k=K, nprobe=nprobe,
                        shortlist=50, index=index,
                    )
                )
                for qv in queries
            ]
            record(
                "ivfpq",
                {"m": 16, "ksub": ksub, "nprobe": nprobe,
                 "shortlist": 50, "index_build_s": build_s},
                runs,
            )
        index.unpersist()

    # ---- LSH sign-bucket multiprobe: radius sweep ------------------------
    # radius=0 is the single-bucket ann_lsh; each +1 probes every bucket
    # within that Hamming distance of the query's bucket (C(nbits, <=r)
    # buckets). The recall lever the registry's ann_lsh_multiprobe uses.
    from gistdex_spark.operators import similarity as SIM

    for radius in (0, 1, 2):
        runs = [
            timed_ids(
                SIM.ann_lsh_multiprobe(emb, qv, k=K, nbits=8, radius=radius)
            )
            for qv in queries
        ]
        record("lsh_multiprobe", {"nbits": 8, "radius": radius}, runs)

    # ---- multi-table LSH: L independent tables, union of probes ---------
    # The r9 single-table ceiling (0.22 at radius 2) is the projection,
    # not the family: L disjoint-slice tables drive misses down
    # ~exponentially in L. candidate_frac is the honesty metric — on
    # near-random hash embeddings high recall costs a large union
    # (real model embeddings cluster and need far smaller probe sets).
    for nbits, n_tables, radius in [
        (6, 2, 1), (6, 4, 1), (6, 10, 0), (6, 10, 1),
        (8, 8, 0), (8, 8, 1), (8, 8, 2),
    ]:
        runs = [
            timed_ids(
                SIM.ann_lsh_multitable(
                    emb, qv, k=K, nbits=nbits, n_tables=n_tables,
                    radius=radius,
                )
            )
            for qv in queries
        ]
        import functools
        import operator as op

        fracs = []
        for qv in queries:
            cond = functools.reduce(
                op.or_,
                [
                    SIM.sign_bucket("embedding", nbits, offset=t * nbits).isin(
                        SIM.probe_buckets(qv, nbits, radius, offset=t * nbits)
                    )
                    for t in range(n_tables)
                ],
            )
            fracs.append(emb.filter(cond).count() / n)
        record(
            "lsh_multitable",
            {
                "nbits": nbits,
                "n_tables": n_tables,
                "radius": radius,
                "candidate_frac": round(statistics.mean(fracs), 3),
            },
            runs,
        )

    # ---- collision-count (voting) LSH: bounded-candidate shortlist ------
    # The union form's candidate_frac explodes on hard corpora; voting
    # reranks EXACTLY `shortlist` rows (candidate volume fixed by
    # construction), trading recall for a hard cost bound.
    for weighted in (True, False):
        for shortlist in (50, 100, 200):
            runs = [
                timed_ids(
                    SIM.ann_lsh_vote(
                        emb, qv, k=K, nbits=6, n_tables=10, radius=1,
                        shortlist=shortlist, weighted=weighted,
                    )
                )
                for qv in queries
            ]
            record(
                "lsh_vote",
                {"nbits": 6, "n_tables": 10, "radius": 1,
                 "votes": "graded" if weighted else "indicator01",
                 "shortlist": shortlist,
                 "candidate_frac": round(shortlist / n, 3)},
                runs,
            )

    # ---- binary-sign: Hamming shortlist sweep ----------------------------
    # 1 bit/dim signatures; shortlist by bit_count(xor), exact rerank of
    # the shortlist only. Fully deterministic, so its registry query has
    # a value oracle; the curve shows what the shortlist size buys.
    for shortlist in (25, 50, 100, 200):
        runs = [
            timed_ids(SIM.ann_binary_sign(emb, qv, k=K, shortlist=shortlist))
            for qv in queries
        ]
        record("binary_sign", {"bits_per_dim": 1, "shortlist": shortlist}, runs)

    # ---- int8 symmetric quantization: shortlist sweep --------------------
    # 8 bits/dim codes; shortlist by the exact BIGINT code dot product,
    # exact rerank of the shortlist only. Like binary-sign this is fully
    # deterministic (value oracle in the registry); the curve shows how
    # much the 8-bit dot preserves of the exact ranking per shortlist.
    for shortlist in (10, 25, 50, 100):
        runs = [
            timed_ids(SIM.ann_int8(emb, qv, k=K, shortlist=shortlist))
            for qv in queries
        ]
        record("int8", {"bits_per_dim": 8, "shortlist": shortlist}, runs)

    payload = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "n_queries": len(queries),
        "k": K,
        "note": ("recall vs exact cosine top-10 on the hash-embedding "
                 "corpus (the hard case the recall gates use); IVF/PQ "
                 "latencies include the per-call encode, IVF-PQ searches "
                 "a persisted index (production path)"),
        "points": points,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=2)
    print(f"wrote {out_path} ({len(points)} points)", flush=True)


if __name__ == "__main__":
    main()
