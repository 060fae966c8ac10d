"""Standing per-round sf1 bench artifact (round-7 verdict punch item 2):
median-of-3 timings for the ~10 most expensive registry queries on a 10x
corpus (~50k docs / ~1.5M tokens, 32-file real-lake layout), written to
BENCH_SF1_r{N}.json.

The driver's 2x gate is graded at sf0.1; this artifact is the SCALE
evidence — the same operator timings on 10x data every round, so a
super-linear blowup in the dedup/ANN/retrieval families shows up as a
round-over-round regression instead of a design claim.

Corpus: `generate` below (the round-6 sf1 generator) — each replica
suffixes every token and perturbs one embedding dimension so replicas are
INDEPENDENT corpora (plain duplication would make every replica group a
near-dup cluster and inflate the pair graph 100x). Only documents and
embeddings exist at sf1, so the query list is restricted to those tables
(which is where all the heavy queries live anyway).

Usage: python make_bench_sf1.py <round> [out.json]
Runs ~15-25 min; launch via nohup per the bench-pitfalls notes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".sf1")
SF1_DIR = os.path.join(BASE, "multi")
SF01 = "/root/testdata/sf0.1"
REPLICAS = 10

# The ten heaviest registry queries of the r6 bench (all documents/
# embeddings-only; fixed-vec-id lookups like ann_ivf_trained excluded —
# replica ids are orig*10+i, so id 7 does not exist at sf1).
HEAVY = [
    "dedup_simhash_pairs",
    "dedup_components",
    "dedup_component_sizes",
    "dedup_survivors",
    "dedup_survivors_best_quality",
    "corpus_curation_pipeline",
    "semdedup_prune",
    "semdedup_adaptive_prune",
    "ann_ivfpq_search",
    "rag_retrieval_pipeline",
    "prf_expanded_search",
    "neardup_pagerank",
    # round-7 additions with corpus-proportional work
    "dedup_exact_substring_removal",
    "source_quality_drift",
    # round-9 additions: the maximal-span family's pair join grows with
    # duplicated mass, and the semantic flagship's adaptive C grows ∝ n
    "dedup_variable_substring_spans",
    "dedup_variable_substring_removal",
    "corpus_curation_semantic",
    "band_skew_audit",
    # round-10 additions: the augmented within-doc span family's pair
    # work grows with planted self-repeats, and the multi-table union
    # filter is a full-scan predicate whose cost tracks corpus size
    "dedup_variable_substring_within_aug",
    "ann_lsh_multitable",
    # round-11 additions: both vote forms (full-scan int expressions —
    # cost tracks corpus size) and the bounded exact-pair variants whose
    # block/band populations grow with the corpus
    "ann_lsh_vote",
    "dedup_embedding_cosine_blocked",
    "dedup_ngram_jaccard_banded",
    # round-11 late additions: the containment posting join and the
    # novelty gram window both grow with corpus text; triangles rides
    # the simhash pair graph (and now lineage-cuts the edge list)
    "dedup_ngram_containment",
    "gram_novelty",
    "neardup_triangles",
    # Session-2 additions: the int8 full-scan quantization expression,
    # the block-kernel kNN graph + mutual clustering (quadratic compute,
    # the honest scale probe for the kernel), the PMI window/pair aggs,
    # and the two scan-shaped per-row folds.
    "ann_int8_rerank",
    "mutual_knn_clusters",
    "pmi_cooccurrence",
    "token_entropy_gate",
    "heaps_law_audit",
    "knn_graph_multitable",
    "corpus_curation_funnel",
    # Round-12 additions: the bounded paths of the two exact graph
    # entries above get the same scale series their references have —
    # the single-table blocked graph (capped hot buckets) and the
    # funnel flagship on the multitable kernel.
    "knn_graph_blocked",
    "corpus_curation_funnel_blocked",
    # Round-13 additions: the BPE token family (the merge-loop UDF's
    # cost is corpus-proportional Python/Arrow work — the honest scale
    # probe for tokenizer-in-a-UDF) and the shard manifest (range
    # exchange + hash agg over every document).
    "token_count_bpe",
    "sequence_packing_stats_bpe",
    "shard_manifest_census",
    "eval_decontaminate_minhash",
    # Round-15 additions (r14 verdict item 1): the queries whose r14/r15
    # optimizations are plan-shape claims that sf0.1 (fixed-cost bound,
    # 8c/32c ratio ~0.92) cannot measure — the packed-shard writer
    # family where payload bytes dominate at 10x data, the zero-shuffle
    # curation gate, the narrow curriculum rank, and the stored-
    # decontamination write+probe. All documents-only, sf1-compatible.
    "shard_write_census",
    "shard_write_census_bpe",
    "curated_shard_write_census",
    "curriculum_shard_write_census",
    "resampled_shard_write_census",
    "shard_append_census",
    "media_shard_write_census",
    "eval_decontaminate_minhash_stored",
]


def generate(spark) -> None:
    """Write REPLICAS independent copies of sf0.1's documents and
    embeddings to SF1_DIR as 32-file parquet."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gistdex_spark.sources.tables import load_table  # noqa: PLC0415

    docs = load_table(spark, SF01, "documents")
    emb = load_table(spark, SF01, "embeddings")
    doc_parts = []
    emb_parts = []
    for i in range(REPLICAS):
        # suffix every token so replicas are INDEPENDENT corpora for
        # simhash (same text would make every replica group a near-dup
        # cluster and blow the pair count 100x)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") * 10 + F.lit(i)).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1x{i}").alias("text"),
                "lang",
                "source",
            )
        )
        # perturb one dimension per replica so vectors are distinct
        def _perturb(rep):
            return lambda x, idx: F.when(
                idx == rep % 8, x + F.lit(0.013 * (rep + 1))
            ).otherwise(x)

        emb_parts.append(
            emb.select(
                (F.col("vec_id") * 10 + F.lit(i)).alias("vec_id"),
                F.transform("embedding", _perturb(i)).alias("embedding"),
            )
        )
    all_docs = doc_parts[0]
    for p in doc_parts[1:]:
        all_docs = all_docs.unionAll(p)
    all_emb = emb_parts[0]
    for p in emb_parts[1:]:
        all_emb = all_emb.unionAll(p)
    for name, df in (("documents", all_docs), ("embeddings", all_emb)):
        df.repartition(32).write.mode("overwrite").parquet(
            f"{SF1_DIR}/{name}.parquet"
        )
    print("generated", flush=True)


def ensure_corpus() -> None:
    if os.path.exists(os.path.join(SF1_DIR, "documents.parquet")):
        return
    from gistdex_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("sf1-gen", cpus="32")
    generate(spark)
    spark.stop()


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else f"BENCH_SF1_r{int(rnd):02d}.json"
    )
    ensure_corpus()
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF1_DIR,
        SPARK_GRAFT_CPUS="32",
        SPARK_GRAFT_BENCH_ONLY=",".join(HEAVY),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    payload["metric"] = "sf1_heavy_queries_total"
    payload["sf"] = 1.0
    payload["layout"] = "multi_32_file"
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
