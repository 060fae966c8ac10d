"""Iterative graph operators beyond connected components: PageRank.

Near-dup pair graphs have a second read beyond "which docs are dupes"
(dedup.connected_components): HOW CENTRAL a document is in its duplicate
neighborhood. A boilerplate template that hundreds of pages embed scores
high; a one-off near-miss scores low — centrality ranks which exemplar
to KEEP (or which template to strip) better than min-id. Power-iteration
PageRank is the standard centrality for that, and it exercises the same
scale pattern as CC: one distributed join+agg per round, driver pulls
back nothing but loop control, lineage truncated every round.

Scale: each iteration is edges ⋈ ranks (shuffle on node id) + one
hash-agg. Rank and degree frames are node-sized, edges dominate; at
10^11 edges the join inherits the pair frame's partitioning. Fixed
iteration count (bounded latency) is the production norm — power
iteration converges geometrically at rate = damping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.materialize import checkpoint

ROUND = 6


def pagerank(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations over the symmetrized
    pair graph, ranks rounded to 6 dp.

    The pair stream is symmetrized in ONE explode pass (both directions
    from a single upstream evaluation — same rationale as
    dedup.connected_components). In the symmetric graph every node has
    in- and out-degree >= 1, so there is no dangling-mass term and the
    per-round update is exactly
    ``rank'(v) = (1-d)/N + d * sum(rank(u)/deg(u) : u~v)``.
    Deterministic for a fixed iteration count — DuckDB computes the same
    value by unrolling the iterations as chained CTEs (aggregation is
    not allowed in a recursive term), so the oracle is value-exact.

    The per-round contribution sum is made ORDER-INDEPENDENT by summing
    in fixed point: each contribution is floored to 1e-15 resolution
    (``floor(c * 1e15)`` — exact in a double and identical on both
    engines) and accumulated as exact integers, so the result is the
    same under ANY partition order or grouping — a plain double SUM is
    a partition-order-dependent fold whose last-bit noise compounds
    over five iterations. Unlike an ordered array fold (collect_list +
    sort), this streams in constant memory per group: a hub node with
    10^7 in-neighbors costs a counter, not a buffered array, so there
    is no degree cliff. The accumulator is a plain BIGINT, not
    DECIMAL(38,0): rank is a probability distribution (every round
    preserves total mass 1), so a node's incoming fixed-point sum is
    bounded by 1e15 — 9000x inside the long range and inside 2^53, so
    the final double conversion is exact too (the round-6 decimal
    accumulator paid ~10% agg cost for headroom the invariant proves
    unreachable; DuckDB's sum(BIGINT) widens to HUGEINT, same exact
    integers). The 1e-15 quantization sits ~9 digits below the final
    6-dp rounding.

    Per-round lineage cuts go through
    :func:`~gistdex_spark.materialize.checkpoint`: an eager
    local checkpoint owned by the active materialize scope. A scope of
    ``lambda df: df.checkpoint(eager=True)`` (after ``setCheckpointDir``)
    makes a long multi-round job survive executor loss on a real cluster
    (same contract as dedup.connected_components).
    """
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    sym = checkpoint(sym)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    if n == 0:
        return sym.select(
            F.col("src").alias("node"), F.lit(0.0).alias("rank")
        )
    ranks = checkpoint(
        deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("rank"))
    )
    # Canonicalize (1 - damping) through a shortest-decimal round-trip:
    # Python's 1.0 - 0.85 is one ulp ABOVE the double the oracle's
    # literal `0.15` parses to, and the fixed-point floor() below is a
    # step function that can amplify that ulp into a full 1e-15 quantum
    # at an integer boundary. f"{...:.12g}" -> float reproduces exactly
    # the double a SQL decimal literal of the same value yields, so both
    # engines start every round from the same base.
    base = float(f"{1.0 - damping:.12g}") / n
    # deg is ITERATION-INVARIANT, so join it into the edge frame once
    # before the loop — the naive form re-joined deg on every round,
    # paying an extra join over the full edge frame per iteration
    # (at 10^11 edges, five avoidable edge-frame joins). The widened
    # frame carries one extra int per edge; the per-round work drops to
    # a single rank join + agg.
    symd = checkpoint(sym.join(deg, "src"))

    def one_round(rk: DataFrame) -> DataFrame:
        contribs = symd.join(rk, symd.src == rk.node).select(
            F.col("dst").alias("node"),
            F.floor((F.col("rank") / F.col("deg")) * F.lit(1e15))
            .alias("c_fx"),
        )
        return contribs.groupBy("node").agg(
            (
                F.lit(base)
                + F.lit(damping)
                * (F.sum("c_fx").cast("double") / F.lit(1e15))
            ).alias("rank")
        )

    # TWO rounds per lineage cut: each round references its input rank
    # frame exactly ONCE (the contribution join), so a fused pair keeps
    # lineage depth 2 with no cross-branch recompute — unlike CC's
    # label-prop step, no persist is needed — and the cut+job count
    # halves. The cut itself stays mandatory (analyzer blowup guard).
    done = 0
    while done < iters:
        ranks = one_round(ranks)
        done += 1
        if done < iters:
            ranks = one_round(ranks)
            done += 1
        ranks = checkpoint(ranks)
    return ranks.select("node", F.round("rank", ROUND).alias("rank"))


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Per-node triangle participation over an undirected pair list —
    the near-dup graph's clique signal (a template cluster is a clique;
    a chain of borderline matches is not), and the input to clustering
    coefficients.

    Algorithm: orient every edge low-id -> high-id (each triangle then
    has exactly ONE wedge u<v<w, so two equality self-joins count it
    once — the classic node-iterator). Scale: both joins are
    equality-keyed shuffles; the known refinement for power-law graphs
    is degree-based orientation (low-degree -> high-degree caps wedge
    fan-out at O(sqrt(m)) per node) — id-orientation is kept here
    because it is the deterministic form the DuckDB oracle reproduces
    verbatim, and near-dup cluster sizes are already capped upstream by
    the banded-join design.

    The deduped edge list is lineage-cut ONCE before the self-joins:
    the plan references it three times and Spark has no cross-join-side
    CSE, so without the cut the entire upstream pair pipeline (simhash
    signatures + banded join for the registry caller) executes three
    times — the same expression-reevaluation class as the round-11
    lambda-inlining fixes, one level up. Measured at sf0.1 (8 cpus,
    min-of-3, same session A/B): 3.0 s -> 2.3 s, and the run variance
    collapses. Same cut contract as pagerank/connected_components (the
    active materialize scope's checkpoint).
    """
    e = checkpoint(
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (e1.a == e3.a3) & (e2.c == e3.c3))
        .select("a", "b", "c")
    )
    # ONE reference to tri: the old union-of-three-projections form
    # re-executed the entire wedge join pipeline three times (three
    # branches, three different projections — no cross-branch CSE and
    # no exchange reuse once pruning differentiates the schemas; the
    # same class as the edge-list cut above, one level further down).
    # Exploding the three roles in a single projection is
    # value-identical and evaluates the wedge join once: sf1
    # (2.1M edges, 215M wedges) measured 59-80 s -> ~25 s.
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count("*").alias("n_triangles"))
