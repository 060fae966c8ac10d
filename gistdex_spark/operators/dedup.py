"""Deduplication operators for LLM training-data pipelines.

Exact (hash group-by), n-gram Jaccard (blocked exact), MinHash+LSH
(shingle → minhash signature → band → bucket join), SimHash (bit-vote +
banded Hamming join), and embedding-cosine near-dup.

Scale design: every near-dup variant avoids the O(n^2) corpus self-join —
candidate pairs come from equality joins on LSH band keys / blocks, which
shuffle-partition by bucket and parallelize across executors. Only the
candidate verification touches pairs. Hash functions are md5-derived (60-bit
hex prefix → BIGINT) so the DuckDB oracle computes the identical values —
never engine-native hash() which differs across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.materialize import Materialize, checkpoint
from gistdex_spark.operators.textstats import fingerprint

ROUND = 6

# MinHash parameters: h1 = (md5-60bit % P); minhash_i = (A[i]*h1 + B[i]) % P.
# P < 2^31 keeps A[i]*h1 < 2^62 (no BIGINT overflow in either engine).
MINHASH_P = 2147483647
# Deterministic coefficients (seeded LCG, generated once and frozen).
_SEED = 42


def _coeffs(n: int) -> tuple[list[int], list[int]]:
    a, b, state = [], [], _SEED
    for _ in range(n):
        state = (1103515245 * state + 12345) % (2**31)
        a.append(state % (MINHASH_P - 1) + 1)
        state = (1103515245 * state + 12345) % (2**31)
        b.append(state % MINHASH_P)
    return a, b


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small-file scan so CPU-heavy per-row
    expressions use every core. No-op when the source already has enough
    splits — the 100 TB case, where parquet row groups provide the
    parallelism and the extra exchange would be pure waste. (The shared
    implementation lives in sources/tables.spread; re-exported here for
    the operators that predate it.)"""
    from gistdex_spark.sources.tables import spread

    return spread(df)


def minhash_signatures(
    df: DataFrame, content_col: str = "text", num_hashes: int = 16, n: int = 5
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>) minhash signature.

    ZERO shuffles: the signature is a pure per-row array expression —
    shingle, hash, and take num_hashes mins entirely inside whole-stage
    codegen. No explode, no groupBy; at 100 TB this stage is map-only and
    scales linearly with input splits."""
    a, b = _coeffs(num_hashes)
    c = f"lower({content_col})"
    grams = (
        f"array_distinct(transform(sequence(1, greatest(length({c}) - {n - 1}, 1)), "
        f"i -> substring({c}, i, {n})))"
    )
    hs = (
        f"transform({grams}, g -> "
        f"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % {MINHASH_P}L)"
    )
    # 16 unrolled array_min projections: a rolled transform-over-
    # permutation-index variant was measured ~5x slower at runtime (nested
    # lambdas evaluate interpreted, scaling with data); the unrolled form
    # pays a one-time codegen compile instead, which is the right trade at
    # any scale.
    sig = ", ".join(
        f"array_min(transform(hs, h -> ({a[i]}L * h + {b[i]}L) % {MINHASH_P}L))"
        for i in range(num_hashes)
    )
    return _spread(df).select("doc_id", F.expr(hs).alias("hs")).select(
        "doc_id", F.expr(f"array({sig})").alias("sig")
    )


def _auto_bucket_partitions(
    banded: DataFrame, key_cols: list[str], salt_trip: int = 256
) -> int | None:
    """Audit-driven round-robin decision for the banded pair operators
    (r9 verdict item 2 — band_population_stats computed the tripwire but
    the treatment was a manual knob). ONE bounded driver scalar — the
    hottest band-key population, from a map-side-combined agg — decides:
    above ``salt_trip`` return a round-robin partition count (2x default
    parallelism, so hot-ish buckets interleave with cold ones), else
    None (save the extra exchange; AQE sizes the agg shuffle by bytes).

    Cost of the decision: one extra map pass over the signature stream
    (Spark can't reuse the un-actioned agg), which is why the callers
    gate it behind an opt-in flag — cheap insurance on corpora with
    viral-template risk, pure overhead on corpora known to be clean.
    """
    mx = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if mx is None or mx <= salt_trip:
        return None
    return banded.sparkSession.sparkContext.defaultParallelism * 2


def minhash_band_keys(sig_col: str, num_hashes: int, bands: int) -> list:
    """The LSH band keys of a minhash signature column: md5 over each
    band's row slice. ONE definition shared by the batch pair operator
    (:func:`minhash_lsh_pairs`) and the at-rest signature store
    (``sources/minhash_store``) — the store's frame-equality contract
    depends on both sides banding identically."""
    rpb = num_hashes // bands
    return [
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.col(sig_col)[b * rpb + r].cast("string")
                    for r in range(rpb)
                ],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    bucket_partitions: int | None = None,
    auto_salt: bool = False,
    salt_trip: int = 256,
) -> DataFrame:
    """Candidate pairs sharing an LSH band, verified by signature agreement.

    Returns (doc_id_a, doc_id_b, est_jaccard) with a < b, est >= threshold.

    ``bucket_partitions`` round-robins the bucket frame before the
    quadratic in-bucket pair expansion (see simhash_pairs for when);
    ``auto_salt=True`` derives it from the band-population audit instead
    of a manual knob (see :func:`_auto_bucket_partitions`). Opt-in HERE
    (unlike simhash_pairs, where it defaults on): the md5 band keys are
    128-bit, so clean-corpus buckets are near-singletons and the audit
    pass measured as pure overhead (r11 A/B: sf1 60.4 s -> 64.9 s) —
    turn it on for corpora with viral-template risk.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, content_col, num_hashes, n)
    band_key = minhash_band_keys("sig", num_hashes, bands)
    banded = sig.select("doc_id", "sig", *band_key).select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    # Candidate pairs by grouping each band bucket and expanding the
    # intra-bucket combinations narrowly. A banded SELF-JOIN would reference
    # the signature subtree twice — Spark has no cross-join-side CSE, so
    # every signature would be computed twice; this shape computes them
    # once and shuffles each (id, sig) exactly `bands` times. members are
    # sorted by doc_id, so i<j yields doc_id_a < doc_id_b directly.
    # (Bucket blowup is governed by band tuning, same as the join form.)
    if auto_salt and bucket_partitions is None:
        bucket_partitions = _auto_bucket_partitions(
            banded.select("band_idx", "band_hash"),
            ["band_idx", "band_hash"],
            salt_trip,
        )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    if bucket_partitions is not None:
        # Same round-robin treatment as simhash_pairs: the bucket frame
        # is byte-small but the pair expression below is quadratic per
        # bucket — an explicit round-robin pins parallelism and spreads
        # hot buckets across tasks.
        buckets = buckets.repartition(bucket_partitions)
    # Verify + dedup INSIDE the bucket expression (same scheme as
    # simhash_pairs): keep a candidate only when the signature-agreement
    # estimate clears the threshold AND this is the first band whose rows
    # all agree — each emitted pair is unique, so the candidate stream
    # skips the dropDuplicates exchange entirely.
    rpb = rows_per_band
    first_band = (
        f"(band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"forall(sequence(0, {rpb - 1}), r -> "
        f"p.sig_a[b * {rpb} + r] = p.sig_b[b * {rpb} + r])))"
    )
    matches = "size(filter(zip_with(p.sig_a, p.sig_b, (x, y) -> x = y), t -> t))"
    # Threshold on the ROUNDED estimate, exactly as the oracle compares
    # (est_jaccard >= threshold): an integer-count form
    # `matches >= threshold * num_hashes` diverges at exact-boundary
    # agreement counts when the float product lands epsilon above the
    # integer (e.g. 0.14 * 50 = 7.000000000000001 drops a 7-match pair).
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i].doc_id AS doc_id_a, m[j].doc_id AS doc_id_b, "
        "m[i].sig AS sig_a, m[j].sig AS sig_b)), "
        f"p -> round({matches} / cast({num_hashes} as double), 6)"
        f" >= {threshold} and {first_band})))"
    )
    pairs = buckets.select(F.explode(F.expr(pair_expr)).alias("p")).select("p.*")
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda t: t)
    ).cast("double") / F.lit(float(num_hashes))
    return pairs.select(
        "doc_id_a", "doc_id_b", F.round(est, ROUND).alias("est_jaccard")
    )


def minhash_pairs_between(
    new: DataFrame,
    old: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """(new_id, old_id, est_jaccard): CROSS near-dup pairs between two
    corpora — the MinHash sibling of :func:`simhash_pairs_between`, and
    the engine under benchmark DECONTAMINATION (flag training documents
    whose estimated Jaccard against any eval/benchmark document clears
    the threshold — the standard pretraining hygiene pass alongside the
    n-gram form in `contamination_4gram`).

    Shape: both sides band with :func:`minhash_band_keys` (the shared
    expression — this operator, the batch self-pairs, and the at-rest
    store cannot drift), the banded equality join enumerates agreeing
    cross pairs only (never new×new or old×old), the first-agreeing-band
    predicate emits each pair exactly once, and the threshold compares
    the ROUNDED signature-agreement estimate exactly as the oracle
    replays it. Map-only signatures + one equality exchange per side.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rpb = num_hashes // bands

    def side(df: DataFrame, id_alias: str, sig_alias: str) -> DataFrame:
        return (
            minhash_signatures(df, content_col, num_hashes, n)
            .select(
                "doc_id", "sig", *minhash_band_keys("sig", num_hashes, bands)
            )
            .select(
                F.col("doc_id").alias(id_alias),
                F.col("sig").alias(sig_alias),
                F.posexplode(
                    F.array(*[F.col(f"band{b}") for b in range(bands)])
                ).alias("band_idx", "band_val"),
            )
        )

    nw = side(new, "new_id", "sig_n")
    o = side(old, "old_id", "sig_o")
    first_band = F.expr(
        f"band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"forall(sequence(0, {rpb - 1}), r -> "
        f"sig_n[b * {rpb} + r] = sig_o[b * {rpb} + r]))"
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_o", lambda x, y: x == y), lambda t: t
            )
        ).cast("double")
        / F.lit(float(num_hashes)),
        ROUND,
    )
    return (
        nw.join(o, ["band_idx", "band_val"])
        .withColumn("est_jaccard", est)
        .filter((F.col("est_jaccard") >= threshold) & first_band)
        .select("new_id", "old_id", "est_jaccard")
    )


def dedup_exact(df: DataFrame, content_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-content fingerprint; survivor = min doc_id."""
    fp = fingerprint(df, content_col)
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str = "source",
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup within a blocking key.

    For ``threshold > 0`` this runs as an INVERTED-INDEX count: explode
    distinct grams to postings, equality-join postings on (block, gram)
    to count shared grams per pair, and derive
    ``jaccard = shared / (|A| + |B| - shared)`` — identical values to
    the set-operation form (arrays are distinct, so |A ∪ B| is exactly
    the inclusion-exclusion count), but the pair join moves (ids, count)
    rows instead of materializing both gram ARRAYS per candidate pair
    (622k pairs x ~6 KB of strings at sf0.1 — measured 33 s; the
    posting join is bounded by Σ posting² = 386k rows there, max
    posting 6, and runs in ~2 s). Pairs sharing ZERO grams have
    jaccard 0 and are absent from the posting join — exactly the rows
    a positive threshold filters anyway, so results are identical.

    ``threshold <= 0`` (wants the zero-overlap pairs too, a
    correctness-only surface) falls back to the block pair join with
    array set ops. Blocking bounds the pair count either way; for
    unblocked corpora use minhash_lsh_pairs or ngram_jaccard_banded.
    """
    # Two-stage projection, NOT one inlined expression: a lambda body
    # referencing the tokenize subtree gets it SUBSTITUTED per element
    # (Catalyst does not CSE lambda-bound subtrees — the normalize()
    # finding again), so the one-expression form re-tokenized the whole
    # document once per gram (~300x). Staging `__toks` as a column
    # evaluates the split once per row; measured 3.1 s -> 0.35 s per
    # gram-set pass at sf0.1.
    toks = (
        f"filter(split(lower({content_col}), '[\\\\s]+'), "
        f"w -> length(w) > 0)"
    )
    grams = (
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))))"
    )
    with_sets = df.select(
        "doc_id", F.col(block_col).alias("block"), F.expr(toks).alias("__toks")
    ).select("doc_id", "block", F.expr(grams).alias("grams"))
    if threshold <= 0:
        l = with_sets.select(
            F.col("doc_id").alias("doc_id_a"), "block",
            F.col("grams").alias("grams_a"),
        )
        r = with_sets.select(
            F.col("doc_id").alias("doc_id_b"), "block",
            F.col("grams").alias("grams_b"),
        )
        inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
        union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
        jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        return (
            l.join(r, "block")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .withColumn("jaccard", F.round(jac, ROUND))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_id_a", "doc_id_b", "jaccard")
        )
    sizes = with_sets.select(
        "doc_id", F.size("grams").cast("double").alias("n_grams")
    )
    # explode_OUTER, then drop the (never-occurring) NULL rows ABOVE the
    # Generate: plain explode emits an implicit `size(grams) > 0`
    # predicate that pushes below the projections with the WHOLE gram
    # pipeline inlined into it — every row paid the tokenize+gram build
    # an extra time (the same lambda-inlining class as above; measured
    # 3.5 s -> ~1 s for the posting pass). The isNotNull filter sits on
    # the generated column, so it cannot push below the Generate.
    posts = with_sets.select(
        "doc_id", "block", F.explode_outer("grams").alias("g")
    ).filter(F.col("g").isNotNull())
    # Shared-gram counts via per-bucket pair expansion (ONE evaluation
    # of the posting pipeline — a posting self-JOIN would evaluate it
    # twice, Spark has no cross-join-side CSE; same shape as
    # minhash_lsh_pairs' buckets). Grams are distinct per doc, so m
    # holds distinct docs and each pair appears once per shared gram.
    buckets = (
        posts.groupBy("block", "g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("m"))
        .filter(F.size("m") >= 2)
    )
    # Strict < guard (m is sorted, so only duplicate ids can tie): a
    # duplicated doc_id in the input would otherwise emit a (d, d)
    # self-pair here where the set-op branch and the oracle emit
    # nothing. Duplicate-id inputs remain caller error (their sizes
    # join fans out), but the two branches now agree on self-pairs.
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i] AS doc_id_a, m[j] AS doc_id_b)), "
        "p -> p.doc_id_a < p.doc_id_b)))"
    )
    shared = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_grams").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_grams").alias("nb")
    )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn("jaccard", F.round(jac, ROUND))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str = "source",
) -> DataFrame:
    """Exact word-n-gram CONTAINMENT near-subset pairs within a block.

    Containment ``C(A in B) = |A ∩ B| / |A|`` is the asymmetric
    companion to Jaccard (Broder's resemblance-vs-containment split,
    "On the resemblance and containment of documents", 1997): a short
    excerpt quoted inside a long document scores near 1.0 on
    containment while its Jaccard stays tiny — exactly the quote/
    excerpt/boilerplate-reuse cases a symmetric threshold misses. A
    pair is emitted when EITHER direction reaches ``threshold``, and
    both directions are reported so callers can tell subset from
    near-identical.

    Same inverted-index shape (and the same lambda-inlining-safe
    staging) as ngram_jaccard_pairs: distinct grams -> postings ->
    per-(block, gram) bucket pair expansion -> shared counts, then two
    divisions instead of inclusion-exclusion. Pairs sharing zero grams
    have containment 0 in both directions and are absent from the
    posting join — identical to what any positive threshold filters,
    so requiring ``threshold > 0`` loses nothing.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_containment_pairs requires threshold > 0: zero-overlap "
            "pairs are absent from the posting join by construction"
        )
    toks = (
        f"filter(split(lower({content_col}), '[\\\\s]+'), "
        f"w -> length(w) > 0)"
    )
    grams = (
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))))"
    )
    with_sets = df.select(
        "doc_id", F.col(block_col).alias("block"), F.expr(toks).alias("__toks")
    ).select("doc_id", "block", F.expr(grams).alias("grams"))
    sizes = with_sets.select(
        "doc_id", F.size("grams").cast("double").alias("n_grams")
    )
    posts = with_sets.select(
        "doc_id", "block", F.explode_outer("grams").alias("g")
    ).filter(F.col("g").isNotNull())
    buckets = (
        posts.groupBy("block", "g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("m"))
        .filter(F.size("m") >= 2)
    )
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i] AS doc_id_a, m[j] AS doc_id_b)), "
        "p -> p.doc_id_a < p.doc_id_b)))"
    )
    shared = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_grams").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_grams").alias("nb")
    )
    return (
        shared.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn(
            "containment_a", F.round(F.col("shared") / F.col("na"), ROUND)
        )
        .withColumn(
            "containment_b", F.round(F.col("shared") / F.col("nb"), ROUND)
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("doc_id_a", "doc_id_b", "containment_a", "containment_b")
    )


def ngram_jaccard_banded(
    df: DataFrame,
    content_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    num_hashes: int = 16,
    bands: int = 4,
    bucket_partitions: int | None = None,
    materialize: Materialize = checkpoint,
) -> DataFrame:
    """Banded n-gram Jaccard near-dup: MinHash banding over the WORD
    n-gram sets proposes candidates, EXACT n-gram Jaccard verifies only
    the candidates — the bounded scale path of the all-pairs
    :func:`ngram_jaccard_pairs` (and unlike that form it needs no
    blocking key: candidates may cross sources).

    Scale shape: candidate volume is governed by the band tuning — a
    pair is proposed iff some full band of ``num_hashes/bands`` minhash
    rows agrees (probability ``1-(1-j^r)^b``: ~1 for the j >= 0.89
    near-dup mass the corpus plants, vanishing for unrelated docs) —
    and the exact verify reads gram arrays for candidates only, via two
    id equality joins. Fully deterministic: hashes, banding, and the
    verify replay bit-for-bit in the SQL oracle, so the operator gets a
    full VALUE oracle at every scale (where the exact form's oracle is
    quadratic in both engines). Returns (doc_id_a, doc_id_b, jaccard
    rounded) with jaccard >= threshold; near-dup pairs the banding
    misses are absent from BOTH engines by construction.
    """
    rows_per_band = num_hashes // bands
    a, b = _coeffs(num_hashes)
    # staged __toks for the same per-element inlining reason as
    # ngram_jaccard_pairs (lambda bodies re-evaluate referenced subtrees)
    toks = (
        f"filter(split(lower({content_col}), '[\\\\s]+'), "
        f"w -> length(w) > 0)"
    )
    grams = (
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))))"
    )
    gsets = _spread(df).select("doc_id", F.expr(toks).alias("__toks")).select(
        "doc_id", F.expr(grams).alias("__grams")
    )
    # gsets feeds the signature build AND both verify-join sides; Spark
    # has no cross-branch/join-side CSE, so without a cut the
    # tokenize+gram projection runs three times per action — the same
    # store-vs-recompute trade as semdedup's base frame. Where three
    # streaming passes beat storing the gram corpus (100 TB), pass an
    # identity ``materialize``.
    gsets = materialize(gsets)
    hs = (
        f"transform(__grams, g -> "
        f"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % {MINHASH_P}L)"
    )
    sig = ", ".join(
        f"array_min(transform(__hs, h -> ({a[i]}L * h + {b[i]}L) % {MINHASH_P}L))"
        for i in range(num_hashes)
    )
    sigd = gsets.select("doc_id", F.expr(hs).alias("__hs")).select(
        "doc_id", F.expr(f"array({sig})").alias("sig")
    )
    band_key = [
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.col("sig")[b_ * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"band{b_}")
        for b_ in range(bands)
    ]
    banded = sigd.select("doc_id", "sig", *band_key).select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*[F.col(f"band{b_}") for b_ in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    if bucket_partitions is not None:
        buckets = buckets.repartition(bucket_partitions)
    # First-band dedup exactly as minhash_lsh_pairs (each candidate pair
    # emitted once, no dropDuplicates exchange); NO estimate threshold —
    # every band collision goes to the exact verify.
    rpb = rows_per_band
    first_band = (
        f"(band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"forall(sequence(0, {rpb - 1}), r -> "
        f"p.sig_a[b * {rpb} + r] = p.sig_b[b * {rpb} + r])))"
    )
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i].doc_id AS doc_id_a, m[j].doc_id AS doc_id_b, "
        "m[i].sig AS sig_a, m[j].sig AS sig_b)), "
        f"p -> {first_band})))"
    )
    cands = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
    )
    ga = gsets.select(
        F.col("doc_id").alias("doc_id_a"), F.col("__grams").alias("grams_a")
    )
    gb = gsets.select(
        F.col("doc_id").alias("doc_id_b"), F.col("__grams").alias("grams_b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = F.size(F.array_union("grams_a", "grams_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cands.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .withColumn("jaccard", F.round(jac, ROUND))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash(df: DataFrame, content_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash BIGINT): majority vote per bit over token hashes.

    Shape: explode tokens → ONE hash aggregate with ``bits`` integer vote
    columns (sum of ±1 per bit) → assemble the signature. Every operator
    is whole-stage-codegen'd; the single shuffle carries one row per doc
    (map-side partial aggregation collapses the exploded tokens before
    the exchange). The previous form folded 32 interpreted
    higher-order-function passes per row — 6× slower at sf0.1 despite
    being shuffle-free, because HOF lambdas never enter codegen.
    Docs with no tokens are dropped (explode of an empty array emits no
    row), matching the unnest semantics the oracle mirrors."""
    df = _spread(df)
    toks = f"filter(split(lower({content_col}), '[\\\\s]+'), w -> length(w) > 0)"
    # md5 is applied AFTER the explode, as a plain projection: inside the
    # transform() lambda it would run interpreted per element (HOFs never
    # enter codegen) — measured 2× slower than this codegen'd form.
    # explode_OUTER + isNotNull ABOVE the Generate: plain explode pushes
    # an implicit `size(toks) > 0` filter below the projection with the
    # tokenize inlined — one extra split per row (the ngram_jaccard
    # finding); the outer form emits w=NULL for empty docs, and the
    # not-null filter on the GENERATED column (cannot push below)
    # restores the documented drop-empty-docs semantics exactly.
    tok = (
        df.select("doc_id", F.explode_outer(F.expr(toks)).alias("w"))
        .filter(F.col("w").isNotNull())
        .select(
            "doc_id",
            F.expr(
                "cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"
            ).alias("h"),
        )
    )
    # shiftright, not div/pow: same values for j <= 31 (hashes are 32-bit
    # non-negatives) but integer ops inside codegen.
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"case when shiftright(h, {j}) % 2 = 1 then 1 else -1 end")
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sim = " + ".join(
        f"(case when v{j} > 0 then shiftleft(cast(1 as bigint), {j}) "
        f"else cast(0 as bigint) end)"
        for j in range(bits)
    )
    return votes.select("doc_id", F.expr(sim).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_distance: int = 3,
    bucket_partitions: int | None = None,
    auto_salt: bool = True,
    salt_trip: int = 256,
) -> DataFrame:
    """Near-dup pairs via a banded Hamming join over SimHash signatures.

    EXACT for ``max_distance < bands``: two signatures within Hamming
    distance d differ in at most d bands, so by pigeonhole they agree on
    at least one of the ``bands`` bit-segments — the equality-join on
    (band_idx, band_val) finds every qualifying pair, then
    ``bit_count(a ^ b) <= d`` verifies. Returns (doc_id_a, doc_id_b,
    hamming) with a < b.

    Scale shape mirrors minhash_lsh_pairs: signatures are computed ONCE
    (map-only), each (id, sig) is shuffled exactly ``bands`` times, and
    candidates expand narrowly inside each bucket — no banded self-join
    (Spark has no cross-join-side CSE, so a self-join would compute every
    signature twice). At larger corpora raise ``bits`` to 64 so band
    values span 16 bits and buckets stay small.

    ``auto_salt`` derives ``bucket_partitions`` from the band-population
    audit instead of a manual knob (see :func:`_auto_bucket_partitions`;
    an explicit ``bucket_partitions`` always short-circuits it). Default
    ON here — unlike minhash, concentration is STRUCTURAL for SimHash:
    band values span only 2^(bits/bands) ids (256 at the defaults), so
    even a clean corpus piles thousands of docs per band bucket and the
    audit fires usefully essentially always. Measured on the clean
    corpora (r11 A/B, median-of-3): sf0.1 2.0 s -> 1.4 s, sf1
    20.1 s -> 7.1 s with the audit ON. minhash_lsh_pairs keeps the
    audit opt-in for the mirror-image reason: its md5 band keys are
    128-bit, clean-corpus buckets are near-singletons, and the audit
    pass measured as pure overhead there (sf1 60.4 s -> 64.9 s).

    CAVEAT — the audit makes plan CONSTRUCTION eager: deciding the
    partition count runs one collect at call time, which re-executes
    the un-actioned upstream once. Fine on a raw scan (where the wins
    above were measured); on an expensive DERIVED input with no cache,
    or when building plans without executing them, pass an explicit
    ``bucket_partitions`` (short-circuits the audit, keeps the
    treatment) or ``auto_salt=False``.
    """
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    if max_distance >= bands:
        raise ValueError("banded join is exact only for max_distance < bands")
    width = bits // bands
    mask = (1 << width) - 1
    sig = simhash(df, content_col, bits)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    if auto_salt and bucket_partitions is None:
        # Audit-driven treatment (opt-in): one bounded driver scalar on
        # the band-key populations decides the round-robin spread — see
        # _auto_bucket_partitions for the cost trade.
        bucket_partitions = _auto_bucket_partitions(
            banded.select("band_idx", "band_val"),
            ["band_idx", "band_val"],
            salt_trip,
        )
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    if bucket_partitions is not None:
        # The bucket frame is byte-small but the pair expression below is
        # quadratic per bucket; AQE coalesces the agg's shuffle to one
        # partition on bytes alone and serializes the pair generation.
        # ROUND-ROBIN with an explicit count pins the parallelism — a
        # keyed repartition would collapse into the agg's own exchange
        # (same keys) and re-coalesce, while round-robin also balances
        # hot buckets across tasks. At corpus scale the agg output is
        # large enough that AQE sizes it correctly — leave this None and
        # save the extra shuffle.
        buckets = buckets.repartition(bucket_partitions)
    # Verify + dedup INSIDE the bucket expression: a candidate survives
    # only if (a) Hamming distance qualifies and (b) this is the FIRST
    # band on which the two signatures agree — so each qualifying pair is
    # emitted from exactly one bucket and the 30×-larger candidate stream
    # never reaches an exchange (the old form exploded every candidate,
    # then dropDuplicates-shuffled millions of rows to keep thousands).
    first_band = (
        f"(band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"(shiftright(p.sim_a, b * {width}) & {mask}) = "
        f"(shiftright(p.sim_b, b * {width}) & {mask})))"
    )
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i].doc_id AS doc_id_a, m[j].doc_id AS doc_id_b, "
        "m[i].simhash AS sim_a, m[j].simhash AS sim_b)), "
        f"p -> bit_count(p.sim_a ^ p.sim_b) <= {max_distance} "
        f"and {first_band})))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.*")
        .withColumn("hamming", F.expr("cast(bit_count(sim_a ^ sim_b) as int)"))
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def _uf_star_pass(edges: DataFrame, u: str, v: str) -> DataFrame:
    """One filtering-CC level: per-partition union-find over the
    partition's edges, emitting the star forest (node, local-min-root) —
    one MEMBERSHIP row per node seen in the partition, root rows
    included, so singleton local clusters keep flowing to the next level.

    No shuffle: mapInPandas consumes the partition's Arrow batches into
    a dict-based union-by-min with path compression (root of every tree
    is the minimum member by induction on unions), then yields the star
    rows once. Per-task memory and CPU are bounded by the partition's
    node count — the level scheduler's job is to keep that under the
    ``fit_partition_rows`` budget.
    """
    schema = edges.schema

    def run(batches):
        import pandas as pd  # noqa: PLC0415 — executor-side import

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf[u].tolist(), pdf[v].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # union-by-min: root stays the min
        if parent:
            nodes = list(parent)
            yield pd.DataFrame({u: nodes, v: [find(n) for n in nodes]})

    return edges.mapInPandas(run, schema=schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iter: int = 25,
    strict: bool = False,
    algorithm: str = "filter",
    fit_partition_rows: int = 5_000_000,
    level_shrink: int = 8,
) -> DataFrame:
    """(node, component = min id in its group) over near-dup pairs — the
    step that turns PAIR LISTS into DEDUP DECISIONS (duplicates are
    transitive: a~b, b~c ⇒ {a,b,c} is one group even if a≁c directly).

    Default ``algorithm="filter"`` is filtering/contraction CC (the
    Lattanzi et al. filtering family): each level runs union-find
    LOCALLY inside every partition (mapInPandas, no shuffle) and emits
    only the min-root star forest — connectivity-equivalent to the
    partition's subgraph with cycles dropped — then coalesces to
    ``level_shrink``× fewer partitions for the next level. When a level
    runs on ONE partition its union-find sees every membership row, so
    its output is the exact global answer. On a shallow near-dup graph
    this is TWO map passes and one narrow coalesce end-to-end, versus
    ~8 join+agg rounds of label propagation — the per-level star output
    is bounded by the node count, so each level shrinks the edge set
    geometrically toward it.

    Scale guardrails: per-task work is bounded by ``fit_partition_rows``;
    if the star set cannot fit the shrink schedule (a graph whose node
    count alone exceeds what one task should hold), the remaining levels
    fall back to distributed min-label propagation with pointer jumping
    (``algorithm="labelprop"`` forces that path outright — it keeps the
    ``strict``/``max_iter`` convergence contract). Either way the result
    is the same min-id labeling, invariant to partitioning.

    Lineage is truncated at every level/round by
    :func:`~gistdex_spark.materialize.checkpoint`, so the cuts belong to
    the active materialize scope. A scope of
    ``lambda df: df.checkpoint(eager=True)`` (after
    ``setCheckpointDir``) makes them executor-loss-safe on a real
    cluster.
    """
    # Null endpoints carry no connectivity and would raise inside the
    # per-partition union-find (Python `<` on None); drop them up front —
    # the same silent-skip contract the label-propagation joins had.
    edges = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).dropna(how="any")
    if algorithm == "labelprop":
        return _labelprop_components(
            edges, max_iter=max_iter, strict=strict
        )

    def as_labels(star: DataFrame) -> DataFrame:
        return star.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )

    # Materialize the edge frame ONCE before the first level. Two
    # reasons: (1) the level scheduler needs the row count and partition
    # count, and probing either on the LAZY lineage would execute the
    # expensive upstream pair generation twice (AQE finalizes all query
    # stages just to answer getNumPartitions, then the star pass re-runs
    # them); (2) the fit budget must hold for LEVEL 1 too — the input
    # arrives with whatever partition sizes the caller's plan produced,
    # and an oversized partition would put its whole edge set in one
    # Python union-find dict. Oversized inputs repartition down to the
    # row budget BEFORE any union-find runs.
    edges = checkpoint(edges)
    cnt = edges.count()
    if cnt == 0:
        return as_labels(edges)
    n_p = max(1, edges.rdd.getNumPartitions())  # materialized — no recompute
    needed = cnt // fit_partition_rows + 1
    if needed == 1 and cnt * level_shrink <= fit_partition_rows:
        # Small graph (the whole edge set fits ONE union-find task with
        # level_shrink× slack): skip the shrink schedule outright — one
        # single-partition pass is already the exact global answer, so
        # the intermediate star levels and their per-level skew audits
        # (2 extra map passes + 2 aggs on a shallow graph) buy nothing.
        # The row count is already known from the materialized cut, so
        # this scheduling decision is free; at scale needed > 1 and the
        # multi-level schedule below runs unchanged.
        n_p = 1
        edges = edges.coalesce(1)
    elif n_p > 1 or needed > n_p:
        # The budget is per TASK, so the average (cnt / n_p) isn't enough:
        # a band-skewed caller plan can land most edges in one partition.
        # Max partition size is one cheap agg over the checkpointed blocks;
        # round-robin repartition (keeping parallelism: at least n_p) evens
        # it whenever any single partition exceeds the union-find row budget.
        max_rows = (
            edges.groupBy(F.spark_partition_id().alias("__p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        if needed > n_p or max_rows > fit_partition_rows:
            n_p = max(needed, n_p)
            edges = checkpoint(edges.repartition(n_p))
    levels = 0
    while levels < max_iter:
        star = checkpoint(_uf_star_pass(edges, "u", "v"))
        levels += 1
        if n_p == 1:
            # this pass saw every membership row — exact global labels
            return as_labels(star)
        cnt = star.count()
        needed = cnt // fit_partition_rows + 1
        if needed >= n_p:
            break  # can't shrink within the per-task budget — finish distributed
        # shrink by level_shrink per level, never below the row budget;
        # coalesce is narrow (no shuffle) over the checkpointed blocks
        n_p = max(needed, n_p // level_shrink)
        edges = star.coalesce(n_p)
        if n_p > 1:
            # The budget is per TASK at every level, not just level 1:
            # coalesce merges whole parent partitions without rebalancing,
            # so a skewed star output can put up to level_shrink x the
            # average into one merged task. Re-check the merged max (one
            # cheap scan over the checkpointed star blocks) and fall back
            # to an evening repartition when any task would blow the
            # union-find row budget.
            max_rows = (
                edges.groupBy(F.spark_partition_id().alias("__p"))
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            if max_rows > fit_partition_rows:
                edges = checkpoint(star.repartition(n_p))
    else:
        star = edges
    # Distributed finish on the (already star-contracted) graph: its
    # diameter is tiny — alternating node->root hops — so label
    # propagation with pointer jumping converges in a couple of rounds.
    return _labelprop_components(
        star, max_iter=max_iter, strict=strict
    )


def _labelprop_components(
    pairs_uv: DataFrame,
    max_iter: int,
    strict: bool,
) -> DataFrame:
    """Min-id label propagation with pointer jumping over a (u, v) edge
    frame. Each round every node takes the min of its own and its
    neighbors' labels, then jumps label ← label(label) — O(log diameter)
    rounds, one distributed join+agg each; the driver only reads the
    changed-count.

    ``strict=True`` raises RuntimeError if propagation has not converged
    after ``max_iter`` rounds (a silent cap would emit wrong — unmerged —
    components).
    """
    spark = pairs_uv.sparkSession
    id_a, id_b = "u", "v"
    pairs = pairs_uv
    # Both edge directions from ONE pass over the pair stream: a
    # union of two selects on the same frame would re-evaluate the whole
    # upstream pair generation per branch (Spark has no cross-branch CSE),
    # doubling the most expensive stage of the job.
    sym = checkpoint(
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
    # Size the iteration's parallelism to the EDGE COUNT, not the session
    # default: every round's map side inherits the state frames' width,
    # and a 7k-edge graph spread over 64 partitions pays 64 tasks of
    # scheduling per join per round for microseconds of work each. The
    # count is cheap (sym is already materialized by the eager cut), and
    # at 10^11 edges the same formula yields thousands of partitions.
    n_edges = sym.count()
    default_par = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    target = max(1, min(default_par, n_edges // 50_000 + 1))
    if target < default_par:
        sym = checkpoint(sym.repartition(target))
    labels = checkpoint(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    def step(lbl):
        """One propagation round: neighbor-min then pointer jump
        (label ← label(label)). Plain neighbor-min needs diameter rounds
        — measured 13 on the sf0.1 near-dup graph, whose transitive
        chains run long — while the jump halves surviving chain length
        every round (O(log d)). Any label value is itself a node id, so
        the lookup is a left self-join on the label frame. The changed
        flag rides along in the row, so convergence costs one agg over
        the checkpointed frame — not an extra old-vs-new join."""
        nbr = (
            sym.join(lbl, sym.src == lbl.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = lbl.join(nbr, "node", "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "__mid"
            ),
        )
        parent = lbl.select(
            F.col("node").alias("__pn"), F.col("label").alias("__pl")
        )
        return stepped.join(
            parent, stepped.__mid == F.col("__pn"), "left"
        ).select(
            "node",
            F.least(F.col("__mid"), F.coalesce("__pl", F.col("__mid"))).alias(
                "label"
            ),
            (
                F.least(F.col("__mid"), F.coalesce("__pl", F.col("__mid")))
                < F.col("__old")
            )
            .cast("int")
            .alias("__chg"),
        )

    # TWO steps per checkpoint/convergence probe: the wall-clock of the
    # loop on a shallow graph is driver round-trips (eager cut + changed
    # agg = 2 jobs), not compute, so fusing a second lazy step before the
    # cut halves the job count. Lineage depth stays 2 between cuts —
    # nowhere near the analyzer blowup that mandates the cut itself —
    # and the worst case is one extra (cheap, already-converged) step.
    changed = 0
    rounds = 0
    while rounds < max_iter:
        if rounds + 1 < max_iter:
            # The second step references its input frame THREE times (the
            # neighbor join, the stepped frame, the parent lookup) and
            # Spark has no cross-branch CSE — without a persist the first
            # step's joins would be recomputed up to 3x inside the fused
            # round, eating most of the driver round-trips the fusion
            # saves. persist() is lazy (no extra job); the eager cut below
            # populates the cache once and all three branches read it.
            first = step(labels).drop("__chg").persist()
            fused = step(first)
            rounds += 2
        else:
            first = None
            fused = step(labels)
            rounds += 1
        new_labels = checkpoint(fused)
        if first is not None:
            first.unpersist()
        changed = new_labels.agg(F.sum("__chg")).first()[0] or 0
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    if strict and changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — a silent "
            "cap would emit unmerged components"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_survivors(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per duplicate group (the min-id member) plus every row
    not in any group — the end-to-end dedup DELETE set's complement."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("component")
    )
    joined = df.join(comp, id_col, "left")
    return joined.filter(
        F.col("component").isNull() | (F.col(id_col) == F.col("component"))
    ).drop("component")


def _default_n_blocks(spark, n: int, block_rows: int) -> int:
    """Block count for the block-cartesian kernels. Two pressures:
    every block must fit the per-task memory bound (B >= ceil(n /
    block_rows)), and the B(B+1)/2 block-pair tasks should roughly
    saturate the cores (B ~ sqrt(2P)) — but never by shattering a small
    corpus into near-empty blocks: the old max(parallelism, ...) rule
    gave a 500-row corpus 32 blocks of ~16 rows, and its 528
    scheduling-dominated tasks cost more than the matrix work. Blocks
    are floored at ~64 rows (below that the numpy outer products no
    longer amortize the per-row Arrow/iterrows overhead)."""
    import math  # noqa: PLC0415

    p = spark.sparkContext.defaultParallelism
    saturate = math.isqrt(2 * p) + 1
    memory_floor = -(-n // max(block_rows, 1))
    useful_cap = max(1, -(-n // 64))
    return max(1, min(n, max(memory_floor, min(saturate, useful_cap))))


_MAX_PAIR_BLOCKS = 4096


def _check_pair_blocks(n_blocks: int) -> None:
    """The unordered block-pair frame is a DRIVER-built literal of
    B(B+1)/2 rows. 4096 blocks (≈8.4M pair rows, ≈8M vectors at the
    default block size) is the ceiling at which that literal stays a
    driver triviality — and beyond which exact all-pairs is ~10^13+
    scored pairs and the answer is a bounded path (blocked / banded /
    LSH / SemDeDup), not a bigger literal. Raising loudly beats
    building a multi-billion-row python list."""
    if n_blocks > _MAX_PAIR_BLOCKS:
        raise ValueError(
            f"n_blocks={n_blocks} exceeds {_MAX_PAIR_BLOCKS}: the exact "
            "all-pairs kernel would need a driver-side "
            "B(B+1)/2-row pair frame; use the blocked/banded/LSH scale "
            "paths at this corpus size"
        )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    n_blocks: int | None = None,
    block: F.Column | None = None,
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-dup pairs by BLOCK-CARTESIAN outer products.

    ``block=None`` (default): EXACT full all-pairs — O(n²) in pair count
    by definition, but organized the way a 100 TB engine has to organize
    it: rows hash into id-blocks, every block PAIR (i <= j) becomes one
    task, and each task scores its two blocks' cross sim matrix as
    numpy outer products over Arrow — one (|A| x |B|) matrix op per
    dimension instead of an interpreted 64-step cosine fold per pair
    (the fold form measured 130 s for 2M pairs at sf0.1; this form is
    seconds). Bytes per task are the two packs (2·rows·dim·8) PLUS the
    score matrices (~2·rows²·8: the dot/sim matrix divided IN PLACE
    plus its transient denominator, and a rows²/8 bool mask) — the
    matrices dominate, so the bound is set by ``block_rows``
    (default 2048 → ~70 MB of matrices + ~4 MB of packs per task) and
    ``n_blocks`` defaults to ``max(defaultParallelism, ceil(n /
    block_rows))`` via one count job, so per-task memory stays CONSTANT
    as the corpus grows (n_blocks scales with n; task count grows as
    n_blocks², which is the honest cost curve of exact all-pairs).
    Pass ``n_blocks`` explicitly to skip the count.

    ``block=<Column>`` (e.g. similarity.sign_bucket): BLOCKED exact
    cosine — pairs form only inside equal block values, the standard
    bounded near-dup shape (same-bucket vectors are sign-correlated, so
    high-cosine pairs concentrate inside blocks). Same kernel, only the
    diagonal block pairs.

    Bit-parity with the SQL oracle: the kernel accumulates dots and
    squared norms DIMENSION BY DIMENSION (the left-fold order of
    functions/vectors.cosine and sql_cosine), widens to float64 before
    multiplying, applies the zero-norm -> 0.0 guard identically, and
    leaves ROUNDING to Catalyst (F.round on the emitted double), so the
    rounded sims and the threshold boundary are engine-identical.
    Returns (id_a, id_b, sim) with id_a < id_b, sim >= threshold.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    spark = emb.sparkSession
    if block is not None:
        blocked = emb.select(
            F.col(id_col).alias("id"), F.col("embedding"), block.alias("blk")
        )
    else:
        if n_blocks is None:
            n_blocks = _default_n_blocks(spark, emb.count(), block_rows)
        blocked = emb.select(
            F.col(id_col).alias("id"),
            F.col("embedding"),
            F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        )
    packs = blocked.groupBy("blk").agg(
        F.collect_list(F.struct("id", "embedding")).alias("m")
    )
    a = packs.select(
        F.col("blk").alias("blk_a"), F.col("m").alias("m_a")
    )
    b = packs.select(
        F.col("blk").alias("blk_b"), F.col("m").alias("m_b")
    )
    if block is not None:
        joined = a.join(b, F.col("blk_a") == F.col("blk_b"))
    else:
        # Every unordered block pair exactly once — via a LITERAL
        # B(B+1)/2-row pair frame and two EQUALITY joins, NOT a blk_a <=
        # blk_b theta join: the theta form compiles to
        # BroadcastNestedLoopJoin, which would broadcast the packed
        # corpus (the packs frame has few ROWS but carries every
        # embedding). Equality joins hash-partition on blk; the ~B/2x
        # replication of each pack is the inherent data movement of
        # all-pairs, paid as shuffle, never as a driver broadcast.
        _check_pair_blocks(n_blocks)
        pair_idx = spark.createDataFrame(
            [
                (i, j)
                for i in range(n_blocks)
                for j in range(i, n_blocks)
            ],
            schema="blk_a int, blk_b int",
        )
        joined = (
            a.join(F.broadcast(pair_idx), "blk_a").join(b, "blk_b")
        )

    id_type = emb.schema[id_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.array([m["id"] for m in row["m_a"]])
                ids_b = np.array([m["id"] for m in row["m_b"]])
                X = np.array(
                    [list(m["embedding"]) for m in row["m_a"]],
                    dtype=np.float64,
                )
                Y = np.array(
                    [list(m["embedding"]) for m in row["m_b"]],
                    dtype=np.float64,
                )
                na = np.zeros(len(ids_a))
                nb = np.zeros(len(ids_b))
                for d in range(X.shape[1]):
                    na += X[:, d] * X[:, d]
                    nb += Y[:, d] * Y[:, d]
                na, nb = np.sqrt(na), np.sqrt(nb)
                za, zb = na == 0.0, nb == 0.0
                na[za], nb[zb] = 1.0, 1.0
                # FAST estimate: one BLAS GEMM over the cross matrix
                # (the d-pass outer-product loop did the same flops with
                # d full-matrix materializations — bandwidth-bound and
                # several times slower); divide by the PRODUCT na*nb,
                # zero-norm rows/cols forced to 0.0, the cosine() guard.
                fast = X @ Y.T
                fast /= na[:, None] * nb[None, :]
                if za.any():
                    fast[za, :] = 0.0
                if zb.any():
                    fast[:, zb] = 0.0
                # Conservative RAW pre-filter bounds the emitted rows to
                # near-final size: round(exact, 6) >= t implies
                # exact >= t - 5e-7, and |fast - exact| <= _GEMM_EPS
                # (reordering bound, see _GEMM_EPS), so the widened
                # margin can never drop a pair the exact
                # Catalyst-rounded filter downstream would keep; margin-
                # zone extras are removed by that same filter. Survivors
                # are rescored with the EXACT dimension-ordered
                # accumulation — emitted values are bit-identical to the
                # full ordered kernel's, the rounding itself stays in
                # F.round (numpy rounds half-even, the tie-break
                # divergence class).
                keep = fast >= threshold - 1e-6 - 2 * _GEMM_EPS
                if row["blk_a"] == row["blk_b"]:
                    # diagonal block: each unordered pair appears once,
                    # oriented id_a < id_b by the mask
                    ia, ib = np.nonzero((ids_a[:, None] < ids_b[None, :]) & keep)
                    lo, hi = ids_a[ia], ids_b[ib]
                else:
                    # off-diagonal: every cross pair appears exactly once
                    # (block pairs are generated i <= j only) — normalize
                    # the id orientation
                    ia, ib = np.nonzero(keep)
                    lo = np.minimum(ids_a[ia], ids_b[ib])
                    hi = np.maximum(ids_a[ia], ids_b[ib])
                acc = np.zeros(len(ia))
                for d in range(X.shape[1]):
                    acc += X[ia, d] * Y[ib, d]
                acc /= na[ia] * nb[ib]
                dead = za[ia] | zb[ib]
                if dead.any():
                    acc[dead] = 0.0
                yield pd.DataFrame({"id_a": lo, "id_b": hi, "sim": acc})

    pairs = joined.mapInPandas(
        run, schema=f"id_a {id_type}, id_b {id_type}, sim double"
    )
    return (
        pairs.withColumn("sim", F.round("sim", ROUND))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _bucket_pair_packs(blocked: DataFrame, block_rows: int) -> DataFrame:
    """Pack a bucketed corpus ``(id, embedding, blk)`` into within-bucket
    kernel-task rows ``(blk_a, blk_b, m_a, m_b)``, capping every task at
    ~2·block_rows member rows.

    Buckets larger than ``block_rows`` are hash-split into
    ``ceil(size/block_rows)`` sub-blocks and every within-bucket
    sub-block pair becomes its own task — the block-cartesian
    discipline applied *inside* a bucket, so a hot bucket on a
    clustered corpus never becomes one multi-GB collect_list row owned
    by a single straggler task. The candidate set (all within-bucket
    pairs) is unchanged; only task boundaries move.

    Built as ONE scan + ONE hash exchange: the per-bucket size agg is
    tiny (bucket cardinality bounded, e.g. 2^nbits) and broadcast back;
    each row then explodes to the sub-pairs it participates in — side A
    for pairs (sub, j ≥ sub), side B for pairs (i < sub, sub). The
    diagonal pair carries only side A (m_b is recovered as m_a in the
    final select), so the un-split common case n_sub = 1 emits exactly
    one entry per row: the same shuffle bytes as an uncapped pack.
    """
    sizes = blocked.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt"))
    n_sub_c = F.greatest(
        F.lit(1), F.ceil(F.col("cnt") / F.lit(max(block_rows, 1)))
    ).cast("int")
    # Null-SAFE join: a custom block column can evaluate to NULL, and
    # groupBy forms a null-key bucket — an equality join would silently
    # drop those rows from the graph (the join-free pre-cap pack kept
    # them).
    sz = sizes.select(F.col("blk").alias("__blk_s"), n_sub_c.alias("n_sub"))
    keyed = (
        blocked.join(
            F.broadcast(sz), F.col("blk").eqNullSafe(F.col("__blk_s"))
        )
        .drop("__blk_s")
        .withColumn("sub", F.pmod(F.hash("id"), F.col("n_sub")))
    )
    a_parts = F.transform(
        F.sequence(F.col("sub"), F.col("n_sub") - F.lit(1)),
        lambda j: F.struct(
            F.col("sub").alias("sub_a"),
            j.alias("sub_b"),
            F.lit(True).alias("is_a"),
        ),
    )
    b_parts = F.when(
        F.col("sub") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("sub") - F.lit(1)),
            lambda i: F.struct(
                i.alias("sub_a"),
                F.col("sub").alias("sub_b"),
                F.lit(False).alias("is_a"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<sub_a:int,sub_b:int,is_a:boolean>>"))
    exploded = keyed.select(
        "blk", "id", "embedding", F.explode(F.concat(a_parts, b_parts)).alias("p")
    )
    member = F.struct("id", "embedding")
    packs = exploded.groupBy("blk", "p.sub_a", "p.sub_b").agg(
        F.collect_list(F.when(F.col("p.is_a"), member)).alias("m_a"),
        F.collect_list(F.when(~F.col("p.is_a"), member)).alias("m_b"),
    )
    return packs.select(
        F.concat_ws(
            "#", F.col("blk").cast("string"), F.col("sub_a").cast("string")
        ).alias("blk_a"),
        F.concat_ws(
            "#", F.col("blk").cast("string"), F.col("sub_b").cast("string")
        ).alias("blk_b"),
        "m_a",
        F.when(F.col("sub_a") == F.col("sub_b"), F.col("m_a"))
        .otherwise(F.col("m_b"))
        .alias("m_b"),
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    n_blocks: int | None = None,
    block_rows: int = 2048,
    block: F.Column | None = None,
) -> DataFrame:
    """EXACT cosine k-nearest-neighbor GRAPH over an embedding column —
    the primitive under graph-based dedup, semantic clustering, and
    hard-negative mining. Same block-cartesian organization as
    :func:`embedding_neardup_pairs` (rows hash into id-blocks, every
    unordered block pair is one task scoring its cross sim matrix as
    dimension-ordered numpy outer products over Arrow), with one change
    that makes the GRAPH shape scale: each task emits only its LOCAL
    top-k per source row, so the candidate stream is n·B·k rows (B =
    block count), never the n² scored pairs. The global resolution is
    then one hash shuffle on src plus a per-src window over ≤ B·k rows.

    The local cut is margin-safe against the downstream rounding: a row
    keeps every candidate whose RAW sim is within 2e-6 of its k-th best
    RAW sim in the block pair. A dropped candidate therefore has ≥ k
    block-mates whose raw sim exceeds its own by > 2e-6, which forces
    their Catalyst-ROUNDED sims (|round(x) - x| ≤ 5e-7) strictly above
    its rounded sim — it can never enter the global rounded top-k, for
    any tie-break. Bit-parity of the sims themselves is inherited from
    the shared kernel discipline (dimension-ordered accumulation,
    in-place product-denominator divide, zero-norm → 0.0, rounding left
    to F.round).

    Returns (src_id, nbr_id, sim, rk) with rk 1..k ordered by
    (sim desc, nbr_id asc) per source — every row of ``emb`` appears as
    src_id (up to n-1 neighbors exist), self-pairs excluded.

    ``block=<Column>`` (e.g. similarity.sign_bucket) switches to the
    BLOCKED approximate graph — the linear-cost 100 TB path: neighbors
    are sought only among same-block rows, so candidate work is sum of
    block sizes squared, not n². Sign buckets are deterministic
    arithmetic, so the blocked graph still carries a full value oracle;
    rows whose block holds no other member emit nothing, and rows with
    < k block-mates emit fewer than k neighbors (rk stays dense 1..).

    **Bucket-size cap (straggler/OOM guard):** real embedding corpora
    are clustered — that is *why* they are being deduped — so sign
    buckets are NOT uniform and a hot bucket must never become one
    multi-GB ``collect_list`` row owned by one task. Buckets larger
    than ``block_rows`` are hash-split into ``ceil(size/block_rows)``
    sub-blocks and every within-bucket sub-block pair becomes its own
    kernel task (the block-cartesian discipline applied *inside* the
    bucket). The candidate set is unchanged — all within-bucket pairs
    are still enumerated exactly once — so the value oracle is
    identical; only the task boundaries move, bounding per-task rows at
    ~2·block_rows. The split is expressed as a single explode over a
    per-row sub-pair list (rows in sub-block s carry side-A entries for
    pairs (s, s..n_sub-1) and side-B entries for pairs (0..s-1, s)), so
    the un-split common case (n_sub = 1) emits exactly one entry per
    row — the same shuffle bytes as an uncapped pack — and the whole
    path stays one scan + one hash exchange, no cross-branch lineage
    re-execution.
    """
    spark = emb.sparkSession
    if block is not None:
        blocked = emb.select(
            F.col(id_col).alias("id"), F.col("embedding"), block.alias("blk")
        )
        joined = _bucket_pair_packs(blocked, block_rows)
    else:
        if n_blocks is None:
            n_blocks = _default_n_blocks(spark, emb.count(), block_rows)
        blocked = emb.select(
            F.col(id_col).alias("id"),
            F.col("embedding"),
            F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        )
        packs = blocked.groupBy("blk").agg(
            F.collect_list(F.struct("id", "embedding")).alias("m")
        )
        a = packs.select(
            F.col("blk").alias("blk_a"), F.col("m").alias("m_a")
        )
        b = packs.select(
            F.col("blk").alias("blk_b"), F.col("m").alias("m_b")
        )
        # Literal pair frame + equality joins, NOT a theta join — same
        # rationale as embedding_neardup_pairs (a blk_a <= blk_b condition
        # compiles to BroadcastNestedLoopJoin over the packed corpus).
        _check_pair_blocks(n_blocks)
        pair_idx = spark.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            schema="blk_a int, blk_b int",
        )
        joined = a.join(F.broadcast(pair_idx), "blk_a").join(b, "blk_b")
    id_type = emb.schema[id_col].dataType.simpleString()
    cand = joined.mapInPandas(
        _make_knn_kernel(k), schema=f"src {id_type}, nbr {id_type}, sim double"
    )
    return _knn_rank(cand, k)


# Reordering slack for the BLAS-GEMM pre-rank (see _make_knn_kernel):
# a f64 GEMM and the dimension-ordered accumulation sum the SAME d
# products in different orders, so they differ by at most
# (d-1)·eps·Σ|x_i·y_i| ≤ d·2.2e-16·‖x‖‖y‖ — after the norm divide,
# ≤ ~1e-12 relative even at d = 4096. 1e-9 is a 1000× cushion.
_GEMM_EPS = 1e-9


def _bipartite_packs(
    a_blocked: DataFrame, b_blocked: DataFrame, block_rows: int = 2048
) -> DataFrame:
    """:func:`_bucket_pair_packs` for a BIPARTITE candidate set: two
    bucketed frames ``(id, embedding, blk)`` — every cross pair (a, b)
    sharing ``blk`` lands in exactly one kernel task, both sides capped
    at ~``block_rows`` rows (hot buckets hash-split per side, the same
    discipline). Emitted ``blk_a``/``blk_b`` labels are always distinct
    (``#a``/``#b`` suffixes), so :func:`_make_knn_kernel` takes its
    off-diagonal branch and scores BOTH directions of every pair — the
    shape the graph store's new×old probe needs.

    Consumer contract: a pair present in several buckets scores
    bit-identically in each (the kernel's exact rescore is a pure
    function of the two embeddings); resolve with a
    ``groupBy(src, nbr).max(sim)`` like the multitable graph does.

    One scan of each side + one hash exchange: bucket sizes are
    bucket-cardinality-bounded aggs broadcast back; the inner size join
    drops buckets present on only one side (they contribute no cross
    pairs). ``blk`` must be non-null (sign buckets are; a custom block
    column with NULLs belongs in the self-pack's null-safe path).
    """
    sa = a_blocked.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt_a"))
    sb = b_blocked.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt_b"))
    nsub = lambda c: F.greatest(  # noqa: E731
        F.lit(1), F.ceil(F.col(c) / F.lit(max(block_rows, 1)))
    ).cast("int")
    sz = (
        sa.join(sb, "blk")
        .select(
            F.col("blk").alias("__blk_s"),
            nsub("cnt_a").alias("n_sub_a"),
            nsub("cnt_b").alias("n_sub_b"),
        )
    )
    a = (
        a_blocked.join(F.broadcast(sz), F.col("blk") == F.col("__blk_s"))
        .drop("__blk_s")
        .withColumn("sub", F.pmod(F.hash("id"), F.col("n_sub_a")))
        .select(
            "blk",
            "id",
            "embedding",
            F.col("sub").alias("oa"),
            F.explode(
                F.sequence(F.lit(0), F.col("n_sub_b") - F.lit(1))
            ).alias("ob"),
            F.lit(True).alias("is_a"),
        )
    )
    b = (
        b_blocked.join(F.broadcast(sz), F.col("blk") == F.col("__blk_s"))
        .drop("__blk_s")
        .withColumn("sub", F.pmod(F.hash("id"), F.col("n_sub_b")))
        .select(
            "blk",
            "id",
            "embedding",
            F.explode(
                F.sequence(F.lit(0), F.col("n_sub_a") - F.lit(1))
            ).alias("oa"),
            F.col("sub").alias("ob"),
            F.lit(False).alias("is_a"),
        )
    )
    member = F.struct("id", "embedding")
    packs = a.unionByName(b).groupBy("blk", "oa", "ob").agg(
        F.collect_list(F.when(F.col("is_a"), member)).alias("m_a"),
        F.collect_list(F.when(~F.col("is_a"), member)).alias("m_b"),
    )
    return packs.select(
        F.concat_ws(
            "#a", F.col("blk").cast("string"), F.col("oa").cast("string")
        ).alias("blk_a"),
        F.concat_ws(
            "#b", F.col("blk").cast("string"), F.col("ob").cast("string")
        ).alias("blk_b"),
        "m_a",
        "m_b",
    )


def _make_knn_kernel(k: int):
    """The block-pair local-top-k kernel shared by :func:`knn_graph` and
    :func:`knn_graph_multitable` — consumes (blk_a, blk_b, m_a, m_b)
    task rows, emits (src, nbr, sim) candidates.

    Two-phase scoring (the r12 rewrite): a single BLAS GEMM computes a
    FAST cosine estimate for the whole cross matrix, each source row's
    survivors are cut at its fast k-th best minus (2e-6 + 2·_GEMM_EPS),
    and only the survivors — ~k + margin-ties per source, not the n_a·n_b
    matrix — are rescored with the EXACT dimension-ordered accumulation
    (the bit-parity discipline the oracle compare relies on). The d-pass
    outer-product loop this replaces did the same flops as the GEMM but
    with d full-matrix materializations — memory-bandwidth-bound and
    several times slower.

    Exactness: emitted values are bit-identical to the ordered kernel's
    (same per-pair multiply-add sequence, same in-place product-
    denominator divide, same zero-norm → 0.0). The emitted SET is a
    superset of the previous margin cut's: |fast − exact| ≤ _GEMM_EPS
    per pair, so exact ≥ kth(exact) − 2e-6 implies
    fast ≥ kth(fast) − 2e-6 − 2·_GEMM_EPS (the k-th order statistics of
    two ε-close vectors differ by ≤ ε). Every candidate the old cut
    kept survives; extra margin-zone rows are resolved by the same
    downstream global window, so the final frame is value-identical.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def run(batches):
        cols = ["src", "nbr", "sim"]

        def emit(fast, X, Y, na, nb, za, zb, src_ids, nbr_ids):
            # fast: (n_src, n_nbr) GEMM estimate, self-pairs -inf.
            if fast.shape[1] > k:
                kth = -np.partition(-fast, k - 1, axis=1)[:, k - 1]
            else:
                kth = np.full(fast.shape[0], -np.inf)
            keep = (fast >= kth[:, None] - (2e-6 + 2 * _GEMM_EPS)) & (
                fast != -np.inf
            )
            ia, ib = np.nonzero(keep)
            # EXACT rescore of survivors only: dimension-ordered
            # multiply-add per pair (bitwise the old full-matrix loop
            # restricted to (ia, ib); a·b == b·a bitwise, so one form
            # serves both directions).
            acc = np.zeros(len(ia))
            for d in range(X.shape[1]):
                acc += X[ia, d] * Y[ib, d]
            acc /= na[ia] * nb[ib]
            dead = za[ia] | zb[ib]
            if dead.any():
                acc[dead] = 0.0
            return pd.DataFrame(
                {"src": src_ids[ia], "nbr": nbr_ids[ib], "sim": acc},
                columns=cols,
            )

        for pdf in batches:
            for _, row in pdf.iterrows():
                if len(row["m_a"]) == 0 or len(row["m_b"]) == 0:
                    # A hash-empty sub-block can leave one side of an
                    # off-diagonal within-bucket pair memberless.
                    continue
                ids_a = np.array([m["id"] for m in row["m_a"]])
                ids_b = np.array([m["id"] for m in row["m_b"]])
                X = np.array(
                    [list(m["embedding"]) for m in row["m_a"]],
                    dtype=np.float64,
                )
                Y = np.array(
                    [list(m["embedding"]) for m in row["m_b"]],
                    dtype=np.float64,
                )
                na = np.zeros(len(ids_a))
                nb = np.zeros(len(ids_b))
                for d in range(X.shape[1]):
                    na += X[:, d] * X[:, d]
                    nb += Y[:, d] * Y[:, d]
                na, nb = np.sqrt(na), np.sqrt(nb)
                za, zb = na == 0.0, nb == 0.0
                na[za], nb[zb] = 1.0, 1.0
                fast = X @ Y.T
                fast /= na[:, None] * nb[None, :]
                if za.any():
                    fast[za, :] = 0.0
                if zb.any():
                    fast[:, zb] = 0.0
                if row["blk_a"] == row["blk_b"]:
                    # Diagonal: A == B, so A->B alone covers every
                    # directed pair inside the block; mask the self cell.
                    fast[ids_a[:, None] == ids_b[None, :]] = -np.inf
                    yield emit(fast, X, Y, na, nb, za, zb, ids_a, ids_b)
                else:
                    # Off-diagonal (blk_a < blk_b): both directions.
                    yield emit(fast, X, Y, na, nb, za, zb, ids_a, ids_b)
                    yield emit(
                        fast.T,
                        Y,
                        X,
                        nb,
                        na,
                        zb,
                        za,
                        ids_b,
                        ids_a,
                    )

    return run


def _knn_rank(cand: DataFrame, k: int) -> DataFrame:
    """Global resolution of the kernel's candidate stream: one hash
    exchange on src + a per-src window, ordered (rounded sim desc,
    nbr asc)."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("src").orderBy(F.desc("sim_r"), F.asc("nbr"))
    return (
        cand.withColumn("sim_r", F.round("sim", ROUND))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("src").alias("src_id"),
            F.col("nbr").alias("nbr_id"),
            F.col("sim_r").alias("sim"),
            "rk",
        )
    )


def simhash_pairs_between(
    new: DataFrame,
    old: DataFrame,
    content_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Cross-set near-dup pairs (new batch vs existing corpus) via the
    same banded Hamming scheme as :func:`simhash_pairs` — the
    INCREMENTAL-ingest shape: only new-vs-old pairs are generated, never
    old-vs-old. At 100 TB the existing corpus side is the stored
    signature table, read not recomputed — that form is exercised code
    in ``sources/band_store.incremental_pairs_stored`` (frame-equality
    with this function and per-band partition/row-group pruning pinned
    in tests/test_band_store.py).

    Exact for ``max_distance < bands`` by the pigeonhole argument. Each
    side computes signatures once and shuffles once per band on
    (band_idx, band_val); no self-join, so Spark's missing cross-join
    CSE costs nothing here. Returns (new_id, old_id, hamming).
    """
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    if max_distance >= bands:
        raise ValueError("banded join is exact only for max_distance < bands")
    width = bits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, id_out: str, sig_out: str) -> DataFrame:
        sig = simhash(df, content_col, bits)
        return sig.select(
            F.col("doc_id").alias(id_out),
            F.col("simhash").alias(sig_out),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright("simhash", b * width).bitwiseAND(
                            F.lit(mask)
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    n = banded(new, "new_id", "sig_n")
    o = banded(old, "old_id", "sig_o")
    # Verify + dedup in the join filter: keep a match only at the FIRST
    # band both signatures agree on, so each qualifying pair exits the
    # join exactly once — no dropDuplicates exchange over the (much
    # larger) raw candidate stream.
    first_band = F.expr(
        f"band_idx = 0 or not exists(sequence(0, band_idx - 1), b -> "
        f"(shiftright(sig_n, b * {width}) & {mask}) = "
        f"(shiftright(sig_o, b * {width}) & {mask}))"
    )
    return (
        n.join(o, ["band_idx", "band_val"])
        .withColumn(
            "hamming", F.expr("cast(bit_count(sig_n ^ sig_o) as int)")
        )
        .filter((F.col("hamming") <= max_distance) & first_band)
        .select("new_id", "old_id", "hamming")
    )


def _char_windows(
    df: DataFrame, span_len: int, id_col: str, content_col: str
) -> DataFrame:
    """(id, pos, span): every ``span_len``-char window with its 0-based
    start offset. Narrow (fan-out = doc length, no shuffle); posexplode's
    array index IS the offset because the sequence starts at 0."""
    return df.filter(F.length(content_col) >= span_len).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.length(content_col) - F.lit(span_len)
                ),
                lambda i: F.col(content_col).substr(
                    i + F.lit(1), F.lit(span_len)
                ),
            )
        ).alias("pos", "span"),
    )


def exact_substring_removal(
    df: DataFrame,
    span_len: int = 32,
    min_docs: int = 2,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """The REMOVAL form of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4.2 —
    ExactSubstr): emit the cleaned corpus with duplicated spans EXCISED,
    not just censused (:func:`exact_substring_spans` is the census twin).
    Suffix-array semantics are approximated by the same fixed-width keyed
    span join the census uses; survivorship is deterministic:

    - a span is *duplicated* when its exact text occurs in >= ``min_docs``
      distinct documents;
    - the KEEPER of each duplicated span is the minimum doc id containing
      it — that document keeps all its occurrences (the corpus retains at
      least one verbatim copy, the keep-one convention);
    - in every other document, each character covered by >= 1 duplicated-
      span occurrence is excised, and the remaining characters concatenate
      in order (Lee et al.'s span cut, overlaps merged).

    Output: (id, orig_len, clean_len, clean_text) for EVERY input doc —
    untouched docs pass through with clean_text = text.

    Scale shape: the window explode is narrow; the span text is hashed to
    a 64-bit key IN THE MAP (``xxhash64``), so duplicated-span discovery
    is ONE map-side-combined hash agg keyed by 8 bytes and the flag-back
    is an equality join carrying only (id, pos, key) — the 32-char span
    TEXT never enters either shuffle (at span_len=32 that is ~5x less
    shuffle bytes per window). Per-doc cut lists are bounded by doc length
    (the chunking bound) and the excision itself is a pure Catalyst fold
    over the sorted cut offsets (cursor = running max of covered-interval
    ends). Hash-collision exposure: a collision would mark a unique span
    duplicated (or merge two spans' keeper election); with 64-bit keys the
    expected count is n^2/2^65 — ~0.03 at a trillion windows — and the
    failure mode is an extra excision, the conservative direction for
    training-data dedup. The DuckDB oracle keeps grouping by span text;
    parity at test SFs holds because collisions there are ~1e-9.
    """
    spans = _char_windows(df, span_len, id_col, content_col).select(
        id_col, "pos", F.xxhash64("span").alias("__sk")
    )
    dup = (
        spans.groupBy("__sk")
        .agg(
            F.count_distinct(F.col(id_col)).alias("__nd"),
            F.min(F.col(id_col)).alias("__keeper"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("__sk", "__keeper")
    )
    cuts = (
        spans.join(dup, "__sk")
        .filter(F.col(id_col) != F.col("__keeper"))
        .select(id_col, "pos")
    )
    ivals = cuts.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__cuts")
    )
    text = F.col(content_col)
    fold = F.aggregate(
        F.col("__cuts"),
        F.struct(F.lit(0).alias("cur"), F.lit("").alias("acc")),
        lambda a, p: F.struct(
            F.greatest(a["cur"], p + F.lit(span_len)).alias("cur"),
            F.when(
                p > a["cur"],
                F.concat(a["acc"], text.substr(a["cur"] + 1, p - a["cur"])),
            )
            .otherwise(a["acc"])
            .alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], text.substr(a["cur"] + 1, F.length(text) - a["cur"])
        ),
    )
    return df.join(ivals, id_col, "left").select(
        F.col(id_col),
        F.length(text).alias("orig_len"),
        F.when(F.col("__cuts").isNull(), text).otherwise(fold).alias(
            "clean_text"
        ),
    ).select(
        id_col,
        "orig_len",
        F.length("clean_text").alias("clean_len"),
        "clean_text",
    )


def exact_substring_spans(
    df: DataFrame,
    span_len: int = 32,
    min_docs: int = 2,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication census (the fixed-width equality form of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every ``span_len``-char window of every document, windows
    whose exact text occurs in >= ``min_docs`` DISTINCT documents are
    duplicated spans; per document report how many of its windows are
    duplicated. MinHash/SimHash flag whole near-dup documents — this
    catches verbatim template/boilerplate SPANS inside otherwise-distinct
    documents, which suffix-array dedup targets at training scale.

    Scale shape: the window explode is narrow (fan-out = doc length, no
    shuffle); the span text is hashed to a 64-bit ``xxhash64`` key in the
    map, so duplicated-span discovery is ONE map-side-combined hash
    aggregate keyed by 8 bytes, and the flag-back is an equality shuffle
    join on that key (never broadcast: the duplicated-span set grows with
    corpus size) followed by a per-doc hash agg — the span TEXT never
    enters a shuffle. Collision exposure is n^2/2^65 (see
    :func:`exact_substring_removal`); the DuckDB oracle groups by span
    text and stays value-identical at test SFs.
    """
    spans = _char_windows(df, span_len, id_col, content_col).select(
        id_col, F.xxhash64("span").alias("__sk")
    )
    dup = (
        spans.groupBy("__sk")
        .agg(F.count_distinct(F.col(id_col)).alias("span_docs"))
        .filter(F.col("span_docs") >= min_docs)
        .select("__sk")
        .withColumn("__dup", F.lit(1))
    )
    return (
        spans.join(dup, "__sk", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.floor(
                F.col("n_dup_spans") / F.col("n_spans") * 1_000_000
            )
            / 1_000_000.0,
        )
        .filter(F.col("n_dup_spans") > 0)
    )


def variable_substring_spans(
    df: DataFrame,
    gram_len: int = 32,
    min_len: int = 64,
    max_occ: int = 50,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """MAXIMAL repeated spans of variable length — the true Lee et al.
    2022 §4.2 (ExactSubstr) span semantics that the fixed-width census
    only approximates: for every pair of documents, every maximal common
    substring of length >= ``min_len``, reported as ONE row with its true
    extent instead of a stack of overlapping fixed windows.

    Mechanism — seed-and-extend by diagonal chaining (the classic k-mer
    seed composition from sequence alignment, e.g. BLAST's ungapped
    extension, re-expressed relationally):

    1. every ``gram_len``-char window becomes a seed keyed by
       ``xxhash64(gram)`` (text never enters a shuffle, same contract as
       :func:`exact_substring_removal`);
    2. seeds whose key occurs in >= 2 distinct docs and <= ``max_occ``
       times total survive (the occurrence cap bounds the pair join at
       max_occ^2 rows per key; ultra-common boilerplate grams it drops
       are exactly the fixed-width census's territory, and the cap is
       applied IDENTICALLY in the DuckDB oracle so parity holds);
    3. same-key seed pairs across doc pairs (d1 < d2) land on a DIAGONAL
       (p1 - p2); consecutive seed positions on one diagonal chain into
       runs (gaps-and-islands: p1 - row_number() is constant within a
       run);
    4. a run spanning positions [p_min, p_max] IS a maximal common
       substring of length p_max - p_min + gram_len: extendable left or
       right would mean one more matching seed on the same diagonal,
       contradiction — so maximality is structural, not searched for.

    Why not the per-partition suffix-automaton alternative: an automaton
    over concatenated docs inside one partition only sees repeats that
    co-reside in that partition, so it silently under-reports on any
    corpus that does not fit one partition — this composition is global,
    every step an equality-keyed shuffle. The window in step 3 partitions
    by (d1, d2, diagonal): millions of tiny groups, each bounded by doc
    length, never a single-partition funnel.

    Limits (documented, both engines identical): within-doc repeats are
    out of scope (pairs require d1 < d2); a maximal span whose interior
    crosses a cap-dropped gram fragments at that gram. xxhash64 seed
    collisions create 1-seed runs of length gram_len, filtered by
    min_len unless ~(min_len - gram_len) consecutive collisions line up
    (astronomically unlikely).

    Seed length is the recall knob AND the cost knob, measured in round
    9 on the synthetic corpora: 16-char seeds cover ~2 tokens of the
    small vocabulary, so at 10x data nearly every seed blows the
    occurrence cap — recall collapsed to ZERO spans on a corpus with
    hundreds of real 64+ char duplicates — and at sf0.1 cap-dropped
    interior seeds FRAGMENTED the true 245 maximal spans into 438
    pieces. 32-char seeds reproduce the exact no-cap result at every SF
    and run ~4x faster (rarer seeds -> smaller pair expansion). Pick
    gram_len as large as min_len allows (gram_len <= min_len keeps
    detection exact); shrink it only when hunting spans shorter than 2x
    the token length.

    Output: (d1, d2, pos1, pos2, span_len) — 0-based offsets of the span
    in each doc, all BIGINT.
    """
    from pyspark.sql import Window

    grams = _char_windows(df, gram_len, id_col, content_col).select(
        F.col(id_col).alias("__d"),
        F.col("pos").cast("long").alias("__p"),
        F.xxhash64("span").alias("__gk"),
    )
    # Pairs expand INSIDE the seed bucket (the minhash_lsh_pairs scheme):
    # a keyed SELF-JOIN would reference the gram-explode subtree on both
    # sides — Spark has no cross-join-side CSE, so every window would be
    # exploded and hashed 4x (2 join sides x the cap-filter branch).
    # One agg computes the explode ONCE; the occurrence cap bounds every
    # bucket list at max_occ rows, so collect_list is safe by
    # construction and the in-bucket expansion is <= max_occ^2 per key.
    # m is sorted by (doc, pos), so i < j implies m[i].__d <= m[j].__d
    # and the d1 != d2 filter yields exactly the d1 < d2 pairs.
    buckets = (
        grams.groupBy("__gk")
        .agg(F.array_sort(F.collect_list(F.struct("__d", "__p"))).alias("m"))
        .filter(
            (F.size("m") >= 2)
            & (F.size("m") <= max_occ)
            & (
                F.size(
                    F.array_distinct(F.expr("transform(m, x -> x.__d)"))
                )
                >= 2
            )
        )
    )
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i].__d AS d1, m[j].__d AS d2, "
        "m[i].__p AS p1, m[i].__p - m[j].__p AS diag)), "
        "p -> p.d1 != p.d2)))"
    )
    pairs = buckets.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.d1", "p.d2", "p.p1", "p.diag"
    )
    w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    runs = (
        pairs.withColumn("__grp", F.col("p1") - F.row_number().over(w))
        .groupBy("d1", "d2", "diag", "__grp")
        .agg(
            F.min("p1").alias("pos1"),
            (F.max("p1") - F.min("p1") + gram_len).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )
    return runs.select(
        "d1",
        "d2",
        F.col("pos1").cast("long").alias("pos1"),
        (F.col("pos1") - F.col("diag")).cast("long").alias("pos2"),
        F.col("span_len").cast("long").alias("span_len"),
    )


def variable_substring_removal(
    df: DataFrame,
    gram_len: int = 32,
    min_len: int = 64,
    max_occ: int = 50,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Variable-length exact-substring REMOVAL: excise every maximal
    repeated span (>= ``min_len``, from :func:`variable_substring_spans`)
    from the HIGHER-id document of each pair — PER PAIR, the lower-id
    occurrence survives as a unit. The guarantee is per-pair, not
    global: a span kept in doc B (keeper of pair B<C) can still be
    punched by an overlapping cut for a DIFFERENT span B shares with a
    lower-id doc A. What the fixed-width form additionally loses — and
    this form fixes — is per-WINDOW keeper election: there a fragment of
    a long duplicate occurring in some third low-id doc punches holes in
    the kept copy even with no overlapping second span (see
    tests/test_ranking.py::test_variable_removal_keeps_long_dup_intact).

    The excision is the same pure-Catalyst cursor fold as
    :func:`exact_substring_removal`, generalized from fixed-width cut
    positions to (start, end) intervals: cut lists are per-doc bounded,
    sorted structs fold left-to-right with cursor = running max of
    covered ends. No Python, no window over the corpus, nothing
    quadratic. Output: (id, orig_len, clean_len, clean_text) for every
    input doc.
    """
    spans = variable_substring_spans(
        df, gram_len, min_len, max_occ, id_col, content_col
    )
    cuts = spans.select(
        F.col("d2").alias(id_col),
        F.struct(
            F.col("pos2").alias("s"),
            (F.col("pos2") + F.col("span_len")).alias("e"),
        ).alias("__iv"),
    ).distinct()
    ivals = cuts.groupBy(id_col).agg(
        F.array_sort(F.collect_list("__iv")).alias("__ivs")
    )
    text = F.col(content_col)
    fold = F.aggregate(
        F.col("__ivs"),
        F.struct(F.lit(0).cast("long").alias("cur"), F.lit("").alias("acc")),
        lambda acc, iv: F.struct(
            F.greatest(acc["cur"], iv["e"]).alias("cur"),
            F.when(
                iv["s"] > acc["cur"],
                F.concat(
                    acc["acc"],
                    text.substr(
                        (acc["cur"] + 1).cast("int"),
                        (iv["s"] - acc["cur"]).cast("int"),
                    ),
                ),
            )
            .otherwise(acc["acc"])
            .alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            text.substr(
                (acc["cur"] + 1).cast("int"),
                (F.length(text).cast("long") - acc["cur"]).cast("int"),
            ),
        ),
    )
    return (
        df.join(ivals, id_col, "left")
        .select(
            F.col(id_col),
            F.length(text).alias("orig_len"),
            F.when(F.col("__ivs").isNull(), text).otherwise(fold).alias(
                "clean_text"
            ),
        )
        .select(
            id_col,
            "orig_len",
            F.length("clean_text").alias("clean_len"),
            "clean_text",
        )
    )


def band_population_stats(
    banded: DataFrame,
    key_cols: list[str],
    family: str,
    salt_trip: int = 256,
) -> DataFrame:
    """One-row health audit of an LSH band-key distribution — the skew
    tripwire for every banded equality join in this module (the
    IVF-cell twin is queries.ivf_balance_audit). The banded joins' cost
    is sum over buckets of n*(n-1)/2 (the in-bucket pair expansion), so
    ONE hot band key dominates wall-clock long before totals move:

    - n_keys:    banded rows (docs x bands)
    - n_buckets: distinct band keys
    - max_bucket: hottest key's population
    - pair_work: total candidate pairs the banded join would expand
      (exact integer: n*(n-1) is always even)
    - imbalance_factor: max_bucket / perfect share, floor-scaled 1e-6
      (engine-identical)
    - salt_recommended: max_bucket > ``salt_trip`` — the wire to the
      skew treatments: round-robin `bucket_partitions` on
      simhash_pairs/minhash_lsh_pairs (splits hot-bucket EXPANSION
      across tasks) or temporal.salted_join for pairwise-join shapes
      (tests/test_skew.py::test_band_skew_audit_trips_and_salting_fixes
      wires both ends).

    Shape: one map-side-combined hash agg on the band key, then a
    scalar agg — the audit itself can never be the bottleneck.
    """
    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.sum("n").cast("bigint").alias("n_keys"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("pair_work"),
    ).select(
        F.lit(family).alias("family"),
        "n_keys",
        "n_buckets",
        "max_bucket",
        "pair_work",
        (
            F.floor(
                F.col("max_bucket").cast("double")
                * F.col("n_buckets")
                / F.col("n_keys")
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("imbalance_factor"),
        (F.col("max_bucket") > F.lit(salt_trip)).alias("salt_recommended"),
    )


def minhash_banded_keys(
    df: DataFrame,
    content_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
) -> DataFrame:
    """(doc_id, band_idx, band_key): the exact band keys
    minhash_lsh_pairs buckets by, exposed for auditing."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, content_col, num_hashes, n)
    keys = [
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.col("sig")[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band_idx", "band_key")
    )


def simhash_banded_keys(
    df: DataFrame,
    content_col: str = "text",
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band_idx, band_val): the exact band segments
    simhash_pairs buckets by, exposed for auditing."""
    width = bits // bands
    mask = (1 << width) - 1
    sig = simhash(df, content_col, bits)
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def variable_substring_spans_within(
    df: DataFrame,
    gram_len: int = 32,
    min_len: int = 64,
    max_occ: int = 50,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """WITHIN-document maximal repeated spans — the self-repeat half of
    Lee et al. §4.2 that :func:`variable_substring_spans` (cross-doc by
    the d1 < d2 convention) deliberately excludes: every maximal
    substring of length >= ``min_len`` that occurs at two offsets of the
    SAME document. Catches tandem repeats, copy-pasted sections, and
    template stutter inside one file — duplication whole-doc near-dup
    (MinHash/SimHash) is structurally blind to.

    Identical machinery to the cross-doc form (same seed buckets, same
    diagonal islands — here diag = p2 - p1 > 0 is the repeat PERIOD, so
    overlapping occurrences i.e. tandem runs are handled naturally);
    only the pair filter differs (same doc instead of distinct docs),
    so every scale property carries over: one corpus explode, hashed
    seeds, cap-bounded buckets, per-(doc, period) windows. The bucket
    pre-filter drops the distinct-docs requirement — >= 2 occurrences
    anywhere qualifies a seed, because both may sit in one doc.

    Output: (doc_id, pos1, pos2, span_len) with pos1 < pos2; pos2 - pos1
    is the repeat period. For the REMOVAL composition, feed
    (doc_id, pos2, pos2 + span_len) cut intervals into the same cursor
    fold :func:`variable_substring_removal` uses — keep-earliest: every
    excised char's content survives at offset -period (chains bottom
    out below the first cut, which always starts at pos2 > pos1).
    """
    from pyspark.sql import Window

    grams = _char_windows(df, gram_len, id_col, content_col).select(
        F.col(id_col).alias("__d"),
        F.col("pos").cast("long").alias("__p"),
        F.xxhash64("span").alias("__gk"),
    )
    buckets = (
        grams.groupBy("__gk")
        .agg(F.array_sort(F.collect_list(F.struct("__d", "__p"))).alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= max_occ))
    )
    # m sorted by (doc, pos): i < j with equal doc implies p1 < p2.
    pair_expr = (
        "flatten(transform(sequence(0, size(m) - 2), i -> "
        "filter(transform(sequence(i + 1, size(m) - 1), j -> "
        "struct(m[i].__d AS d, m[j].__d AS d2, m[i].__p AS p1, "
        "m[j].__p - m[i].__p AS diag)), "
        "p -> p.d = p.d2)))"
    )
    pairs = buckets.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.d", "p.p1", "p.diag"
    )
    w = Window.partitionBy("d", "diag").orderBy("p1")
    runs = (
        pairs.withColumn("__grp", F.col("p1") - F.row_number().over(w))
        .groupBy("d", "diag", "__grp")
        .agg(
            F.min("p1").alias("pos1"),
            (F.max("p1") - F.min("p1") + gram_len).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )
    return runs.select(
        F.col("d").alias(id_col),
        F.col("pos1").cast("long").alias("pos1"),
        (F.col("pos1") + F.col("diag")).cast("long").alias("pos2"),
        F.col("span_len").cast("long").alias("span_len"),
    )


def knn_graph_multitable(
    emb: DataFrame,
    k: int = 5,
    nbits: int = 6,
    n_tables: int = 10,
    id_col: str = "vec_id",
    block_rows: int = 2048,
) -> DataFrame:
    """Multi-table blocked kNN graph: the union-of-candidates fix for
    the single-table sign-block graph's recall ceiling (5% exact-edge
    recall on the near-random hash corpus — the same ceiling the
    round-10 ANN work measured, and the same cure: L independent sign
    tables over disjoint dimension slices; a true neighbor only needs
    to agree on ONE table's bits).

    ONE unified plan, not L per-table graphs: a single scan of ``emb``
    explodes each row to its L (table, sign-bucket) keys, packed by
    :func:`_bucket_pair_packs` into capped kernel tasks (tables are
    disjoint key spaces — ``blk = table·2^nbits + bucket`` — so
    within-table semantics are preserved and hot buckets are sub-split
    exactly like the single-table path), scored by the shared
    local-top-k kernel, deduped by pair (a pair agreeing on several
    tables scores bit-identically in each; max is the deterministic
    pick), and re-ranked by one global window. The local cut stays
    lossless for the union result: a candidate dropped in a task has
    ≥ k same-task candidates strictly better by > 2e-6, all of them
    union candidates for the same source. Candidate work is
    L · Σ(bucket²) per table — linear-ish in n at fixed bucket
    population — versus the exact graph's n²; the input is scanned
    ONCE, so composing over a derived/filtered frame costs one
    evaluation of its lineage, not L.

    The ``n_tables·nbits ≤ dim`` requirement is validated IN the plan
    (a raise_error guard on every row, so ragged embedding arrays fail
    loudly instead of NULL-poisoning sign buckets) — it surfaces on
    action, not at call time, and costs no extra driver job.
    """
    from gistdex_spark.operators.similarity import sign_bucket  # noqa: PLC0415

    need = n_tables * nbits
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                sign_bucket("embedding", nbits, offset=t * nbits).alias("b"),
            )
            for t in range(n_tables)
        ]
    )
    # Dim guard wraps the WHOLE bucket array: the when-branch keeps the
    # ANSI array indexes inside the valid range, and short/ragged rows
    # hit raise_error with a precise message instead of Spark's generic
    # INVALID_ARRAY_INDEX (or, with ANSI off, silent NULL buckets).
    guarded_tables = F.when(F.size("embedding") >= need, tables).otherwise(
        F.raise_error(
            F.concat_ws(
                "",
                F.lit(
                    f"knn_graph_multitable: {n_tables} tables x {nbits} bits "
                    f"need {need} dims; embedding has "
                ),
                F.size("embedding").cast("string"),
            )
        ).cast("array<struct<t:int,b:int>>")
    )
    blocked = (
        emb.select(
            F.col(id_col).alias("id"),
            "embedding",
            F.explode(guarded_tables).alias("e"),
        )
        .select(
            "id",
            "embedding",
            (F.col("e.t") * F.lit(2**nbits) + F.col("e.b")).alias("blk"),
        )
    )
    joined = _bucket_pair_packs(blocked, block_rows)
    id_type = emb.schema[id_col].dataType.simpleString()
    cand = joined.mapInPandas(
        _make_knn_kernel(k), schema=f"src {id_type}, nbr {id_type}, sim double"
    )
    deduped = cand.groupBy("src", "nbr").agg(F.max("sim").alias("sim"))
    return _knn_rank(deduped, k)
