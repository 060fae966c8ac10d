"""Training-data pipeline operators beyond the reference surface:
benchmark-contamination detection, Gopher-style repetition/quality gates,
and PII redaction. All three are pure Catalyst (no Python on the hot
path): contamination is an explode + broadcast semi-join, the other two
are per-row expression folds that stay map-only at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gistdex_spark.materialize import Materialize, checkpoint

# Word-boundary-free patterns chosen to behave identically under Java
# regex (Spark) and RE2 (DuckDB) — no backrefs, no lookaround.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGIT_RUN_RE = "[0-9]{5,}"


def shingle_set(
    df: DataFrame,
    n: int = 4,
    content_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per DISTINCT word n-gram per document (id, *extra, gram).

    Tokenize and shingle inside one per-row expression, dedupe with
    ``array_distinct`` BEFORE the explode — the shuffle (if any consumer
    adds one) then carries each (doc, gram) once, not once per
    occurrence. Docs shorter than ``n`` words emit nothing.
    """
    toks = F.split(F.col(content_col), " ")
    grams = F.expr(
        f"transform(sequence(0, size(__t) - {n}), "
        f"i -> concat_ws(' ', slice(__t, i + 1, {n})))"
    )
    # explode_OUTER + not-null: plain explode pushes an implicit
    # size>0 filter below the projection with the whole gram transform
    # inlined — one extra gram build per row (the ngram_jaccard
    # finding). The size(__t) >= n guard already proves the array is
    # non-empty, so the outer form emits no NULLs in practice and the
    # not-null filter only restores the contract.
    return (
        df.withColumn("__t", toks)
        .filter(F.size("__t") >= n)
        .select(
            id_col,
            *extra_cols,
            F.explode_outer(F.array_distinct(grams)).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, hits): corpus docs sharing >= 1 word n-gram with the
    benchmark set, with the count of distinct shared shingles.

    The decontamination primitive for training corpora: eval/benchmark
    sets are tiny next to a 100 TB corpus, so the benchmark shingle set
    is collected to a broadcast hash — the corpus side streams through a
    map-side semi-join with NO shuffle of corpus data; the only shuffle
    is the final per-doc count, which carries matched shingles only (a
    vanishing fraction of the corpus).
    """
    c = shingle_set(corpus, n, content_col, id_col)
    b = shingle_set(benchmark, n, content_col, id_col).select("gram").distinct()
    return (
        c.join(F.broadcast(b), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("hits"))
    )


def repetition_stats(
    df: DataFrame,
    content_col: str = "text",
    max_top_word_frac: float = 0.10,
    min_unique_frac: float = 0.40,
) -> DataFrame:
    """Gopher-style repetition gates as per-row expression folds:
    ``unique_frac`` (distinct words / words), ``top_word_frac`` (most
    frequent word's share), ``top_bigram_frac`` (most frequent bigram's
    share), and a deterministic ``quality_pass`` flag.

    The mode count runs as ONE O(n log n) sort + O(n) run-length fold per
    row (struct accumulator tracking the current and best run) — the
    naive transform(distinct, w -> count(filter(...))) form is O(distinct
    x len) in an interpreted nested lambda and measured 30x slower at
    sf0.1. Zero shuffles either way; thresholds follow the Gopher rules'
    shape (Rae et al. 2021), tuned for this corpus's 31-word vocabulary.
    """
    d = _tokenized_gate_input(df, content_col)
    # No in-engine rounding: int/int division is bit-identical IEEE 754 in
    # Spark and DuckDB, while round()'s tie rule is not guaranteed to match
    # across engines at exact 2^-k fractions (e.g. 1/128 at 6 dp).
    d = d.select(
        "doc_id",
        _unique_frac().alias("unique_frac"),
        _top_word_frac().alias("top_word_frac"),
        (
            F.expr(_TOP_COUNT.format(arr=_BIGRAMS)) / (F.size("__t") - F.lit(1))
        ).alias("top_bigram_frac"),
    )
    return d.withColumn(
        "quality_pass",
        (F.col("top_word_frac") <= max_top_word_frac)
        & (F.col("unique_frac") >= min_unique_frac),
    )


# Shared expression pieces of the Gopher repetition gate — ONE definition
# for the stats frame (:func:`repetition_stats`) and the in-place filter
# (:func:`quality_gate`), so the two cannot drift.
_TOP_COUNT = (
    "aggregate(array_sort({arr}), "
    "struct(cast(null as string) AS prev, 0 AS run, 0 AS best), "
    "(a, x) -> struct(x AS prev, "
    "CASE WHEN x <=> a.prev THEN a.run + 1 ELSE 1 END AS run, "
    "greatest(a.best, CASE WHEN x <=> a.prev THEN a.run + 1 ELSE 1 END)"
    " AS best), "
    "a -> a.best)"
)
_BIGRAMS = (
    "transform(sequence(0, size(__t) - 2), "
    "i -> concat(__t[i], ' ', __t[i + 1]))"
)


def _tokenized_gate_input(df: DataFrame, content_col: str) -> DataFrame:
    return df.withColumn("__t", F.split(F.col(content_col), " ")).filter(
        F.size("__t") >= 2
    )


def _unique_frac():
    return F.size(F.array_distinct("__t")) / F.size("__t")


def _top_word_frac():
    return F.expr(_TOP_COUNT.format(arr="__t")) / F.size("__t")


def quality_gate(
    df: DataFrame,
    content_col: str = "text",
    max_top_word_frac: float = 0.10,
    min_unique_frac: float = 0.40,
) -> DataFrame:
    """``df`` filtered to the rows :func:`repetition_stats` flags
    ``quality_pass`` — the gate applied IN PLACE as a zero-shuffle
    filter (r14-opt, guide §2.4). The curation compositions used to
    materialize the stats frame and join the corpus back to its passing
    doc_ids: a corpus-sized self-join (two scans + an exchange on each
    side at 100 TB) whose only purpose was re-attaching the columns the
    stats projection had dropped. ``quality_pass`` is a pure per-row
    function of the content column, so filtering where the rows already
    are computes the identical frame — same rows (doc_id is unique),
    same columns — with zero shuffles and one scan, and the gate
    expressions evaluate fused into whatever stage consumes the
    survivors. The bigram fraction (reported by the stats frame, unused
    by the gate) is skipped entirely here."""
    d = _tokenized_gate_input(df, content_col)
    return d.filter(
        (_top_word_frac() <= max_top_word_frac)
        & (_unique_frac() >= min_unique_frac)
    ).drop("__t")


def pii_redact(
    df: DataFrame,
    content_col: str,
    out_col: str = "redacted",
) -> DataFrame:
    """Count and mask emails and long digit runs (ids, phone-ish numbers)
    in a text column. Pure ``regexp_extract_all`` / ``regexp_replace``
    projections — map-only, pushdown-transparent, no Python.

    Order matters: emails are masked FIRST so a digit-heavy local-part
    is not half-eaten by the digit-run pass.
    """
    c = F.col(content_col)
    return (
        df.withColumn(
            "n_emails", F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0))
        )
        .withColumn(
            "n_digit_runs",
            F.size(F.regexp_extract_all(c, F.lit(DIGIT_RUN_RE), 0)),
        )
        .withColumn(
            out_col,
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, "[EMAIL]"),
                DIGIT_RUN_RE,
                "[ID]",
            ),
        )
    )


MD5_BUCKET = (
    "cast(conv(substring(md5(cast({id} as string)), 1, 15), 16, 10) as bigint)"
    " % {mod}"
)


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment from an md5 hash bucket of
    the id — reproducible across engines, runs, and cluster sizes (no RNG,
    no shuffle; the same doc lands in the same split at any scale)."""
    b = F.expr(MD5_BUCKET.format(id=id_col, mod=100))
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def sequence_pack(
    df: DataFrame,
    budget: int = 2048,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Offset-based sequence packing: docs are laid out in deterministic
    order and a doc joins the pack its STARTING token offset falls in
    (pack = floor(start / budget)) — the parallel-friendly variant of
    greedy context-window packing.

    The cumulative sum runs inside an md5-derived bucket, never globally:
    each bucket's window is an independent partition, so the operator
    scales by raising ``n_buckets`` (1 bucket ≈ one packing stream; 10k
    buckets on a 100 TB corpus keeps every window partition-sized).
    """
    b = F.expr(MD5_BUCKET.format(id=id_col, mod=n_buckets))
    from pyspark.sql import Window

    d = df.withColumn("bucket", b)
    w = Window.partitionBy("bucket").orderBy(id_col)
    start = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return d.withColumn(
        "pack_id", F.floor(start / F.lit(float(budget))).cast("bigint")
    )


def quantize_int8_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale (max|x|/127)
    and max absolute dequantization error — the 4x-storage-cut check a
    pipeline runs before committing 100 TB of embeddings to int8.

    One map-only pass; ``floor(x/scale + 0.5)`` instead of round() so the
    tie rule is bit-identical across engines. Zero vectors quantize to
    zero with zero error.
    """
    v = "transform({c}, x -> cast(x as double))".format(c=vec_col)
    scale = f"array_max(transform({v}, x -> abs(x))) / 127.0"
    err = (
        "array_max(transform({v}, x -> abs("
        "greatest(least(floor(x / __scale + 0.5), 127.0), -127.0) * __scale"
        " - x)))"
    ).format(v=v)
    return (
        df.withColumn("__scale", F.expr(scale))
        .select(
            id_col,
            F.col("__scale").alias("scale"),
            F.when(F.col("__scale") == 0.0, F.lit(0.0))
            .otherwise(F.expr(err))
            .alias("max_abs_err"),
        )
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 3,
    min_len: int = 5,
) -> DataFrame:
    """C4/RefinedWeb-style cross-document line deduplication: a line whose
    trimmed form appears in >= ``min_df`` DISTINCT documents (and is at
    least ``min_len`` chars) is boilerplate — navigation, cookie banners,
    license headers — and is removed from every document.

    Scale shape: explode is narrow; the frequency aggregate shuffles
    (line-hash-keyed, map-side combined) but its OUTPUT is only the
    frequent lines — a tiny set that broadcasts into a left join, so the
    corpus itself is never shuffled for the lookup. The rebuild groups by
    doc id (one shuffle of kept lines) and reassembles in line order.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    ).withColumn("nline", F.trim("line"))
    freq = (
        lines.filter(F.length("nline") >= min_len)
        .groupBy("nline")
        .agg(F.countDistinct("_id").alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select(F.col("nline").alias("fline"))
    )
    flagged = lines.join(
        F.broadcast(freq), lines.nline == freq.fline, "left"
    ).withColumn("rm", F.col("fline").isNotNull())
    return (
        flagged.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("rm"), F.struct("idx", "line"))
                        )
                    ),
                    lambda x: x.line,
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.col("rm").cast("int")).alias("n_removed"),
            F.count("*").alias("n_lines"),
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    tokens_col=None,
) -> DataFrame:
    """Tokenizer-precursor vocabulary builder: corpus word frequencies
    ranked with cumulative token coverage, cut to the top-``top_k`` types.

    Scale shape: the expensive part (word counting) is a map-side-combined
    hash agg; the top-k cut happens BEFORE any ranking window, via
    ``orderBy().limit(top_k)`` — per-partition heaps feeding a
    TakeOrderedAndProject, never a global sort of the vocabulary (which
    grows with corpus size per Heaps' law). The rank/cum_share window then
    runs over exactly ``top_k`` rows — bounded by the parameter, not the
    data — with the corpus token total folded in as a broadcast scalar.
    Output is identical to ranking the full vocabulary and filtering:
    the (n DESC, word) total order is unique, so the first k rows of the
    full ranking ARE the top-k cut.

    ``tokens_col``: the token-STREAM unit seam (an array<string> Column
    per row) — default is the whitespace split; pass
    ``functions.bpe.bpe_tokens(...)`` to rank SUBWORD types, the
    coverage table a tokenizer-aware vocab decision reads."""
    from pyspark.sql import Window

    stream = (
        tokens_col
        if tokens_col is not None
        else F.split(F.col(text_col), " ")
    )
    words = df.select(F.explode(stream).alias("word")).filter(
        F.col("word") != ""
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total_tokens"))
    topk = counts.orderBy(F.desc("n"), "word").limit(top_k)
    w = Window.orderBy(F.desc("n"), "word")
    return (
        topk.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                / F.col("total_tokens"),
                6,
            ),
        )
        .select("rank", "word", "n", "cum_share")
    )


def resample_domains(
    df: DataFrame,
    factors_permille: dict[str, int],
    id_col: str = "doc_id",
    domain_col: str = "source",
    default_permille: int = 1000,
) -> DataFrame:
    """Domain-mixture resampling: each domain is up/down-sampled by a
    per-mille factor (2500 = 2.5x, 400 = 0.4x). A doc gets
    ``factor // 1000`` full copies plus one more iff its md5 bucket lands
    under ``factor % 1000`` — deterministic, integer-only (no float
    boundary can flip a row between engines), and entirely MAP-SIDE: no
    shuffle, no RNG state, reproducible on any cluster size. Output rows
    carry copy_idx so downstream packing can distinguish repeats."""
    factor = F.lit(default_permille)
    for dom, pm in sorted(factors_permille.items()):
        factor = F.when(F.col(domain_col) == dom, F.lit(pm)).otherwise(factor)
    bucket = F.expr(
        MD5_BUCKET.format(
            id=f"concat(cast({id_col} as string), '#', {domain_col})", mod=1000
        )
    )
    d = df.withColumn(
        "_copies",
        (factor / 1000).cast("int")
        + F.when(bucket < factor % 1000, 1).otherwise(0),
    )
    return (
        d.filter(F.col("_copies") > 0)
        .select(
            F.col(id_col),
            F.col(domain_col),
            F.explode(F.sequence(F.lit(1), F.col("_copies"))).alias("copy_idx"),
        )
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus bigram language model + per-document mean log-probability
    (the KenLM-style fluency gate of a training pipeline, minus the
    external model: the corpus scores itself).

    Two passes, both plain Catalyst: (1) unigram/bigram hash-count aggs
    over the exploded token stream (map-side combined; the count tables
    are vocabulary-sized, orders of magnitude below corpus size);
    (2) re-explode, equality-join each doc bigram to its counts, and
    average add-one-smoothed ln P(w2|w1) per doc. At 100 TB both joins
    hash-partition on token keys — no broadcast needed for the counts
    unless the vocab fits, and no global sort anywhere. Docs with fewer
    than 2 tokens carry no bigrams and drop out (they have no LM signal).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = df.select(F.col(id_col), toks.alias("ws"))
    uni = (
        base.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("vsz"))
    pairs = (
        base.filter(F.size("ws") >= 2)
        .select(
            id_col,
            F.explode(
                F.zip_with(
                    F.expr("slice(ws, 1, size(ws) - 1)"),
                    F.expr("slice(ws, 2, size(ws) - 1)"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select(id_col, "bg.w1", "bg.w2")
    )
    bic = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        pairs.join(bic, ["w1", "w2"])
        .join(uni, pairs.w1 == uni.w)
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("vsz"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("lm_score"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def decontaminate_embeddings(
    df: DataFrame,
    eval_label: int = 0,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every training
    vector whose max cosine to ANY held-out/eval vector reaches the
    threshold (the semantic analogue of the 4-gram decontamination in
    `contamination` — catches paraphrased eval leakage that n-gram overlap
    misses).

    The eval set is benchmarks — tiny by construction — so it broadcasts
    to every executor and the scan over 100 TB of training vectors stays
    map-only: per-row max over the broadcast array, zero shuffle before
    the final per-vector aggregate (which is also narrow: one row per
    training vector)."""
    from gistdex_spark.functions import vectors as V

    # Norms are computed ONCE per side before the pair expansion — inside
    # the cross product they'd be re-folded |eval|x and |train|x over.
    # Higher-order array functions don't enter whole-stage codegen, so the
    # per-pair work must be exactly one dot fold. The division shape
    # dot/(tn*evn) keeps float ops identical to the one-shot cosine (and
    # the oracle).
    ev = df.filter(F.col(label_col) == eval_label).select(
        F.col(vec_col).alias("ev"), V.l2_norm(vec_col).alias("evn")
    )
    train = df.filter(F.col(label_col) != eval_label).select(
        id_col, vec_col, V.l2_norm(vec_col).alias("tn")
    )
    sims = train.crossJoin(F.broadcast(ev)).select(
        id_col,
        F.when((F.col("tn") == 0) | (F.col("evn") == 0), F.lit(0.0))
        .otherwise(V.dot(vec_col, "ev") / (F.col("tn") * F.col("evn")))
        .alias("sim"),
    )
    return (
        sims.groupBy(id_col)
        .agg(F.max("sim").alias("ms"))
        .select(
            id_col,
            F.round("ms", 6).alias("max_eval_cosine"),
            (F.col("ms") >= threshold).alias("contaminated"),
        )
    )


def shard_stats(
    df: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Deterministic training-shard assignment audit: every document maps
    to shard md5(id) % n_shards (engine-portable, RNG-free, stable across
    runs and cluster sizes — the property a resumable 100 TB shard writer
    needs), then per-shard size/balance stats. One hash agg; writing the
    actual shards is `df.write.partitionBy("shard")` on the same column."""
    shard = F.expr(MD5_BUCKET.format(id=id_col, mod=n_shards))
    return (
        df.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).alias("total_chars"),
            F.sum(id_col).alias("id_checksum"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


def curate_with_metrics(docs: DataFrame):
    """The curation pipeline (quality gate -> near-dup groups -> keep-one
    -> split assign) instrumented with `df.observe` stage metrics.

    Observation attaches accumulator-style counters to plan nodes, so
    the gate/kept counts ride jobs that already scan those subtrees
    instead of requiring dedicated `count()` scans. Caveat: this pipeline
    is not single-job — connected_components runs eager checkpoint
    jobs during construction, which is when the input/gated counters
    actually populate; the `kept` counter lands with the caller's action.
    Read `obs.get` only after an action on result_df and treat the
    numbers as exact stage counts, not as proof of a one-job plan.
    """
    from pyspark.sql import Observation
    from gistdex_spark.operators import dedup as D

    obs_in = Observation("curation_input")
    obs_gate = Observation("curation_gated")
    obs_kept = Observation("curation_kept")

    docs = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
    gated = quality_gate(docs).observe(
        obs_gate, F.count(F.lit(1)).alias("n")
    )
    # Explicit bucket partitions, NOT the auto_salt audit: `gated` is a
    # derived (gate-filtered) frame with no cache, and the audit's
    # decision collect would re-execute that whole upstream once per
    # CALL — at plan-construction time, before any action. The explicit
    # round-robin measured fastest here anyway (r11 A/B: 3.99 s vs the
    # audit's 4.22 s vs untreated 4.46 s at sf0.1).
    pairs = D.simhash_pairs(
        gated,
        bucket_partitions=gated.sparkSession.sparkContext.defaultParallelism,
    )
    comp = D.connected_components(pairs)
    kept = D.dedup_survivors(gated, comp).observe(
        obs_kept, F.count(F.lit(1)).alias("n")
    )
    out = split_assign(kept)
    return out, {"input": obs_in, "gated": obs_gate, "kept": obs_kept}


def dsir_weights(
    docs: DataFrame,
    target_col: str = "is_target",
    text_col: str = "text",
    buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by log p_target(x) − log p_raw(x) under
    bag-of-hashed-bigram unigram models, so a training pipeline can
    resample raw data toward a target distribution.

    Everything is hash-space sized: both models are ``buckets``-row
    frames (add-one smoothed over md5-hashed bigram buckets — the
    engine-portable hash used by every sampler in this module, NOT the
    JVM-specific murmur3), broadcast into the per-doc join. The corpus
    pays one explode + two hash aggs keyed by (doc, bucket); no
    vocabulary-sized structure ever exists, which is the paper's point —
    at 100 TB the model stays ``buckets`` rows no matter how the corpus
    grows.
    """
    spark = docs.sparkSession
    t = F.split(F.col(text_col), " ")
    bg = F.expr(
        f"transform(sequence(0, size(split({text_col}, ' ')) - 2), "
        f"i -> concat(element_at(split({text_col}, ' '), i + 1), ' ', "
        f"element_at(split({text_col}, ' '), i + 2)))"
    )
    ex = (
        docs.filter(F.size(t) >= 2)
        .select(id_col, F.col(target_col), F.explode(bg).alias("g"))
        .withColumn("b", F.expr(MD5_BUCKET.format(id="g", mod=buckets)))
    )
    # ONE corpus pass builds the (doc, bucket) counts; the bucket models
    # and their normalizing totals all derive from that 64-bucket frame
    # (Spark has no cross-branch CSE — naming `ex` five times would
    # explode every document's bigrams five times). The totals ride an
    # unpartitioned window over the model frame, which is bounded by
    # ``buckets``, never by data.
    from pyspark.sql import Window

    perdoc = ex.groupBy(id_col, target_col, "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    model_counts = perdoc.groupBy("b").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col(target_col), F.col("n")).otherwise(0)).alias("ct"),
    )
    bk = spark.range(buckets).select(F.col("id").alias("b"))
    w_all = Window.partitionBy()
    model = (
        bk.join(model_counts, "b", "left")
        .select(
            "b",
            F.log(
                (F.coalesce("ct", F.lit(0)) + 1)
                / (F.sum(F.coalesce("ct", F.lit(0))).over(w_all) + buckets)
                .cast("double")
            ).alias("lt"),
            F.log(
                (F.coalesce("cr", F.lit(0)) + 1)
                / (F.sum(F.coalesce("cr", F.lit(0))).over(w_all) + buckets)
                .cast("double")
            ).alias("lr"),
        )
    )
    return (
        perdoc.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("n") * (F.col("lt") - F.col("lr"))), 6
            ).alias("dsir_weight"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling without replacement, batch form of Efraimidis &
    Spirakis (2006): each row gets key = ln(u) / w with u a DETERMINISTIC
    md5-uniform in (0, 1]; the n largest keys are an exact weighted
    sample — a row's inclusion probability is proportional to its weight.
    The training-data use: quality- or length-weighted corpus subsetting
    that is reproducible across engines, partitionings, and reruns
    (TABLESAMPLE and rand() are neither).

    Scale shape: key is a narrow map expression; top-n compiles to
    TakeOrderedAndProject (per-partition heaps, n-row driver merge) — no
    shuffle, no sort of the corpus. Rows with non-positive weight are
    excluded (they would get -inf/undefined keys).
    """
    h = F.expr(MD5_BUCKET.format(id=id_col, mod=f"{1 << 60}L"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), F.asc(id_col))
        .limit(n)
        .drop("__es_key")
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 5,
    threshold: float = 0.15,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(id, n_grams, dup_char_frac, dup_gate): the Gopher "duplicate
    n-gram character fraction" repetition filter (Rae et al. 2021,
    Table A1 — duplicate 5-gram char fraction <= 0.15; RefinedWeb keeps
    the same family). ``repetition_stats`` covers the TOP-fraction
    signals (most frequent word/bigram share); this is the complementary
    DUPLICATE-MASS signal that catches looped generation where no single
    n-gram dominates but many repeat.

    Shape: n-grams assemble in one narrow projection (slice + concat
    over the token array — no HOF in the hot aggregation), then ONE
    (doc, gram) hash-count agg and ONE per-doc agg, both map-side
    combined on (id, gram)/id keys — the scale-canonical two-shuffle
    census. Docs with < n tokens carry no n-grams and pass with
    fraction 0.0 (the Gopher convention).

    floor-scaling at 6 dp, not round(): the char masses are exact
    integers, so k/2^m ratios land exactly on round()'s 6-dp tie
    boundary where Spark (shortest-decimal HALF_UP) and DuckDB (binary
    value) disagree; floor of the identical double is engine-identical.
    """
    toks = F.expr(
        f"filter(split(lower({content_col}), '[\\\\s]+'), w -> length(w) > 0)"
    )
    base = df.select(F.col(id_col), toks.alias("__t"))
    grams = base.filter(F.size("__t") >= n).select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__t) - {n - 1}), "
                f"i -> concat_ws(' ', slice(__t, i, {n})))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    mass = counts.groupBy(id_col).agg(
        F.sum(F.length("gram") * F.col("c")).alias("__all"),
        F.sum(
            F.when(F.col("c") > 1, F.length("gram") * F.col("c")).otherwise(0)
        ).alias("__dup"),
        F.sum("c").cast("bigint").alias("n_grams"),
    )
    frac = F.floor(F.col("__dup") / F.col("__all") * F.lit(1e6)) / F.lit(1e6)
    # Left side comes from df directly, NOT from `base`: Spark has no
    # cross-branch CSE, so referencing `base` here would re-run the
    # tokenization split on the second scan. df.select(id_col) prunes to
    # the id column at the parquet reader — the re-scan is id-only.
    return (
        df.select(id_col)
        .join(mass, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce(frac, F.lit(0.0)).alias("dup_char_frac"),
        )
        .withColumn("dup_gate", F.col("dup_char_frac") <= F.lit(threshold))
    )


def unimax_allocation(
    docs: DataFrame,
    budget_frac: tuple[int, int] = (7, 10),
    epochs_cap: int = 1,
    lang_col: str = "lang",
    text_col: str = "text",
    char_budget: bool = False,
) -> DataFrame:
    """UniMax language-sampling allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", ICLR 2023): split a training-token budget
    across languages as uniformly as possible, capping every language at
    ``epochs_cap`` epochs of its own corpus so low-resource languages are
    never over-repeated. The per-language fairness complement to
    ``token_budget_fill`` (global quality-greedy) and
    ``resample_domains`` (fixed per-domain rates).

    The paper's sequential loop (ascending corpus size, each language
    takes min(cap, remaining/languages_left)) is exactly water-filling,
    so it collapses to a closed form: with languages sorted by cap
    ascending, the saturated set is the largest prefix j where
    ``cap_i * (langs_left_i) <= budget - spent_before_i`` (the prefix
    property follows from caps being sorted), and every unsaturated
    language gets the same share ``(budget - C_j) DIV (n - j)``. That
    closed form is what both engines compute — no loop, no recursion.

    Every quantity is INTEGER (token counts, caps, cumulative sums,
    integer-division shares; the budget is ``tokens_total * num DIV
    den``), so the result is bit-identical across engines and
    partitionings with no float-fold or round-tie exposure; the reported
    ``epochs`` is floor-scaled to 6 dp via integer math. Shape: one
    map-side-combined groupBy(lang) shuffle of (lang, count) pairs, then
    EVERYTHING (rank, cumsum, totals, saturation boundary, shares) as
    chained window expressions over that one per-language frame — a
    single lineage, because Spark has no cross-branch CSE and branching
    into agg-scalar frames would re-execute the corpus scan once per
    branch (pinned: test_unimax_single_corpus_shuffle). The unpartitioned
    windows are bounded by |languages| (~hundreds), never by corpus
    size — the same bounded-frame window contract as dsir_weights'
    model frame.
    """
    from pyspark.sql import Window as W

    from gistdex_spark.functions.text import tokens

    num, den = budget_frac
    # char_budget=True threads per-language char mass through the same
    # single-scan agg (no extra pass) so the allocation can be converted
    # token->char at the end — see the final select.
    extra_proj = [F.length(text_col).alias("__chl")] if char_budget else []
    extra_agg = (
        [F.sum("__chl").cast("bigint").alias("chars_total")]
        if char_budget
        else []
    )
    per_lang = (
        docs.select(
            lang_col, F.size(tokens(text_col)).alias("__nt"), *extra_proj
        )
        .groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__nt").cast("bigint").alias("tokens"),
            *extra_agg,
        )
        .withColumn(
            "cap_tokens", (F.col("tokens") * epochs_cap).cast("bigint")
        )
    )
    w_ord = W.orderBy(F.asc("cap_tokens"), F.asc(lang_col))
    w_cum = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = per_lang.select(
        "*",
        F.row_number().over(w_ord).cast("bigint").alias("__i"),
        F.sum("cap_tokens").over(w_cum).alias("__c"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("__n"),
        F.sum("tokens").over(w_all).alias("__tot"),
    ).withColumn(
        "__b", F.expr(f"CAST(__tot * {num} DIV {den} AS BIGINT)")
    )
    sat = F.col("cap_tokens") * (F.col("__n") - F.col("__i") + 1) <= F.col(
        "__b"
    ) - (F.col("__c") - F.col("cap_tokens"))
    with_b = ranked.select(
        "*",
        F.coalesce(F.max(F.when(sat, F.col("__i"))).over(w_all), F.lit(0))
        .cast("bigint")
        .alias("__j"),
        F.coalesce(F.max(F.when(sat, F.col("__c"))).over(w_all), F.lit(0))
        .cast("bigint")
        .alias("__cj"),
    )
    alloc = F.when(F.col("__i") <= F.col("__j"), F.col("cap_tokens")).otherwise(
        F.expr("(__b - __cj) DIV greatest(__n - __j, 1L)")
    )
    # The scaled multiply goes through DECIMAL(38,0): alloc_tokens can
    # exceed 9.2e12 for a dominant language at the 100 TB scale this
    # docstring advertises, and BIGINT * 1e6 would wrap silently under
    # Spark's non-ANSI arithmetic (the oracle's HUGEINT twin would
    # error). DIV on the decimal is still exact integer division and
    # the quotient (<= epochs_cap * 1e6) always fits a long.
    epochs = F.when(F.col("tokens") <= 0, F.lit(0.0)).otherwise(
        F.expr(
            "CAST(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 DIV tokens"
            " AS DOUBLE) / 1000000.0"
        )
    )
    out = (
        with_b.withColumn("alloc_tokens", alloc.cast("bigint"))
        .withColumn("epochs", epochs)
    )
    cols = [lang_col, "n_docs", "tokens", "cap_tokens", "alloc_tokens",
            "epochs"]
    if char_budget:
        # Token budget -> char budget via the language's own fertility
        # (chars_total / tokens), in exact integer math: the scaled
        # multiply rides DECIMAL(38,0) (alloc <= ~1e15 x chars <= ~1e17
        # stays under 38 digits; HUGEINT in the oracle), floor DIV. The
        # char number is what shard planning and storage sizing consume —
        # token budgets don't translate across languages with different
        # fertility (the tokenizer_fertility_audit signal, applied).
        out = out.withColumn(
            "char_budget",
            F.expr(
                "CAST(CASE WHEN tokens <= 0 THEN 0 ELSE "
                "CAST(alloc_tokens AS DECIMAL(38,0)) * chars_total"
                " DIV tokens END AS BIGINT)"
            ),
        )
        cols = cols[:2] + ["chars_total"] + cols[2:] + ["char_budget"]
    return out.select(*cols)


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    epochs: int = 2,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic per-epoch reshuffle for training-data ordering: one
    (id, epoch, shard) row per document per epoch, with
    ``shard = md5(id || ':' || epoch) % n_shards``. Keying the hash on
    the epoch gives each pass an INDEPENDENT pseudo-random permutation
    (the property epoch reshuffling exists for — the same pair of docs
    should not share a shard every epoch) while staying RNG-free and
    engine-portable: resuming a crashed epoch-3 writer reproduces the
    identical assignment from nothing but (id, epoch). Map-only — the
    explode emits `epochs` rows per doc with no shuffle; the actual
    shard write is `partitionBy(epoch, shard)` on these columns."""
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    pairs = F.array(
        *[
            F.struct(
                F.lit(e).cast("int").alias("epoch"),
                F.expr(
                    MD5_BUCKET.format(
                        id=f"concat(cast({id_col} as string), ':', '{e}')",
                        mod=n_shards,
                    )
                ).alias("shard"),
            )
            for e in range(epochs)
        ]
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("a")
    ).select(id_col, "a.epoch", "a.shard")


def interleave_order(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Round-robin interleave key for multi-source training mixes: adds
    ``rr_round`` = the document's 1-based position within its source
    (ordered by id). Sorting by (rr_round, source, id) yields the
    deterministic interleave a1 b1 c1 a2 b2 c2 ... — sources with fewer
    docs simply drop out of later rounds. One window shuffle partitioned
    by source; consumers either TakeOrdered a bounded audit slice (no
    global sort — see queries.interleave_sources) or write the full
    ordering via range-partitioning on (rr_round, source), which is a
    sort-shuffle, not a single-partition row_number."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(id_col)
    return df.withColumn("rr_round", F.row_number().over(w))


def gram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Cross-corpus novelty score: the fraction of a document's DISTINCT
    word n-grams whose FIRST corpus occurrence (minimum id) is this
    document. Curation pipelines ingesting in id/time order use this to
    drop low-contribution documents — a doc whose grams all appeared
    earlier adds no new text even when no single earlier doc is a
    near-dup (the case pairwise dedup by construction cannot see).

    Shape: distinct grams per doc (one staged projection — the
    lambda-inlining-safe split, see ngram_jaccard_pairs), then
    ``min(id) OVER (PARTITION BY gram)`` tags every posting with its
    gram's first doc in ONE pass — a window, not a groupBy+self-join
    (which would evaluate the posting pipeline twice; Spark has no
    cross-join-side CSE) and not a collect_list (whose per-gram array
    is unbounded for viral grams at 100 TB). One sort-shuffle on gram +
    one hash agg on id. Short docs carry their single degenerate gram
    ('' when below n tokens) and score on it like any other gram.
    """
    toks = (
        f"filter(split(lower({content_col}), '[\\\\s]+'), "
        f"w -> length(w) > 0)"
    )
    grams = (
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))))"
    )
    from pyspark.sql import Window

    posts = (
        df.select(F.col(id_col), F.expr(toks).alias("__toks"))
        .select(id_col, F.expr(grams).alias("grams"))
        .select(id_col, F.explode_outer("grams").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    tagged = posts.withColumn(
        "first_doc", F.min(id_col).over(Window.partitionBy("g"))
    )
    novel = F.sum(
        F.when(F.col(id_col) == F.col("first_doc"), 1).otherwise(0)
    ).cast("bigint")
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.alias("n_novel"),
        F.round(
            novel.cast("double") / F.count(F.lit(1)), 6
        ).alias("novelty"),
    )


def global_row_index(
    df: DataFrame,
    order_by: list,
    index_col: str = "global_idx",
    partitions: int | None = None,
    materialize: Materialize = checkpoint,
    materialize_input: bool = False,
) -> DataFrame:
    """Contiguous 1-based global row index in ``order_by`` order WITHOUT
    a single-partition window over the data — the DataFrame-native
    zipWithIndex, and the primitive a training-data writer needs to
    stamp a total curriculum order onto a 100 TB corpus.

    Two-phase, the classic per-partition-count scheme: range-repartition
    on the order columns (range partition i holds keys strictly below
    partition i+1's), rank locally inside each range partition, and add
    each partition's starting offset = the cumulative count of earlier
    partitions. The counts frame is one row per PARTITION — the only
    single-partition window in the plan runs over those ~hundreds of
    rows, never the corpus — and joins back as a broadcast.

    The ranged frame is MATERIALIZED once through ``materialize``
    (default: an eager checkpoint into the active
    :mod:`~gistdex_spark.materialize` scope) before the rank and count
    branches consume it. This is correctness, not caching: the two
    branches CANNOT be left to re-evaluate the range exchange
    independently, because Spark's
    RangePartitioner samples its boundaries with an rdd.id-derived seed
    — and ReuseExchange, which would dedupe the two evaluations, breaks
    as soon as the frame carries a column only one branch needs (column
    pruning gives the branches different exchange schemas; found when a
    wide text column produced local ranks from one set of boundaries
    and offsets from another, yielding indexes past n). The
    materialization IS the single evaluation; at 100 TB it is the
    honest price of a total-order stamp — index the narrow key columns
    and join back by key if the corpus row is wide.

    Determinism: ``order_by`` must be a total order (include a unique
    id as the last column); entries are column names or Column sort
    expressions (``F.col("x").desc()``), applied identically to the
    range partitioner and the local rank. The index depends only on that order, not
    on where the sampled range boundaries happen to fall — boundary
    jitter moves rows between partitions but local rank + offset
    reproduces the same global rank.

    ``materialize_input`` (r15-opt, guide §1.2): materialize ``df``
    through the seam BEFORE the range exchange.
    ``repartitionByRange``'s boundary-sampling pass evaluates the child
    plan over every row, so the exchange input is computed TWICE per
    call (measured: 2x UDF invocations) — a caller whose input rows are
    expensive to derive (a BPE tokenizer UDF, a quality-score pass) and
    narrow should opt in; a caller whose input is a cheap wide scan
    (raw text straight off parquet) should not, because checkpointing
    the payload costs more than the second scan. ``materialize`` is
    then called twice, and must keep both checkpoints live.
    """
    from pyspark.sql import Column, Window

    cols = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if materialize_input:
        df = materialize(df)
    ranged = materialize(
        df.repartitionByRange(n, *cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    local = ranged.withColumn(
        "__lrank",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*cols)),
    )
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__pid", "__offset")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(index_col, (F.col("__offset") + F.col("__lrank")).cast("bigint"))
        .drop("__pid", "__lrank", "__offset")
    )


def global_prefix_sum(
    df: DataFrame,
    order_by: list,
    value_col: str,
    out_col: str = "prefix_sum",
    partitions: int | None = None,
    materialize: Materialize = checkpoint,
) -> DataFrame:
    """EXCLUSIVE global prefix sum of ``value_col`` in ``order_by``
    order (sum of all values strictly before the row) WITHOUT a
    single-partition window over the data — :func:`global_row_index`'s
    two-phase range-exchange discipline applied to a running SUM. This
    is the primitive under sequence packing (where does each document's
    token span start in the concatenated stream?), curriculum byte
    budgeting, and shard manifest offsets.

    Same materialization contract as global_row_index: the ranged frame
    is evaluated ONCE (range boundaries are sample-seeded; two
    independent evaluations under column pruning would disagree), the
    only single-partition window runs over one row per partition, and
    offsets join back as a broadcast. ``order_by`` must be a total
    order.

    r15-opt (guide §1.2 — don't compute things you throw away): the
    INPUT is materialized first. ``repartitionByRange`` runs a
    reservoir-sampling pass that evaluates the child plan over EVERY
    row before the shuffle re-evaluates it (measured: 2x UDF
    invocations), so without this the value column — a full tokenize,
    or a BPE UDF — is computed twice per call. The input here is always
    narrow (an id and a number), so the extra checkpoint is a few dozen
    bytes per row. ``materialize`` is called twice (input, ranged
    frame) and must keep both checkpoints live.
    """
    from pyspark.sql import Column, Window  # noqa: PLC0415

    cols = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        materialize(df)
        .repartitionByRange(n, *cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = ranged.withColumn(
        "__lsum",
        F.coalesce(
            F.sum(value_col).over(
                Window.partitionBy("__pid")
                .orderBy(*cols)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        ),
    )
    counts = ranged.groupBy("__pid").agg(
        F.sum(value_col).alias("__psum")
    )
    offsets = counts.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__psum").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0).cast("bigint"),
        ),
    ).select("__pid", "__offset")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col, (F.col("__offset") + F.col("__lsum")).cast("bigint")
        )
        .drop("__pid", "__lsum", "__offset")
    )


def sequence_packing_stats(
    df: DataFrame,
    capacity: int = 512,
    content_col: str = "text",
    source_col: str = "source",
    materialize: Materialize = checkpoint,
    token_count_col=None,
) -> DataFrame:
    """Concat-and-chunk sequence-packing audit: documents are tokenized,
    concatenated in doc_id order, and cut into fixed ``capacity`` chunks
    (the GPT-style packing a pretraining writer applies); per source,
    report how many documents STRADDLE a chunk boundary — the documents
    whose loss is computed across an attention reset, the quantity a
    packing-strategy decision (concat vs best-fit vs padded) is made on.

    The document's span start is one :func:`global_prefix_sum` (range
    exchange, no corpus-wide window); the straddle test is then pure
    per-row arithmetic: a non-empty document starting at s with n tokens
    straddles iff floor(s/C) != floor((s+n-1)/C).

    ``token_count_col``: the TOKEN UNIT — a Column mapping each row to
    its token count. Default is the whitespace word count (the
    reference's estimation unit); pass
    ``functions.bpe.bpe_token_count(...)`` for tokenizer-aware
    accounting (a pretraining budget counts subword tokens — straddle
    rates shift when the unit shifts, which is why the registry
    carries both `sequence_packing_stats` and `_bpe`). Everything
    downstream of the count — the range-exchange prefix sum, the
    straddle test — is unit-agnostic.
    """
    from gistdex_spark.functions.text import tokens  # noqa: PLC0415

    n_tok = (
        token_count_col
        if token_count_col is not None
        else F.size(tokens(F.col(content_col)))
    )
    toks = df.select(
        "doc_id",
        F.col(source_col).alias("source"),
        n_tok.cast("bigint").alias("n_tok"),
    )
    spans = global_prefix_sum(
        toks, ["doc_id"], "n_tok", out_col="start", materialize=materialize
    )
    c = F.lit(capacity).cast("bigint")
    straddles = F.when(
        (F.col("n_tok") > 0)
        & (
            F.floor(F.col("start") / c)
            != F.floor((F.col("start") + F.col("n_tok") - 1) / c)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        spans.withColumn("__straddle", straddles)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("__straddle").cast("bigint").alias("n_straddling"),
            F.round(
                F.sum("__straddle")
                / F.sum(F.when(F.col("n_tok") > 0, 1).otherwise(0)),
                6,
            ).alias("straddle_rate"),
        )
    )


def shard_manifest(
    df: DataFrame,
    shard_tokens: int = 2048,
    content_col: str = "text",
    materialize: Materialize = checkpoint,
    token_count_col=None,
) -> DataFrame:
    """Assign documents to fixed-token-budget output shards and emit
    the manifest — the piece between the packing audit
    (:func:`sequence_packing_stats`) and an actual pretraining-data
    writer: a writer consumes these rows to know exactly which doc span
    and token span each shard file carries.

    Assignment rule: concatenate documents in doc_id order (the same
    stream the packing audit cuts) and place each document in the shard
    its FIRST token lands in — shard_id = floor(start / shard_tokens),
    with ``start`` from one :func:`global_prefix_sum` (range exchange,
    no corpus-wide window). The rule is a pure function of (doc_id
    order, token counts), so it is stable under reshard/re-ingest and
    replayable in ANSI SQL as the same prefix-sum CTE — the census
    oracle the registry pins. A straddling document belongs to its
    starting shard; shards therefore carry slightly more than
    ``shard_tokens`` tokens on average (bounded by one document), which
    is the standard concat-writer behavior — a bin-packing writer that
    must cap hard pads instead, and decides that from
    sequence_packing_stats.

    Manifest row per shard: (shard_id, n_docs, doc_from, doc_to,
    n_tokens, token_start, token_end) — doc spans are contiguous by
    construction (assignment is monotone in doc_id). One range exchange
    + one hash agg on shard_id; at 100 TB the manifest is ~corpus_tokens
    / shard_tokens rows, trivially collectable by the writer.

    ``token_count_col``: the token unit seam, as in
    :func:`sequence_packing_stats` — whitespace words by default, a BPE
    count column for tokenizer-aware budgets.
    """
    from gistdex_spark.functions.text import tokens  # noqa: PLC0415

    n_tok = (
        token_count_col
        if token_count_col is not None
        else F.size(tokens(F.col(content_col)))
    )
    toks = df.select("doc_id", n_tok.cast("bigint").alias("n_tok"))
    spans = global_prefix_sum(
        toks, ["doc_id"], "n_tok", out_col="start", materialize=materialize
    )
    b = F.lit(shard_tokens).cast("bigint")
    return (
        spans.withColumn(
            "shard_id", F.floor(F.col("start") / b).cast("bigint")
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("doc_from"),
            F.max("doc_id").cast("bigint").alias("doc_to"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("start").cast("bigint").alias("token_start"),
            F.max(F.col("start") + F.col("n_tok"))
            .cast("bigint")
            .alias("token_end"),
        )
    )


def unigram_logprob(
    df: DataFrame, content_col: str = "text", tokens_col=None
) -> DataFrame:
    """Per-document mean unigram log2-probability against the corpus's
    own unigram distribution — the perplexity-proxy quality filter
    (CCNet-style: documents whose tokens are uniformly rare are noise;
    boilerplate scores near the mode). No smoothing is needed: every
    scored token is by construction in the corpus vocabulary
    (p = count(w)/total > 0).

    Scale shape: one hash agg builds the vocabulary frequencies
    (map-side combined, V rows), one scalar total, then the exploded
    (doc_id, word) stream hash-joins the vocabulary on word and
    re-aggregates per document — two equality exchanges, no broadcast
    of a possibly-corpus-sized vocab.

    ``tokens_col``: the token-STREAM unit seam (array<string> per row)
    — default is `functions.text.tokens`; a BPE token array scores
    documents under the SUBWORD unigram distribution, the unit an
    actual LM's perplexity proxy lives in.
    """
    from gistdex_spark.functions.text import tokens  # noqa: PLC0415

    from pyspark.sql import Window  # noqa: PLC0415

    stream = (
        tokens_col if tokens_col is not None else tokens(F.col(content_col))
    )
    words = df.select("doc_id", F.explode(stream).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("__wn"))
    # Corpus token total as a window over the VOCAB frame (V rows
    # through one partition — vocabulary-bounded, never the corpus),
    # not a separate words.count() job: the exploded token stream's
    # lineage is evaluated exactly twice (vocab branch + join probe),
    # not three times — the no-cross-branch-CSE discipline.
    vocab = vocab.withColumn(
        "__tot", F.sum("__wn").over(Window.partitionBy())
    )
    scored = words.join(vocab, "word").withColumn(
        "__logp", F.log2(F.col("__wn") / F.col("__tot").cast("double"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(F.avg("__logp"), 6).alias("avg_log2p"),
    )


def vocab_growth(
    df: DataFrame,
    content_col: str = "text",
    buckets: int = 10,
    materialize: Materialize = checkpoint,
    tokens_col=None,
) -> DataFrame:
    """Heaps-law audit: cumulative distinct vocabulary vs cumulative
    token count across a doc_id-ordered corpus split into ``buckets``
    equal slices — the curve a tokenizer designer reads before fixing a
    vocab size (V ~ K·N^beta; a flattening type/token ratio says the
    corpus stopped contributing new types).

    Scale shape: the total order comes from :func:`global_row_index`
    (one range exchange, no single-partition window over the corpus);
    "first bucket a term appears in" is a map-combined min agg over the
    exploded tokens; every window after that runs over ``buckets`` rows.
    The count() that fixes bucket boundaries is one scalar job.
    """
    from pyspark.sql import Window

    from gistdex_spark.functions.text import tokens

    n = df.count()
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [],
            schema="bucket INT, cum_tokens BIGINT, cum_vocab BIGINT, "
            "type_token_ratio DOUBLE",
        )
    bucket_expr = F.expr(
        f"CAST((global_idx - 1) * {buckets} DIV {n} AS INT)"
    ).alias("bucket")
    if tokens_col is not None:
        # Token-STREAM unit seam (the build_vocab/oov_rate discipline):
        # the array column is computed BEFORE the range exchange, so a
        # UDF-backed unit (BPE) runs once and its output rides the
        # materialized ranged frame. materialize_input because the range
        # exchange's sampling pass would otherwise evaluate the BPE UDF
        # over the whole corpus a second time (global_row_index
        # docstring); the raw-text branch below stays input-unmaterialized
        # — its input is a plain parquet scan, cheaper to re-read than to
        # checkpoint twice.
        idx = global_row_index(
            df.select("doc_id", tokens_col.alias("__toks")),
            ["doc_id"],
            materialize=materialize,
            materialize_input=True,
        )
        bucketed = idx.select(bucket_expr, F.col("__toks"))
    else:
        idx = global_row_index(
            df.select("doc_id", F.col(content_col).alias("__txt")),
            ["doc_id"],
            materialize=materialize,
        )
        bucketed = idx.select(bucket_expr, tokens(F.col("__txt")).alias("__toks"))
    toks = bucketed.groupBy("bucket").agg(
        F.sum(F.size("__toks")).alias("__tok_n")
    )
    first = (
        bucketed.select("bucket", F.explode("__toks").alias("__w"))
        .groupBy("__w")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        toks.join(first, "bucket", "left")
        .select(
            "bucket",
            F.sum("__tok_n").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("__new", F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )
    return cum.withColumn(
        "type_token_ratio",
        F.round(
            F.when(
                F.col("cum_tokens") > 0,
                F.col("cum_vocab").cast("double") / F.col("cum_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )


def oov_rate(
    df: DataFrame, text_col: str = "text", top_k: int = 16, tokens_col=None
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-K
    vocabulary — the coverage check a fixed-vocab tokenizer runs before
    committing to a vocab size (documents with high OOV rates degrade
    to byte/unk fallback at train time).

    The vocabulary cut is a PARAMETER-BOUNDED collect (top_k rows from
    a map-combined hash agg + TakeOrdered heap, ties broken word-asc)
    inlined as a literal array; the per-doc pass is then map-only
    array arithmetic — the broadcast-dimension shape.

    ``tokens_col``: the token-STREAM unit seam, as in
    :func:`build_vocab` — whitespace split by default, a BPE token
    array for tokenizer-aware coverage (where OOV-against-top-K is the
    actual byte/unk-fallback question).
    """
    stream = (
        tokens_col
        if tokens_col is not None
        else F.split(F.col(text_col), " ")
    )
    words = df.select(F.explode(stream).alias("word")).filter(
        F.col("word") != ""
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    top = [
        r["word"]
        for r in counts.orderBy(F.desc("n"), "word").limit(top_k).collect()
    ]
    # Explicit element type: an all-empty corpus gives top = [] and a
    # bare F.lit([]) is a VOID-typed array literal — array_contains over
    # it can fail analysis (or drift across Spark versions) instead of
    # counting every token as OOV.
    vocab = F.lit(sorted(top)).cast("array<string>")
    staged = df.withColumn("__toks", F.filter(stream, lambda w: w != ""))
    t = F.col("__toks")
    n_oov = F.size(
        F.filter(t, lambda w: ~F.array_contains(vocab, w))
    )
    return staged.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        F.round(
            F.when(
                F.size(t) > 0, n_oov.cast("double") / F.size(t)
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("oov_rate"),
    )


def pmi_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    window_tokens: int = 7,
    min_pair_count: int = 5,
    top_k: int = 20,
    materialize: Materialize = checkpoint,
) -> DataFrame:
    """Pointwise mutual information over word co-occurrence windows —
    the association-mining pass behind collocation extraction and
    static-embedding pipelines. Windows are the deterministic
    fixed-size token slices (the line_quality_gate derivation); a pair
    counts once per window it co-occurs in (distinct words per window).

    Scale shape: the (window, word) stream is narrow; pair expansion is
    a per-window ARRAY comprehension (≤ C(window_tokens, 2) pairs per
    window, never a self-join on a corpus-sized frame); c_a / c_ab are
    map-combined hash aggs; the marginals join back by word (vocab-
    bounded, broadcast); the top-k cut is a TakeOrdered heap on
    (pmi, pair). PMI = log2(c_ab · N / (c_a · c_b)) on exact BIGINT
    counts — one double expression, engine-identical.
    """
    staged = df.select(
        "doc_id",
        F.filter(
            F.split(F.col(text_col), " "), lambda w: w != ""
        ).alias("__toks"),
    )
    t = F.col("__toks")
    n_win = F.ceil(F.size(t) / F.lit(float(window_tokens))).cast("int")
    wins = staged.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(t) == F.lit(0),
                F.lit([]).cast("array<array<string>>"),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), n_win - 1),
                    lambda i: F.array_sort(
                        F.array_distinct(
                            F.slice(t, i * window_tokens + 1, window_tokens)
                        )
                    ),
                )
            )
        ).alias("win_idx", "ws"),
    )
    n_windows = wins.agg(F.count(F.lit(1)).alias("n_windows"))
    singles = (
        wins.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Both marginal branches (c_a, c_b) read `singles`; without a cut
    # the corpus-sized explode+agg pipeline would run once per branch
    # (no cross-branch CSE). The frame is vocabulary-bounded, so the
    # cut is cheap. The window count and the pair agg still each pass
    # the corpus once — 3 passes total, not 4.
    singles = materialize(singles)
    # Pair expansion stays inside the row: an array comprehension over
    # the sorted distinct window words (i < j), then one explode.
    pairs_col = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ws")),
                lambda j: F.array(
                    F.element_at("ws", i), F.element_at("ws", j)
                ),
            ),
        )
    )
    pair_counts = (
        wins.filter(F.size("ws") >= 2)
        .select(F.explode(pairs_col).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_pair_count)
        .select(
            F.element_at("p", 1).alias("word_a"),
            F.element_at("p", 2).alias("word_b"),
            "c_ab",
        )
    )
    ca = singles.select(F.col("w").alias("word_a"), F.col("c").alias("c_a"))
    cb = singles.select(F.col("w").alias("word_b"), F.col("c").alias("c_b"))
    scored = (
        pair_counts.join(F.broadcast(ca), "word_a")
        .join(F.broadcast(cb), "word_b")
        .crossJoin(F.broadcast(n_windows))
        .withColumn(
            "pmi",
            F.round(
                F.log2(
                    F.col("c_ab").cast("double")
                    * F.col("n_windows")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                6,
            ),
        )
    )
    return (
        scored.select(
            "word_a", "word_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            "pmi",
        )
        .orderBy(F.desc("pmi"), "word_a", "word_b")
        .limit(top_k)
    )
