"""Multi-table LSH store at rest: bucket ids as columns, probes as
partition pruning (table 0) + pushed int-column predicates (tables 1+).

operators/similarity.ann_lsh_multitable claims the 100 TB probe story —
"at rest, store the L bucket ids as tiny int columns (derivable at
write time): each table's probe is then partition/Z-order pruning, and
the union reads L × (probed buckets) instead of the corpus". This
module is that claim as exercised code:

- ``write_lsh_store`` derives the L bucket ids in the write pass (one
  map-only projection — sign arithmetic, no shuffle beyond the layout
  repartition) and hive-partitions the table by ``b0``. One partition
  key is the Spark-native layout limit (nesting all L would explode the
  directory count to 2^(L·nbits)); the remaining b1..b(L-1) land as
  plain INT columns whose parquet min/max row-group stats the pushed
  IN-filters skip by. On an engine with Z-order/liquid clustering,
  cluster by (b0, b1, b2, ...) instead — same columns, same predicates.
- ``search_stored`` rebuilds the union-of-probes candidate filter over
  the STORED columns: the b0 IN-list is a partition predicate
  (PartitionFilters — directories pruned before IO), the b1+ IN-lists
  are data predicates on int columns (PushedFilters — row-group
  skipping), and crucially the embedding column is never touched until
  the exact rerank of survivors.

- ``search_stored_vote`` is the collision-count form at rest: the vote
  pass scans ONLY id + the L stored ints (column pruning keeps the
  embedding out of the pre-rerank scan entirely), heaps to a fixed
  shortlist, and joins just the shortlist back for the exact rerank.

``tests/test_lsh_store.py`` asserts the frames equal the scan-form
``ann_lsh_multitable`` / ``ann_lsh_vote`` exactly, that
PartitionFilters carries the b0 IN-list, that PushedFilters carries the
b1+ IN-lists, that the vote pass's scan schema excludes ``embedding``,
and — via ``input_file_name()`` — that a b0-only probe reads ONLY the
probed directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gistdex_spark.operators.similarity import (
    probe_buckets,
    sign_bucket,
    table_votes,
)


def write_lsh_store(
    emb: DataFrame,
    path: str,
    nbits: int = 6,
    n_tables: int = 10,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Derive the L bucket ids and write hive-partitioned by ``b0``.

    The layout repartition on ``b0`` gives each bucket directory its own
    files (without it every task writes a sliver of every bucket —
    2^nbits × tasks small files, the anti-pattern compact_store exists
    to undo).

    Raises the same dimension-vs-tables ValueError the scan forms
    enforce (r10 ADVICE): out-of-range ``vec[i]`` is NULL in Catalyst,
    so without the guard higher tables' bits would silently write as 0
    and the degenerate store would only fail at search time.
    """
    from gistdex_spark.sources.store_meta import (
        read_store_meta,
        write_store_meta,
    )

    first = emb.select(embedding_col).first()
    facts = None
    if first is not None and first[0] is not None:
        if n_tables * nbits > len(first[0]):
            raise ValueError(
                f"{n_tables} tables x {nbits} bits need {n_tables * nbits} "
                f"dims; embedding has {len(first[0])}"
            )
        facts = {"dim": len(first[0]), "nbits": nbits, "n_tables": n_tables}
    # On APPEND the existing sidecar is the store's recorded geometry —
    # an append with a different dim/nbits/n_tables must FAIL *before*
    # any rows land, not silently replace the sidecar (r12 ADVICE:
    # overwriting after the write both defeated the validation purpose
    # and would have appended incompatible bucket columns first). A
    # pre-sidecar store gains the sidecar from its first append, which
    # can only record what that batch actually wrote.
    if mode == "append" and facts is not None:
        existing = read_store_meta(path)
        if existing is not None and existing != facts:
            raise ValueError(
                f"lsh_store geometry mismatch on append: store has "
                f"{existing}, batch writes {facts}"
            )
    # The dim guard inspects the first non-degenerate row (one small
    # eager job; write is an action anyway). Ragged corpora — later rows
    # shorter than the first — are caller error the array type cannot
    # encode; their out-of-range bits write as 0, same as every scan
    # form computes for them.
    with_buckets = emb.select(
        id_col,
        embedding_col,
        *[
            sign_bucket(embedding_col, nbits, offset=t * nbits).alias(f"b{t}")
            for t in range(n_tables)
        ],
    )
    (
        with_buckets.repartition("b0")
        .write.mode(mode)
        .partitionBy("b0")
        .parquet(path)
    )
    # Geometry sidecar (store_meta): searches and future maintenance can
    # validate dims/geometry without sampling a row.
    if facts is not None:
        write_store_meta(path, **facts)


def search_stored(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 5,
    nbits: int = 6,
    n_tables: int = 10,
    radius: int = 1,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Multi-table probe over the stored bucket columns: identical
    candidate set (and therefore identical top-k) to the scan-form
    ``ann_lsh_multitable``, but the bucket arithmetic is PRE-PAID — the
    filter touches only the partition column and L-1 stored ints, so
    pruning happens before the embedding column is read."""
    from gistdex_spark.operators.search import with_score

    cond = None
    for t in range(n_tables):
        probes = probe_buckets(query_vec, nbits, radius, offset=t * nbits)
        c = F.col(f"b{t}").isin(probes)
        cond = c if cond is None else (cond | c)
    scan = spark.read.parquet(path).filter(cond)
    return (
        with_score(scan, query_vec, embedding_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def search_stored_vote(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 5,
    nbits: int = 6,
    n_tables: int = 10,
    radius: int = 1,
    shortlist: int = 100,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    weighted: bool = True,
) -> DataFrame:
    """Collision-count (voting) search over the stored bucket columns —
    the at-rest form of ``operators/similarity.ann_lsh_vote``, identical
    frame by construction (same :func:`table_votes` estimator, same
    tie-breaks).

    The 100 TB shape: the vote pass reads ONLY ``id`` + the L stored
    ints (~4(L+2) bytes/row via parquet column pruning — the embedding
    column is NOT in the pre-rerank scan, pinned by
    tests/test_lsh_store.py) and heaps to ``shortlist``; then only the
    ``shortlist`` survivors read their embedding, through a broadcast
    id semi-join back to the store. Two scans of the store, but the
    first touches a few bytes per row and the second prunes to
    ``shortlist`` rows — versus the scan form's single pass that must
    materialize the embedding for every row it heaps."""
    from gistdex_spark.operators.search import with_score

    votes = table_votes(
        query_vec,
        lambda t: F.col(f"b{t}"),
        nbits=nbits,
        n_tables=n_tables,
        radius=radius,
        weighted=weighted,
    )
    store = spark.read.parquet(path)
    short = (
        store.select(id_col, votes.alias("__votes"))
        .orderBy(F.desc("__votes"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    rerank = (
        spark.read.parquet(path)
        .select(id_col, embedding_col)
        .join(F.broadcast(short), id_col)
    )
    return (
        with_score(rerank, query_vec, embedding_col)
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
