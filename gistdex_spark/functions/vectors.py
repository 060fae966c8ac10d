"""Vector math over ``ARRAY<FLOAT>`` columns — JVM-side, codegen-friendly.

Reference semantics: ``cosineSimilarity`` returns dot/(|a||b|), 0 when either
vector has zero magnitude (reference `src/core/embedding/embedding.ts:143-173`,
`src/core/utils/math-utils.ts:4-77`). The reference normalizes embeddings at
index time so score == dot product on its own data; we keep the full cosine
so arbitrary (non-normalized) embedding columns score correctly too.

All of these compile to Catalyst ``ZipWith``/``ArrayAggregate`` expressions —
no Python UDF in the hot path, so a 100 TB scan stays inside whole-stage
codegen. Accumulation is sequential over the array (index order), which makes
the floating-point result reproducible across engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns, accumulated as DOUBLE in index order."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def spark_dot_sql(a: str, b: str) -> str:
    """Spark SQL text of :func:`dot` over two named columns, for ``F.expr``.

    It parses to the same Catalyst expression as :func:`dot` (same
    accumulation order, same bits) in one JVM call, where the lambda form
    pays a Py4J round trip per lambda node (~80 ms of plan building per
    fold)."""
    a, b = (f"`{c.replace('`', '``')}`" for c in (a, b))
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, x) -> acc + x)"
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with the reference's zero-vector guard (→ 0.0)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def normalize(a: Column | str) -> Column:
    """v / |v|; identity for the zero vector (reference `embedding.ts:131-141`)."""
    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    return F.when(n == F.lit(0.0), a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


# ---------------------------------------------------------------------------
# SQL-string builders (same math for the DuckDB oracle). The driver hash-
# compares Spark output vs DuckDB output, so both engines must run the
# identical formula with the identical accumulation order.
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str) -> str:
    """DuckDB SQL for the same sequential double dot product."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def sql_cosine(a: str, b: str) -> str:
    d = sql_dot(a, b)
    na = f"sqrt({sql_dot(a, a)})"
    nb = f"sqrt({sql_dot(b, b)})"
    return f"(CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 ELSE {d} / ({na} * {nb}) END)"


def vector_literal(vec: list[float]) -> Column:
    """A literal query vector as a Spark array column (broadcast by value).
    Passed as a float64 ndarray, it crosses Py4J as one ``double[]`` and
    becomes ONE Literal node; a Python list would build D ``lit`` calls
    and a CreateArray over them (~35 ms for D = 64)."""
    return F.lit(np.asarray(vec, dtype=np.float64))


def sql_vector_literal(vec: list[float]) -> str:
    """The same literal for DuckDB SQL."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"
