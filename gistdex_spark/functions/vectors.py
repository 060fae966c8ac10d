"""Vector math over ``ARRAY<FLOAT>`` columns, JVM-side.

Reference semantics: ``cosineSimilarity`` returns dot/(|a||b|), 0 when either
vector has zero magnitude (reference `src/core/embedding/embedding.ts:143-173`,
`src/core/utils/math-utils.ts:4-77`). The reference normalizes embeddings at
index time so score == dot product on its own data; we keep the full cosine
so arbitrary (non-normalized) embedding columns score correctly too.

One builder, :func:`dot_sql`, emits every fold as Spark SQL text:
``aggregate(zip_with(...))``, accumulated as DOUBLE in index order, so the
floating-point result is reproducible across engines (:func:`sql_dot` is
the DuckDB twin). :func:`dot`, :func:`l2_norm` and :func:`cosine` parse it
with ``F.expr`` in one JVM call each. No Python UDF runs in the hot path,
but the fold does not enter whole-stage codegen either: higher-order
functions are CodegenFallback, so the projection that holds a fold runs
interpreted (the executed plan shows its ``Project`` without a ``*(n)``
marker). Fold each vector as few times per row as the caller can.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def quote(name: str) -> str:
    """A column name as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot_sql(a: str, b: str) -> str:
    """Spark SQL text of the dot product of two array expressions (SQL
    text, not names: lambda variables such as ``c.c_vec`` work too),
    accumulated as DOUBLE in index order."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two named array columns."""
    return F.expr(dot_sql(quote(a), quote(b)))


def l2_norm(a: str) -> Column:
    q = quote(a)
    return F.expr(f"sqrt({dot_sql(q, q)})")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two named array columns, with the reference's
    zero-vector guard (→ 0.0). Each norm is folded where it is read, twice
    per row; scoring against one literal query vector goes through
    ``operators.search.with_score`` instead."""
    a, b = quote(a), quote(b)
    na, nb = f"sqrt({dot_sql(a, a)})", f"sqrt({dot_sql(b, b)})"
    return F.expr(
        f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0D "
        f"ELSE {dot_sql(a, b)} / ({na} * {nb}) END"
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
