"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (semantic search + rerank over the
sf0.001 corpus). ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 via gistdex_spark.queries.REGISTRY, each paired
with DuckDB oracle SQL for the driver's hash comparison.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gistdex_spark.queries import ORACLES, REGISTRY  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hybrid semantic search with rerank over the RAG corpus."""
    from pyspark.sql import functions as F

    from gistdex_spark.operators.search import rerank
    from gistdex_spark.queries import QV_DOC, Q_DOC_TEXT, _corpus, with_score

    corpus = _corpus(spark, SMOKE_SF_DIR)
    scored = with_score(corpus, QV_DOC)
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    return rerank(top, Q_DOC_TEXT, 0.1, content_col="text").select(
        "doc_id", "text", "lang", "source", "score"
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(REGISTRY)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
