from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the session currently persists (checkpoints too)."""
    return {r.id() for r in spark.sparkContext._jsc.getPersistentRDDs().values()}


@pytest.fixture(scope="session")
def spark():
    from gistdex_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("gistdex-spark-tests", cpus=os.environ["SPARK_GRAFT_CPUS"])
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECTNESS}/{t}.parquet'"
        )
    yield con
    con.close()
