from __future__ import annotations

import contextlib
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# values of spark.sql.autoBroadcastJoinThreshold, the RaBitQ search
# planner's T: every fixture batch fits the first (broadcast scorer and
# broadcast rerank); nothing fits the second (cogroup scorer and shuffle
# rerank)
FITS_ALL = 1 << 40
FITS_NONE = -1


@contextlib.contextmanager
def broadcast_threshold(spark, value: int):
    """Set ``spark.sql.autoBroadcastJoinThreshold`` for one block, so the
    searches constructed inside it take the routes that size implies."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def spark():
    from extended_rabitq_spark.session import get_spark

    # 8 cores by default (r11): the suite is fixture-scale shuffle work,
    # and no test asserts a core count (shuffle.partitions stays 8 via
    # get_spark's max(cpus, 8) either way) — local[8] vs the old
    # local[4] cuts the wall of the heavy files so the round driver can
    # finish the suite inside its verify window (VERDICT r10 item 1).
    s = get_spark(
        "exrabitq-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_T2}/{name}.parquet'"
        )
    yield con
    con.close()
