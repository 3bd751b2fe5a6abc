from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basic_data_fusion_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdf-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "4g",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def jobs_run(spark, fn):
    """``(fn(), status-store records of every Spark job fn ran)``: fn runs
    under a fresh job group, and the listener bus is drained before the
    group's jobs are read."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return out, [store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
