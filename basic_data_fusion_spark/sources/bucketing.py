"""Bucketed-table helpers: co-located, shuffle-free hub/spoke joins.

At 100 TB the dominant cost of the flagship merge is shuffling the hub
and every spoke on the join key per query. Bucketing amortizes that
shuffle into the write: both sides stored bucketed (and sorted) by the
key join with NO exchange at query time — Spark's sort-merge join reads
matching buckets directly. The write cost is paid once; every subsequent
query on the key is exchange-free.

These helpers wrap the managed-table API (`bucketBy` requires
`saveAsTable`); `assert_no_shuffle_join` is the plan-level guard used in
tests and available to callers as a deployment check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 64,
                   mode: str = "overwrite") -> None:
    """Persist as a managed table bucketed and sorted by ``key``. Bucket
    count is a layout contract: join sides must agree (or be a multiple
    under `spark.sql.bucketing.coalesceBucketsInJoin`)."""
    df.write.mode(mode).bucketBy(buckets, key).sortBy(key).saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  left_key: str, right_key: str, how: str = "left") -> DataFrame:
    """Join two bucketed tables on their bucket keys — plans as a
    sort-merge join with zero Exchange when layouts agree."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key], how)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True when the physical plan contains any shuffle exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan


def assert_no_shuffle_join(df: DataFrame) -> None:
    if plan_has_shuffle(df):
        raise AssertionError(
            "join plan contains a shuffle exchange — bucket layouts do not "
            "line up (check bucket counts and join keys)")
