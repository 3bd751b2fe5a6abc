#!/usr/bin/env python
"""Measure the index-store probe cost vs history length, before and
after ``compact_index_store`` (SCALE.md r9: "at production history
lengths directory listing dominates the probe").

The streaming dedup/label sinks keep append-only ``run_id=R/batch_id=N``
parquet stores that grow ONE small directory per micro-batch forever.
Running thousands of real micro-batches to observe the listing cliff is
wasteful; the store SHAPE is what matters, so this script synthesizes
the shape directly: the same ~600k content-hash rows written as
  (a) one directory per batch (48 / 192 / 768 dirs — a day, a week, a
      month of half-hourly batches), then
  (b) the single-snapshot store ``compact_index_store`` folds (a) into,
and times the sink's actual probe (read store -> exclude current
run/batch -> DISTINCT hash -> left_anti against a 2k-row batch ->
count) best-of-3 on each.

Run on a quiet box; prints one table row per (dirs, probe_s) pair.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from basic_data_fusion_spark.session import get_spark

BASE = "/tmp/idx_compaction_bench"
ROWS_PER_BATCH = 800
HISTORIES = [48, 192, 768]


def probe_seconds(spark: SparkSession, store: str, best_of: int = 3) -> float:
    batch = spark.range(2000).select(
        F.md5(F.concat(F.lit("probe"), F.col("id").cast("string")))
        .alias("__h"))
    best = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        idx = (spark.read.parquet(store)
               .filter(~((F.col("run_id") == "live")
                         & (F.col("batch_id") == 0)))
               .select("__h").distinct())
        batch.join(idx, "__h", "left_anti").count()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from basic_data_fusion_spark.streaming.sinks import compact_index_store

    spark = get_spark("bdf-spark-index-compaction")
    print("| history (dirs) | fragmented probe s | compacted probe s |")
    print("|---|---|---|")
    for n_batches in HISTORIES:
        store = f"{BASE}/h{n_batches}"
        shutil.rmtree(store, ignore_errors=True)
        # one small file per batch dir, exactly the sink's write shape
        for b in range(n_batches):
            (spark.range(b * ROWS_PER_BATCH, (b + 1) * ROWS_PER_BATCH)
             .select(F.md5(F.col("id").cast("string")).alias("__h"))
             .coalesce(1)
             .write.parquet(f"{store}/run_id=r1/batch_id={b}"))
        frag = probe_seconds(spark, store)
        removed = compact_index_store(spark, store)
        assert removed == 1, removed  # one run dir folded
        comp = probe_seconds(spark, store)
        print(f"| {n_batches} | {frag:.2f} | {comp:.2f} |", flush=True)
        shutil.rmtree(store, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
