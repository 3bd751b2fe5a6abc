#!/usr/bin/env python
"""Ladder datapoint for the DISTRIBUTED connected-components rounds
(r13 advisory #4).

Since the r13 driver union-find fast path, the acceptance gates'
fixed-size slices stay under ``local_edge_cap`` at every scale factor,
so bench-measured CC cost no longer exercises the alternating
large-star/small-star rounds.  This script measures the SAME pair
relation (the dedup_clusters jaccard tier at $SPARK_GRAFT_SF_DIR) both
ways — fast path (default cap) vs rounds (``local_edge_cap=0``) — so
distributed-rounds regressions stay observable in measurement, not
just in the unit-parity test.

Usage:
  python scripts/measure_cc_distributed.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS (default 3).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3")))

    from basic_data_fusion_spark.session import get_spark

    # 32 shuffle partitions, as bench.py measures the same pair relation
    spark = get_spark("bdf-spark-cc-ladder",
                      extra_conf={"spark.sql.shuffle.partitions": "32"})

    from basic_data_fusion_spark.caching import release_cached
    from basic_data_fusion_spark.catalog import Catalog
    from basic_data_fusion_spark.operators import dedup

    docs = Catalog(spark, sf_dir).load("documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)

    for label, cap in (("fast-path (default cap)", 200_000),
                       ("distributed rounds (cap=0)", 0)):
        spark.sparkContext.setJobDescription(f"cc-ladder:{label}")
        best = None
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            (dedup.connected_components(pairs, local_edge_cap=cap)
             .write.format("noop").mode("overwrite").save())
            best = min(best or 1e9, time.perf_counter() - t0)
            release_cached()
        print(f"{label:28s} best-of-{runs}: {best:7.2f} s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
