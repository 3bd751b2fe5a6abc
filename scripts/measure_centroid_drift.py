"""Measure coarse-quantizer drift and the retrain fix (r11 verdict #3).

Builds a streaming vector store over PLANTED drifting corpora (first
half the real embeddings; second half one of two drift modes) and
measures, with real k-means both times, the stale quantizer (trained on
the first half — what the sink was born with) against
`retrain_vector_index` over the accumulated store:

  - mode "negate": second half = negated vectors (incoherent carving —
    the recall axis of drift);
  - mode "collapse": second half = one tight cosine cluster (a fixed
    unit direction + 5% of the original vector) — all of it lands in
    ~1 stale cell, so every shifted-query probe scans the whole
    drifted mass: recall holds while candidate volume silently
    explodes (the cell-balance axis).

Also times the retrain itself (store read + k-means + reassign +
rebuild write).

Run from the repo root:  python scripts/measure_centroid_drift.py
Optional env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: all cores).
"""
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from basic_data_fusion_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bdf-spark-centroid-drift",
                      extra_conf={"spark.driver.memory": "16g"})

    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
        train_centroids,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        retrain_vector_index,
        vector_index_sink,
    )

    half_a = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
              .select("vec_id", "embedding"))
    n_half = half_a.count()
    dim = len(half_a.first()["embedding"])
    u = [1.0] + [0.0] * (dim - 1)   # the collapse direction

    drift_modes = {
        "negate": half_a.select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding")),
        "collapse": half_a.select(
            (F.col("vec_id") + 100_000).alias("vec_id"),
            F.zip_with(F.array(*[F.lit(x) for x in u]), "embedding",
                       lambda a, b: a + 0.05 * b).alias("embedding")),
    }

    t0 = time.perf_counter()
    stale = train_centroids(half_a, k=16, seed=42)
    t_train_stale = time.perf_counter() - t0

    results = {"sf_dir": sf_dir, "n_corpus": 2 * n_half, "k_cells": 16,
               "nprobe": 3, "k": 10, "n_queries": 20,
               "t_train_stale_s": round(t_train_stale, 2), "modes": {}}
    for mode, half_b in drift_modes.items():
        corpus = half_a.unionByName(half_b)
        work = tempfile.mkdtemp(prefix=f"driftbench_{mode}_")
        try:
            d = os.path.join(work, "in")
            os.makedirs(d)
            tbase = time.time() - 10_000
            for i, part in enumerate((half_a, half_b)):
                part.coalesce(4).write.parquet(os.path.join(work, f"s{i}"))
                for j, src in enumerate(sorted(
                        glob.glob(os.path.join(work, f"s{i}",
                                               "*.parquet")))):
                    dst = os.path.join(d, f"in{i}_{j}.parquet")
                    shutil.copy(src, dst)
                    os.utime(dst, (tbase + i, tbase + i))
                shutil.rmtree(os.path.join(work, f"s{i}"))
            stream = (spark.readStream.schema(corpus.schema)
                      .option("maxFilesPerTrigger", "4").parquet(d))
            idx = os.path.join(work, "vecidx")
            t0 = time.perf_counter()
            q = vector_index_sink(stream, idx, os.path.join(work, "ckpt"),
                                  stale, metric="fixed_cosine")
            q.awaitTermination()
            t_build = time.perf_counter() - t0

            idx2 = os.path.join(work, "vecidx_retrained")
            t0 = time.perf_counter()
            fresh = retrain_vector_index(spark, idx, idx2, k=16,
                                         metric="fixed_cosine", seed=42)
            t_retrain = time.perf_counter() - t0

            queries = (half_b.filter(F.col("vec_id") < 100_020)
                       .select(F.col("vec_id").alias("query_id"),
                               "embedding"))
            t0 = time.perf_counter()
            rep = {r["arm"]: r for r in centroid_drift_report(
                corpus, queries, {"stale": stale, "retrained": fresh},
                k=10, nprobe=3, deterministic=True).collect()}
            t_report = time.perf_counter() - t0

            results["modes"][mode] = {
                "recall_stale": rep["stale"]["micro_recall"],
                "recall_retrained": rep["retrained"]["micro_recall"],
                "candidates_stale": rep["stale"]["n_candidates_total"],
                "candidates_retrained":
                    rep["retrained"]["n_candidates_total"],
                "t_store_build_s": round(t_build, 2),
                "t_retrain_rebuild_s": round(t_retrain, 2),
                "t_drift_report_s": round(t_report, 2),
            }
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(results, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
