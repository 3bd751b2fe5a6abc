#!/usr/bin/env python
"""24-micro-batch A/B of ``vector_index_sink`` with mid-run store
compaction ON (compact_every from ``suggest_compact_every``) vs OFF —
the vector-store member of the probe-vs-history measurement family
(SCALE.md r9 content-hash table, r10 fuzzy-gate table).

Unlike the dedup/label sinks this sink never READS its own store per
batch (cell assignment is a projection), so the expected shape is:
per-batch times FLAT and identical across arms, probe cost growing
with directory count on the fragmented store and restored by the
fold, and EXACT probe parity between arms.  The A/B verifies all
three instead of asserting them.

24 hash-split batches of sf1 embeddings (~2.5k vectors each), one
file per trigger.  Run on a quiet box.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from basic_data_fusion_spark.session import get_spark

BASE = "/tmp/vector_index_ab"
N_BATCHES = 24
VECS = "/root/repo/.scaledata/sf1/embeddings.parquet"


def probe_seconds(spark, idx, queries, cents, best_of: int = 3) -> float:
    from basic_data_fusion_spark.operators.similarity import (
        ivf_topk_indexed,
    )
    from basic_data_fusion_spark.streaming.sinks import read_vector_index

    best = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        ivf_topk_indexed(read_vector_index(spark, idx), queries, cents,
                         k=10, nprobe=4, deterministic=True).count()
        best = min(best, time.perf_counter() - t0)
    return best


def run(spark: SparkSession, sub: str, compact_every: int | None,
        cents, queries):
    from basic_data_fusion_spark.operators.similarity import (
        ivf_topk_indexed,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        read_vector_index,
        vector_index_sink,
    )

    root = f"{BASE}/{sub}"
    shutil.rmtree(root, ignore_errors=True)
    vecs = spark.read.parquet(VECS).select("vec_id", "embedding")
    for b in range(N_BATCHES):
        (vecs.filter(F.crc32(F.col("vec_id").cast("string"))
                     % N_BATCHES == b)
         .coalesce(1).write.parquet(f"{root}/in/f{b}"))
    # pinned mtimes: FileStreamSource orders by modification time with
    # unstable ties (measure_streaming_compaction.py note)
    t0 = time.time() - 10_000
    for i, f in enumerate(sorted(glob.glob(f"{root}/in/f*/*.parquet"))):
        dst = f"{root}/in/b{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (t0 + i, t0 + i))
    for b in range(N_BATCHES):
        shutil.rmtree(f"{root}/in/f{b}")
    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", "1").parquet(f"{root}/in"))
    q = vector_index_sink(stream, f"{root}/idx", f"{root}/ckpt", cents,
                          metric="fixed_cosine",
                          compact_every=compact_every)
    q.awaitTermination()
    times = [p["durationMs"]["triggerExecution"] / 1000.0
             for p in q.recentProgress if p["numInputRows"] > 0]
    dirs = sum(len(os.listdir(f"{root}/idx/{r}"))
               for r in os.listdir(f"{root}/idx")
               if r.startswith("run_id="))
    probe_s = probe_seconds(spark, f"{root}/idx", queries, cents)
    topk = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in ivf_topk_indexed(
            read_vector_index(spark, f"{root}/idx"), queries, cents,
            k=10, nprobe=4, deterministic=True).collect())
    return times, dirs, probe_s, topk


def main() -> None:
    from basic_data_fusion_spark.operators.similarity import (
        train_centroids,
    )
    from basic_data_fusion_spark.streaming.sinks import (
        suggest_compact_every,
    )

    spark = get_spark("bdf-spark-vector-index-compaction",
                      extra_conf={"spark.driver.memory": "16g"})
    vecs = spark.read.parquet(VECS).select("vec_id", "embedding")
    cents = train_centroids(vecs, k=16, seed=42)
    queries = (vecs.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    every = suggest_compact_every()
    print(f"compact_every={every} (suggest_compact_every default)")
    out = {}
    for sub, ce in (("off", None), ("on", every)):
        times, dirs, probe_s, topk = run(spark, sub, ce, cents, queries)
        out[sub] = (times, dirs, probe_s, topk)
        print(f"{sub}: store_run_dirs={dirs} probe_s={probe_s:.2f}")
        for i in range(0, len(times), 8):
            chunk = ", ".join(f"{t:.1f}" for t in times[i:i + 8])
            print(f"  batches {i}-{i+7}: {chunk}", flush=True)
    assert out["off"][3] == out["on"][3], "probe parity broken"
    print("probe parity OK (exact top-k, ranks and sims)")
    spark.stop()


if __name__ == "__main__":
    main()
