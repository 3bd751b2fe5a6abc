#!/usr/bin/env python
"""Per-batch cost shape of the r10 STATELESS fuzzy decontam gate
(``streaming_fuzzy_decontaminate``) vs the exact window gate
(``streaming_decontaminate``), 24 micro-batches of ~208 sf0.1 docs
against a ~250-doc eval slice, noop sink, one file per trigger.

What the numbers must show for the 100 TB claim: the fuzzy gate's
per-batch time is FLAT across batches (zero state, no history read —
unlike the index-backed sinks there is nothing that can grow), and
its premium over the exact gate is the band fan-out + candidate
verification, a per-row constant.  Run on a quiet box."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from basic_data_fusion_spark.session import get_spark

BASE = "/tmp/stream_gate_measure"
N_BATCHES = 24
DOCS = "/root/testdata/sf0.1/documents.parquet"


def feed(spark, root, docs):
    for b in range(N_BATCHES):
        (docs.filter(F.crc32(F.col("doc_id").cast("string"))
                     % N_BATCHES == b)
         .coalesce(1).write.parquet(f"{root}/in/f{b}"))
    t0 = time.time() - 10_000
    for i, f in enumerate(sorted(glob.glob(f"{root}/in/f*/*.parquet"))):
        dst = f"{root}/in/b{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (t0 + i, t0 + i))
    for b in range(N_BATCHES):
        shutil.rmtree(f"{root}/in/f{b}")


def run(spark, sub, make_gate, output_mode):
    root = f"{BASE}/{sub}"
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    held = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "0d")
    feed(spark, root, docs.join(held, "doc_id", "left_anti"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(f"{root}/in"))
    q = (make_gate(stream, held).writeStream.format("noop")
         .outputMode(output_mode)
         .option("checkpointLocation", f"{root}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return [p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress if p["numInputRows"] > 0]


def main():
    from basic_data_fusion_spark.streaming.dedup import (
        streaming_decontaminate,
        streaming_fuzzy_decontaminate,
    )

    spark = get_spark("bdf-spark-streaming-gate")

    fuzzy = run(spark, "fuzzy",
                lambda s, h: streaming_fuzzy_decontaminate(
                    s, h, threshold=0.7),
                "append")
    exact = run(spark, "exact",
                lambda s, h: streaming_decontaminate(s, h, window=13),
                "update")
    for name, ts in (("fuzzy_gate", fuzzy), ("exact_gate", exact)):
        half = len(ts) // 2
        print(f"{name}: n={len(ts)} first={ts[0]:.2f} "
              f"median={statistics.median(ts):.2f} last={ts[-1]:.2f} "
              f"mean_first_half={statistics.mean(ts[:half]):.2f} "
              f"mean_second_half={statistics.mean(ts[half:]):.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
