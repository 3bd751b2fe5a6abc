#!/usr/bin/env python
"""48-micro-batch A/B of ``minhash_index_sink`` with mid-run index
compaction ON (compact_every=8) vs OFF — the real-sink follow-through
on the synthetic probe-vs-history measurement (SCALE.md r9): per-batch
``durationMs.triggerExecution`` from recentProgress, plus final store
shape and survivor parity.

48 hash-split batches of ~1,040 sf1 documents each (near-dup copies
land in other batches — the candidate-mass worst case), one file per
trigger.  Run on a quiet box.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from basic_data_fusion_spark.session import get_spark

BASE = "/tmp/stream_compaction_ab"
N_BATCHES = 48
DOCS = "/root/repo/.scaledata/sf1/documents.parquet"


def run(spark: SparkSession, sub: str, compact_every: int | None):
    from basic_data_fusion_spark.streaming.sinks import (
        minhash_index_sink,
        read_sink,
    )

    root = f"{BASE}/{sub}"
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.read.parquet(DOCS).select("doc_id", "text")
    for b in range(N_BATCHES):
        (docs.filter(F.crc32(F.col("doc_id").cast("string"))
                     % N_BATCHES == b)
         .coalesce(1).write.parquet(f"{root}/in/f{b}"))
    import glob
    import os
    import time
    # FileStreamSource orders by modification time with unstable ties;
    # copies land several per millisecond, so without explicit mtimes
    # the file->batch assignment differs BETWEEN runs and the A/B
    # compares different batch streams (observed: batch 0 contents
    # diverged before any compaction ran)
    t0 = time.time() - 10_000
    for i, f in enumerate(sorted(glob.glob(f"{root}/in/f*/*.parquet"))):
        dst = f"{root}/in/b{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (t0 + i, t0 + i))
    for b in range(N_BATCHES):
        shutil.rmtree(f"{root}/in/f{b}")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(f"{root}/in"))
    q = minhash_index_sink(stream, f"{root}/out", f"{root}/idx",
                           f"{root}/ckpt", threshold=0.8,
                           compact_every=compact_every)
    q.awaitTermination()
    times = [p["durationMs"]["triggerExecution"] / 1000.0
             for p in q.recentProgress if p["numInputRows"] > 0]
    n_surv = read_sink(spark, f"{root}/out").count()
    import os
    dirs = sum(len(os.listdir(f"{root}/idx/{rel}"))
               for rel in ("bands", "sigs"))
    return times, n_surv, dirs


def main() -> None:
    spark = get_spark("bdf-spark-streaming-compaction",
                      extra_conf={"spark.driver.memory": "16g"})
    out = {}
    for sub, every in (("off", None), ("on", 8)):
        times, n_surv, dirs = run(spark, sub, every)
        out[sub] = (times, n_surv, dirs)
        print(f"{sub}: survivors={n_surv} index_run_dirs={dirs}")
        for i in range(0, len(times), 8):
            chunk = ", ".join(f"{t:.1f}" for t in times[i:i + 8])
            print(f"  batches {i}-{i+7}: {chunk}", flush=True)
    assert out["off"][1] == out["on"][1], "survivor parity broken"
    print("survivor parity OK")
    spark.stop()


if __name__ == "__main__":
    main()
