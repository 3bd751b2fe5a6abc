#!/usr/bin/env python
"""Generate an sf1 tier (10x sf0.1) for scale spot-checks.

The driver ships sf0.001/0.01/0.1 only; the 128 GiB sandbox comfortably
fits sf1 (~6M lineitem rows), and a sf0.1 -> sf1 runtime-ratio table is
the cheapest way to catch super-linear scaling cliffs the 100x design
claims rest on (SCALE.md "sf1 spot-check").

Construction: 10 key-offset copies of every scaling table, exactly the
TPC-H scaling model — region/nation stay fixed (they are fixed-size in
TPC-H), customer/supplier/part/orders/lineitem/events/documents/
embeddings replicate with all primary AND foreign keys offset by
copy * stride, so referential integrity, join fan-outs, group
cardinalities per key, and value distributions are preserved while
every per-key group count scales 10x. Copy 0 is bit-identical to
sf0.1. Strings embedding row identity (document text, event props)
get a copy-tag appended for copies >= 1 so content-hash dedup ops
don't see a 10x planted duplicate wall (documents are near-dup-heavy
already by design; an exact 10x copy would collapse every fuzzy-dedup
measurement into pathological cliques).

Output: $OUT (default /root/repo/.scaledata/sf1), one parquet per
table, written by Spark with default splittable row-groups.
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basic_data_fusion_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
OUT = os.environ.get("OUT", "/root/repo/.scaledata/sf1")
COPIES = int(os.environ.get("COPIES", "10"))

# key column -> offset stride (pow10 above the sf0.1 max key so offset
# keys never collide and stay readable)
STRIDES = {
    "c_custkey": 1_000_000,
    "s_suppkey": 1_000_000,
    "p_partkey": 1_000_000,
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "l_orderkey": 10_000_000,
    "l_partkey": 1_000_000,
    "l_suppkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}
SCALING = ["customer", "supplier", "part", "orders", "lineitem",
           "events", "documents", "embeddings"]
FIXED = ["region", "nation"]
TAG_TEXT = {"documents": "text"}


def main() -> None:
    # COPIES=30/100 tiers (r11 verdict #6) OOM a small heap on the
    # lineitem union — the single local JVM holds every executor
    # thread's write buffers at once
    spark = get_spark("bdf-spark-make-sf1",
                      extra_conf={"spark.driver.memory": "48g"})
    os.makedirs(OUT, exist_ok=True)

    for t in FIXED:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        _write(df, t)

    for t in SCALING:
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for c in range(COPIES):
            d = base
            for col in d.columns:
                if col in STRIDES:
                    d = d.withColumn(
                        col, (F.col(col) + F.lit(c * STRIDES[col]))
                        .cast(dict(base.dtypes)[col]))
            tag = TAG_TEXT.get(t)
            if tag and c > 0:
                d = d.withColumn(
                    tag, F.concat(F.col(tag), F.lit(f" copytag{c}")))
            if t == "embeddings" and c > 0:
                # identical vector copies would plant 10-copy cliques
                # (45 near-dup pairs per base vector) and distort every
                # ANN/semantic-dedup measurement; a +-1% deterministic
                # hash perturbation keeps the distribution while
                # breaking exact duplication
                d = d.withColumn(
                    "embedding",
                    F.transform(
                        F.col("embedding"),
                        lambda x, i: (x.cast("double")
                                      + (F.pmod(F.xxhash64(F.col("vec_id"),
                                                           i, F.lit(c)),
                                                F.lit(2001)) - 1000)
                                      .cast("double") / F.lit(100000.0))
                        .cast("float")))
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        _write(out, t)
    print("sf1 written to", OUT)
    spark.stop()


def _write(df, name: str) -> None:
    staged = f"{OUT}/__stage_{name}"
    df.write.mode("overwrite").parquet(staged)
    # single-file layout to mirror the driver tiers' one-parquet-per-
    # table shape (Catalog._scan_dir expects files, not directories)
    import glob
    files = sorted(glob.glob(f"{staged}/*.parquet"))
    dest = f"{OUT}/{name}.parquet"
    if len(files) == 1:
        shutil.move(files[0], dest)
    else:
        # concat row groups preserving splittability
        import pyarrow.parquet as pq
        with pq.ParquetWriter(dest, pq.read_schema(files[0])) as w:
            for f in files:
                for rg in range(pq.ParquetFile(f).num_row_groups):
                    w.write_table(pq.ParquetFile(f).read_row_group(rg))
    shutil.rmtree(staged)
    print("wrote", dest)


if __name__ == "__main__":
    main()
