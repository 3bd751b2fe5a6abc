#!/usr/bin/env python
"""Dump `.explain("formatted")` for every bench query into
plans/r<N>/<query>_<suffix>.txt — the before/after plan evidence the
optimization rounds commit.

Usage:
  python scripts/dump_round_plans.py <round> <suffix> [query ...]
e.g.
  python scripts/dump_round_plans.py 13 after
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)

    from basic_data_fusion_spark.session import get_spark

    # 32 shuffle partitions, as bench.py runs the queries whose plans
    # this dumps
    spark = get_spark("bdf-spark-dump-plans",
                      extra_conf={"spark.sql.shuffle.partitions": "32"})

    import __spark_entry__ as entry
    from basic_data_fusion_spark.caching import release_cached
    from bench import HEADLINE

    qs = entry.queries()
    for name in (names or HEADLINE):
        fn = qs.get(name)
        if fn is None:
            print(f"MISSING {name}")
            continue
        df = fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
        release_cached()
    spark.stop()


if __name__ == "__main__":
    main()
