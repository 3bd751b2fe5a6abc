#!/usr/bin/env python
"""Time named contract queries across a LADDER of scale tiers
(default sf0.1 → sf1 → sf3 → sf10) and print per-step ratios with
output mass — a 10× step can hide a superlinear term that 100× exposes.
For a single sf0.1 → sf1 ratio set TIERS to those two tiers.

Usage: python scripts/measure_sf_decade.py q1 q2 ...
Env:   TIERS="sf0.1=/root/testdata/sf0.1,sf1=/root/repo/.scaledata/sf1,..."
       BEST_OF (default 2; the top tiers are minutes-long, best-of-2
       bounds jitter without doubling a long sweep)
       TIMEOUT_S (default 420): soft per-measurement cap — the runner
       cancels all Spark jobs at the deadline and records DNF instead
       of wedging the sweep; a DNF row is itself a finding (log what
       was dropped — the no-silent-caps rule).

Measurement discipline (SCALE.md r11): noop-sink materialization (a
.count() lets Catalyst prune report branches), quiet box only,
release_cached() between queries.
"""

from __future__ import annotations

import os
import sys
import threading
import time

DEFAULT_TIERS = ("sf0.1=/root/testdata/sf0.1,"
                 "sf1=/root/repo/.scaledata/sf1,"
                 "sf3=/root/repo/.scaledata/sf3,"
                 "sf10=/root/repo/.scaledata/sf10")
BEST_OF = int(os.environ.get("BEST_OF", "2"))
TIMEOUT_S = float(os.environ.get("TIMEOUT_S", "420"))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: measure_sf_decade.py <query> [query ...]")
    tiers = [t.split("=", 1) for t in
             os.environ.get("TIERS", DEFAULT_TIERS).split(",")]
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from basic_data_fusion_spark.caching import release_cached
    from basic_data_fusion_spark.session import get_spark

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    # sf3/sf10 tiers persist corpus-sized relations: a 48g heap
    spark = get_spark("bdf-spark-sf-decade",
                      extra_conf={"spark.driver.memory": "48g"})

    def run_once(fn, sf_dir):
        """One measured run under the soft deadline; returns
        (seconds, rows) or raises on cancel."""
        canceled = []

        def cancel():
            canceled.append(True)
            spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(TIMEOUT_S, cancel)
        timer.start()
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            n = df.count()
            return dt, n
        except Exception:
            if canceled:
                raise TimeoutError
            raise
        finally:
            timer.cancel()

    header = "| query |" + "".join(
        f" {lbl} s (rows) |" for lbl, _ in tiers) + " step ratios |"
    print(header)
    print("|---|" + "---|" * (len(tiers) + 1))
    for name in names:
        cells, walls = [], []
        dnf = False
        # unmeasured warmup at the smallest tier: the first measured
        # row of a cold JVM otherwise reads 2-3x high (codegen/JIT),
        # polluting the ladder's head (observed r12)
        try:
            run_once(qs[name], tiers[0][1])
        except Exception:
            pass
        for lbl, sf_dir in tiers:
            if dnf:
                # keep walls aligned with tiers so post-DNF step
                # ratios print as '—' instead of silently dropping
                cells.append(" — |")
                walls.append(None)
                continue
            best, rows = float("inf"), None
            try:
                for _ in range(BEST_OF):
                    spark.catalog.clearCache()
                    dt, rows = run_once(qs[name], sf_dir)
                    best = min(best, dt)
            except TimeoutError:
                cells.append(f" DNF>{int(TIMEOUT_S)}s |")
                walls.append(None)
                dnf = True
                continue
            cells.append(f" {best:.2f} ({rows}) |")
            walls.append(best)
        steps = []
        for a, b in zip(walls, walls[1:]):
            steps.append("—" if (a is None or b is None)
                         else f"{b / a:.1f}x")
        print(f"| `{name}` |" + "".join(cells)
              + " " + " / ".join(steps) + " |", flush=True)
        release_cached()
    spark.stop()


if __name__ == "__main__":
    main()
