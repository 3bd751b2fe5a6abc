"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cohort_explore --seed 1 \
        --seconds 18 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, opens the session the
library ships (``session.get_spark``), warms up, runs as many steps of
the workload's closed loop as take ``--seconds`` seconds at its nominal
step time, and checks every op's output.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same loop with spans, job groups and Spark counters and prints the
per-layer metrics. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # the set-up marks count from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

from tracing import PHASES, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 165  # stop the loop and cancel Spark work so a run exits by 180 s

# Spark local[n] threads: two of the box's four vCPUs. With all four busy
# the driver's Python, py4j and JVM threads contend with the executor
# threads, and same-seed runs spread 30% instead of 11%.
CORES = min(2, os.cpu_count() or 1)
MAX_FAILED = 5  # stop the loop early once this many steps have failed

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "lead_p50_ms": "ms",
    "follow_p50_ms": "ms",
}
GLOBAL_LAYER = {
    "session.start_s": "s",
    "catalog.open_ms": "ms",
    "caching.pinned": "count",
    "caching.release_ms": "ms",
    "sinks.bytes_written": "bytes",
    "anchor.cpu_ms": "ms",
    "anchor.spark_ms": "ms",
    "trace.ops_per_s": "1/s",
    "trace.self_ms": "ms",
}
OP_LAYER = {f"{ph}_ms": "ms" for ph in PHASES}
OP_LAYER.update(driver_ms="ms", cpu_ms="ms", build_jobs="count", jobs="count",
                stages="count", shuffle_records="count", shuffle_bytes="bytes")
OP_COUNTERS = ("build_jobs", "jobs", "stages", "shuffle_records", "shuffle_bytes")


def per_layer_units(all_ops) -> dict[str, str]:
    units = dict(GLOBAL_LAYER)
    for op in all_ops:
        units.update({f"{op}.{k}": u for k, u in OP_LAYER.items()})
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the sf0.1 shape")
    args = p.parse_args(argv)
    if args.seconds <= 0 or args.scale <= 0:
        p.error("--seconds and --scale must be positive")
    return args


def anchors(spark) -> dict[str, float]:
    """Fixed work outside the library, to tell box drift from code change:
    a pure-Python loop, and the median of ten small ``spark.range`` jobs.
    The ops here are bound by per-job floors (py4j, scheduling, thread
    wake-ups), which drift on a shared VM far more than CPU speed does,
    so the job anchor is small on purpose."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    cpu_ms = (time.perf_counter() - t) * 1e3
    job_ms = []
    for _ in range(10):
        t = time.perf_counter()
        spark.range(100_000).selectExpr("sum(id % 7)").collect()
        job_ms.append((time.perf_counter() - t) * 1e3)
    return {"anchor.cpu_ms": cpu_ms, "anchor.spark_ms": statistics.median(job_ms)}


def timed_steps(workload, seconds: float) -> int:
    """How many steps the timed loop runs: as many as take ``seconds`` at
    the workload's nominal step time, rounded up to whole rotation blocks.

    The count depends on ``seconds`` only, never on measured speed, so
    every run of a seed (and both sides of an A/B) does the same work and
    every follow type gets the same share. A run-time-bounded loop gave a
    slow run fewer, earlier (less warm) steps than a fast one, which
    widened the run-to-run spread."""
    blocks = math.ceil(seconds / (workload.STEP_S * workload.BLOCK))
    return workload.BLOCK * max(1, blocks)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def role_median(steps: list[list], role: str) -> float:
    """Median over steps of the summed wall of the step's ops in ``role``."""
    return statistics.median(sum(r.wall for r in s if r.role == role)
                             for s in steps)


def summarize(steps: list[list], counted: int) -> tuple[dict, dict, dict]:
    """(end-to-end, per-layer, info) figures from the completed timed steps.

    Per-op times are medians over every timed op of that name. Per-op
    Spark counters cover the first ``counted`` steps, a prefix that is the
    same on every run of a seed, so they repeat exactly."""
    follow: dict[str, list[float]] = {}
    by_op: dict[str, list] = {}
    for s in steps:
        kind = "+".join(r.name for r in s if r.role == "follow")
        follow.setdefault(kind, []).append(sum(r.wall for r in s if r.role == "follow"))
        for r in s:
            by_op.setdefault(r.name, []).append(r)
    e2e = {
        "ops_per_s": len(steps) / sum(r.wall for s in steps for r in s),
        "lead_p50_ms": role_median(steps, "lead") * 1e3,
        "follow_p50_ms": geomean([statistics.median(v) for v in follow.values()]) * 1e3,
    }
    info = {
        "steps": len(steps),
        "follow_p50_ms": {k: [statistics.median(v) * 1e3, len(v)]
                          for k, v in sorted(follow.items())},
        "ops_p50_ms": {name: {
            "n": len(recs),
            "wall": statistics.median(r.wall for r in recs) * 1e3,
            **{ph: statistics.median(r.phases.get(ph, 0.0) for r in recs) * 1e3
               for ph in PHASES},
            "walls": [round(r.wall * 1e3, 1) for r in recs],
        } for name, recs in sorted(by_op.items())},
    }
    if not steps[0][0].counters:
        return e2e, {}, info
    layer = {}
    for op, recs in by_op.items():
        for ph in PHASES:
            layer[f"{op}.{ph}_ms"] = statistics.median(
                r.phases.get(ph, 0.0) for r in recs) * 1e3
        for k in ("driver_ms", "cpu_ms"):
            layer[f"{op}.{k}"] = statistics.median(r.counters[k] for r in recs)
        prefix = [r for s in steps[:counted] for r in s if r.name == op]
        for k in OP_COUNTERS:
            if prefix:
                layer[f"{op}.{k}"] = sum(r.counters[k] for r in prefix) / len(prefix)
    return e2e, layer, info


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the library under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from basic_data_fusion_spark.session import get_spark

    import datagen

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    # keep every file the run writes inside the checkout, and let the
    # Python workers import the library (applyInPandas UDFs need it)
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    marks = {"import": time.perf_counter() - T_START}
    spark = watchdog = None
    try:
        data = datagen.write_inputs(os.path.join(work, "data"), args.seed,
                                    args.scale)
        marks["datagen"] = time.perf_counter() - T_START
        spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                          extra_conf={
                              "spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": os.path.join(work, "spark"),
                              "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                              "spark.driver.extraJavaOptions":
                                  f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
                          })
        spark.sparkContext.setLogLevel("ERROR")
        marks["session"] = time.perf_counter() - T_START
        out_of_time = threading.Event()

        def expire():
            out_of_time.set()
            spark.sparkContext.cancelAllJobs()

        watchdog = threading.Timer(WATCHDOG_S - marks["session"], expire)
        watchdog.daemon = True
        watchdog.start()
        result, info = execute(args, spark, data, work, marks, out_of_time)
    finally:
        if watchdog is not None:
            watchdog.cancel()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print("perfbench: no step completed", file=sys.stderr)
        return 1
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def execute(args, spark, data: dict, work: str, marks: dict,
            out_of_time: threading.Event):
    """Set up, warm up, run the timed loop; return (result, info). Steps
    stop early once ``out_of_time`` is set or too many have failed."""
    import duckdb
    import numpy as np
    import workloads
    from basic_data_fusion_spark import caching

    session_s = marks["session"] - marks["datagen"]
    tracer = Tracer(spark, enabled=bool(args.trace))
    duck = duckdb.connect()
    for name, path in data.items():
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    bench = workloads.Bench(spark, tracer, data, work, duck, seed=args.seed)
    workload = workloads.WORKLOADS[args.workload](bench)
    workload.setup()
    marks["workload"] = time.perf_counter() - T_START

    attempted = failed = 0

    def attempt(step):
        nonlocal attempted, failed
        attempted += 1
        try:
            return workload.run_step(step)
        except Exception:  # a failed step is counted, reported and skipped
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    warm_steps = workload.steps(np.random.default_rng([args.seed, 1]))
    warm_walls = []
    for _ in range(workload.WARMUP):
        if out_of_time.is_set():
            break
        recs = attempt(next(warm_steps))
        warm_walls.append(sum(r.wall for r in recs or ()))
    marks["warmup_ops"] = warm_walls
    # the library's set-up: session, catalog and index, and the warm-up
    # ops; input generation, DuckDB views and output checks are excluded
    setup_s = session_s + sum(tracer.regions.values()) + sum(warm_walls)
    marks["warmed"] = time.perf_counter() - T_START

    timed = []
    steps = workload.steps(np.random.default_rng([args.seed, 0]))
    for _ in range(timed_steps(workload, args.seconds)):
        if failed > MAX_FAILED or out_of_time.is_set():
            break
        recs = attempt(next(steps))
        if recs is not None:
            timed.append(recs)
    if not timed:
        return None, None

    t = time.perf_counter()
    pinned = caching.pinned_count()
    caching.release_cached()
    release_ms = (time.perf_counter() - t) * 1e3
    e2e, layer, info = summarize(timed, counted=workload.BLOCK)
    anchor = anchors(spark)
    info.update(workload=args.workload, seed=args.seed, setup_s=setup_s,
                setup_wall_s=marks["warmed"], marks=marks,
                regions_s=tracer.regions, **anchor)
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        values = dict(layer, **anchor, **{
            "session.start_s": session_s,
            "catalog.open_ms": tracer.regions["catalog.open"] * 1e3,
            "caching.pinned": pinned,
            "caching.release_ms": release_ms,
            "sinks.bytes_written": bench.bytes_written / max(1, bench.writes),
            "trace.ops_per_s": e2e["ops_per_s"],
            "trace.self_ms": tracer.self_time * 1e3 / attempted,
        })
        units = per_layer_units(workloads.ALL_OPS)
    else:
        values = dict(e2e, setup_s=setup_s)
        units = END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}, info)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
