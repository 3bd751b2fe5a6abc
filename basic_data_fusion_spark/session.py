"""SparkSession factory.

Local-mode testing defaults mirror the driver harness (local[32], AQE on,
shuffle partitions sized to cores). At cluster scale the same builder is
used with ``master`` unset so spark-submit config wins.

Tuning rationale (100 TB design notes):
- AQE enabled: runtime coalescing of shuffle partitions + skew-join
  splitting replace hand-tuned ``spark.sql.shuffle.partitions`` at scale.
- Arrow enabled: every driver-side handoff (bounded previews, scipy
  inputs) crosses via Arrow batches, never row-pickling.
- Driver-built rows (report tables, CC labels, literal grids) enter
  Spark ONLY through :func:`local_frame`.  ``createDataFrame(list)``
  builds a pickled-RDD ``LogicalRDD`` (``Scan ExistingRDD``), and every
  job that reads it pays a Python-RDD scan — 250-700 ms even for two
  rows.  An Arrow table becomes a JVM-only ``LocalRelation``
  (``LocalTableScan``): no Python worker, and real size statistics, so
  downstream joins can broadcast it.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Exact-distinct and wide pivots shuffle; keep partition count near
    # core count in local mode (overridden by cluster conf at scale).
    "spark.sql.shuffle.partitions": str(os.cpu_count() or 8),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # No carriage-return progress bars in logs and measured output.
    "spark.ui.showConsoleProgress": "false",
    # Pivot width guard (enwiden can produce many session columns).
    "spark.sql.pivotMaxValues": "100000",
    # Read parquet TIMESTAMP(NANOS) as long; Catalog converts to a
    # microsecond timestamp column at load (Spark has no ns timestamps).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark 4's DataFrame-debugging layer wraps EVERY F.*/Column call
    # with a call-site capture: getActiveSession + conf.get +
    # PySparkCurrentOrigin.set — ~4 py4j round trips (≈2 ms each on
    # this box) plus a Python stack walk, per call, buying only richer
    # error messages.  A Column-heavy plan build pays it thousands of
    # times (F.col measured 7.9 → 2.7 ms/call when disabled).  Pure
    # driver-side overhead at any scale — results and plans are
    # byte-identical (r13 opt, guide §4 "driver boundary").
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "basic_data_fusion_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master=None`` → local[$SPARK_GRAFT_CPUS]."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver rows → a ``LocalRelation`` DataFrame (see module docstring).

    ``schema`` is a ``StructType`` or a DDL string.  Columns are built
    one Arrow array at a time against the schema's Arrow types, so
    ``None`` stays null and NaN/±inf stay doubles — values and schema
    are identical to ``spark.createDataFrame(rows, schema)``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
