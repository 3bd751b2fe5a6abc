"""Time-window aggregation operators (batch + Structured Streaming).

The reference has no streaming surface (SURVEY.md §2.11 — its only
temporal notion is the categorical session label,
reference: query/query_secure.py:119-125); this layer is the
scale-extension reserved by SURVEY.md §7.3 step 7 for the ``events``
table. The same ``F.window`` / ``F.session_window`` expressions run
identically over a batch DataFrame and a ``readStream`` DataFrame —
every operator here takes either; ``as_stream``/``run_available_now``
provide the streaming entry points.

Scale notes:
- window aggs shuffle once on (window, *keys) — the grouping key is tiny;
- watermarks bound streaming state: late rows beyond the watermark drop;
- sums over doubles use fixed-point accumulation (the oracle compares
  values bit-exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import fixed_point_sum


def _window_agg(df: DataFrame, win: Column, keys: list[str] | None,
                value_col: str | None, start: str, end: str) -> DataFrame:
    """Count, fixed-point sum, min and max of ``value_col`` per
    (window, *keys); the window struct becomes ``start``/``end``."""
    keys = keys or []
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs += [fixed_point_sum(F.col(value_col)).alias(f"sum_{value_col}"),
                 F.min(value_col).alias(f"min_{value_col}"),
                 F.max(value_col).alias(f"max_{value_col}")]
    out = df.groupBy(win.alias("win"), *keys).agg(*aggs)
    return out.select(F.col("win.start").alias(start),
                      F.col("win.end").alias(end),
                      *keys,
                      *[c for c in out.columns if c not in ("win", *keys)])


def tumbling_window_agg(df: DataFrame, ts_col: str, duration: str,
                        keys: list[str] | None = None,
                        value_col: str | None = "value") -> DataFrame:
    """Fixed (tumbling) window counts/sums, e.g. duration='1 day'.
    Works unchanged on a streaming DataFrame (add a watermark first)."""
    return _window_agg(df, F.window(ts_col, duration), keys, value_col,
                       "window_start", "window_end")


def sliding_window_agg(df: DataFrame, ts_col: str, duration: str, slide: str,
                       keys: list[str] | None = None,
                       value_col: str | None = "value") -> DataFrame:
    """Overlapping (sliding) windows: each event lands in duration/slide
    windows. Spark expands the row per window before the shuffle."""
    return _window_agg(df, F.window(ts_col, duration, slide), keys,
                       value_col, "window_start", "window_end")


def session_window_agg(df: DataFrame, ts_col: str, gap: str,
                       keys: list[str] | None = None,
                       value_col: str | None = "value") -> DataFrame:
    """Gap-based session windows per key (session ends after ``gap`` of
    inactivity; window end = last event + gap). In streaming mode this is
    a stateful operator bounded by the watermark."""
    return _window_agg(df, F.session_window(ts_col, gap), keys, value_col,
                       "session_start", "session_end")


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound for streaming aggs (no-op semantics in batch)."""
    return df.withWatermark(ts_col, delay)


def as_stream(spark: SparkSession, path: str, schema=None,
              fmt: str = "parquet") -> DataFrame:
    """Open a directory as a file-source stream (one-file-per-trigger
    left to defaults). Schema is mandatory for file streams; pass the
    batch-read schema when None."""
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    return spark.readStream.format(fmt).schema(schema).load(path)


def run_available_now(df: DataFrame, query_name: str,
                      output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (Trigger.AvailableNow) into an in-memory sink; returns the result as
    a batch DataFrame. This is the batch-parity harness for streaming
    plans: same plan, streaming execution, bounded run. Stateful
    operators (applyInPandasWithState) require ``output_mode='update'``;
    the memory sink then accumulates one emission per key per batch."""
    q = (df.writeStream.format("memory").queryName(query_name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(query_name)
