"""Distributed total order: exact global ranks and running sums with no
data-sized relation through a single task.

In place of a partition-less window (a single-partition sort at the
extreme): the classic two-pass zipWithIndex/prefix-sum decomposition,
expressed entirely in DataFrame operators.

``total_order_pos`` (global rank):

1. ``repartitionByRange(n, *keys)`` — Spark's distributed sort shuffle:
   partition p holds keys strictly below partition p+1 (the same
   machinery ``orderBy`` uses).  The EXPLICIT partition count pins the
   shuffle as REPARTITION_BY_NUM, which AQE never coalesces, so the two
   reads below see identical partition indices.
2. ``sortWithinPartitions(*keys)`` + ``monotonically_increasing_id()``
   — map-side local ranks: the id is (partition_index << 33) + local
   row number, computed with no further shuffle.
3. Per-partition row counts (one tiny aggregation, ≤ n rows) →
   cumulative offsets.  The offsets window IS partition-less, but over
   the per-partition COUNT relation — bounded by the cluster's
   partition count, never by the data.
4. ``global rank = offset(partition) + local rank`` via a broadcast
   join on the partition index.

Partition boundaries come from range sampling and may vary run to run;
the computed rank is invariant to them (offset + local position under a
total sort order does not depend on where the cuts fall), so outputs are
deterministic and oracle-hashable as long as the key tuple is a total
order (callers append the unique id as the last key).

``global_running_sum`` (exact prefix sums) is the same decomposition
with per-partition SUMS as the offsets and a partition-keyed running-sum
window for the local pass (one extra narrow shuffle of (keys, value)
rows, hash-clustered on the partition index).

Reference analogue: none (the reference computes global orders
single-node; this is the Spark-native scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOCAL_MASK = (1 << 33) - 1


def is_double_exact(dt: T.DataType) -> bool:
    """Is every value of ``dt`` exactly representable as a double (so a
    cast preserves distinctness)?  True for <=32-bit integers and binary
    floats; False for long/decimal, whose distinct values can collide
    past 2^53 — the precondition ``avg_ranks_multi``'s stacked-double
    explode requires (a collision silently MERGES rank groups)."""
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.FloatType, T.DoubleType))


def _n_partitions(df: DataFrame, n_partitions: int | None) -> int:
    if n_partitions is not None:
        if n_partitions < 1:
            raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
        return int(n_partitions)
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def total_order_pos(df: DataFrame, order_keys: list[str],
                    out_col: str = "pos",
                    n_partitions: int | None = None) -> DataFrame:
    """Exact 1-based global rank over ``order_keys`` (which must be a
    total order — append the unique id as the final key) appended as
    ``out_col``; every other column passes through.  No partition-less
    window touches the data: the only global window runs over the
    per-partition count relation (≤ ``n_partitions`` rows)."""
    return _total_order_pos(df, order_keys, out_col, n_partitions, None)


def _total_order_pos(df: DataFrame, order_keys: list[str], out_col: str,
                     n_partitions: int | None,
                     total_col: str | None) -> DataFrame:
    """:func:`total_order_pos`; a ``total_col`` also appends the row
    count of ``df``, summed over the per-partition counts by the same
    offsets window, so a caller that needs n reads no second pass."""
    n = _n_partitions(df, n_partitions)
    keys = [F.col(k) for k in order_keys]
    # Lazy localCheckpoint: the count branch and the data branch both
    # consume the range shuffle, but column pruning gives them different
    # projections, so exchange reuse does NOT kick in and the dominant
    # shuffle would execute twice.  Materializing the ranked relation
    # once (first action runs it) also freezes the assigned ids — no
    # reliance on two executions sampling identical range boundaries.
    d = (df.repartitionByRange(n, *keys)
           .sortWithinPartitions(*keys)
           .withColumn("__mid", F.monotonically_increasing_id())
           .withColumn("__pid", F.shiftrightunsigned(F.col("__mid"), 33))
           .localCheckpoint(eager=False))
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        *([F.sum("__cnt").over(w_off.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
           .alias(total_col)] if total_col else []))
    local = F.col("__mid").bitwiseAND(F.lit(_LOCAL_MASK))
    return (d.join(F.broadcast(offsets), "__pid")
            .withColumn(out_col,
                        (F.col("__off") + local + F.lit(1)).cast("long"))
            .drop("__mid", "__pid", "__off"))


def global_running_sum(df: DataFrame, order_keys: list[str],
                       val_col: str | list[str],
                       out_col: str | list[str] = "running_sum",
                       n_partitions: int | None = None) -> DataFrame:
    """Exact inclusive prefix sum(s) of ``val_col`` over the total order
    ``order_keys``, appended as ``out_col``.  Accepts a single column or
    a list (all prefix sums share ONE range shuffle / window / offsets
    pass).  Range shuffle + local running-sum window keyed by the
    partition index + broadcast per-partition offsets — the distributed
    prefix-sum decomposition; the only partition-less window runs over
    the per-partition totals (≤ ``n_partitions`` rows)."""
    vals = [val_col] if isinstance(val_col, str) else list(val_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vals) != len(outs):
        raise ValueError("val_col and out_col lengths differ")
    n = _n_partitions(df, n_partitions)
    keys = [F.col(k) for k in order_keys]
    # same single-execution rationale as total_order_pos: freeze the
    # range shuffle (and the partition ids derived from it) so the
    # local-cumsum branch and the totals branch read one materialization
    d = (df.repartitionByRange(n, *keys)
           .withColumn("__pid", F.spark_partition_id().cast("long"))
           .localCheckpoint(eager=False))
    w_local = (Window.partitionBy("__pid").orderBy(*keys)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for i, v in enumerate(vals):
        d = d.withColumn(f"__local_cum_{i}", F.sum(v).over(w_local))
    totals = d.groupBy("__pid").agg(
        *[F.sum(v).alias(f"__tot_{i}") for i, v in enumerate(vals)])
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "__pid",
        *[F.coalesce(F.sum(f"__tot_{i}").over(w_off), F.lit(0))
          .alias(f"__off_{i}") for i in range(len(vals))])
    d = d.join(F.broadcast(offsets), "__pid")
    for i, out in enumerate(outs):
        d = d.withColumn(out,
                         F.col(f"__off_{i}") + F.col(f"__local_cum_{i}"))
    return d.drop("__pid", *[f"__local_cum_{i}" for i in range(len(vals))],
                  *[f"__off_{i}" for i in range(len(vals))])


def avg_ranks(df: DataFrame, value_col: str,
              out_col: str = "avg_rank",
              n_partitions: int | None = None) -> DataFrame:
    """Per-DISTINCT-value midrank table ``(__v, __cnt, out_col)`` over
    the whole relation: ``avg_rank(v) = #(x < v) + (cnt(v)+1)/2``, with
    a null group ordered first — exactly the window formulation
    ``rank() OVER (ORDER BY v) + (count() OVER (PARTITION BY v) − 1)/2``
    (min-rank + half the tie run), but with no data-sized global window:
    one value-keyed aggregation + one distributed prefix sum.  Ranks are
    integers and halves, exact in doubles to 2^53 — callers joining back
    (null-safe on the value) reproduce the window ranks bitwise."""
    g = (df.groupBy(F.col(value_col).alias("__v"))
         .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
    g = global_running_sum(g, ["__v"], "__cnt", "__cum", n_partitions)
    return g.select(
        "__v", "__cnt",
        ((F.col("__cum") - F.col("__cnt")).cast("double")
         + (F.col("__cnt") + 1).cast("double") / F.lit(2.0)).alias(out_col))


def avg_ranks_multi(df: DataFrame, value_cols: list[str],
                    out_col: str = "avg_rank",
                    n_partitions: int | None = None) -> DataFrame:
    """Midrank tables for SEVERAL columns in ONE prefix-sum pass:
    ``(__cid, __v, __cnt, out_col)`` where ``__cid`` indexes
    ``value_cols``.  Restricted to one column this is bitwise
    ``avg_ranks`` (property-pinned): the per-column distinct tables
    union with a column id, ONE ``global_running_sum`` orders the union
    by ``(__cid, __v)``, and the per-column prefix is recovered by
    subtracting the broadcast total of all earlier columns — integer
    arithmetic, so the midranks are identical to the per-column pass.

    Why it exists: N ``avg_ranks`` calls cost N scans of the data plus
    N prefix machines (each with its flat range-shuffle/offsets floor).
    This runs ONE scan (the columns explode to ``(column id, value)``
    rows, hash-aggregated with map-side combine before the single
    shuffle) and ONE machine for all N — the shape an N-column spearman
    matrix over a wide table needs.

    Values are compared AS DOUBLES (the explode array needs one
    element type): distinct raw values must stay distinct under the
    cast — exact for integers below 2^53, the same bound the rank
    arithmetic already documents — so the midranks are bitwise the
    per-column ``avg_ranks`` tables (property-pinned).  The precondition
    is GUARDED: long/decimal columns raise TypeError (distinct values
    past 2^53 would silently merge rank groups — and the caller's
    join-back would attach the collapsed midrank); route such columns
    through per-column :func:`avg_ranks`, whose rank-table key keeps
    the original exact type (``stats.correlation_matrix`` does this
    split automatically).  Numeric columns only; nulls rank first
    within their column, as in ``avg_ranks``."""
    for c in value_cols:
        dt = df.schema[c].dataType
        if not is_double_exact(dt):
            raise TypeError(
                f"avg_ranks_multi: column {c!r} has type "
                f"{dt.simpleString()}, whose distinct values may collide "
                f"under the stacked double cast (exact only to 2^53); "
                f"use avg_ranks per column for long/decimal inputs")
    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("__cid"),
                 F.col(c).cast("double").alias("__v"))
        for i, c in enumerate(value_cols)])).alias("__s")) \
        .select("__s.__cid", "__s.__v")
    u = (stacked.groupBy("__cid", "__v")
         .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
    u = global_running_sum(u, ["__cid", "__v"], "__cnt", "__cum",
                           n_partitions)
    tot = u.groupBy("__cid").agg(F.sum("__cnt").alias("__ct"))
    w_prev = (Window.orderBy("__cid")
              .rowsBetween(Window.unboundedPreceding, -1))
    prev = tot.select(
        "__cid",
        F.coalesce(F.sum("__ct").over(w_prev), F.lit(0)).alias("__prev"))
    u = u.join(F.broadcast(prev), "__cid")
    return u.select(
        "__cid", "__v", "__cnt",
        ((F.col("__cum") - F.col("__prev") - F.col("__cnt")).cast("double")
         + (F.col("__cnt") + 1).cast("double") / F.lit(2.0)).alias(out_col))


def global_ntile(df: DataFrame, order_keys: list[str], k: int,
                 out_col: str = "bucket") -> DataFrame:
    """ANSI ``NTILE(k)`` over a total order with no data-sized global
    window: bucket recomputed from the ``total_order_pos`` global rank
    with remainder-to-early-buckets semantics (the first ``n mod k``
    buckets hold ``floor(n/k)+1`` rows).  Floor divisions run
    integer-exactly (``(a − a%b)/b`` — an exact multiple divides exactly
    in doubles to 2^53).  Appends ``out_col``; all input columns pass
    through."""
    d = _total_order_pos(df, order_keys, "__r", None, "__n")
    idiv = lambda a, b: ((a - F.pmod(a, b)) / b).cast("long")
    big = F.col("__n") % k
    size_small = idiv(F.col("__n"), F.lit(k))
    size_big = size_small + 1
    in_big = F.col("__r") <= big * size_big
    bucket = (F.when(in_big, idiv(F.col("__r") - 1, size_big))
              .otherwise(big + idiv(F.col("__r") - big * size_big - 1,
                                    F.greatest(size_small, F.lit(1))))
              .cast("int") + F.lit(1))
    return d.withColumn(out_col, bucket).drop("__r", "__n")
