"""Aggregation layer (SURVEY §2.4): counts, breakdowns, summaries, reports.

Spark-native re-expression of the reference's demographics/report queries
(reference: analysis/demographics.py:21-252, analysis/filtering.py:96-505).
Everything here returns lazy DataFrames; callers trigger actions. The
filtering report caches the base relation once and reuses it per step —
replacing the reference's N full CSV re-reads per report.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import cache_pinned
from ..session import local_frame

# exact_quantiles_counts finishes on the driver at or below this many
# distinct (__cid, __v) rows; measured crossover in its docstring
_DRIVER_FINISH_ROWS = 200_000


def count_distinct_keys(df: DataFrame, key: str, approx: bool = False,
                        rsd: float = 0.05) -> DataFrame:
    """A1 — THE core live metric (reference: query/query_secure.py:289-325).
    Exact by default: the correctness oracle hash-matches values.
    ``approx=True`` switches to HyperLogLog++ (``approx_count_distinct``,
    relative error ``rsd``) — the interactive tier at 100 TB, where exact
    distinct means shuffling every key."""
    agg = (F.approx_count_distinct(key, rsd) if approx
           else F.countDistinct(key))
    return df.agg(agg.alias("n_participants"))


def min_max(df: DataFrame, column: str) -> DataFrame:
    """A2 (reference: analysis/demographics.py:77-87)."""
    return df.agg(F.min(column).alias(f"min_{column}"), F.max(column).alias(f"max_{column}"))


def groupby_count_distinct(df: DataFrame, group_col: str, key: str) -> DataFrame:
    """A3 — e.g. sex breakdown (reference: analysis/demographics.py:88-98)."""
    return (df.groupBy(group_col)
              .agg(F.countDistinct(key).alias("n_participants"))
              .orderBy(group_col))


def distinct_ordered(df: DataFrame, column: str, cap: int | None = None) -> DataFrame:
    """A4/S5 — ordered distinct non-null values, optionally capped
    (reference: analysis/demographics.py:100-122; statistics.py:82-85)."""
    out = (df.select(column).where(F.col(column).isNotNull())
             .distinct().orderBy(column))
    return out.limit(cap) if cap else out


def top_k_categories(df: DataFrame, column: str, k: int = 5) -> DataFrame:
    """O4 — value_counts().head(k) with a deterministic tie-break on the
    category value (pandas value_counts breaks ties by first-seen order,
    which is not reproducible distributed — we pin value order instead)."""
    return (df.groupBy(column).agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.desc("n"), F.asc(column)).limit(k))


def demographics_breakdown(df: DataFrame, key: str, age_col: str | None = None,
                           sex_col: str | None = None, session_col: str | None = None) -> dict:
    """A1+A2+A3+A4 composite (reference: analysis/demographics.py:21-132).
    Returns dict of lazy DataFrames; caller collects the bounded results."""
    out: dict[str, DataFrame] = {"count": count_distinct_keys(df, key)}
    if age_col:
        out["age_range"] = min_max(df, age_col)
    if sex_col:
        out["by_sex"] = groupby_count_distinct(df, sex_col, key)
    if session_col:
        out["sessions"] = distinct_ordered(df, session_col)
    return out


# ---------------- A5: descriptive column summary ----------------

def numeric_summary(df: DataFrame, columns: list[str]) -> DataFrame:
    """A5 numeric half (reference: analysis/demographics.py:135-252): one row
    per column with non-null count, missing count/%, mean, median (exact),
    std (sample), min, max. Single aggregation pass over all columns, then a
    driver-side unpivot of the one result row (bounded by column count).

    Scale note (r12 sf-decade sweep): the exact ``percentile`` aggregate
    buffers EVERY value of the column on the merge path — a data-sized
    aggregation buffer (measured: 6.7× wall for 3× rows crossing sf1→sf3).
    This is the deliberate ORACLE-tier trade (bit-exact medians for the
    hash check); the interactive/production tier is the
    ``column_summary_approx`` contract's ``approx_percentile`` path
    (mergeable sketch, bounded buffers), whose sweep ratio stays
    ~linear."""
    total = F.count(F.lit(1))
    aggs = [total.alias("__total")]
    for c in columns:
        col = F.col(c).cast("double")
        aggs += [
            F.count(col).alias(f"n__{c}"),
            F.avg(col).alias(f"mean__{c}"),
            F.expr(f"percentile(CAST(`{c}` AS DOUBLE), 0.5)").alias(f"median__{c}"),
            F.stddev_samp(col).alias(f"std__{c}"),
            F.min(col).alias(f"min__{c}"),
            F.max(col).alias(f"max__{c}"),
        ]
    row = df.agg(*aggs).first()
    total_n = row["__total"]
    spark = df.sparkSession
    data = []
    for c in columns:
        n = row[f"n__{c}"] or 0
        # raw (unrounded) percentages: integer-derived IEEE division is
        # bit-deterministic across engines, rounded display is a UI concern
        data.append((c, n, total_n - n,
                     (100.0 * (total_n - n)) / total_n if total_n else 0.0,
                     row[f"mean__{c}"], row[f"median__{c}"], row[f"std__{c}"],
                     row[f"min__{c}"], row[f"max__{c}"]))
    return local_frame(
        spark, data,
        "column string, n_non_null long, n_missing long, pct_missing double, "
        "mean double, median double, std double, min double, max double")


def exact_quantiles(df: DataFrame, columns: list[str],
                    ps: list[float]) -> DataFrame:
    """EXACT interpolated quantiles (``percentile_cont`` semantics) for
    several columns in ONE corpus pass with NO data-sized aggregation
    buffer — the 100 TB replacement for the ``percentile()`` aggregate,
    whose buffer holds EVERY value of the column on the merge path (the
    r12 sf-decade sweep measured that cliff: 6.7× wall for 3× rows).
    Returns ``(column, p, n_non_null, value)``.

    Decomposition (the midrank/KS machinery): melt the columns to
    ``(col, value)`` rows — one scan regardless of column count —
    reduce to per-distinct-value counts, ONE distributed prefix sum
    over the ``(col, value)`` total order (range shuffle + local
    windows + broadcast offsets; no partition-less window over data),
    then each requested quantile reads its two bracketing ranks
    ``lo = ⌊1+(n−1)p⌋`` / ``hi = ⌈…⌉`` from the cumulative relation via
    a broadcast non-equi join and interpolates
    ``v_lo + frac·(v_hi − v_lo)`` (``frac = 0`` short-circuits to
    ``v_lo`` exactly).  Every shuffle is distinct-values-sized or
    smaller; NULLs are excluded per column, mirroring the aggregate.
    A counts relation of at most 200,000 distinct values skips the
    prefix sum and finishes on the driver through one bounded collect,
    with bit-identical values (bound and measured timings in
    :func:`exact_quantiles_counts`)."""
    if not columns or not ps:
        raise ValueError("columns and ps must be non-empty")
    stacked = (df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("__cid"),
                 F.col(c).cast("double").alias("__v"))
        for c in columns])).alias("s"))
        .select("s.__cid", "s.__v")
        .where(F.col("__v").isNotNull()))
    return exact_quantiles_stacked(stacked, ps)


def exact_quantiles_stacked(stacked: DataFrame, ps: list[float]) -> DataFrame:
    """:func:`exact_quantiles` over a PRE-STACKED ``(__cid, __v)``
    relation (non-null doubles) — the fusion point (r12 verdict #3):
    callers that need quantiles over SEVERAL tables/relations union
    their melts under distinct ``__cid`` labels and pay for ONE
    prefix-sum machine instead of one per table.  Per-column results
    are bit-identical to per-table runs: the cumulative rank subtracts
    the preceding columns' mass, so each column's bracketing ranks and
    interpolation see exactly its own values regardless of what else
    shares the pass.  Small counts finish on the driver, as in
    :func:`exact_quantiles_counts`."""
    if not ps:
        raise ValueError("ps must be non-empty")
    counts = (stacked.groupBy("__cid", "__v")
              .agg(F.count(F.lit(1)).alias("__c")))
    return exact_quantiles_counts(counts, ps)


def exact_quantiles_counts(counts: DataFrame, ps: list[float]) -> DataFrame:
    """:func:`exact_quantiles_stacked` over a PRE-AGGREGATED
    ``(__cid, __v, __c)`` per-distinct-value count relation — the entry
    point for callers that already materialize the counts (e.g. the A5
    summary tier derives its n/mean/min/max aggregates from the same
    relation, so pinning it and entering here makes the whole summary
    one corpus scan).  Identical arithmetic to the stacked form — the
    stacked form now just counts and delegates.  ``ps`` must lie in
    [0, 1], as for the ``percentile`` aggregate.

    Driver finish: the counts relation is distinct-values-sized, and
    when it holds at most ``_DRIVER_FINISH_ROWS`` rows (200,000) it is
    collected through Arrow and the quantile table is computed on the
    driver by one sorted sweep (:func:`_driver_quantiles`), returned as
    a ``LocalRelation``.  Above the bound the distributed prefix-sum
    machine (:func:`_quantile_machine`) runs unchanged.  The collect is
    bounded because a corpus-scale distinct-value relation must not
    pass through one process: ``limit(bound + 1)`` is both the size
    probe and the collect, so the driver holds at most bound + 1 rows
    (a few MB).  A counts relation that is not already persisted is
    local-checkpointed first, so the probe and the machine read one
    materialization and the melt + aggregate upstream runs once.

    Measured (SCALE.md "Exact quantiles: the flat floor"; pinned counts
    from the sf0.1 ``column_summary`` melt, 4 columns, 3 quantiles,
    ``local[4]``, best of 3 in a warm session; the 1.2M and 2.4M rows
    replicate the melt under shifted column ids):

    ===========  ==========  ===========
    counts rows  driver (s)  machine (s)
    ===========  ==========  ===========
    9,917        0.15        1.60
    49,985       0.14        1.52
    199,896      0.29        1.71
    598,058      0.78        2.38
    1,196,116    1.72        4.26
    2,392,232    3.18        7.91
    ===========  ==========  ===========

    On one host the two finishes never cross: the machine carries a
    ~1.5 s flat floor (range sampling, checkpoint, offsets job, extra
    stage boundaries) and no lower per-row cost.  What the machine buys
    is executor parallelism and no driver-sized buffer, so the bound
    sits below any crossover and caps what one process holds: it sends
    sf0.001/sf0.01 to the driver and leaves the sf0.1
    ``column_summary`` counts (598,058 rows) on the machine.

    Both finishes give bit-identical rows: integer cumulative ranks,
    ``pos = 1 + double(n−1)·p``, ``lo = ⌊pos⌋``, ``hi = ⌈pos⌉``,
    ``frac = pos − lo``, ``v_lo`` when ``frac = 0`` and
    ``v_lo + frac·(v_hi − v_lo)`` otherwise, with Spark's double order
    (NaN last).  Duplicate ``p`` values give one row."""
    if not ps:
        raise ValueError("ps must be non-empty")
    if not all(0.0 <= p <= 1.0 for p in ps):
        raise ValueError(f"ps must lie in [0, 1], got {ps}")
    if not counts.is_cached:
        counts = counts.localCheckpoint(eager=False)
    head = counts.limit(_DRIVER_FINISH_ROWS + 1).toArrow()
    if head.num_rows > _DRIVER_FINISH_ROWS:
        return _quantile_machine(counts, ps)
    return _driver_quantiles(counts, head, ps)


def _driver_quantiles(counts: DataFrame, head, ps: list[float]) -> DataFrame:
    """The machine's quantile table computed from the collected counts
    ``head`` (a ``pyarrow.Table``): one sort by ``(__cid, __v)``, one
    int64 cumulative sum across all columns, and per (column, p) a
    ``searchsorted`` of the column's block start plus ``lo``/``hi``
    into it — the machine's global prefix sum minus the preceding
    columns' mass, with the same double arithmetic."""
    import numpy as np
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("column", counts.schema["__cid"].dataType),
        T.StructField("p", T.DoubleType()),
        T.StructField("n_non_null", T.LongType()),
        T.StructField("value", T.DoubleType())])
    # the machine's inner join on __cid drops NULL labels; Arrow sorts
    # NaN after every other double, as Spark does
    t = (head.filter(pc.is_valid(head["__cid"]))
         .sort_by([("__cid", "ascending"), ("__v", "ascending")]))
    if t.num_rows == 0:
        return local_frame(counts.sparkSession, [], schema)
    cid = t["__cid"].combine_chunks()
    v = t["__v"].to_numpy()
    c = t["__c"].to_numpy().astype(np.int64)
    cum = np.cumsum(c)
    first = np.ones(t.num_rows, dtype=bool)
    first[1:] = pc.not_equal(cid[1:], cid[:-1]).to_numpy(
        zero_copy_only=False)
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], t.num_rows) - 1
    block = cum[starts] - c[starts]  # the preceding columns' mass
    n = cum[ends] - block
    # duplicate p give one row, and −0.0 is 0.0, as the machine's
    # (__cid, p) grouping normalizes it
    pu = np.unique(np.asarray(ps, dtype=np.float64) + 0.0)
    pos = 1.0 + (n - 1).astype(np.float64)[:, None] * pu[None, :]
    lo = np.floor(pos).astype(np.int64)
    hi = np.ceil(pos).astype(np.int64)
    frac = pos - lo.astype(np.float64)
    v_lo = v[np.searchsorted(cum, block[:, None] + lo, side="left")]
    v_hi = v[np.searchsorted(cum, block[:, None] + hi, side="left")]
    with np.errstate(invalid="ignore"):
        value = np.where(frac == 0.0, v_lo, v_lo + frac * (v_hi - v_lo))
    rows = [(label, float(pu[j]), int(n[i]), float(value[i, j]))
            for i, label in enumerate(cid.take(starts).to_pylist())
            for j in range(len(pu))]
    return local_frame(counts.sparkSession, rows, schema)


def _quantile_machine(counts: DataFrame, ps: list[float]) -> DataFrame:
    """The distributed finish of :func:`exact_quantiles_counts`: one
    prefix sum over the ``(__cid, __v)`` total order, then a broadcast
    bracketing-rank join per requested quantile."""
    from .ordering import global_running_sum

    cum = global_running_sum(counts, ["__cid", "__v"], "__c",
                             out_col="__cum")
    # tot reads the machine OUTPUT (whose range shuffle is checkpointed
    # inside global_running_sum), not the raw counts relation: for
    # callers that pass a lazy counts plan, a counts-side aggregate
    # would re-execute the whole melt subtree, where this pass re-reads
    # the checkpoint (r14: measured, the counts-side form regressed the
    # approx summary tier ~15%)
    tot = cum.groupBy("__cid").agg(F.max("__cum").alias("__end"),
                                   F.sum("__c").alias("__n"))
    # per-column cumulative rank: subtract the preceding columns' mass
    # (the total order runs across columns; __end − __n is this
    # column's block start) — tot is column-count-sized, broadcast
    cum = (cum.join(F.broadcast(tot), "__cid")
           .withColumn("__rk", F.col("__cum")
                       - (F.col("__end") - F.col("__n")))
           .select("__cid", "__v", "__rk", "__c"))
    targets = (tot.select(
        "__cid", "__n",
        F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("p"))
        .withColumn("__pos", F.lit(1.0)
                    + (F.col("__n") - 1).cast("double") * F.col("p"))
        .withColumn("__lo", F.floor("__pos").cast("long"))
        .withColumn("__hi", F.ceil("__pos").cast("long"))
        .withColumn("__frac", F.col("__pos")
                    - F.col("__lo").cast("double")))
    # BRACKETING-ROWS-ONLY join (r13): a distinct value's run covers
    # ranks (__rk − __c, __rk], so the row bracketing rank r satisfies
    # __rk ≥ r AND __rk − __c < r.  Joining on "covers lo or hi"
    # (__rk ≥ lo AND __rk − __c < hi, with hi ≤ lo+1 and no integer
    # strictly between) emits EXACTLY the 1-2 bracketing rows per
    # target instead of every row above lo — the previous shape fed
    # ~half the distinct-value relation per target into the final
    # aggregate (~3× the cum relation for the 3-quantile summary
    # pass; measured ~11 s of the fused machine's sf0.1 cold cost).
    # The min() aggregates are unchanged and see a subset containing
    # their minima, so results are bit-identical.
    hit = (cum.join(F.broadcast(targets), "__cid")
           .where((F.col("__rk") >= F.col("__lo"))
                  & (F.col("__rk") - F.col("__c") < F.col("__hi")))
           .groupBy("__cid", "p", "__n", "__hi", "__frac")
           .agg(F.min("__v").alias("__vlo"),
                F.min(F.when(F.col("__rk") >= F.col("__hi"),
                             F.col("__v"))).alias("__vhi")))
    return (hit.select(
        F.col("__cid").alias("column"), "p",
        F.col("__n").alias("n_non_null"),
        F.when(F.col("__frac") == 0.0, F.col("__vlo"))
        .otherwise(F.col("__vlo")
                   + F.col("__frac") * (F.col("__vhi") - F.col("__vlo")))
        .alias("value"))
        .orderBy("column", "p"))


def categorical_summary(df: DataFrame, columns: list[str], top_k: int = 5) -> DataFrame:
    """A5 categorical half: per column, non-null count, distinct count and
    top-k values — ONE lazy plan for all columns. The table unpivots to
    (column, value) rows in a single scan; per-value counts group once on
    (column, value); totals and the windowed top-k derive from that
    counts relation. Replaces the per-column ``.first()``/``.collect()``
    loop (2 Spark jobs per column) with one job regardless of column
    count — at 100 TB the scan dominates, so N columns for the price of
    one pass."""
    spark = df.sparkSession
    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("string").alias("value"))
        for c in columns])).alias("s")).select("s.column", "s.value")
    counts = (stacked.where(F.col("value").isNotNull())
              .groupBy("column", "value").agg(F.count(F.lit(1)).alias("n")))
    totals = counts.groupBy("column").agg(
        F.sum("n").alias("n_non_null"),
        F.count(F.lit(1)).alias("n_unique"))
    w = Window.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    tk = (counts.withColumn("__rn", F.row_number().over(w))
          .where(F.col("__rn") <= top_k)
          .groupBy("column")
          .agg(F.sort_array(F.collect_list(F.struct("__rn", "value", "n")))
               .alias("__tk")))
    # literal column list keeps all-NULL columns in the output (they have
    # no counts rows), mirroring the previous materialized behavior
    cols_df = local_frame(spark, [(c,) for c in columns], "column string")
    return (cols_df.join(totals, "column", "left").join(tk, "column", "left")
            .select(
                "column",
                F.coalesce(F.col("n_non_null"), F.lit(0).cast("long")).alias("n_non_null"),
                F.coalesce(F.col("n_unique"), F.lit(0).cast("long")).alias("n_unique"),
                F.coalesce(F.transform("__tk", lambda x: x["value"]),
                           F.array().cast("array<string>")).alias("top_values"),
                F.coalesce(F.transform("__tk", lambda x: x["n"]),
                           F.array().cast("array<long>")).alias("top_counts")))


# ---------------- A13 / §2.10: filtering-impact report ----------------

def filter_impact_report(base_df: DataFrame, key: str,
                         steps: list[tuple[str, Column]]) -> DataFrame:
    """Cumulative filter-impact table (reference: analysis/filtering.py:96-322):
    one row per step with remaining / removed counts and removal %.

    ``steps`` is the ordered [(label, predicate)] list — the reference's fixed
    order substudy → session → age → behavioral. ONE aggregation pass
    computes every step: the baseline plus each cumulative conjunction runs
    as a conditional ``count_distinct(when(preds, key))`` in a single
    ``agg`` — one table scan and one job for N steps, versus the
    reference's N+1 full re-reads (and this module's previous N+1 jobs
    over a cached plan). At 100 TB the scan is the cost; N is free.
    """
    spark = base_df.sparkSession
    aggs = [F.countDistinct(key).alias("__s0")]
    preds: list[Column] = []
    for i, (_, pred) in enumerate(steps, start=1):
        preds.append(pred)
        aggs.append(F.count_distinct(
            F.when(reduce(and_, preds), F.col(key))).alias(f"__s{i}"))
    counts = base_df.agg(*aggs).first()
    baseline = counts["__s0"]
    rows = [("baseline", baseline, 0, 0.0, 0.0)]
    prev = baseline
    for i, (label, _) in enumerate(steps, start=1):
        remaining = counts[f"__s{i}"]
        removed = prev - remaining
        # raw doubles (not rounded): integer-derived IEEE division is
        # bit-deterministic across engines; rounding is a display concern
        pct = (100.0 * removed) / prev if prev else 0.0
        cum_pct = (100.0 * (baseline - remaining)) / baseline if baseline else 0.0
        rows.append((label, remaining, removed, pct, cum_pct))
        prev = remaining
    return local_frame(
        spark, rows, "step string, n_remaining long, n_removed long, "
                     "pct_removed double, cum_pct_removed double")


def filter_impact_individual(base_df: DataFrame, key: str,
                             steps: list[tuple[str, Column]]) -> DataFrame:
    """Per-filter STANDALONE impact (reference: analysis/filtering.py:385-505
    computes each filter's individual removal alongside the combined
    cascade): every predicate is applied ALONE against the unfiltered
    baseline, answering "how much does this one criterion cost?"
    independent of step order. Same one-pass shape as the cumulative
    report — baseline + one conditional count_distinct per filter in a
    single aggregation job."""
    spark = base_df.sparkSession
    aggs = [F.countDistinct(key).alias("__base")]
    for i, (_, pred) in enumerate(steps):
        aggs.append(F.count_distinct(F.when(pred, F.col(key))).alias(f"__s{i}"))
    counts = base_df.agg(*aggs).first()
    baseline = counts["__base"]
    rows = []
    for i, (label, _) in enumerate(steps):
        remaining = counts[f"__s{i}"]
        removed = baseline - remaining
        pct = (100.0 * removed) / baseline if baseline else 0.0
        rows.append((label, remaining, removed, pct))
    return local_frame(
        spark, rows,
        "step string, n_remaining long, n_removed long, pct_removed double")


def filtering_report(base_df: DataFrame, key: str,
                     steps: list[tuple[str, Column]],
                     age_col: str | None = None,
                     sex_col: str | None = None,
                     session_col: str | None = None) -> dict:
    """EP3's full composite (reference: analysis/filtering.py:96-322): the
    cumulative impact table PLUS a demographics breakdown at every step.

    The reference re-reads every CSV per step (N+1 full scans × 5
    queries); here the joined base relation is cached once and each step
    is a handful of aggregates over the cached plan (pinned, so
    ``caching.release_cached`` frees it)."""
    base_df = cache_pinned(base_df)
    impact = filter_impact_report(base_df, key, steps)
    breakdowns: dict[str, dict] = {
        "baseline": demographics_breakdown(base_df, key, age_col, sex_col, session_col)}
    preds: list[Column] = []
    for label, pred in steps:
        preds.append(pred)
        stepped = base_df.filter(reduce(and_, preds))
        breakdowns[label] = demographics_breakdown(
            stepped, key, age_col, sex_col, session_col)
    return {"impact": impact, "breakdowns": breakdowns}


def per_group_hash_sample(df: DataFrame, group_col: str, key: str,
                          k: int) -> DataFrame:
    """Deterministic k-per-group sample (bounded reservoir without
    randomness): rank rows inside each group by ``md5(key)`` and keep the
    first ``k``. Seedless and partitioning-invariant — the same (group,
    key) set yields the same sample on any cluster, so downstream runs
    are reproducible and cross-engine verifiable (md5 of the decimal
    string is identical everywhere), unlike ``df.sample`` whose output
    depends on partition layout.

    Plan: one shuffle on ``group_col``; Spark inserts WindowGroupLimit
    (partial top-k before the exchange) for the rank-filter shape, so
    only ~k rows per group per input partition reach the shuffle. For
    heavily skewed groups at the 100 TB tier, pre-filter with a hash
    threshold (functions/scalars.stratified_keep) to cap the window
    input first.
    """
    h = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .withColumnRenamed("__rn", "sample_rank"))


def hll_distinct_counts(df: DataFrame, columns: list[str],
                        lg_k: int = 12) -> DataFrame:
    """Approximate distinct counts from Apache DataSketches HLL
    sketches (``hll_sketch_agg``) — the interactive tier for the
    catalog's distinct scans (S5/A1) at the 100 TB tier, where the
    exact ``countDistinct`` semi-join is a full shuffle. One pass, all
    columns sketched together; ~0.8% relative error at lg_k=12.
    Returns one row: an estimate per column."""
    return df.agg(*[
        F.expr(f"hll_sketch_estimate(hll_sketch_agg(`{c}`, {lg_k}))")
        .alias(f"{c}_approx_distinct") for c in columns])


def hll_band_report(df: DataFrame, columns: list[str], lg_k: int = 12,
                    band: float = 0.05) -> DataFrame:
    """Acceptance-gate report for the HLL distinct tier: one pass
    computes, per column, the EXACT distinct count and the sketch
    estimate, and emits ``(column_name, n_exact, within_band)`` where
    ``within_band`` = |estimate − exact| ≤ ``band``·exact.  The raw
    estimate stays internal (sketch values are engine-specific); the
    verdict boolean plus the exact side make the report
    value-hash-checkable cross-engine — the same report-shape trick as
    ``ann_recall`` (is the approximate tier still inside its error
    budget?).  lg_k=12 gives ~0.8% relative error, so the 5% default
    band fails only on a genuinely broken sketch, not on noise.

    Scale note: the gate intentionally pays the exact ``countDistinct``
    it exists to audit — run it on a partition slice / sampled day, not
    the full corpus, and let the production path use
    ``hll_distinct_counts`` alone.  One aggregation pass (Spark plans
    the multi-column distinct via Expand); the reshape to rows is an
    in-row explode of a ``len(columns)``-literal struct array."""
    aggs = []
    for i, c in enumerate(columns):
        aggs += [
            F.countDistinct(F.col(c)).alias(f"__ex{i}"),
            F.expr(f"hll_sketch_estimate(hll_sketch_agg(`{c}`, {int(lg_k)}))")
            .alias(f"__ap{i}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"__ex{i}").cast("long").alias("n_exact"),
            (F.abs(F.col(f"__ap{i}").cast("double") - F.col(f"__ex{i}"))
             <= F.lit(float(band)) * F.col(f"__ex{i}")).alias("within_band"))
        for i, c in enumerate(columns)])
    return row.select(F.explode(structs).alias("__s")).select("__s.*")


def hll_partitioned_sketches(df: DataFrame, part_col: str, value_col: str,
                             lg_k: int = 12) -> DataFrame:
    """Per-partition HLL sketches (binary, MERGEABLE) — the rollup
    pattern that makes distinct counts cheap at 100 TB: sketch each
    day/source/shard once at ingest, answer any cross-partition
    distinct query later by unioning sketches (``hll_union_agg``)
    without rescanning data. Returns (partition, sketch, estimate)."""
    return (df.groupBy(F.col(part_col).alias("partition"))
            .agg(F.expr(f"hll_sketch_agg(`{value_col}`, {lg_k})")
                 .alias("sketch"))
            .withColumn("estimate",
                        F.expr("hll_sketch_estimate(sketch)")))


def hll_merge_estimate(sketches: DataFrame,
                       sketch_col: str = "sketch") -> DataFrame:
    """Union pre-built HLL sketches into one global distinct estimate —
    the query-time half of the rollup pattern (no data rescan)."""
    return sketches.agg(
        F.expr(f"hll_sketch_estimate(hll_union_agg(`{sketch_col}`))")
        .alias("merged_distinct"))


def approx_heavy_hitters(df: DataFrame, column: str, k: int = 10,
                         max_items: int = 10_000) -> DataFrame:
    """Approximate top-k frequent items (``approx_top_k`` sketch) — the
    interactive tier beside the exact ``part_heavy_hitters`` skew
    report: one pass, bounded sketch memory, no full aggregation of
    the key space. Exact-equal on key spaces that fit the sketch."""
    row = (df.agg(F.expr(f"approx_top_k(`{column}`, {k}, {max_items})")
                  .alias("tk")))
    return (row.select(F.explode("tk").alias("e"))
            .select(F.col("e.item").alias("item"),
                    F.col("e.count").cast("long").alias("approx_count")))


# ---------------- count-min sketch frequency tier ----------------

def _cms_bucket(key: Column, seed: int, width: int) -> Column:
    """Seeded bucket for one CMS row: md5-hex15 (cross-engine-replayable,
    the det-Bloom construction) mod ``width``; the seed folds in as a
    ``"seed:"`` prefix so the d hash rows are independent."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(str(int(seed))), key)),
        1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(int(width)))


def cms_build(df: DataFrame, key_col: str, width: int = 1024,
              depth: int = 4) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over a key
    column as a plain relation: ``depth × width`` cells, cell (d, b)
    counting the keys whose d-th hash lands in bucket b.  The
    frequency-estimation member of the sketch tier beside the HLL
    distinct sketch and approx_top_k: size is fixed by (width, depth) —
    never by the key cardinality — and two sketches MERGE by summing
    cells, so the 100 TB shape is per-shard/per-day sketches at ingest
    and query-time merges, no re-scan. One explode to d rows per key +
    one ≤ d·width-group aggregation with map-side partial combine.

    Returns (d, bucket, n).
    """
    cells = F.array(*[
        F.struct(F.lit(i).alias("d"),
                 _cms_bucket(F.col(key_col), i, width).alias("bucket"))
        for i in range(int(depth))
    ])
    return (df.select(F.explode(cells).alias("__c"))
            .groupBy(F.col("__c.d").alias("d"),
                     F.col("__c.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def cms_estimate(cms: DataFrame, probes: DataFrame, key_col: str,
                 width: int = 1024, depth: int = 4) -> DataFrame:
    """Point-frequency estimates from a ``cms_build`` relation:
    estimate(k) = min over the d rows of cell(d, h_d(k)) — never an
    underestimate; over by ≤ ε·N with probability 1−δ for
    width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.  The probe side explodes to its d
    cells and joins the (≤ d·width-row, broadcastable) sketch.

    Returns the probe rows plus ``cms_n``.
    """
    cells = F.array(*[
        F.struct(F.lit(i).alias("d"),
                 _cms_bucket(F.col(key_col), i, width).alias("bucket"))
        for i in range(int(depth))
    ])
    probed = (probes.select("*", F.explode(cells).alias("__c"))
              .select("*", F.col("__c.d").alias("d"),
                      F.col("__c.bucket").alias("bucket"))
              .drop("__c"))
    return (probed.join(F.broadcast(cms), ["d", "bucket"], "left")
            .groupBy(*probes.columns)
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0).cast("long")))
                 .alias("cms_n")))


# ---------------- mergeable quantile rollup (histogram sketch tier) ----------------

def quantile_hist_sketch(df: DataFrame, part_col: str, value_col: str,
                         lo: float, hi: float,
                         bins: int = 1024) -> DataFrame:
    """Per-partition mergeable equi-width histogram sketch — the
    QUANTILE analogue of ``hll_partitioned_sketches``: sketch each
    day/source/shard once at ingest as ``(partition, bin, n)`` rows,
    answer any cross-partition quantile later by summing bins
    (``quantile_rollup``) without rescanning data.  The 100 TB shape
    for percentile surfaces: the exact ``percentile`` is a global sort
    per column, `approx_percentile`'s KLL state is engine-opaque —
    fixed-width integer histograms are mergeable by construction AND
    every derived estimate is plain integer/IEEE arithmetic, so the
    whole tier value-hashes cross-engine (no band flag needed).

    ``lo``/``hi`` are the binning domain (ingest metadata — min/max
    from the catalog's numeric-range scan, S4).  Values at ``hi`` clamp
    into the last bin; estimate error is ≤ one bin width
    ((hi−lo)/bins), the classic equi-width trade documented at the
    call site.  NULLs are excluded (consistent with ``percentile``).
    """
    x = F.col(value_col).cast("double")
    width_frac = (x - F.lit(float(lo))) / (F.lit(float(hi)) - F.lit(float(lo)))
    raw_bin = F.floor(width_frac * F.lit(int(bins))).cast("int")
    bin_ = F.least(F.lit(int(bins) - 1), F.greatest(F.lit(0), raw_bin))
    if float(hi) == float(lo):
        bin_ = F.lit(0)
    return (df.where(x.isNotNull())
            .groupBy(F.col(part_col).alias("partition"),
                     bin_.alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def quantile_rollup(sketches: DataFrame, lo: float, hi: float,
                    bins: int, quantiles: list[float]) -> DataFrame:
    """Merge per-partition histogram sketches and read off quantile
    estimates: one sum-by-bin aggregation (≤ ``bins`` rows survive),
    a cumulative count over that bounded relation (single-partition
    window over ≤ ``bins`` rows — bounded by construction, never by
    data volume), then for each requested quantile the FIRST bin whose
    cumulative count reaches rank q·N, with linear interpolation inside
    the bin:

        estimate = lo + (bin + (q·N − cum_before)/n_bin) · (hi−lo)/bins

    Every term derives from integer counts and the (lo, hi, bins)
    literals, so estimates replay bit-exactly in any SQL engine.
    Returns (quantile, n_total, estimate) sorted by quantile.
    """
    merged = (sketches.groupBy("bin")
              .agg(F.sum("n").cast("long").alias("n")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = (merged
           .withColumn("cb", F.coalesce(F.sum("n").over(w),
                                        F.lit(0).cast("long")))
           .withColumn("n_total", F.sum("n").over(
               Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    qrel = F.explode(F.array(*[F.lit(float(q)) for q in quantiles]))
    picks = (cum.select("bin", "n", "cb", "n_total", qrel.alias("quantile"))
             .withColumn("r",
                         F.col("quantile") * F.col("n_total").cast("double"))
             .where(F.col("cb").cast("double") + F.col("n").cast("double")
                    >= F.col("r"))
             .groupBy("quantile")
             .agg(F.min(F.struct("bin", "n", "cb", "n_total")).alias("__p")))
    bin_, n_, cb_, n_tot = (F.col("__p.bin"), F.col("__p.n"),
                            F.col("__p.cb"), F.col("__p.n_total"))
    frac = F.greatest(
        F.lit(0.0),
        (F.col("quantile") * n_tot.cast("double") - cb_.cast("double"))
        / n_.cast("double"))
    est = (F.lit(float(lo))
           + (bin_.cast("double") + frac)
           * ((F.lit(float(hi)) - F.lit(float(lo))) / F.lit(int(bins))))
    return (picks.select("quantile", n_tot.alias("n_total"),
                         est.alias("estimate"))
            .orderBy("quantile"))


def quantile_rollup_report(df: DataFrame, part_col: str, value_col: str,
                           bins: int = 1024,
                           quantiles: list[float] | None = None
                           ) -> DataFrame:
    """Convenience composition: min/max domain scan (one aggregation —
    in production this comes from ingest metadata, catalog S4) →
    per-partition sketches → merged quantile estimates.  The contract
    surface for the mergeable-quantile tier."""
    quantiles = quantiles or [0.25, 0.5, 0.75, 0.9, 0.99]
    row = df.agg(F.min(F.col(value_col).cast("double")).alias("lo"),
                 F.max(F.col(value_col).cast("double")).alias("hi")).first()
    if row["lo"] is None or row["hi"] is None:
        # Empty or all-NULL value column: no domain to bin over.  Use a
        # degenerate (0, 0) domain — the sketch is empty (NULLs are
        # excluded), so the rollup returns 0 rows with the same schema.
        lo, hi = 0.0, 0.0
    else:
        lo, hi = float(row["lo"]), float(row["hi"])
    sk = quantile_hist_sketch(df, part_col, value_col, lo, hi, bins)
    return quantile_rollup(sk, lo, hi, bins, quantiles)
