"""Data-quality audit + profiling (SURVEY §2.4 A10-A12).

Spark-native re-expression of reference: analysis/statistics.py:263-492
(quality audit, data profile) and pages/profiling.py:279-345
(ydata-profiling handoff). All scans are single-pass aggregations; only
bounded results reach the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import is_numeric_dtype
from ..session import local_frame
from .stats import column_statistics, correlation_matrix, uniform_sample

# Missing-percentage severity tiers (reference: statistics.py:283-299).
SEVERITY_HIGH = 50.0
SEVERITY_MED = 20.0

_MISSING_SCHEMA = "column string, n_missing long, pct_missing double, severity string"
_MIXED_SCHEMA = "column string, n_values long, n_numeric long, mixed boolean"


def missing_report(df: DataFrame) -> DataFrame:
    """Per-column missing count/% with severity (one aggregation pass)."""
    spark = df.sparkSession
    total = df.count()
    if total == 0:
        return local_frame(spark, [], _MISSING_SCHEMA)
    row = df.agg(*[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in df.columns]).first()
    data = []
    for c in df.columns:
        miss = row[c]
        pct = (100.0 * miss) / total
        sev = "high" if pct > SEVERITY_HIGH else ("medium" if pct > SEVERITY_MED else "low")
        data.append((c, miss, pct, sev))
    return local_frame(spark, data, _MISSING_SCHEMA)


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Keys appearing more than once (reference: statistics.py:321-335
    ``duplicated().sum()`` on primary/composite IDs)."""
    return (df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1).orderBy(key))


def duplicate_row_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """One-row DF with the number of fully-duplicated rows. groupBy (not
    countDistinct) so NULL-containing rows compare equal, matching pandas
    ``duplicated()`` (countDistinct silently drops rows with any NULL)."""
    cols = subset or df.columns
    per_group = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
    return per_group.agg(
        F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("n_duplicate_rows"))


def mixed_type_columns(df: DataFrame, string_cols: list[str] | None = None) -> DataFrame:
    """String columns that are partially numeric (cast-null-delta;
    reference: statistics.py:376-399 detects mixed numeric/text)."""
    spark = df.sparkSession
    cols = string_cols or [c for c, t in df.dtypes if t == "string"]
    if not cols:
        return local_frame(spark, [], _MIXED_SCHEMA)
    aggs = []
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"n__{c}"))
        # try_cast: ANSI-mode cast would THROW on the non-numeric values we
        # are here to count (pd.to_numeric errors='coerce' semantics)
        aggs.append(F.count(F.col(c).try_cast("double")).alias(f"num__{c}"))
    row = df.agg(*aggs).first()
    data = []
    for c in cols:
        n, num = row[f"n__{c}"], row[f"num__{c}"]
        data.append((c, n, num, bool(0 < num < n)))
    return local_frame(spark, data, _MIXED_SCHEMA)


def quality_audit(df: DataFrame, key: str | None = None) -> dict:
    """Composite audit (reference: statistics.py:263-406)."""
    out: dict = {"missing": missing_report(df)}
    if key and key in df.columns:
        out["duplicate_keys"] = duplicate_keys(df, key)
    out["duplicate_rows"] = duplicate_row_count(df)
    out["mixed_types"] = mixed_type_columns(df)
    return out


def data_profile(df: DataFrame, sample_n: int | None = None, seed: int = 42,
                 corr_threshold: float = 0.7) -> dict:
    """A11: per-column extended stats + correlations + audit, optionally on
    a uniform sample (reference: statistics.py:409-492)."""
    work = uniform_sample(df, sample_n, seed) if sample_n else df
    numeric = [c for c, t in work.dtypes if is_numeric_dtype(t)]
    profile = {
        "n_rows": work.count(),
        "columns": {c: column_statistics(work, c) for c in numeric},
        "quality": quality_audit(work),
    }
    if len(numeric) >= 2:
        corr = correlation_matrix(work, numeric, "pearson")
        profile["correlations"] = corr
        profile["high_correlations"] = corr.filter(F.abs(F.col("corr")) > corr_threshold)
    return profile


def profiling_sections(df: DataFrame, numeric_cols: list[str] | None = None,
                       sample_n: int = 100, seed: int = 42,
                       corr_threshold: float = 0.7,
                       deterministic: bool = False) -> dict[str, DataFrame]:
    """A12 native fallback: the ydata-profiling headline sections as
    DataFrames — per-column numeric stats, missingness, correlations, and
    a bounded sample (reference pages/profiling.py:279-345 renders the
    same four blocks from the ProfileReport object). No optional
    libraries; every section is a Spark plan.

    ``deterministic=True`` swaps the stats section's mean/std/median for
    the fixed-point / rounded-percentile forms so the section is
    bit-comparable to a single-node SQL oracle (see
    functions/scalars.fixed_point_sum for the overflow envelope)."""
    from ..functions.scalars import fixed_point_sum
    from .aggregations import numeric_summary
    from .stats import high_correlation_pairs

    numeric = numeric_cols or [c for c, t in df.dtypes if is_numeric_dtype(t)]
    if deterministic:
        spark = df.sparkSession
        aggs = [F.count(F.lit(1)).alias("__total")]
        for c in numeric:
            col = F.col(c).cast("double")
            s, ss = fixed_point_sum(col), fixed_point_sum(col * col)
            n = F.count(col)
            aggs += [
                n.alias(f"n__{c}"),
                (s / n).alias(f"mean__{c}"),
                F.round(F.expr(f"percentile(CAST(`{c}` AS DOUBLE), 0.5)"), 4)
                 .alias(f"median__{c}"),
                # sample variance from fixed-point sums: identical operand
                # doubles → identical IEEE arithmetic on any engine
                F.when(n > 1, F.sqrt((ss - (s * s) / n) / (n - F.lit(1))))
                 .alias(f"std__{c}"),
                F.min(col).alias(f"min__{c}"),
                F.max(col).alias(f"max__{c}"),
            ]
        row = df.agg(*aggs).first()
        data = [(c, row[f"n__{c}"], row["__total"] - row[f"n__{c}"],
                 row[f"mean__{c}"], row[f"median__{c}"], row[f"std__{c}"],
                 row[f"min__{c}"], row[f"max__{c}"]) for c in numeric]
        stats_df = local_frame(
            spark, data,
            "column string, n_non_null long, n_missing long, mean double, "
            "median double, std double, min double, max double")
    else:
        stats_df = numeric_summary(df, numeric).drop("pct_missing")
    sections: dict[str, DataFrame] = {
        "stats": stats_df,
        "missing": missing_report(df),
        "sample": uniform_sample(df, sample_n, seed),
    }
    if len(numeric) >= 2:
        corr = correlation_matrix(df, numeric, "pearson")
        sections["correlations"] = corr
        sections["high_correlations"] = high_correlation_pairs(corr, corr_threshold)
    return sections


def profiling_report(df: DataFrame, sample_n: int = 5000, seed: int = 42):
    """A12: ydata-profiling HTML report on a bounded Arrow-collected sample
    (explicitly a driver-side op, reference: pages/profiling.py:279-345).
    Falls back to the native ``profiling_sections`` DataFrames when
    ydata-profiling isn't installed — the report's headline content
    without the library.  The report runs in ydata's minimal mode."""
    try:
        from ydata_profiling import ProfileReport
    except ImportError:
        return profiling_sections(df, sample_n=min(sample_n, 1000), seed=seed)
    pdf = uniform_sample(df, sample_n, seed).toPandas()
    return ProfileReport(pdf, minimal=True)


def benford_audit(df: DataFrame, value_col: str,
                  decimals: int = 2) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    the classic anomaly screen for invented or truncated figures
    (Nigrini 2012), extending the audit surface (A10) with a
    distribution-level check.

    The leading digit is extracted EXACTLY: values quantize to integer
    units at ``decimals`` (round-half-up, the engine-portable fixed
    point used everywhere), and the first character of the INTEGER's
    decimal string is the digit — no log10 on the data path, so no
    cross-engine libm ulp can flip a digit at a power-of-ten boundary.
    Expected Benford mass log10(1+1/d) is quantized to 12 dp (libm
    appears only on the 9 constant digits, where rounding kills ulp
    drift). Returns one row per observed digit 1-9: (digit, n,
    obs_freq, exp_freq, abs_dev) — a dimension-sized result from one
    fact-table aggregation pass.
    """
    scale = float(10 ** decimals)
    from ..functions.scalars import half_up_long
    units = half_up_long(F.abs(F.col(value_col)) * F.lit(scale))
    digits = (df.filter(F.col(value_col).isNotNull())
              .select(units.alias("__u"))
              .filter(F.col("__u") > 0)
              .select(F.substring(F.col("__u").cast("string"), 1, 1)
                      .cast("int").alias("digit")))
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    exp = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                  * F.lit(1e12), 0) / F.lit(1e12)
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n",
                    (F.col("n").cast("double")
                     / F.col("__total").cast("double")).alias("obs_freq"),
                    exp.alias("exp_freq"))
            .withColumn("abs_dev", F.abs(F.col("obs_freq") - F.col("exp_freq"))))
