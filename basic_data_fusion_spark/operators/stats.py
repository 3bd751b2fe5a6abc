"""Statistics layer (SURVEY §2.4 A6/A9-A12 and §2.9 T1-T10).

Two tiers:

- **Fast tier** (this module's default): built-in JVM aggregates
  (``F.corr``, ``F.skewness``, ``percentile``/``percentile_approx``,
  ``ml.stat.Correlation``) — whole-stage-codegen'd, one pass, the path for
  interactive 100 TB use.
- **Deterministic tier** (``deterministic_sql.py``): shared SQL fragments
  evaluated identically by Spark and a single-node oracle, for
  hash-verifiable results (fixed-point sums → bit-identical under any
  partitioning).

scipy-dependent steps (p-values, normality, KDE) follow the reference's own
discipline of bounding the data first (reference: pages/plotting.py:1293
caps Shapiro at n≤5000): aggregate distributed, collect the bounded
result, finish on the driver. scipy is import-gated — statistics that need
it raise a clear error when unavailable.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

try:  # scipy is optional: p-values/normality/KDE only
    from scipy import stats as _scipy_stats
except ImportError:  # pragma: no cover
    _scipy_stats = None


def _require_scipy():
    if _scipy_stats is None:
        raise ImportError("scipy is required for p-values/normality/KDE")


# ---------------- A6: extended column statistics ----------------

def nan_to_null(c):
    """NaN → NULL. pandas-born frames carry NaN where the reference means
    'missing'; Spark aggregates would otherwise count NaN as present and
    poison means."""
    d = c.cast("double")
    return F.nanvl(d, F.lit(None).cast("double"))


def column_statistics(df: DataFrame, column: str) -> dict:
    """Extended stats for one numeric column (reference:
    analysis/statistics.py:105-187): count/nulls/unique, moments, exact
    quartiles, IQR outlier count via 1.5×IQR fences. Two bounded passes
    (stats, then outlier count against computed fences)."""
    c = nan_to_null(F.col(column))
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(c).alias("n"),
        F.countDistinct(c).alias("n_unique"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.skewness(c).alias("skewness"),
        F.kurtosis(c).alias("kurtosis"),
        F.expr(f"percentile(nanvl(CAST(`{column}` AS DOUBLE), CAST(NULL AS DOUBLE)), "
               f"array(0.25, 0.5, 0.75))").alias("q"),
    ).first()
    q25, median, q75 = (row["q"] or [None, None, None])
    out = {
        "column": column, "n": row["n"], "n_missing": row["n_rows"] - row["n"],
        "pct_missing": (100.0 * (row["n_rows"] - row["n"])) / row["n_rows"] if row["n_rows"] else 0.0,
        "n_unique": row["n_unique"], "mean": row["mean"], "std": row["std"],
        "min": row["min"], "max": row["max"], "skewness": row["skewness"],
        "kurtosis": row["kurtosis"], "q25": q25, "median": median, "q75": q75,
        "iqr": (q75 - q25) if q25 is not None and q75 is not None else None,
    }
    if out["iqr"] is not None:
        lo, hi = q25 - 1.5 * out["iqr"], q75 + 1.5 * out["iqr"]
        out["n_outliers"] = df.filter((c < lo) | (c > hi)).count()
        out["outlier_fences"] = (lo, hi)
    else:
        out["n_outliers"], out["outlier_fences"] = 0, None
    return out


# ---------------- A9/T7: correlation matrix ----------------

def correlation_aggregate(df: DataFrame, columns: list[str],
                          method: str = "pearson") -> DataFrame:
    """The distributed heart of :func:`correlation_matrix`: a ONE-ROW
    DataFrame holding every pair's correlation as a ``a||b`` column,
    built lazily — rank transforms, join-backs, and the sufficient-
    statistics aggregation are all in THIS frame's plan.  Exposed
    separately because ``correlation_matrix`` executes it eagerly
    (``.first()`` + ``local_frame``), so pinning the matrix's plan
    pins only a LocalTableScan; structural regressions in the
    distributed midrank pipeline (e.g. a data-sized global window
    reappearing) are only visible in THIS plan — the golden-plan
    fixtures pin it directly."""
    if method not in ("pearson", "spearman"):
        raise ValueError("use kendall_tau_sample for kendall")
    work = df
    if method == "spearman":
        # average-rank transform per column, then Pearson on the ranks.
        # Ranks come from the distributed midrank table (ordering.
        # avg_ranks_multi: value-keyed aggregations + ONE shared
        # distributed prefix sum for every column, so the machinery's
        # flat floor is paid once, not per column) instead of a
        # data-sized global rank window — bitwise the same
        # integers-and-halves (the null group orders first exactly as
        # the window's NULLS FIRST rank did), attached by a null-safe
        # value join; null inputs still rank NULL.  The shared machine
        # stacks values as doubles, exact only for <=32-bit ints and
        # floats: long/decimal columns (distinct values can collide
        # past 2^53, silently merging rank groups) route through
        # per-column avg_ranks instead, whose rank-table key keeps the
        # original exact type — same midranks, one extra prefix pass
        # per unsafe column.
        from .ordering import avg_ranks, avg_ranks_multi, is_double_exact
        safe = [c for c in columns
                if is_double_exact(work.schema[c].dataType)]
        rank_tables = {}
        if len(safe) > 1:
            multi = avg_ranks_multi(work, safe)
            for i, c in enumerate(safe):
                rank_tables[c] = (
                    multi.filter(F.col("__cid") == i)
                    .select("__v", F.col("avg_rank").alias(f"__rk_{c}")))
        for c in columns:
            if c not in rank_tables:
                rank_tables[c] = (
                    avg_ranks(work.select(c), c)
                    .select("__v", F.col("avg_rank").alias(f"__rk_{c}")))
        for c in columns:
            rk = rank_tables[c]
            work = (work.join(rk,
                              work[c].eqNullSafe(rk["__v"]), "left")
                    .drop("__v")
                    .withColumn(f"__rk_{c}",
                                F.when(F.col(c).isNotNull(),
                                       F.col(f"__rk_{c}"))))
        cols = [f"__rk_{c}" for c in columns]
    else:
        cols = columns
    # sufficient-statistics form instead of F.corr: Spark 4 runs ANSI
    # mode, where F.corr's internal division THROWS on a zero-variance
    # column — a constant column is legal input and must yield NULL
    # (pandas semantics), so the division is guarded (try_divide; the
    # variance terms clamp at 0 against catastrophic-cancellation
    # negatives that would surface as NaN through sqrt)
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            x = F.col(a).cast("double")
            y = F.col(b).cast("double")
            both = x.isNotNull() & y.isNotNull()
            gx = F.when(both, x)
            gy = F.when(both, y)
            n = F.count(gx).cast("double")
            sx, sy = F.sum(gx), F.sum(gy)
            sxx, syy = F.sum(gx * gx), F.sum(gy * gy)
            sxy = F.sum(gx * gy)
            vx = F.greatest(F.lit(0.0), n * sxx - sx * sx)
            vy = F.greatest(F.lit(0.0), n * syy - sy * sy)
            aggs.append(F.try_divide(n * sxy - sx * sy,
                                     F.sqrt(vx) * F.sqrt(vy))
                        .alias(f"{a}||{b}"))
    return work.agg(*aggs)


def correlation_matrix(df: DataFrame, columns: list[str], method: str = "pearson") -> DataFrame:
    """Pairwise correlation (reference: analysis/statistics.py:190-260).
    pearson/spearman run distributed (:func:`correlation_aggregate`);
    kendall needs a bounded sample via ``kendall_tau_sample``. Output:
    one row per (col_i, col_j) pair with i < j. Pairwise-complete
    semantics (each pair drops its own nulls), matching pandas
    ``df.corr(min_periods=...)``."""
    spark = df.sparkSession
    row = correlation_aggregate(df, columns, method).first()
    prefix = "__rk_" if method == "spearman" else ""
    data = []
    for i, a in enumerate(columns):
        for j, b in enumerate(columns):
            if i < j:
                key = f"{prefix}{a}||{prefix}{b}"
                data.append((a, b, float(row[key]) if row[key] is not None else None))
    return local_frame(spark, data, "col_a string, col_b string, corr double")


def high_correlation_pairs(corr_df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """|r| > threshold pair extraction (reference: statistics.py:466-482)."""
    return corr_df.filter(F.abs(F.col("corr")) > threshold)


def dist_shift_report(df: DataFrame, group_col: str, value_col: str,
                      group_a, group_b) -> DataFrame:
    """KS distance AND Mann–Whitney U between two groups from ONE
    machine — the combined two-sample distribution-shift report.
    :func:`ks_two_sample` and :func:`mann_whitney_u` each pay the same
    floor separately (one value-keyed aggregation + one distributed
    prefix pass over the value order); their inputs are literally the
    same per-distinct-value counters, so the report shares ONE scan,
    ONE aggregation, and ONE ``ordering.global_running_sum`` machine
    between both statistics (the r8 ``avg_ranks_multi`` argument
    applied to the two-sample tests).

    Same exact-integer contracts as the standalone operators: the KS
    supremum compares integer cross-products; MW midranks are carried
    doubled; both exit to double through the identical fixed IEEE
    expression trees — so the columns are BIT-EQUAL to the standalone
    outputs and the standalone oracles verify them unchanged.

    Returns one row: (n_a, n_b, ks_d, u_a, u_b, z)."""
    from .ordering import global_running_sum

    vals = (df.filter(F.col(group_col).isin([group_a, group_b])
                      & F.col(value_col).isNotNull())
            .select((F.col(group_col) == group_a).cast("int").alias("__is_a"),
                    F.col(value_col).alias("__v")))
    g = (vals.groupBy("__v")
         .agg(F.sum("__is_a").alias("__ga"),
              F.count(F.lit(1)).alias("t")))
    # ONE prefix machine, two counters: ca = running group-a count (the
    # KS ECDF numerator), end = running total count (the MW tie-run end
    # position); cb = end − ca
    runs = global_running_sum(g, ["__v"], ["__ga", "t"], ["ca", "end"])
    totals = g.agg(F.sum("__ga").alias("na"),
                   F.sum(F.col("t") - F.col("__ga")).alias("nb"))
    cb = F.col("end") - F.col("ca")
    agg = (runs.crossJoin(F.broadcast(totals))
           .agg(F.max(F.abs(F.col("ca") * F.col("nb")
                            - cb * F.col("na"))).alias("__ksnum"),
                F.sum(F.col("__ga")
                      * (2 * F.col("end") - F.col("t") + 1)).alias("__2ra"),
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
                .alias("__ties"),
                F.first("na").alias("__na"), F.first("nb").alias("__nb")))
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    n = F.col("__na") + F.col("__nb")
    # try_divide, not `/`: with one group empty na*nb = 0 and ANSI
    # division throws; NULL-on-zero matches the z guard below and the
    # oracle's NULLIF (r9 advisory — kept in lockstep with
    # ks_two_sample so bit-parity between the two holds)
    ks_d = F.try_divide(F.col("__ksnum").cast("double"),
                        F.col("__na") * F.col("__nb"))
    u_a = (F.col("__2ra").cast("double")
           - F.col("__na").cast("double") * (F.col("__na") + 1).cast("double")
           ) / F.lit(2.0)
    u_b = na * nb - F.col("__u_a")
    mu = na * nb / F.lit(2.0)
    var = (na * nb / F.lit(12.0)
           * ((n + 1).cast("double")
              - F.col("__ties").cast("double")
              / (n.cast("double") * (n - 1).cast("double"))))
    z = F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
               F.when(var > F.lit(0.0), (F.col("__u_a") - mu) / F.sqrt(var)))
    return (agg.withColumn("__u_a", u_a)
            .select(F.col("__na").cast("long").alias("n_a"),
                    F.col("__nb").cast("long").alias("n_b"),
                    ks_d.alias("ks_d"),
                    F.col("__u_a").alias("u_a"),
                    u_b.alias("u_b"),
                    z.alias("z")))


def kendall_tau_grouped(df: DataFrame, group_col: str, col_a: str,
                        col_b: str, id_col: str) -> DataFrame:
    """EXACT Kendall tau-b per group, computed distributed as a pair
    count — the hash-checkable tier of T7's kendall surface (reference:
    analysis/statistics.py runs scipy on collected frames; this keeps
    the same statistic in-engine).  Per group g:

        tau_b = (C − D) / (sqrt(n0 − n1) · sqrt(n0 − n2))

    over the group's unordered row pairs (``id_col`` must be a unique
    numeric id; the ``<`` on it counts each pair once): C/D = pairs
    strictly concordant/discordant in (col_a, col_b); n0 = all pairs;
    n1/n2 = pairs tied in col_a / col_b.  The pairwise tie counts equal
    the classic Σt(t−1)/2 run form.  Every count accumulates as an
    exact BIGINT (the pair classifier is pure comparisons — no float
    arithmetic enters before the single final fixed expression tree),
    so the statistic is bit-identical on any engine/partitioning and a
    DuckDB oracle replays it verbatim.  Zero denominators (a group
    where one variable is constant, or <2 rows) yield NULL through
    nested lazy guards (ANSI mode).

    Scale shape: the self-join is GROUP-KEYED — only (group, a, b, id)
    tuples shuffle, partitioned by group, so the quadratic blowup is
    per-cohort, never corpus-wide.  This is the exact tier for bounded
    cohorts (|g| ≲ 10⁵ → ≤5·10⁹ comparisons spread over the cluster);
    corpus-scale columns use ``kendall_tau_sample`` (the reference's
    own bounded-sample semantics, ≤5000 rows).  Callers bound |g| the
    same way the acceptance gates do (a deterministic slice the oracle
    replays).  Returns one row per group:
    (group_col, n_pairs, concordant, discordant, tau_b)."""
    a, b = F.col("__xa"), F.col("__ya")
    a2, b2 = F.col("__xb"), F.col("__yb")
    d = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
         .select(group_col, F.col(col_a).alias("__x"),
                 F.col(col_b).alias("__y"), F.col(id_col).alias("__i")))
    lhs = d.select(group_col, F.col("__x").alias("__xa"),
                   F.col("__y").alias("__ya"), F.col("__i").alias("__ia"))
    rhs = d.select(group_col, F.col("__x").alias("__xb"),
                   F.col("__y").alias("__yb"), F.col("__i").alias("__ib"))
    pairs = (lhs.join(rhs, group_col)
             .filter(F.col("__ia") < F.col("__ib")))
    conc = (((a < a2) & (b < b2)) | ((a > a2) & (b > b2))).cast("long")
    disc = (((a < a2) & (b > b2)) | ((a > a2) & (b < b2))).cast("long")
    tie_a = (a == a2).cast("long")
    tie_b = (b == b2).cast("long")
    agg = (pairs.groupBy(group_col)
           .agg(F.count(F.lit(1)).alias("n_pairs"),
                F.sum(conc).alias("concordant"),
                F.sum(disc).alias("discordant"),
                F.sum(tie_a).alias("__n1"),
                F.sum(tie_b).alias("__n2")))
    da = (F.col("n_pairs") - F.col("__n1")).cast("double")
    db = (F.col("n_pairs") - F.col("__n2")).cast("double")
    tau = F.when((F.col("n_pairs") > F.col("__n1"))
                 & (F.col("n_pairs") > F.col("__n2")),
                 (F.col("concordant") - F.col("discordant")).cast("double")
                 / (F.sqrt(da) * F.sqrt(db)))
    return (agg.select(group_col, "n_pairs", "concordant", "discordant",
                       tau.alias("tau_b"))
            .orderBy(group_col))


def kendall_tau_grouped_lowcard(df: DataFrame, group_col: str, col_a: str,
                                col_b: str) -> DataFrame:
    """EXACT Kendall tau-b per group in O(m·n) instead of the pair
    tier's O(n²), when ``col_a`` has BOUNDED distinct values m (a grade,
    a bucket id, a rating — the contract's l_quantity has ~50): the
    scale tier of T7's kendall surface, bit-identical to
    :func:`kendall_tau_grouped` (same reference semantics:
    analysis/statistics.py's scipy kendalltau, kept in-engine).

    Instead of enumerating pairs, evaluate each a-value's b-CDF at
    every distinct b in the group (fill the m × |distinct b| grid, one
    running sum per (group, a) — a PARTITION-KEYED window, never
    data-sized), then read concordant/discordant counts per cell from
    the strictly-smaller-a prefix vector:

        C = Σ_cells c(a₀,b₀) · Σ_{v<a₀} #{a=v, b<b₀}
        D = Σ_cells c(a₀,b₀) · Σ_{v<a₀} #{a=v, b>b₀}

    (each cross-a pair counted once from its larger-a side; same-a and
    same-b pairs land in the tie terms n1/n2, computed from the
    marginal counts as Σt(t−1)/2 with exact integer DIV).  Every count
    is BIGINT and tau-b exits through the SAME final IEEE expression
    tree as the pair tier, so the two agree bitwise on any engine or
    partitioning — the property the parity test pins.  No unique id
    column is needed (the pair tier needs one only to enumerate).

    Scale shape: grid and prefix work are O(m·n) shuffled on
    (group, a) / (group, b) keys; the per-cell prefix sum is an
    m-element JVM array fold (no Python).  At 10× data the sf1
    spot-check reads flat where the pair tier read ~13×
    (SCALE.md r9).  Returns one row per group with ≥1 pair:
    (group_col, n_pairs, concordant, discordant, tau_b)."""
    from ..caching import cache_pinned

    d = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
         .select(group_col, F.col(col_a).alias("__a"),
                 F.col(col_b).alias("__b")))
    # cells feeds seven consumers (grid fill, the C/D join, three
    # marginal tie terms, and both value-domain projections); physical
    # planning does NOT reuse the identical subtree (verified: 7
    # FileScans, 0 ReusedExchange in the final AQE plan), so unpinned
    # the SOURCE would scan seven times — the pin trades ~0.1-0.5 s of
    # cache materialization at local scales for one fact-table read at
    # any scale (cells itself is distinct-pairs-sized, MEMORY_AND_DISK)
    cells = cache_pinned(d.groupBy(group_col, "__a", "__b")
                         .agg(F.count(F.lit(1)).alias("__c")))
    avals = cells.select(group_col, "__a").distinct()
    bvals = cells.select(group_col, "__b").distinct()
    grid = (bvals.join(avals, group_col)
            .join(cells, [group_col, "__a", "__b"], "left")
            .withColumn("__c", F.coalesce(F.col("__c"),
                                          F.lit(0).cast("long"))))
    # per-(group, a) totals: groups×m rows — broadcast-joined into the
    # grid rather than paying a second full-partition window pass over
    # the m·n grid (the same relation also feeds the n1 tie term below)
    per_a = (cells.groupBy(group_col, "__a")
             .agg(F.sum("__c").alias("__ta")))
    w = Window.partitionBy(group_col, "__a").orderBy("__b")
    grid = (grid.join(F.broadcast(per_a), [group_col, "__a"])
            .withColumn("__le", F.sum("__c").over(w))
            .withColumn("__lt", F.col("__le") - F.col("__c"))
            .withColumn("__gt", F.col("__ta") - F.col("__le")))
    # strictly-smaller-a prefix vector as a WINDOW prefix sum over the
    # grid (r14 opt, guide §4 "prefer built-ins"): Σ_{v<a₀} lt/gt is an
    # exclusive running sum per (group, b) ordered by a — the former
    # collect_list + per-cell filter/aggregate HOF form shuffled the
    # same (group, b) keys but then built an m-element struct array per
    # grid column and re-folded it with INTERPRETED lambdas once per
    # non-empty cell (CodegenFallback, no subexpression elimination);
    # the window is whole-stage-codegen'd and emits the identical exact
    # BIGINT prefixes.  Non-empty grid rows ARE the cells relation
    # (__c > 0 marks them), so the cells join disappears too.
    w_pre = (Window.partitionBy(group_col, "__b").orderBy("__a")
             .rowsBetween(Window.unboundedPreceding, -1))
    zero = F.lit(0).cast("long")
    cd = (grid
          .withColumn("__Cc", F.coalesce(F.sum("__lt").over(w_pre), zero))
          .withColumn("__Dc", F.coalesce(F.sum("__gt").over(w_pre), zero))
          .filter(F.col("__c") > 0))
    counts = (cd.groupBy(group_col)
              .agg(F.sum(F.col("__c") * F.col("__Cc")).alias("concordant"),
                   F.sum(F.col("__c") * F.col("__Dc")).alias("discordant")))
    tie = lambda t: F.sum(F.expr(f"{t} * ({t} - 1) DIV 2"))
    marg_a = per_a.groupBy(group_col).agg(tie("__ta").alias("__n1"))
    marg_b = (cells.groupBy(group_col, "__b").agg(F.sum("__c").alias("__t"))
              .groupBy(group_col).agg(tie("__t").alias("__n2")))
    tot = (cells.groupBy(group_col).agg(F.sum("__c").alias("__n"))
           .select(group_col, F.expr("__n * (__n - 1) DIV 2")
                   .alias("n_pairs")))
    agg = (tot.join(counts, group_col).join(marg_a, group_col)
           .join(marg_b, group_col).filter(F.col("n_pairs") >= 1))
    da = (F.col("n_pairs") - F.col("__n1")).cast("double")
    db = (F.col("n_pairs") - F.col("__n2")).cast("double")
    tau = F.when((F.col("n_pairs") > F.col("__n1"))
                 & (F.col("n_pairs") > F.col("__n2")),
                 (F.col("concordant") - F.col("discordant")).cast("double")
                 / (F.sqrt(da) * F.sqrt(db)))
    return (agg.select(group_col, "n_pairs", "concordant", "discordant",
                       tau.alias("tau_b"))
            .orderBy(group_col))


def kendall_tau_sample(df: DataFrame, col_a: str, col_b: str, max_n: int = 5000,
                       seed: int = 42) -> float:
    """Kendall's tau-b on a bounded sample (no distributed built-in; the
    reference itself runs scipy on collected frames). With scipy present
    the scipy implementation is used (O(n log n)); otherwise a pure-numpy
    tau-b (concordant/discordant pair counts with tie correction, O(n²)
    on the ≤``max_n`` sample) gives the identical statistic — the scipy
    gate is an optimization here, not a capability boundary."""
    pdf = uniform_sample(df.select(col_a, col_b).na.drop(), max_n,
                         seed).toArrow().to_pandas()
    if _scipy_stats is not None:
        tau, _ = _scipy_stats.kendalltau(pdf[col_a], pdf[col_b])
        return float(tau)
    import numpy as np

    a = pdf[col_a].to_numpy(dtype=float)
    b = pdf[col_b].to_numpy(dtype=float)
    n = len(a)
    if n < 2:
        return float("nan")
    # Knight's O(n log n) tau-b (the scipy.kendalltau structure): lexsort
    # by (a, b), count discordant pairs as inversions of b, tie-correct.
    # Peak memory is a handful of length-n arrays — the n×n sign-matrix
    # approach peaked near 1 GB at max_n=5000.
    perm = np.lexsort((b, a))
    a, b = a[perm], b[perm]

    def _tie_term(groups: np.ndarray) -> int:
        cnt = np.diff(np.nonzero(np.r_[True, groups, True])[0])
        return int((cnt * (cnt - 1) // 2).sum())

    tot = n * (n - 1) // 2
    n_a = _tie_term(a[1:] != a[:-1])
    n_ab = _tie_term((a[1:] != a[:-1]) | (b[1:] != b[:-1]))
    bs = np.sort(b)
    n_b = _tie_term(bs[1:] != bs[:-1])
    # discordant pairs: i<j (lexsorted) with b[i] > b[j] — Fenwick-tree
    # inversion count over rank-compressed b (within-equal-a runs are
    # b-ascending, so they contribute no inversions, as required)
    ranks = np.searchsorted(bs[np.r_[True, bs[1:] != bs[:-1]]], b) + 1
    m = int(ranks.max())
    tree = np.zeros(m + 1, dtype=np.int64)
    dis = 0
    for i, r in enumerate(ranks):
        k = int(r)
        le = 0                      # seen values with rank <= r
        while k > 0:
            le += int(tree[k])
            k -= k & (-k)
        dis += i - le               # seen values strictly greater
        k = int(r)
        while k <= m:
            tree[k] += 1
            k += k & (-k)
    con_minus_dis = tot - n_a - n_b + n_ab - 2 * dis
    denom = math.sqrt(float(tot - n_a)) * math.sqrt(float(tot - n_b))
    return con_minus_dis / denom if denom else float("nan")


# ---------------- T1: OLS simple regression ----------------

@dataclass
class RegressionResult:
    slope: float
    intercept: float
    r: float
    r_squared: float
    std_err: float
    p_value: float | None
    n: int


def linear_regression(df: DataFrame, x: str, y: str) -> RegressionResult:
    """Closed-form OLS via distributed aggregates (reference:
    pages/plotting.py:1195-1247 uses scipy.linregress on collected data;
    the sufficient statistics are exact one-pass aggregates, so only the
    p-value needs scipy, computed from r and n on the driver)."""
    xc, yc = nan_to_null(F.col(x)), nan_to_null(F.col(y))
    pair = df.select(xc.alias("x"), yc.alias("y")).na.drop()
    row = pair.agg(
        F.count(F.lit(1)).alias("n"), F.avg("x").alias("mx"), F.avg("y").alias("my"),
        F.covar_samp("x", "y").alias("sxy"), F.var_samp("x").alias("sxx"),
        F.var_samp("y").alias("syy"), F.corr("x", "y").alias("r"),
    ).first()
    n, sxx, syy, sxy, r = row["n"], row["sxx"], row["syy"], row["sxy"], row["r"]
    slope = sxy / sxx if sxx else float("nan")
    intercept = row["my"] - slope * row["mx"]
    r2 = r * r if r is not None else float("nan")
    std_err = float("nan")
    if n > 2 and sxx:
        resid_var = (syy - slope * sxy) * (n - 1) / (n - 2)
        std_err = math.sqrt(max(resid_var, 0.0) / ((n - 1) * sxx))
    p = None
    if _scipy_stats is not None and n > 2 and std_err and not math.isnan(std_err) and std_err > 0:
        t = slope / std_err
        p = float(2.0 * _scipy_stats.t.sf(abs(t), n - 2))
    return RegressionResult(slope, intercept, r, r2, std_err, p, n)


# ---------------- T2: distribution statistics ----------------

def distribution_stats(df: DataFrame, column: str) -> dict:
    """Mean/median/std/var (ddof=1)/skew/kurtosis(excess)/min/max/range/
    quartiles/IQR (reference: pages/plotting.py:1257-1346)."""
    s = column_statistics(df, column)
    s["variance"] = s["std"] ** 2 if s["std"] is not None else None
    s["range"] = (s["max"] - s["min"]) if s["max"] is not None else None
    return s


# ---------------- T3: normality tests (bounded sample) ----------------

def _skewtest_z(vals) -> float:
    """D'Agostino skewness z (the published transformation scipy's
    ``skewtest`` implements; n ≥ 8)."""
    import numpy as np

    x = np.asarray(vals, dtype=float)
    n = len(x)
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m3 = ((x - m) ** 3).mean()
    g1 = m3 / m2 ** 1.5 if m2 > 0 else 0.0
    y = g1 * math.sqrt(((n + 1) * (n + 3)) / (6.0 * (n - 2)))
    beta2 = (3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
             / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9)))
    w2 = -1.0 + math.sqrt(2.0 * (beta2 - 1.0))
    delta = 1.0 / math.sqrt(0.5 * math.log(w2))
    alpha = math.sqrt(2.0 / (w2 - 1.0))
    if y == 0:
        y = 1.0
    return delta * math.log(y / alpha + math.sqrt((y / alpha) ** 2 + 1.0))


def _kurtosistest_z(vals) -> float:
    """Anscombe-Glynn kurtosis z (scipy's ``kurtosistest`` formulas;
    n ≥ 5)."""
    import numpy as np

    x = np.asarray(vals, dtype=float)
    n = len(x)
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m4 = ((x - m) ** 4).mean()
    b2 = m4 / (m2 * m2) if m2 > 0 else 3.0
    e = 3.0 * (n - 1) / (n + 1)
    var = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    xx = (b2 - e) / math.sqrt(var)
    sqrtbeta1 = (6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
                 * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))))
    a = 6.0 + 8.0 / sqrtbeta1 * (2.0 / sqrtbeta1
                                 + math.sqrt(1.0 + 4.0 / sqrtbeta1 ** 2))
    term1 = 1.0 - 2.0 / (9.0 * a)
    denom = 1.0 + xx * math.sqrt(2.0 / (a - 4.0))
    if denom == 0:
        return float("nan")
    term2 = math.copysign(abs((1.0 - 2.0 / a) / abs(denom)) ** (1.0 / 3.0), denom)
    return (term1 - term2) / math.sqrt(2.0 / (9.0 * a))


def dagostino_k2(vals) -> tuple[float, float]:
    """D'Agostino-Pearson omnibus K² and its p-value (χ², 2 dof — whose
    survival function is exactly exp(-K²/2), so NO scipy is needed).
    Identical formulas to ``scipy.stats.normaltest``. Requires n ≥ 8
    (the kurtosis z-transform is undefined below) — smaller samples
    return (nan, nan) instead of a division/domain error."""
    if len(vals) < 8:
        return (float("nan"), float("nan"))
    zs, zk = _skewtest_z(vals), _kurtosistest_z(vals)
    k2 = zs * zs + zk * zk
    return k2, math.exp(-k2 / 2.0)


def normality_tests(df: DataFrame, column: str, max_n: int = 5000, seed: int = 42) -> dict:
    """Normality battery on a bounded sample (reference:
    pages/plotting.py:1291-1316). The D'Agostino-Pearson K² omnibus runs
    ALWAYS (pure closed-form, n ≥ 8); Shapiro-Wilk (3≤n≤5000) and
    Anderson-Darling (n≥8) are scipy extras — present when the library
    is, omitted (not an error) when it isn't."""
    vals = _sample_values(df, column, max_n, seed)
    out: dict = {"n": len(vals)}
    if len(vals) >= 8:
        k2, p = dagostino_k2(vals)
        out["dagostino"] = {"statistic": k2, "p_value": p}
    if _scipy_stats is not None:
        if 3 <= len(vals) <= 5000:
            w, p = _scipy_stats.shapiro(vals)
            out["shapiro"] = {"statistic": float(w), "p_value": float(p)}
        if len(vals) >= 8:
            ad = _scipy_stats.anderson(vals)
            crit = dict(zip(ad.significance_level.tolist(), ad.critical_values.tolist()))
            out["anderson"] = {"statistic": float(ad.statistic),
                               "critical_5pct": crit.get(5.0)}
    return out


# ---------------- T4: KDE curve ----------------

def kde_curve(df: DataFrame, column: str, bandwidth: str | float = "scott",
              factor: float = 1.0, grid_points: int = 300,
              max_n: int = 50_000, seed: int = 42) -> tuple[list, list]:
    """Gaussian KDE over a bounded sample, 300-pt grid (reference:
    pages/plotting.py:1119-1150)."""
    _require_scipy()
    import numpy as np

    vals = _sample_values(df, column, max_n, seed)
    if len(vals) < 2:
        return [], []
    bw = bandwidth if isinstance(bandwidth, str) else bandwidth
    kde = _scipy_stats.gaussian_kde(vals, bw_method=bw)
    kde.set_bandwidth(kde.factor * factor)
    grid = np.linspace(vals.min(), vals.max(), grid_points)
    return grid.tolist(), kde(grid).tolist()


# ---------------- T5/T6: ANOVA + pairwise t-tests ----------------

def one_way_anova(df: DataFrame, group_col: str, value_col: str) -> dict:
    """Full ANOVA table from per-group aggregates (reference:
    pages/plotting.py:1356-1429): F from closed-form SS decomposition,
    p via scipy on the driver. One distributed pass."""
    v = nan_to_null(F.col(value_col))
    groups = (df.where(v.isNotNull() & F.col(group_col).isNotNull())
              .groupBy(group_col)
              .agg(F.count(v).alias("n"), F.avg(v).alias("mean"),
                   F.stddev_samp(v).alias("std"), F.min(v).alias("min"),
                   F.max(v).alias("max"),
                   F.sum(v).alias("sum"), F.sum(v * v).alias("sum2"))
              .collect())
    k = len(groups)
    n_total = sum(g["n"] for g in groups)
    if k < 2 or n_total <= k:
        return {"error": "need ≥2 groups and n > k"}
    grand_sum = sum(g["sum"] for g in groups)
    grand_mean = grand_sum / n_total
    ss_between = sum(g["n"] * (g["mean"] - grand_mean) ** 2 for g in groups)
    ss_total = sum(g["sum2"] for g in groups) - n_total * grand_mean ** 2
    ss_within = ss_total - ss_between
    df_between, df_within = k - 1, n_total - k
    ms_between, ms_within = ss_between / df_between, ss_within / df_within
    f_stat = ms_between / ms_within if ms_within > 0 else float("inf")
    p = None
    if _scipy_stats is not None:
        p = float(_scipy_stats.f.sf(f_stat, df_between, df_within))
    return {
        "f_statistic": f_stat, "p_value": p,
        "df_between": df_between, "df_within": df_within, "df_total": n_total - 1,
        "ss_between": ss_between, "ss_within": ss_within, "ss_total": ss_total,
        "ms_between": ms_between, "ms_within": ms_within,
        "eta_squared": ss_between / ss_total if ss_total > 0 else None,
        "groups": {g[group_col]: {"n": g["n"], "mean": g["mean"], "std": g["std"],
                                  "min": g["min"], "max": g["max"]} for g in groups},
    }


def pairwise_t_tests(df: DataFrame, group_col: str, value_col: str,
                     bonferroni: bool = True) -> list[dict]:
    """Independent two-sample t-tests per group pair with pooled std,
    Cohen's d, Bonferroni correction (reference: pages/plotting.py:1431-1466).
    Group sufficient statistics come from one distributed pass."""
    v = nan_to_null(F.col(value_col))
    groups = (df.where(v.isNotNull() & F.col(group_col).isNotNull())
              .groupBy(group_col)
              .agg(F.count(v).alias("n"), F.avg(v).alias("mean"),
                   F.var_samp(v).alias("var"))
              .orderBy(group_col).collect())
    names = [g[group_col] for g in groups]
    k = len(names) * (len(names) - 1) // 2
    out = []
    for i in range(len(groups)):
        for j in range(i + 1, len(groups)):
            a, b = groups[i], groups[j]
            n1, n2 = a["n"], b["n"]
            if n1 < 2 or n2 < 2:
                continue
            sp2 = ((n1 - 1) * a["var"] + (n2 - 1) * b["var"]) / (n1 + n2 - 2)
            se = math.sqrt(sp2 * (1 / n1 + 1 / n2)) if sp2 > 0 else float("nan")
            t = (a["mean"] - b["mean"]) / se if se and not math.isnan(se) else float("nan")
            d = (a["mean"] - b["mean"]) / math.sqrt(sp2) if sp2 > 0 else float("nan")
            p = None
            if _scipy_stats is not None and not math.isnan(t):
                p = float(2.0 * _scipy_stats.t.sf(abs(t), n1 + n2 - 2))
                if bonferroni:
                    p = min(p * k, 1.0)
            out.append({"group_a": names[i], "group_b": names[j], "t": t,
                        "p_value": p, "cohens_d": d,
                        "mean_diff": a["mean"] - b["mean"], "n_a": n1, "n_b": n2})
    return out


# ---------------- T8/T9: histograms ----------------

def histogram(df: DataFrame, column: str, bins: int = 10,
              lo: float | None = None, hi: float | None = None) -> DataFrame:
    """Fixed-width binning as a groupBy (JVM-side; reference delegates to
    plotly). Returns (bin, bin_start, bin_end, n); last bin closed."""
    c = F.col(column).cast("double")
    if lo is None or hi is None:
        r = df.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
        lo = lo if lo is not None else r["lo"]
        hi = hi if hi is not None else r["hi"]
    if lo is None or hi is None:  # empty / all-null input: empty histogram
        return local_frame(df.sparkSession, [],
                           "bin int, bin_start double, bin_end double, n long")
    width = (hi - lo) / bins if hi > lo else 1.0
    bin_expr = F.least(F.floor((c - F.lit(lo)) / F.lit(width)).cast("int"),
                       F.lit(bins - 1))
    return (df.where(c.isNotNull() & c.between(lo, hi))
            .groupBy(bin_expr.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select("bin",
                    (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_start"),
                    (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_end"),
                    "n")
            .orderBy("bin"))


def density_heatmap_2d(df: DataFrame, col_x: str, col_y: str,
                       bins_x: int = 20, bins_y: int = 20) -> DataFrame:
    """2D binned counts (reference: pages/plotting.py:934-949)."""
    r = df.agg(F.min(F.col(col_x).cast("double")).alias("xlo"),
               F.max(F.col(col_x).cast("double")).alias("xhi"),
               F.min(F.col(col_y).cast("double")).alias("ylo"),
               F.max(F.col(col_y).cast("double")).alias("yhi")).first()
    wx = (r["xhi"] - r["xlo"]) / bins_x if r["xhi"] > r["xlo"] else 1.0
    wy = (r["yhi"] - r["ylo"]) / bins_y if r["yhi"] > r["ylo"] else 1.0
    bx = F.least(F.floor((F.col(col_x).cast("double") - r["xlo"]) / wx).cast("int"), F.lit(bins_x - 1))
    by = F.least(F.floor((F.col(col_y).cast("double") - r["ylo"]) / wy).cast("int"), F.lit(bins_y - 1))
    return (df.na.drop(subset=[col_x, col_y])
            .groupBy(bx.alias("bin_x"), by.alias("bin_y"))
            .agg(F.count(F.lit(1)).alias("n")).orderBy("bin_x", "bin_y"))


# ---------------- T10: uniform sampling ----------------

def uniform_sample(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Seeded uniform sample of exactly min(n, |df|) rows (reference:
    statistics.py:430-434 uses pandas df.sample(n, random_state=42)).
    Count-free and fully lazy: seeded-rand key + global top-n, which
    Spark executes as TakeOrderedAndProject (per-partition top-n, n-row
    driver merge — no standalone count job, no full sort). The previous
    fraction-based form ran an eager df.count() per profiling sample."""
    return df.orderBy(F.rand(seed)).limit(n)


def _sample_values(df: DataFrame, column: str, max_n: int, seed: int):
    """``column`` as doubles, NULL/NaN dropped, ``uniform_sample``'d to at
    most ``max_n`` values and collected through Arrow as a numpy array."""
    sample = uniform_sample(df.select(F.col(column).cast("double").alias("v"))
                            .na.drop(), max_n, seed)
    return sample.toArrow().column(0).to_numpy()


def grouped_normality(df: DataFrame, group_col: str, value_col: str,
                      max_n: int = 5000) -> DataFrame:
    """Per-group scipy normality/descriptives via grouped
    ``applyInPandas`` — the distributed form of ``normality_tests``
    (reference bounds Shapiro at n≤5000, pages/plotting.py:1291-1316; we
    inherit the bound per group).

    This is the §2.12 'grouped scipy' UDF surface: each group's rows
    arrive as ONE Arrow batch in a Python worker, the stats run per group
    in parallel across executors, and only the tiny per-group stat rows
    come back. Groups are whole units — state never crosses groups — so
    the plan is a single shuffle on the group key. Skew note: a giant
    group lands on one worker by construction (the test needs the whole
    sample); the max_n truncation bounds that worker's memory.

    The D'Agostino K² columns are always populated (closed-form, no
    scipy); shapiro/anderson columns are NULL when scipy is absent.
    """
    import pandas as pd

    schema = (f"{group_col} string, n long, mean double, std double, "
              "k2_stat double, k2_p double, "
              "shapiro_w double, shapiro_p double, anderson_stat double")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].dropna().astype(float)
        # deterministic truncation: sort before applying the sample bound
        vals = vals.sort_values().iloc[:max_n]
        row = {group_col: pdf[group_col].iloc[0], "n": len(vals),
               "mean": vals.mean() if len(vals) else None,
               "std": vals.std(ddof=1) if len(vals) > 1 else None,
               "k2_stat": None, "k2_p": None,
               "shapiro_w": None, "shapiro_p": None, "anderson_stat": None}
        if len(vals) >= 8:
            row["k2_stat"], row["k2_p"] = dagostino_k2(vals.to_numpy())
        if _scipy_stats is not None:
            if 3 <= len(vals) <= 5000:
                w, p = _scipy_stats.shapiro(vals)
                row["shapiro_w"], row["shapiro_p"] = float(w), float(p)
            if len(vals) >= 8:
                row["anderson_stat"] = float(_scipy_stats.anderson(vals).statistic)
        return pd.DataFrame([row])

    return (df.select(F.col(group_col).cast("string"), value_col)
            .groupBy(group_col).applyInPandas(per_group, schema))


# ---------------- interactive tier: approximate quantiles ----------------

def approx_quantiles(df: DataFrame, column: str,
                     probabilities: list[float] | None = None,
                     relative_error: float = 0.001) -> list[float]:
    """Greenwald-Khanna approximate quantiles — the interactive tier for
    the A6/T2 percentile surface. The exact `percentile()` used by the
    oracle tier buffers every value into ONE final merge (a global sort
    per column); the GK sketch is a bounded-memory single pass with
    mergeable per-partition state, so it is the only viable form at
    100 TB. `relative_error` bounds rank error: 0.001 on 1e12 rows is
    ±1e9 ranks. Returns the quantile values (driver-side floats)."""
    probs = probabilities or [0.25, 0.5, 0.75]
    return df.approxQuantile(column, list(probs), relative_error)


def grouped_zscore(df: DataFrame, group_col: str, value_col: str,
                   out_col: str = "zscore", decimals: int = 4) -> DataFrame:
    """Per-group standardization: ``z = (x − mean_g) / std_g`` for every
    row, with the group moments computed once and joined back — the
    decorrelated form of a correlated aggregate (same shape as
    relational.below_group_fraction, but producing a derived column
    instead of a filter).

    Plan: one grouped aggregation over the input (|groups| output rows,
    broadcast back under the threshold) + one join — NOT a window over
    the whole table, which would sort every partition by group for no
    benefit when only per-group scalars are needed. Moments use
    fixed-point sums (functions/scalars.fixed_point_sum) so mean/std are
    the identical double on any partitioning/engine; z is rounded to
    ``decimals`` to absorb final-division ulps. Groups with fewer than 2
    rows or zero variance yield NULL z (no division blowup).
    """
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    stats_df = (df.groupBy(group_col).agg(
        fixed_point_sum(F.col(value_col), scale=100).alias("__s"),
        fixed_point_sum(F.col(value_col) * F.col(value_col), scale=100).alias("__s2"),
        F.count(value_col).alias("__n")))
    mean = F.col("__s") / F.col("__n")
    var = (F.col("__s2") - F.col("__n") * mean * mean) / (F.col("__n") - 1)
    std = F.sqrt(var)
    z = F.when(std > 0.0, F.round((F.col(value_col) - mean) / std, decimals))
    return (df.join(stats_df, on=group_col, how="inner")
            .withColumn(out_col, z)
            .drop("__s", "__s2", "__n"))


def ks_two_sample(df: DataFrame, group_col: str, value_col: str,
                  group_a, group_b) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between ``group_a`` and
    ``group_b``'s ``value_col`` distributions — the distribution-shift
    check run between corpus slices / data vintages (extends the
    reference's normality/ANOVA surface, analysis/demographics.py, with
    a nonparametric two-sample test).

    D = sup_x |F_a(x) − F_b(x)| computed EXACTLY: one window pass over
    the union ordered by value accumulates per-group counts; the supremum
    compares integer cross-products |c_a·n_b − c_b·n_a| so no float
    enters until the single final division — bit-identical on any
    engine/partitioning. Ties are handled by evaluating the ECDFs only
    at complete value groups (max over per-value last positions).

    Returns one row: (n_a, n_b, ks_d). Plan: the merged ECDF reduces to
    per-distinct-value counts (one value-keyed aggregation — map-side
    combine absorbs heavy ties) + ONE distributed prefix-sum pass over
    the value order (ordering.global_running_sum, both group counters
    in the same pass), so no data-sized relation crosses a single task
    — the 100 TB shape; values identical to the former global-window
    formulation.
    """
    from .ordering import global_running_sum

    vals = (df.filter(F.col(group_col).isin([group_a, group_b])
                      & F.col(value_col).isNotNull())
            .select((F.col(group_col) == group_a).cast("int").alias("__is_a"),
                    F.col(value_col).alias("__v")))
    g = (vals.groupBy("__v")
         .agg(F.sum("__is_a").alias("__ga"),
              F.sum(1 - F.col("__is_a")).alias("__gb")))
    per_val = global_running_sum(g, ["__v"], ["__ga", "__gb"],
                                 ["ca", "cb"])
    totals = vals.agg(F.sum("__is_a").alias("na"),
                      F.sum(1 - F.col("__is_a")).alias("nb"))
    return (per_val.crossJoin(F.broadcast(totals))
            .agg(F.max(F.abs(F.col("ca") * F.col("nb")
                             - F.col("cb") * F.col("na"))).alias("__num"),
                 F.first("na").alias("n_a"), F.first("nb").alias("n_b"))
            .select(F.col("n_a").cast("long"), F.col("n_b").cast("long"),
                    # try_divide: one empty group → n_a*n_b = 0 → NULL
                    # instead of an ANSI divide error (lockstep with
                    # dist_shift_report's ks_d; oracle uses NULLIF)
                    F.try_divide(F.col("__num").cast("double"),
                                 F.col("n_a") * F.col("n_b"))
                    .alias("ks_d")))


def mann_whitney_u(df: DataFrame, group_col: str, value_col: str,
                   group_a, group_b) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test between
    ``group_a`` and ``group_b`` — the nonparametric location-shift
    companion to :func:`ks_two_sample` (extends the reference's
    parametric t-test surface, analysis/statistics.py, to
    non-normal metrics).

    Computed EXACTLY in integers until the final z: midranks are
    carried doubled (``2·midrank = start + end`` of each tie run, both
    integers from one cumulative-count window), so the rank-sum and the
    tie-correction term Σ(t³−t) accumulate as exact BIGINTs in any
    partition order. U_a = R_a − n_a(n_a+1)/2 then exits to double
    (halves are exact in binary); the normal-approximation z applies
    the tie-corrected variance n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1)))
    through a fixed expression tree of correctly-rounded IEEE ops —
    bit-identical on any engine. No continuity correction (documented
    contract; oracles replay the same formula).

    Returns one row: (n_a, n_b, u_a, u_b, z). Plan cost: tie runs are
    per-distinct-value aggregates and the run END positions come from
    ONE distributed prefix sum over the value order
    (ordering.global_running_sum) — no data-sized global window, same
    exact integers as the former window formulation.
    """
    from .ordering import global_running_sum

    vals = (df.filter(F.col(group_col).isin([group_a, group_b])
                      & F.col(value_col).isNotNull())
            .select((F.col(group_col) == group_a).cast("int").alias("__is_a"),
                    F.col(value_col).alias("__v")))
    g = (vals.groupBy("__v")
         .agg(F.count(F.lit(1)).alias("t"),
              F.sum("__is_a").alias("t_a")))
    runs = global_running_sum(g, ["__v"], "t", "end")
    # 2·midrank of a tie run = start + end = 2·end − t + 1
    two_r_a = F.sum(F.col("t_a") * (2 * F.col("end") - F.col("t") + 1))
    agg = runs.agg(two_r_a.alias("__2ra"),
                   F.sum("t_a").alias("__na"),
                   F.sum(F.col("t") - F.col("t_a")).alias("__nb"),
                   F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
                   .alias("__ties"))
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    n = F.col("__na") + F.col("__nb")
    u_a = (F.col("__2ra").cast("double")
           - F.col("__na").cast("double") * (F.col("__na") + 1).cast("double")
           ) / F.lit(2.0)
    u_b = na * nb - F.col("__u_a")
    mu = na * nb / F.lit(2.0)
    var = (na * nb / F.lit(12.0)
           * ((n + 1).cast("double")
              - F.col("__ties").cast("double")
              / (n.cast("double") * (n - 1).cast("double"))))
    # nested guards keep every division lazy (Spark 4 runs ANSI mode:
    # a double 0/0 THROWS): n(n−1) needs both groups non-empty, and an
    # all-ties sample has zero variance — z is undefined (NULL) there,
    # exactly as the oracle's nested CASE replays it
    z = F.when((F.col("__na") > 0) & (F.col("__nb") > 0),
               F.when(var > F.lit(0.0), (F.col("__u_a") - mu) / F.sqrt(var)))
    return (agg.withColumn("__u_a", u_a)
            .select(F.col("__na").cast("long").alias("n_a"),
                    F.col("__nb").cast("long").alias("n_b"),
                    F.col("__u_a").alias("u_a"),
                    u_b.alias("u_b"),
                    z.alias("z")))


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns, plus Cramér's V effect size (extends the reference's
    categorical-summary surface, analysis/statistics.py, with the
    standard association test).

    One grouped count produces the contingency cells; row totals,
    column totals and the grand total derive from window sums over the
    cell table (cells = R×C rows — dimension-sized, so the
    single-partition windows cost nothing regardless of fact size: the
    fact table is reduced by the FIRST aggregation). Expected counts
    e_ij = r_i·c_j/n are exact-integer products through one double
    division; the statistic Σ(o−e)²/e accumulates fixed-point so the
    result is bit-identical across engines and partition orders.

    Returns one row: (chi2, dof, n, cramers_v). p-values need the
    regularized incomplete gamma (scipy tier); the deterministic
    contract exposes the statistic + dof exactly like the K² tier
    exposes its z-components.
    """
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cells = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
             .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
             .agg(F.count(F.lit(1)).alias("__o")))
    w_all = Window.partitionBy()
    cells = (cells
             .withColumn("__r", F.sum("__o").over(Window.partitionBy("__a")))
             .withColumn("__c", F.sum("__o").over(Window.partitionBy("__b")))
             .withColumn("__n", F.sum("__o").over(w_all))
             .withColumn("__nr", F.size(F.collect_set("__a").over(w_all)))
             .withColumn("__nc", F.size(F.collect_set("__b").over(w_all))))
    e = (F.col("__r") * F.col("__c")).cast("double") / F.col("__n").cast("double")
    term = (F.col("__o").cast("double") - e) * (F.col("__o").cast("double") - e) / e
    out = cells.agg(
        fixed_point_sum(term, scale=1_000_000).alias("chi2"),
        ((F.first("__nr") - 1) * (F.first("__nc") - 1)).cast("long").alias("dof"),
        F.first("__n").cast("long").alias("n"),
        F.first(F.least(F.col("__nr") - 1, F.col("__nc") - 1)).alias("__k"))
    # a 1×C or R×1 table has dof 0 and no defined effect size — NULL V
    # (lazy guard: ANSI mode would otherwise throw on the /0)
    return out.select(
        "chi2", "dof", "n",
        F.when(F.col("__k") > 0,
               F.sqrt(F.col("chi2")
                      / (F.col("n") * F.col("__k")).cast("double")))
        .alias("cramers_v"))


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns, with the
    marginal entropies and the normalized MI (information-theoretic
    companion to :func:`chi2_independence` — the feature-redundancy /
    leakage screen run over label-ish columns before training).

    Everything derives from ONE fact-table aggregation (the R×C cell
    counts); marginals and the grand total re-aggregate the
    dimension-sized cell table. Each p·ln(p/..) term is quantized to
    12 dp before integer summation (the lm_surprisal pattern), so the
    libm ln appears only inside a rounded term and the totals are
    bit-identical across engines and partition orders.

    Returns one row: (mi, h_a, h_b, nmi, n) in nats; NMI =
    MI/√(H_a·H_b), NULL when either marginal entropy is 0 (a constant
    column carries no information to normalize by).
    """
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cells = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
             .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
             .agg(F.count(F.lit(1)).alias("__o")))
    w_all = Window.partitionBy()
    dec = (cells
           .withColumn("__r", F.sum("__o").over(Window.partitionBy("__a")))
           .withColumn("__c", F.sum("__o").over(Window.partitionBy("__b")))
           .withColumn("__n", F.sum("__o").over(w_all)))
    o, r, c, n = (F.col(x).cast("double") for x in
                  ("__o", "__r", "__c", "__n"))
    mi_term = (o / n) * F.log((o * n) / (r * c))
    mi = dec.agg(
        fixed_point_sum(mi_term, scale=1_000_000_000_000).alias("mi"),
        F.first("__n").cast("long").alias("n"))
    ent = lambda m: -fixed_point_sum(
        (F.col("__m").cast("double") / F.col("__nn").cast("double"))
        * F.log(F.col("__m").cast("double") / F.col("__nn").cast("double")),
        scale=1_000_000_000_000)
    rows_m = (cells.groupBy("__a").agg(F.sum("__o").alias("__m"))
              .withColumn("__nn", F.sum("__m").over(w_all))
              .agg(ent("__m").alias("h_a")))
    cols_m = (cells.groupBy("__b").agg(F.sum("__o").alias("__m"))
              .withColumn("__nn", F.sum("__m").over(w_all))
              .agg(ent("__m").alias("h_b")))
    out = (mi.crossJoin(F.broadcast(rows_m))
           .crossJoin(F.broadcast(cols_m)))
    return out.select(
        "mi", "h_a", "h_b",
        F.when(F.col("h_a") * F.col("h_b") > F.lit(0.0),
               F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b")))
        .alias("nmi"),
        "n")


def winsorized_stats(df: DataFrame, group_col: str, value_col: str,
                     lower: float = 0.05, upper: float = 0.95,
                     decimals: int = 2) -> DataFrame:
    """Per-group winsorized mean/std: values clamp to the group's exact
    [lower, upper] percentiles before the moments — the robust
    alternative to raw means when heavy tails would otherwise dominate
    (extends the A6 distribution surface with the standard
    outlier-resistant estimator).

    Two label-keyed passes: (1) exact interpolated percentiles per
    group (4-dp-rounded — the engine-portable percentile contract used
    across the A6 tier), joined back as a broadcast dimension-sized
    relation; (2) clamped values quantize to integer units at
    ``decimals`` and the moments exit from exact integer sums through
    one fixed IEEE tree — bit-identical at any partitioning. Degenerate
    groups (n<2 or zero variance) yield NULL std.

    Returns (group, n, q_lo, q_hi, w_mean, w_std).
    """
    v = F.col(value_col)
    base = df.filter(v.isNotNull())
    g = base.groupBy(F.col(group_col).alias("__g")).agg(
        F.round(F.expr(f"percentile(CAST(`{value_col}` AS DOUBLE), {lower})"),
                4).alias("__lo"),
        F.round(F.expr(f"percentile(CAST(`{value_col}` AS DOUBLE), {upper})"),
                4).alias("__hi"))
    from ..functions.scalars import half_up_long
    scale = float(10 ** decimals)
    clamped = F.greatest(F.col("__lo"), F.least(F.col("__hi"), v))
    vi = half_up_long(clamped * F.lit(scale))
    agg = (base.join(F.broadcast(g), F.col(group_col) == F.col("__g"))
           .groupBy(group_col)
           .agg(F.count(F.lit(1)).alias("n"),
                F.first("__lo").alias("q_lo"),
                F.first("__hi").alias("q_hi"),
                F.sum(vi).alias("__s1"),
                F.sum(vi * vi).alias("__s2")))
    n = F.col("n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mean_c = s1 / n
    var_c = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    std = F.when((F.col("n") >= 2) & (var_c > F.lit(0.0)),
                 F.sqrt(var_c) / F.lit(scale))
    return agg.select(group_col, F.col("n").cast("long").alias("n"),
                      "q_lo", "q_hi",
                      (mean_c / F.lit(scale)).alias("w_mean"),
                      std.alias("w_std"))


def grouped_ols(df: DataFrame, group_col: str, x_col: str, y_col: str,
                decimals: int = 4) -> DataFrame:
    """Per-group closed-form OLS y = a + b·x — the grouped form of the
    reference's regression surface (T1, pages/plotting.py:1195-1247),
    run when every segment/source/cohort needs its own fit in one
    pass.

    Sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    fixed-point integers at ``decimals`` within one aggregation; slope,
    intercept and r² exit through one fixed IEEE expression tree, so
    every group's fit is bit-identical to a single-node oracle under
    any partitioning. Degenerate groups (n<2 or zero x-variance) yield
    NULL fit columns. Returns (group, n, slope, intercept, r2).

    Overflow headroom: |x|·10^decimals and |y|·10^decimals must stay
    below ~3e9/√rows_per_group for the cross/self products.
    """
    from ..functions.scalars import half_up_long
    scale = float(10 ** decimals)
    pair = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    xi = half_up_long(F.col(x_col) * F.lit(scale))
    yi = half_up_long(F.col(y_col) * F.lit(scale))
    agg = pair.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi).alias("__sx"), F.sum(yi).alias("__sy"),
        F.sum(xi * yi).alias("__sxy"),
        F.sum(xi * xi).alias("__sxx"), F.sum(yi * yi).alias("__syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    vx = sxx - sx * sx / n          # n·Var_x in integer units²
    vy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    slope = cxy / vx
    intercept = (sy / n - F.col("__slope") * (sx / n)) / F.lit(scale)
    r2 = F.when(F.col("__vy") > F.lit(0.0),
                (F.col("__cxy") * F.col("__cxy"))
                / (F.col("__vx") * F.col("__vy")))
    fit_ok = (F.col("n") >= 2) & (F.col("__vx") > F.lit(0.0))
    return (agg
            .withColumn("__vx", vx).withColumn("__vy", vy)
            .withColumn("__cxy", cxy)
            .withColumn("__slope", F.when(fit_ok, slope))
            .select(group_col, F.col("n").cast("long").alias("n"),
                    F.col("__slope").alias("slope"),
                    F.when(fit_ok, intercept).alias("intercept"),
                    F.when(fit_ok, r2).alias("r2")))
