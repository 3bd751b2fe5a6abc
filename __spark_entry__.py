"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The testdata star schema maps onto the engine's hub/spoke data model as:
``customer`` = the hub ("demographics") table keyed by ``c_custkey``;
``orders``/``nation`` = spoke ("behavioral") tables; ``c_acctbal`` plays
the age-like numeric demographic; ``c_mktsegment`` the categorical one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_fusion_spark.catalog import Catalog
from basic_data_fusion_spark.operators import aggregations as agg
from basic_data_fusion_spark.plans.builder import PlanBuilder
from basic_data_fusion_spark.plans.spec import (
    BehavioralFilter,
    DemographicFilters,
    QuerySpec,
)

SF0001 = "/root/testdata/sf0.001"

# spoke table → (hub key, spoke key)
TPCH_JOIN_MAP = {
    "orders": ("c_custkey", "o_custkey"),
    "nation": ("c_nationkey", "n_nationkey"),
}


_CATALOG_MEMO: dict[tuple[str, str], Catalog] = {}


def _catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog memoized per (session, data dir) — mirrors the reference's
    table-metadata cache (data_handling/metadata.py:269-304): repeated
    queries must not re-probe parquet footers / re-derive schemas."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cat = _CATALOG_MEMO.get(key)
    if cat is None:
        cat = Catalog(spark, sf_dir, primary_id="c_custkey", hub_table="customer")
        for dim in ("nation", "region", "supplier", "part"):
            if cat.has_table(dim):
                cat.info(dim).is_dimension = True
        _CATALOG_MEMO[key] = cat
    return cat


def _flagship_spec() -> QuerySpec:
    return QuerySpec(
        tables=["orders", "nation"],
        demographic=DemographicFilters(age_range=(1000.0, 8000.0)),
        behavioral=[
            BehavioralFilter("customer", "c_mktsegment", "categorical",
                             ["AUTOMOBILE", "BUILDING", "MACHINERY"]),
            BehavioralFilter("orders", "o_orderstatus", "categorical", ["O", "F"]),
        ],
        selected_columns={
            "orders": ["o_orderkey", "o_totalprice", "o_orderstatus"],
            "nation": ["n_name"],
        },
    )


def _builder(spark: SparkSession, sf_dir: str, spec: QuerySpec | None = None) -> PlanBuilder:
    return PlanBuilder(_catalog(spark, sf_dir), spec or _flagship_spec(),
                       age_column="c_acctbal", join_map=TPCH_JOIN_MAP)


_FLAGSHIP_FROM_WHERE = """
FROM customer demo
LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
WHERE demo.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
  AND demo.c_acctbal BETWEEN 1000.0 AND 8000.0
  AND orders.o_orderstatus IN ('O', 'F')
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference EP2: merged hub/spoke row-set) on sf0.001."""
    return _builder(spark, SF0001).dataframe()


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------

def q_flagship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _builder(spark, sf_dir).dataframe()


def q_participant_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _builder(spark, sf_dir).count_distinct_df()


def q_segment_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _builder(spark, sf_dir).filtered()
    return agg.groupby_count_distinct(df, "c_mktsegment", "c_custkey")


def q_acctbal_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _builder(spark, sf_dir).filtered()
    return agg.min_max(df, "c_acctbal")


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    return agg.distinct_ordered(cat.load("customer"), "c_mktsegment")


def q_top_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    return agg.top_k_categories(cat.load("customer"), "c_mktsegment", k=3)


def q_numeric_ranges_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _catalog(spark, sf_dir).load("lineitem")
    aggs = []
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return li.agg(*aggs)


def q_filter_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _builder(spark, sf_dir)
    base = b.joined()
    steps = [
        ("segment", F.col("demo.c_mktsegment").isin(["AUTOMOBILE", "BUILDING", "MACHINERY"])),
        ("acctbal", F.col("demo.c_acctbal").between(1000.0, 8000.0)),
        ("order_status", F.col("orders.o_orderstatus").isin(["O", "F"])),
    ]
    return agg.filter_impact_report(base, "c_custkey", steps)


def q_filter_impact_individual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 individual tier (reference analysis/filtering.py:385-505): each
    filter applied ALONE against the baseline — standalone removal counts,
    order-independent, one aggregation pass for all steps."""
    b = _builder(spark, sf_dir)
    base = b.joined()
    steps = [
        ("segment", F.col("demo.c_mktsegment").isin(["AUTOMOBILE", "BUILDING", "MACHINERY"])),
        ("acctbal", F.col("demo.c_acctbal").between(1000.0, 8000.0)),
        ("order_status", F.col("orders.o_orderstatus").isin(["O", "F"])),
    ]
    return agg.filter_impact_individual(base, "c_custkey", steps)


def q_profiling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 native profiling fallback (quality.profiling_sections), stats
    section in the deterministic tier: fixed-point mean/std + rounded
    exact median over the part numerics. The missing/correlations/sample
    sections are pytest-verified (test_stats)."""
    from basic_data_fusion_spark.operators.quality import profiling_sections

    part = _catalog(spark, sf_dir).load("part")
    return profiling_sections(part, ["p_size", "p_retailprice"],
                              deterministic=True)["stats"]


def q_enwiden_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 enwiden on the long-format events table: user_id = participant,
    event_type = session label, value pivoted first-non-null by event_id."""
    from basic_data_fusion_spark.operators.reshape import enwiden

    ev = _catalog(spark, sf_dir).load("events").select("user_id", "event_type", "event_id", "value")
    return enwiden(ev, pid="user_id", session_col="event_type",
                   order_col="event_id", value_cols=["value"])


def q_baseline_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A8: pivot lineitem quantity by line number (labels 1/2/3 → BAS1-3
    via the session-label map), then consolidate to one _BAS column
    preferring the highest-numbered non-null."""
    from basic_data_fusion_spark.operators.reshape import consolidate_baseline, enwiden

    li = (_catalog(spark, sf_dir).load("lineitem")
          .where(F.col("l_linenumber") <= 3)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"))
    wide = enwiden(li, pid="l_orderkey", session_col="l_linenumber",
                   order_col="l_partkey", value_cols=["l_quantity"])
    return consolidate_baseline(wide)


_SUMMARY_TABLES = (("customer", ["c_acctbal"]),
                   ("lineitem", ["l_quantity", "l_extendedprice",
                                 "l_discount"]))


def _summary_base(spark: SparkSession, sf_dir: str, table: str,
                  cols: list[str]) -> DataFrame:
    """Column-pruned, core-spread scan shared by both A5 summary
    tiers (single-file source = few splits without the spread)."""
    return (_catalog(spark, sf_dir).load(table).select(*cols)
            .repartition(spark.sparkContext.defaultParallelism))


def _summary_stacked(spark: SparkSession, sf_dir: str):
    """(stacked, names): the A5 summary melt as ``(__cid int, __v
    double)`` non-null rows plus the parallel ``table.column`` name
    list (``names[cid]``).  ``posexplode`` of a bare value array —
    the column id IS the position — instead of exploding structs
    that carry a ~20-byte label string per melted row: the machine's
    two data-sized shuffles (melt → counts, counts → range) move an
    int instead of the string, and per-column quantiles are invariant
    to the cid ORDER (each column's block is contiguous under any
    total cid order; the cumulative rank subtracts the block start),
    so values are bit-identical (r13 opt round 1, guide §2.3
    "narrower types")."""
    names: list[str] = []
    stacked = None
    for table, cols in _SUMMARY_TABLES:
        df = _summary_base(spark, sf_dir, table, cols)
        off = len(names)
        part = (df.select(F.posexplode(F.array(*[
            F.col(c).cast("double") for c in cols])).alias("__p", "__v"))
            .select((F.col("__p") + F.lit(off)).alias("__cid"), "__v")
            .where(F.col("__v").isNotNull()))
        names += [f"{table}.{c}" for c in cols]
        stacked = part if stacked is None else stacked.unionByName(part)
    return stacked, names


def _summary_counts(spark: SparkSession, sf_dir: str):
    """(counts, names): the A5 summary melt reduced to pinned
    per-distinct-value ``(__cid, __v, __c)`` counts."""
    from basic_data_fusion_spark.caching import cache_pinned

    stacked, names = _summary_stacked(spark, sf_dir)
    return cache_pinned(stacked.groupBy("__cid", "__v")
                        .agg(F.count(F.lit(1)).alias("__c"))), names


def q_column_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 deterministic tier: per-column n / missing / mean / median /
    min / max for customer+lineitem numerics.  Mean via fixed-point
    sum; median EXACT via the distributed quantile decomposition,
    rounded to 4 in-engine (2-decimal source data -> the round is
    identity on true values, only kills cross-engine ulp drift).

    r13 one-scan re-plan (optimization round 1, guide §2 "do the work
    once"): the tier previously ran the quantile machine's melt AND a
    separate per-table aggregate pass (plus an eager collect per
    relation).  Now ONE lazy plan does everything: the stacked melt
    reduces to per-distinct-value counts (pinned — distinct-values-
    sized, the same relation the machine shuffles anyway), the
    quantile pass enters at the counts level
    (exact_quantiles_counts, which finishes on the driver when the
    counts are small), and n/mean/min/max derive from the SAME
    counts: n = Σc, min/max over distinct values, and the fixed-point
    mean numerator Σ c·half_up(v·1e6) — an exact integer sum equal
    term-for-term to the per-row Σ half_up(v·1e6), feeding the
    identical division tree, so every value is bit-identical to the
    per-row aggregate (oracle unchanged).  Per-table totals for
    n_missing are count(*) aggregates (metadata-only on parquet).

    Precondition (r13 advisory): every summarized column must have at
    least one non-null value — an entirely-NULL column produces no
    counts rows, so the med/counts inner joins emit no row for it
    (the pre-r13 eager path crashed on the same input with a
    KeyError, so neither shape ever summarized such a column).  The
    contract's columns are TPC-H NOT NULL numerics, so the case is
    unreachable here; a caller summarizing nullable columns should
    pre-filter them or extend the tier with a names-literal left
    join."""
    from basic_data_fusion_spark.functions.scalars import half_up_long
    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles_counts,
    )

    counts, names = _summary_counts(spark, sf_dir)
    tots = None
    for table, _cols in _SUMMARY_TABLES:
        t = (_catalog(spark, sf_dir).load(table)
             .agg(F.count(F.lit(1)).alias("__total"))
             .select(F.lit(table).alias("__tbl"), "__total"))
        tots = t if tots is None else tots.unionByName(t)
    med = (exact_quantiles_counts(counts, [0.5])
           .select(F.col("column").alias("__cid"),
                   F.round("value", 4).alias("median")))
    colagg = (counts.groupBy("__cid").agg(
        F.sum("__c").alias("__n"),
        ((F.sum(F.col("__c") * half_up_long(F.col("__v") * F.lit(1e6)))
          / F.lit(1e6)) / F.sum("__c")).alias("mean"),
        F.min("__v").alias("min"),
        F.max("__v").alias("max")))
    name = F.element_at(F.array(*[F.lit(n) for n in names]),
                        F.col("__cid").cast("int") + 1)
    return (colagg
            .join(F.broadcast(med), "__cid")
            .withColumn("column", name)
            .withColumn("__tbl", F.substring_index("column", ".", 1))
            .join(F.broadcast(tots), "__tbl")
            .select("column",
                    F.col("__n").alias("n_non_null"),
                    (F.col("__total") - F.col("__n")).alias("n_missing"),
                    "mean", "median", "min", "max"))


def q_column_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 interactive/100 TB tier as a BAND REPORT (r6 conversion from
    rows-only to hash-checked): the summary's deterministic columns
    (n / missing / fixed-point mean / min / max) stay exact, and the
    `approx_percentile` median (KLL-style mergeable sketch - the
    documented at-scale switch for the percentile surface) is exposed
    as ``median_within_band``: does the sketch's median lie between the
    exact 0.49 and 0.51 quantiles?  The sketch VALUE is engine-specific
    and can't hash; the band verdict can - the oracle replays the exact
    side and asserts the flag, so a sketch drifting out of its rank
    budget (accuracy 10000 -> rank error 1e-4, 100x inside the band)
    flips a hash-checked bit instead of hiding in a rows-only row.
    r12 re-plan: the band's exact 0.49/0.51 bounds come from the
    distributed quantile decomposition, so this tier doesn't smuggle
    the percentile() aggregate's data-sized buffer in through its own
    verification bounds.

    r13 one-action re-plan (optimization round 1, guide §2/§1.2): the
    tier previously collected the quantile machine AND one aggregate
    row per table through separate eager actions, serializing three
    jobs.  Now the per-table sketch aggregates reshape to per-column
    rows lazily (explode of the one-row aggregate) and the exact
    bounds join in from the machine, so ONE action runs everything
    and the sketch pass overlaps the machine's stages.  Values are
    identical: same aggregate expressions, same bound values, and the
    band flag `lo <= ap AND ap <= hi` is the same comparison the
    driver-side Python chain evaluated."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles_stacked,
    )

    stacked, names = _summary_stacked(spark, sf_dir)
    percol = None
    for table, cols in _SUMMARY_TABLES:
        df = _summary_base(spark, sf_dir, table, cols)
        aggs = [F.count(F.lit(1)).alias("__total")]
        for c in cols:
            col = F.col(c).cast("double")
            aggs += [
                F.count(col).alias(f"n_{c}"),
                (fixed_point_sum(col) / F.count(col)).alias(f"mean_{c}"),
                F.expr(f"approx_percentile({c}, 0.5, 10000)")
                .cast("double").alias(f"ap_{c}"),
                F.min(col).alias(f"min_{c}"),
                F.max(col).alias(f"max_{c}"),
            ]
        p = (df.agg(*aggs)
             .select(F.explode(F.array(*[
                 F.struct(F.lit(f"{table}.{c}").alias("__cid"),
                          F.col(f"n_{c}").alias("n_non_null"),
                          (F.col("__total") - F.col(f"n_{c}"))
                          .alias("n_missing"),
                          F.col(f"mean_{c}").alias("mean"),
                          F.col(f"ap_{c}").alias("__ap"),
                          F.col(f"min_{c}").alias("min"),
                          F.col(f"max_{c}").alias("max"))
                 for c in cols])).alias("s"))
             .select("s.*"))
        percol = p if percol is None else percol.unionByName(p)
    cid_name = F.element_at(F.array(*[F.lit(n) for n in names]),
                            F.col("column").cast("int") + 1)
    bounds = (exact_quantiles_stacked(stacked, [0.49, 0.51])
              .groupBy(cid_name.alias("__cid"))
              .agg(F.min(F.when(F.col("p") == 0.49, F.col("value")))
                   .alias("__lo"),
                   F.min(F.when(F.col("p") == 0.51, F.col("value")))
                   .alias("__hi")))
    return (percol
            .join(F.broadcast(bounds), "__cid")
            .select(F.col("__cid").alias("column"),
                    "n_non_null", "n_missing", "mean", "min", "max",
                    ((F.col("__lo") <= F.col("__ap"))
                     & (F.col("__ap") <= F.col("__hi")))
                    .alias("median_within_band")))


_COLUMN_SUMMARY_APPROX_ORACLE = """
SELECT 'customer.c_acctbal' AS "column",
       COUNT(c_acctbal) AS n_non_null,
       (SELECT COUNT(*) FROM customer) - COUNT(c_acctbal) AS n_missing,
       SUM(CAST(ROUND(c_acctbal * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(c_acctbal) AS mean,
       MIN(c_acctbal) AS min, MAX(c_acctbal) AS max,
       TRUE AS median_within_band
FROM customer
UNION ALL
SELECT 'lineitem.' || c AS "column", n_non_null, n_missing, mean, min, max,
       TRUE AS median_within_band
FROM (
  SELECT 'l_quantity' AS c, COUNT(l_quantity) AS n_non_null,
         (SELECT COUNT(*) FROM lineitem) - COUNT(l_quantity) AS n_missing,
         SUM(CAST(ROUND(l_quantity * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_quantity) AS mean,
         MIN(l_quantity) AS min, MAX(l_quantity) AS max
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', COUNT(l_extendedprice),
         (SELECT COUNT(*) FROM lineitem) - COUNT(l_extendedprice),
         SUM(CAST(ROUND(l_extendedprice * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_extendedprice),
         MIN(l_extendedprice), MAX(l_extendedprice)
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', COUNT(l_discount),
         (SELECT COUNT(*) FROM lineitem) - COUNT(l_discount),
         SUM(CAST(ROUND(l_discount * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_discount),
         MIN(l_discount), MAX(l_discount)
  FROM lineitem
)
"""


def _register_views(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    cat = _catalog(spark, sf_dir)
    for t in tables:
        cat.load(t).createOrReplaceTempView(t)


def _det_sql():
    from basic_data_fusion_spark.operators import deterministic_sql as ds
    return {
        "pearson_corr": ds.pearson_corr_sql("lineitem", [
            # scales sized to each term's magnitude (see pearson_corr_sql)
            dict(x="l_quantity", y="l_extendedprice",
                 sx=1e6, sy=1e4, sxx=1e4, syy=1.0, sxy=1e2),
            dict(x="l_quantity", y="l_discount",
                 sx=1e6, sy=1e8, sxx=1e4, syy=1e10, sxy=1e8),
            dict(x="l_extendedprice", y="l_discount",
                 sx=1e4, sy=1e8, sxx=1.0, syy=1e10, sxy=1e4),
        ]),
        "spearman_corr": ds.spearman_corr_sql("lineitem", "l_quantity", "l_discount"),
        "ols_regression": ds.ols_regression_sql("lineitem", "l_quantity", "l_extendedprice"),
        "anova_acctbal_by_segment": ds.anova_sql("customer", "c_mktsegment", "c_acctbal"),
        "histogram_acctbal": ds.histogram_sql("customer", "c_acctbal", bins=10),
        "quality_audit_orders": ds.quality_audit_sql(
            "orders", "o_orderkey",
            ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]),
        "density_2d_lineitem": ds.density_2d_sql(
            "lineitem", "l_quantity", "l_discount", bins_x=8, bins_y=8),
        "grouped_normality_k2": ds.grouped_k2_sql(
            "customer", "c_mktsegment", "c_acctbal"),
        "pricing_summary": ds.pricing_summary_sql(),
        "shipping_priority": ds.shipping_priority_sql(),
        "regional_volume": ds.regional_volume_sql(),
    }


def _make_det_query(sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_views(spark, sf_dir, ["customer", "orders", "lineitem",
                                        "supplier", "nation", "region"])
        return spark.sql(sql)
    return run


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/T7 Spearman — the ENGINE path (stats.correlation_matrix
    method='spearman'): distributed midranks via ordering.avg_ranks
    (value-keyed aggregation + prefix sums, no data-sized global rank
    window), then Pearson on the ranks.  The oracle stays the det-SQL
    verification tier (deterministic_sql.spearman_corr_sql) wrapped to
    this schema — the midrank identity makes the two bitwise equal at
    driver scale (rank sums are exact half/quarter-integer doubles), so
    a hash mismatch here would be a real bug in the distributed path."""
    from basic_data_fusion_spark.operators.stats import correlation_matrix

    li = _catalog(spark, sf_dir).load("lineitem")
    return correlation_matrix(li, ["l_quantity", "l_discount"],
                              method="spearman")


def q_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-column spearman matrix (NEW r8) — exercises
    ``ordering.avg_ranks_multi`` at N=3: ONE stacked scan + ONE prefix
    machine rank all three lineitem measures, including
    l_extendedprice whose distinct-value table is data-sized (the case
    the shared machine exists for).  Oracle: the det-SQL pair formula
    per pair, UNION ALL, wrapped to this schema — no nulls in lineitem,
    so per-pair and per-column ranks coincide and the rank sums stay in
    exact-double range at driver scale."""
    from basic_data_fusion_spark.operators.stats import correlation_matrix

    li = _catalog(spark, sf_dir).load("lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        method="spearman")


def _spearman_matrix_oracle() -> str:
    from basic_data_fusion_spark.operators import deterministic_sql as ds
    pairs = [("l_quantity", "l_extendedprice"),
             ("l_quantity", "l_discount"),
             ("l_extendedprice", "l_discount")]
    arms = [
        f"SELECT '{x}' AS col_a, '{y}' AS col_b, spearman_rho AS corr "
        f"FROM ({ds.spearman_corr_sql('lineitem', x, y)})"
        for x, y in pairs]
    return " UNION ALL ".join(arms)


def q_dist_stats_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 distribution statistics — deterministic tier; the only
    engine-specific token is the exact-quantile function name."""
    from basic_data_fusion_spark.operators.deterministic_sql import dist_stats_sql

    _register_views(spark, sf_dir, ["customer"])
    return spark.sql(dist_stats_sql("customer", "c_acctbal", "percentile"))


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 IQR outlier audit — deterministic tier (engine-specific
    exact-quantile token only)."""
    from basic_data_fusion_spark.operators.deterministic_sql import iqr_outliers_sql

    _register_views(spark, sf_dir, ["customer"])
    return spark.sql(iqr_outliers_sql("customer", "c_acctbal", "percentile"))


# ---------------------------------------------------------------------------
# LLM-pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_catalog(spark, sf_dir).load("documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.text import bpe_ish_token_count, token_count

    docs = _catalog(spark, sf_dir).load("documents")
    return docs.select("doc_id",
                       token_count(F.col("text")).alias("n_tokens"),
                       bpe_ish_token_count(F.col("text")).alias("bpe_tokens"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.text import detect_language

    # repartition: the scoring fold is CPU-bound and the single-file
    # testdata source would otherwise run on one core
    docs = (_catalog(spark, sf_dir).load("documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return docs.select("doc_id", detect_language(F.col("text")).alias("detected_lang"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.text import quality_score

    docs = _catalog(spark, sf_dir).load("documents")
    return quality_score(docs).select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio", "upper_ratio",
        "stopword_ratio", "mean_word_len", "quality_score", "keep")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing pass: per-doc match counts + redacted length."""
    from basic_data_fusion_spark.operators.text import pii_counts, redact_pii

    docs = _catalog(spark, sf_dir).load("documents")
    return docs.select("doc_id",
                       *pii_counts(F.col("text")),
                       F.length(redact_pii(F.col("text"))).alias("redacted_len"))


_PII_ORACLE = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
       len(regexp_extract_all(text, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS n_phone,
       len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
       length(
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             '\+?[0-9][0-9()\-. ]{7,}[0-9]', '[PHONE]', 'g'),
           'https?://[^\s]+', '[URL]', 'g')
       ) AS redacted_len
FROM documents
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline composite: exact dedup (min-id per
    normalized content) → Gopher-style quality gate → language gate → PII
    redaction → token budget + deterministic hash train/val/test split.

    Plan shape (verified on the executed plan): one content-hash exchange
    for the dedup aggregate, whose min-id keep-set broadcasts back for the
    semi-join — full documents never shuffle by doc_id. Every per-doc
    stage after that is a JVM expression (no Python, no further shuffle).
    The explicit repartition only unpins the single-file test source; at
    100 TB the keep-set outgrows the broadcast threshold and AQE shifts
    the semi-join to shuffle-hash on doc_id — still one exchange of
    (doc_id, hash) pairs, never of document bodies."""
    from basic_data_fusion_spark.functions.scalars import hash_split
    from basic_data_fusion_spark.operators.dedup import exact_dedup
    from basic_data_fusion_spark.operators.text import (
        detect_language,
        quality_score,
        redact_pii,
        token_count,
    )

    docs = (_catalog(spark, sf_dir).load("documents")
            .repartition(spark.sparkContext.defaultParallelism))
    deduped = exact_dedup(docs)
    kept = quality_score(deduped).filter("keep").select("doc_id", "text")
    gated = (kept.withColumn("detected_lang", detect_language(F.col("text")))
             .filter(F.col("detected_lang").isNotNull()))
    return gated.select(
        "doc_id", "detected_lang",
        token_count(redact_pii(F.col("text"))).alias("n_tokens_clean"),
        hash_split(F.col("doc_id")).alias("split"))


def _curation_oracle() -> str:
    redact = r"""regexp_replace(regexp_replace(regexp_replace(text,
        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        '\+?[0-9][0-9()\-. ]{7,}[0-9]', '[PHONE]', 'g'),
        'https?://[^\s]+', '[URL]', 'g')"""
    nib = "substr(md5(CAST(dk.doc_id AS VARCHAR)), 1, 1)"
    return ("""
WITH dk AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
),
q AS (SELECT doc_id, keep FROM (""" + _QUALITY_ORACLE + """) qq),
l AS (SELECT doc_id, detected_lang FROM (""" + _lang_id_oracle() + """) ll),
red AS (SELECT doc_id, """ + redact + r""" AS rtext FROM documents)
SELECT dk.doc_id, l.detected_lang,
       CASE WHEN trim(rtext) = '' THEN 0
            ELSE len(regexp_split_to_array(lower(trim(rtext)), '\s+'))
       END AS n_tokens_clean,
       CASE WHEN """ + nib + """ BETWEEN '0' AND '9'
              OR """ + nib + """ IN ('a', 'b') THEN 'train'
            WHEN """ + nib + """ IN ('c', 'd') THEN 'val'
            ELSE 'test' END AS split
FROM dk
JOIN q   ON q.doc_id = dk.doc_id
JOIN l   ON l.doc_id = dk.doc_id
JOIN red ON red.doc_id = dk.doc_id
WHERE q.keep AND l.detected_lang IS NOT NULL
""")


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document: type-token
    ratio, top word/bigram mass, longest same-word run. Single all-JVM pass
    over each token array — no shuffle."""
    from basic_data_fusion_spark.operators.text import repetition_features

    docs = _catalog(spark, sf_dir).load("documents")
    return repetition_features(docs)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token consecutive chunks per document
    (last ragged) — pure token-index arithmetic, one explode, no
    shuffle."""
    from basic_data_fusion_spark.operators.packing import chunk_documents

    docs = _catalog(spark, sf_dir).load("documents")
    return chunk_documents(docs, chunk_tokens=64)


_CHUNK_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
c AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
x AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1)) AS chunk_idx
  FROM c
)
SELECT doc_id, chunk_idx,
       array_to_string(toks[chunk_idx*64+1 : chunk_idx*64+64], ' ') AS chunk_text,
       least(CAST(64 AS BIGINT), n - chunk_idx*64) AS n_tokens
FROM x
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence packing (contiguous fill, 256-token packs):
    a doc belongs to the pack its running token offset starts in."""
    from basic_data_fusion_spark.operators.packing import pack_sequences

    docs = _catalog(spark, sf_dir).load("documents")
    return pack_sequences(docs, budget=256)


_PACK_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             - n_tokens) // 256 AS BIGINT) AS pack_id
FROM t
"""


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥5 word 3-grams
    with the held-out slice (doc_id % 29 = 0 stands in for a benchmark
    set) — the pre-training leak check."""
    from basic_data_fusion_spark.operators.dedup import cross_corpus_overlap

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("doc_id") % 29 == 0)
    train = docs.filter(F.col("doc_id") % 29 != 0)
    return cross_corpus_overlap(train, held, n=3, min_common=5)


_DECONTAM_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM d
),
tr AS (SELECT doc_id AS train_id, shingle FROM s WHERE doc_id % 29 <> 0),
ev AS (SELECT DISTINCT doc_id AS eval_id, shingle FROM s WHERE doc_id % 29 = 0)
SELECT train_id, eval_id, COUNT(*) AS n_common
FROM tr JOIN ev USING (shingle)
GROUP BY 1, 2
HAVING COUNT(*) >= 5
"""


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics rarity profile: per-doc mean/min/max token
    document-frequency + common-token fraction. Integer-derived ratios
    only — no log(), whose libm rounding is not cross-engine stable."""
    from basic_data_fusion_spark.operators.text import token_rarity

    docs = _catalog(spark, sf_dir).load("documents")
    return token_rarity(docs)


_TOKEN_RARITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
inst AS (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS token FROM t),
dfq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t)
  GROUP BY 1
),
s AS (
  SELECT i.doc_id, MAX(i.n_tokens) AS n_tokens, SUM(d.df) AS sum_df,
         MIN(d.df) AS min_df, MAX(d.df) AS max_df,
         SUM(CASE WHEN d.df > (SELECT COUNT(*) FROM documents) / 2.0
                  THEN 1 ELSE 0 END) AS n_common
  FROM inst i JOIN dfq d USING (token)
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(s.n_tokens, 0) AS n_tokens,
       CASE WHEN s.doc_id IS NULL THEN 0.0
            ELSE CAST(s.sum_df AS DOUBLE) / s.n_tokens END AS mean_df,
       s.min_df, s.max_df,
       CASE WHEN s.doc_id IS NULL THEN 0.0
            ELSE CAST(s.n_common AS DOUBLE) / s.n_tokens END AS common_frac
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate removal: drop tokens present in >50% of documents
    and re-assemble each doc from its surviving tokens in original order
    (word-granularity version of CCNet/RefinedWeb repeated-line removal)."""
    from basic_data_fusion_spark.operators.text import strip_high_df_tokens

    docs = _catalog(spark, sf_dir).load("documents")
    return strip_high_df_tokens(docs, max_df_frac=0.5)


_BOILERPLATE_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
w AS (SELECT doc_id, unnest(toks) AS token,
             unnest(generate_series(1, len(toks))) AS i
      FROM t),
dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
banned AS (
  SELECT token FROM dfq
  WHERE CAST(df AS DOUBLE) > CAST(0.5 AS DOUBLE) * (SELECT COUNT(*) FROM documents)
),
kept AS (SELECT * FROM w WHERE token NOT IN (SELECT token FROM banned)),
reb AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY i) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(reb.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) AS BIGINT) - COALESCE(reb.n_kept, 0) AS n_removed
FROM t LEFT JOIN reb USING (doc_id)
"""


def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-gated corpus filter: keep each language's top quartile by
    quality score (corpus rebalancing by quality band — the selection step
    that follows scoring in a pretraining pipeline). Total order (score,
    n_tokens, doc_id) makes PERCENT_RANK and hence the kept set exactly
    reproducible; integer-count percent_rank divisions are
    bit-deterministic cross-engine."""
    from pyspark.sql import Window

    from basic_data_fusion_spark.operators.text import quality_score

    docs = _catalog(spark, sf_dir).load("documents")
    w = Window.partitionBy("lang").orderBy("quality_score", "n_tokens", "doc_id")
    return (quality_score(docs)
            .withColumn("quantile_rank", F.percent_rank().over(w))
            .filter(F.col("quantile_rank") >= F.lit(0.75))
            .select("doc_id", "lang", "quality_score", "quantile_rank"))


def q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (CCNet-style statistical filter): mean
    −ln p(token) per doc under the corpus's own unigram distribution.
    Each instance surprisal quantized to an 8-dp integer before any
    cross-row sum → bit-deterministic oracle."""
    from basic_data_fusion_spark.operators.text import lm_surprisal

    docs = _catalog(spark, sf_dir).load("documents")
    return lm_surprisal(docs)


_LM_SURPRISAL_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
w AS (SELECT doc_id, unnest(toks) AS token FROM t),
freq AS (SELECT token, COUNT(*) AS c FROM w GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM w),
d AS (
  SELECT w.doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(ROUND(-ln(CAST(f.c AS DOUBLE) / tot.n)
                        * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT)) AS ss
  FROM w JOIN freq f USING (token) CROSS JOIN tot
  GROUP BY w.doc_id
)
SELECT doc.doc_id,
       COALESCE(d.n_tokens, 0) AS n_tokens,
       CASE WHEN d.doc_id IS NULL THEN NULL
            ELSE (CAST(d.ss AS DOUBLE) / CAST(100000000.0 AS DOUBLE))
                 / d.n_tokens END AS mean_surprisal
FROM documents doc LEFT JOIN d ON d.doc_id = doc.doc_id
"""


def q_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid Backoff LM scoring (Brants et al. 2007): counts from
    the deterministic md5-nibble train half, mean −ln S(w2|w1) over every
    doc's bigrams with α-backoff to unigram and an α²/N OOV floor — the
    CCNet statistical-LM perplexity filter, distributed. Instance scores
    quantized to 8-dp integers before the per-doc sum → bit-deterministic
    oracle."""
    from basic_data_fusion_spark.operators.text import stupid_backoff_lm

    docs = _catalog(spark, sf_dir).load("documents")
    return stupid_backoff_lm(docs)


_STUPID_BACKOFF_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, UNNEST(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
train AS (
  SELECT * FROM t
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT unnest(toks) AS w FROM train) GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM train)),
big AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM train, UNNEST(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
scored AS (
  SELECT i.doc_id,
         CASE WHEN b.c2 IS NOT NULL
                THEN CAST(b.c2 AS DOUBLE) / u1.c1
              WHEN u2.c1 IS NOT NULL AND tot.n > 0
                THEN CAST(0.4 AS DOUBLE) * CAST(u2.c1 AS DOUBLE) / tot.n
              WHEN tot.n > 0
                THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) / tot.n
         END AS s
  FROM inst i
  LEFT JOIN big b ON b.w1 = i.w1 AND b.w2 = i.w2
  LEFT JOIN uni u1 ON u1.w = i.w1
  LEFT JOIN uni u2 ON u2.w = i.w2
  CROSS JOIN tot
),
d AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CAST(ROUND(-ln(s) * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT)) AS ss
  FROM scored GROUP BY 1
)
SELECT doc.doc_id,
       COALESCE(d.n_bigrams, 0) AS n_bigrams,
       CASE WHEN d.doc_id IS NULL THEN NULL
            ELSE (CAST(d.ss AS DOUBLE) / CAST(100000000.0 AS DOUBLE))
                 / d.n_bigrams END AS mean_neg_log_score
FROM documents doc LEFT JOIN d ON d.doc_id = doc.doc_id
"""


def q_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation curation composite spanning the round-3/4
    stages: corpus line-dedup (C4 boilerplate sweep) → unigram-LM
    surprisal over the CLEANED text → CCNet head/middle keep (drop the
    per-language tail tercile) → deterministic hash split. Every stage's
    corpus statistic is computed on the post-dedup text — order matters
    and the oracle replays the exact chain."""
    from pyspark.sql import Window

    from basic_data_fusion_spark.functions.scalars import hash_split
    from basic_data_fusion_spark.operators.dedup import line_dedup
    from basic_data_fusion_spark.operators.text import lm_surprisal

    docs = _catalog(spark, sf_dir).load("documents")
    cleaned = (line_dedup(docs)
               .select("doc_id", F.col("clean_text").alias("text")))
    scored = lm_surprisal(cleaned)
    j = (scored.filter(F.col("mean_surprisal").isNotNull())
         .join(docs.select("doc_id", "lang"), "doc_id"))
    w = Window.partitionBy("lang").orderBy("mean_surprisal", "doc_id")
    return (j.withColumn("bucket", F.ntile(3).over(w))
            .filter(F.col("bucket") <= 2)
            .select("doc_id", "lang", "n_tokens", "mean_surprisal", "bucket",
                    hash_split(F.col("doc_id")).alias("split")))


_CURATION_V2_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM documents
),
w0 AS (SELECT doc_id, unnest(ls) AS line,
              unnest(generate_series(1, len(ls))) AS i
       FROM t),
dfq AS (SELECT trim(line) AS tl, COUNT(DISTINCT doc_id) AS d
        FROM w0 WHERE trim(line) <> '' GROUP BY 1),
banned AS (SELECT tl FROM dfq WHERE d >= 2),
kept AS (SELECT * FROM w0 WHERE trim(line) NOT IN (SELECT tl FROM banned)),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
),
cleaned AS (
  SELECT t.doc_id, COALESCE(reb.clean_text, '') AS text
  FROM t LEFT JOIN reb USING (doc_id)
),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM cleaned
),
wd AS (SELECT doc_id, unnest(toks) AS token FROM tk),
freq AS (SELECT token, COUNT(*) AS c FROM wd GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM wd),
d AS (
  SELECT wd.doc_id, COUNT(*) AS n_tokens,
         SUM(CAST(ROUND(-ln(CAST(f.c AS DOUBLE) / tot.n)
                        * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT)) AS ss
  FROM wd JOIN freq f USING (token) CROSS JOIN tot
  GROUP BY wd.doc_id
),
scored AS (
  SELECT c.doc_id,
         COALESCE(d.n_tokens, 0) AS n_tokens,
         CASE WHEN d.doc_id IS NULL THEN NULL
              ELSE (CAST(d.ss AS DOUBLE) / CAST(100000000.0 AS DOUBLE))
                   / d.n_tokens END AS mean_surprisal
  FROM cleaned c LEFT JOIN d ON d.doc_id = c.doc_id
),
g AS (
  SELECT s.doc_id, doc.lang, s.n_tokens, s.mean_surprisal,
         CAST(NTILE(3) OVER (PARTITION BY doc.lang
                             ORDER BY s.mean_surprisal, s.doc_id) AS INT)
           AS bucket
  FROM scored s JOIN documents doc ON doc.doc_id = s.doc_id
  WHERE s.mean_surprisal IS NOT NULL
)
SELECT doc_id, lang, n_tokens, mean_surprisal, bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
            ELSE 'test' END AS split
FROM g
WHERE bucket <= 2
"""


def q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Stupid Backoff scoring (two backoff levels — the depth
    CCNet's 5-gram KenLM operates at): counts from the md5-nibble train
    half; 8-dp fixed-point instance scores → bit-deterministic oracle."""
    from basic_data_fusion_spark.operators.text import stupid_backoff_lm

    docs = _catalog(spark, sf_dir).load("documents")
    return stupid_backoff_lm(docs, order=3)


_TRIGRAM_LM_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3
),
train AS (
  SELECT * FROM t
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM (SELECT unnest(toks) AS w FROM train) GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n FROM (SELECT unnest(toks) AS w FROM train)),
big AS (
  SELECT w1, w2, COUNT(*) AS c2
  FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM train, UNNEST(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
tri AS (
  SELECT w1, w2, w3, COUNT(*) AS c3
  FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        FROM train, UNNEST(range(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 3)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT i.doc_id,
         CASE WHEN tr.c3 IS NOT NULL
                THEN CAST(tr.c3 AS DOUBLE) / b12.c2
              WHEN b23.c2 IS NOT NULL
                THEN CAST(0.4 AS DOUBLE) * CAST(b23.c2 AS DOUBLE) / u2.c1
              WHEN u3.c1 IS NOT NULL AND tot.n > 0
                THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                     * CAST(u3.c1 AS DOUBLE) / tot.n
              WHEN tot.n > 0
                THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                     * CAST(0.4 AS DOUBLE) / tot.n
         END AS s
  FROM inst i
  LEFT JOIN tri tr ON tr.w1 = i.w1 AND tr.w2 = i.w2 AND tr.w3 = i.w3
  LEFT JOIN big b12 ON b12.w1 = i.w1 AND b12.w2 = i.w2
  LEFT JOIN big b23 ON b23.w1 = i.w2 AND b23.w2 = i.w3
  LEFT JOIN uni u2 ON u2.w = i.w2
  LEFT JOIN uni u3 ON u3.w = i.w3
  CROSS JOIN tot
),
d AS (
  SELECT doc_id, COUNT(*) AS n_trigrams,
         SUM(CAST(ROUND(-ln(s) * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT)) AS ss
  FROM scored GROUP BY 1
)
SELECT doc.doc_id,
       COALESCE(d.n_trigrams, 0) AS n_trigrams,
       CASE WHEN d.doc_id IS NULL THEN NULL
            ELSE (CAST(d.ss AS DOUBLE) / CAST(100000000.0 AS DOUBLE))
                 / d.n_trigrams END AS mean_neg_log_score
FROM documents doc LEFT JOIN d ON d.doc_id = doc.doc_id
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2019
    §4.3): per-language NTILE(3) over the unigram-LM surprisal under the
    total order (mean_surprisal, doc_id) — the selection cut CCNet uses to
    keep head+middle and drop tail."""
    from basic_data_fusion_spark.operators.text import perplexity_buckets

    docs = _catalog(spark, sf_dir).load("documents")
    return perplexity_buckets(docs)


def _perplexity_buckets_oracle() -> str:
    return f"""
WITH s AS ({_LM_SURPRISAL_ORACLE})
SELECT s.doc_id, d.lang, s.mean_surprisal,
       CAST(NTILE(3) OVER w AS INT) AS bucket,
       CASE NTILE(3) OVER w WHEN 1 THEN 'head'
                            WHEN 2 THEN 'middle'
                            ELSE 'tail' END AS bucket_label
FROM s JOIN documents d ON d.doc_id = s.doc_id
WHERE s.mean_surprisal IS NOT NULL
WINDOW w AS (PARTITION BY d.lang ORDER BY s.mean_surprisal, s.doc_id)
"""


BM25_QUERY_TERMS = ["spark", "query", "join"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval over documents for a fixed term bag — the
    full-text retrieval primitive next to the ANN surface. Per-(doc,term)
    contributions quantized to 8-dp integers before the per-doc sum; the
    top-k order is the total order (score, doc_id)."""
    from basic_data_fusion_spark.operators.text import bm25_topk

    docs = _catalog(spark, sf_dir).load("documents")
    return bm25_topk(docs, BM25_QUERY_TERMS, k=20)


# shared CTE chain: tokenize -> corpus stats -> tf -> df -> quantized
# per-(doc,term) contributions -> per-doc integer score `s` (reused by
# the BM25 query oracle and the hybrid-RRF fusion oracle)
_BM25_SCORED_CTES = r"""t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
base AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM base),
tf AS (
  SELECT doc_id, dl, token, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM base)
  WHERE token IN ('spark', 'query', 'join')
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT token, COUNT(*) AS df_t FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln(CAST(1.0 AS DOUBLE)
              + (stats.n_docs - dfreq.df_t + CAST(0.5 AS DOUBLE))
                / (dfreq.df_t + CAST(0.5 AS DOUBLE)))
           * CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
           / (tf.tf + CAST(1.2 AS DOUBLE)
              * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * tf.dl
                   / (CAST(stats.total_dl AS DOUBLE) / stats.n_docs)))
           * CAST(100000000.0 AS DOUBLE), 0) AS BIGINT) AS c_int
  FROM tf JOIN dfreq USING (token) CROSS JOIN stats
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_terms_matched, SUM(c_int) AS s
  FROM contrib GROUP BY 1
)"""

_BM25_ORACLE = "WITH " + _BM25_SCORED_CTES + """
SELECT doc_id, n_terms_matched,
       CAST(s AS DOUBLE) / CAST(100000000.0 AS DOUBLE) AS bm25_score
FROM scored
ORDER BY s DESC, doc_id
LIMIT 20
"""


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-100 and exact-cosine semantic
    top-100 (query = embedding 0) fused by reciprocal-rank fusion
    (similarity.rrf_fuse, Cormack et al. 2009). Both arms end in
    bounded ranked lists, so the fuse is a broadcast-sized full-outer
    join no matter how large the corpus; the fused score is a fixed
    two-term IEEE expression — bit-identical to the oracle."""
    from basic_data_fusion_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )
    from basic_data_fusion_spark.operators.text import bm25_topk
    from pyspark.sql import Window

    cat = _catalog(spark, sf_dir)
    docs = cat.load("documents")
    emb = cat.load("embeddings")
    lex = bm25_topk(docs, BM25_QUERY_TERMS, k=100)
    wl = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    lex = lex.select("doc_id", F.row_number().over(wl).alias("rank"))
    qv = (emb.filter(F.col("vec_id") == 0)
          .select(F.lit(0).alias("query_id"), "embedding"))
    sem = (brute_force_topk(emb, qv, k=100, deterministic=True)
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse(lex, sem, id_col="doc_id", k_const=60, k=20)


_HYBRID_RRF_ORACLE = "WITH " + _BM25_SCORED_CTES + r""",
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
  FROM scored ORDER BY s DESC, doc_id LIMIT 100
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
parts AS (
  SELECT e.vec_id AS doc_id,
         SUM(CAST(ROUND(CAST(qv.q[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS dot,
         SUM(CAST(ROUND(CAST(qv.q[i] AS DOUBLE) * CAST(qv.q[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM qv CROSS JOIN embeddings e CROSS JOIN dims
  GROUP BY e.vec_id
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY dot / (SQRT(aa) * SQRT(bb)) DESC,
                            doc_id) AS r
  FROM parts
  ORDER BY dot / (SQRT(aa) * SQRT(bb)) DESC, doc_id LIMIT 100
),
fused AS (
  SELECT COALESCE(l.doc_id, se.doc_id) AS doc_id,
         l.r AS rank_a, se.r AS rank_b,
         COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.r), CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + se.r), CAST(0.0 AS DOUBLE))
           AS rrf_score
  FROM lex l FULL JOIN sem se ON l.doc_id = se.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way training-shard plan: md5-nibble routing +
    reproducible within-shard order — the engine-portable global shuffle
    that precedes training-data serialization."""
    from basic_data_fusion_spark.sources.partitioning import shard_assignments

    docs = _catalog(spark, sf_dir).load("documents")
    return shard_assignments(docs)


_SHARD_PLAN_ORACLE = """
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
)
SELECT doc_id,
       CAST(strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY strpos('0123456789abcdef', substr(hx, 1, 1))
         ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM h
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity manifest (partitioning.shard_manifest):
    doc/token counts plus an order-independent content checksum
    (sum of 60-bit content-md5 prefixes mod 2^60) per md5-nibble
    shard — the artifact a consumer verifies before training."""
    from basic_data_fusion_spark.sources.partitioning import shard_manifest

    docs = _catalog(spark, sf_dir).load("documents")
    return shard_manifest(docs)


_SHARD_MANIFEST_ORACLE = r"""
WITH h AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS hx,
         CAST(('0x' || substr(
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))),
             1, 15)) AS BIGINT) AS term,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
         END AS tok
  FROM documents
)
SELECT CAST(strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS INT)
         AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(term AS HUGEINT)) % 1152921504606846976 AS BIGINT)
         AS content_checksum
FROM h GROUP BY 1 ORDER BY shard
"""


def _quality_percentile_oracle() -> str:
    # nests the quality-score oracle (defined below) as a subquery; built
    # lazily so module definition order doesn't matter
    return f"""
WITH j AS (
  SELECT q.doc_id, d.lang, q.quality_score, q.n_tokens
  FROM ({_QUALITY_ORACLE}) q JOIN documents d USING (doc_id)
),
r AS (
  SELECT doc_id, lang, quality_score,
         PERCENT_RANK() OVER (PARTITION BY lang
                              ORDER BY quality_score, n_tokens, doc_id)
           AS quantile_rank
  FROM j
)
SELECT doc_id, lang, quality_score, quantile_rank
FROM r WHERE quantile_rank >= CAST(0.75 AS DOUBLE)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.dedup import ngram_jaccard_pairs

    docs = _catalog(spark, sf_dir).load("documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.8)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → per-doc cluster label +
    size (keep-one-per-cluster is ``cluster_id == doc_id``); the CC
    algorithm is alternating large-star/small-star (O(log n) rounds,
    no driver graph state).

    RE-PRICED r11 (r10 verdict #1, the last exhaustive-pair-fed
    contract): edges now come from the deterministic MinHash BANDED
    candidate join + exact-jaccard verification
    (``minhash_dedup_pairs(deterministic=True)``, the hash-green
    ``minhash_dedup_det`` relation) instead of the exhaustive shingle
    self-join — cost O(candidates), not O(corpus²); sf1's planted
    ~10-copy cliques made the exhaustive tier's PAIR SET grow ~50×
    (17.4× wall at 10× data, SCALE.md r10) while the banded feed
    tracks candidates (``incremental_clusters_banded`` 2.5× and the
    r10 ``dedup_keep_best`` re-price 3.2× are the precedents).  The
    oracle replays the identical banded pipeline via
    ``_minhash_det_oracle`` before the same recursive-CTE CC;
    CC-over-exhaustive-jaccard parity stays driver-checked by the
    bounded-slice composites (``incremental_clusters``,
    ``leakage_safe_split``)."""
    from basic_data_fusion_spark.operators.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    pairs = minhash_dedup_pairs(docs, n=3, num_hashes=64, bands=16,
                                threshold=0.8, deterministic=True)
    return dedup_clusters(docs, pairs)


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster maintenance (NEW r7, dedup.incremental_clusters): the
    corpus split 90/10 into a standing corpus (doc_id % 10 != 0,
    clustered by the exact-jaccard tier) and an arriving batch; the
    batch's pairs (every jaccard pair touching a batch doc — what the
    incremental candidate tiers emit) merge into the standing labels
    WITHOUT re-pairing the old corpus.  Output equals the full
    recompute by the star-contraction argument (equivalence-tested);
    the oracle replays the two-stage composition with nested recursive
    CTEs.

    RE-PRICED r9: now that ``incremental_clusters_banded`` carries the
    scale story (the sf1 A/B and the O(batch+candidates) sweep), this
    row's remaining job is oracle-parity of the EXHAUSTIVE-fed merge —
    so like the other acceptance composites it prices a bounded md5
    slice (gate_slice frac=0.3, the banded row's slice, replayed by a
    shadowing ``documents`` CTE in the oracle).  The exhaustive
    shingle self-join is quadratic in documents, so the slice cuts the
    pair tier ~11x while the sliced corpus keeps hundreds of verified
    pairs through both CC stages at driver scale.

    RE-PRICED r13 (r12 verdict #1): the slice is additionally CAPPED
    at ``max_rows=_GATE_MAX_ROWS`` — the r12 decade sweep proved a
    bare fraction keeps this exhaustive-fed gate quadratic in corpus
    size (417 s at sf10); the fixed-size slice costs the same at
    sf0.1 and at 100 TB, and at driver scale the 0.3-slice is below
    the cap so values are unchanged."""
    from basic_data_fusion_spark.operators.dedup import (
        cluster_labels,
        gate_slice,
        incremental_clusters,
        ngram_jaccard_pairs,
    )

    docs = gate_slice(_catalog(spark, sf_dir).load("documents"), 0.3,
                      max_rows=_GATE_MAX_ROWS).localCheckpoint(eager=False)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    # jaccard is pairwise, so the old-corpus pair relation is the full
    # relation filtered to old endpoints — ONE pair tier feeds both the
    # standing labels and the batch merge (checkpointed: the shingle
    # self-join runs once for its two consumers)
    all_pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8) \
        .localCheckpoint(eager=False)
    old_pairs = all_pairs.filter((F.col("id_a") % 10 != 0)
                                 & (F.col("id_b") % 10 != 0))
    # cluster_labels, not dedup_clusters: the merge consumes only the
    # label map, so the size aggregation + join dedup_clusters pays
    # would be discarded work (r13 opt; old_pairs endpoints ⊆ old)
    labels_old = cluster_labels(old, old_pairs)
    new_pairs = all_pairs.filter((F.col("id_a") % 10 == 0)
                                 | (F.col("id_b") % 10 == 0))
    new_ids = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return incremental_clusters(labels_old, new_pairs, new_ids)


def _incremental_clusters_oracle(slice_frac: float = 0.3) -> str:
    jac = _ngram_jaccard_oracle(0.8)
    # jaccard is pairwise, so the old-corpus pair relation is the full
    # relation filtered to old endpoints — mirrors the Spark side's
    # single shared pair tier.  The r9 gate slice replays as a
    # shadowing ``documents`` CTE (dedup_recall precedent), which the
    # nested jaccard oracle's bare ``documents`` references resolve
    # to; r13 adds the max_rows top-n to the same predicate.
    pred = _gate_slice_sql(slice_frac, _GATE_MAX_ROWS)
    return f"""
WITH RECURSIVE
documents AS (SELECT * FROM main.documents WHERE {pred}),
p_all AS (SELECT id_a, id_b FROM ({jac}) t),
p_old AS (
  SELECT id_a, id_b FROM p_all
  WHERE id_a % 10 <> 0 AND id_b % 10 <> 0
),
e1 AS (SELECT id_a AS u, id_b AS v FROM p_old
       UNION SELECT id_b, id_a FROM p_old),
walk1(n, r) AS (
  SELECT DISTINCT u, u FROM e1
  UNION
  SELECT w.n, e.v FROM walk1 w JOIN e1 e ON e.u = w.r
),
lbl1 AS (SELECT n, MIN(r) AS c FROM walk1 GROUP BY n),
labels_old AS (
  SELECT d.doc_id, COALESCE(l.c, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lbl1 l ON l.n = d.doc_id
  WHERE d.doc_id % 10 <> 0
),
p_new AS (
  SELECT id_a, id_b FROM p_all
  WHERE id_a % 10 = 0 OR id_b % 10 = 0
),
star AS (SELECT doc_id AS id_a, cluster_id AS id_b
         FROM labels_old WHERE doc_id <> cluster_id),
eu AS (SELECT id_a, id_b FROM p_new UNION SELECT id_a, id_b FROM star),
e2 AS (SELECT id_a AS u, id_b AS v FROM eu UNION SELECT id_b, id_a FROM eu),
walk2(n, r) AS (
  SELECT DISTINCT u, u FROM e2
  UNION
  SELECT w.n, e.v FROM walk2 w JOIN e2 e ON e.u = w.r
),
lbl2 AS (SELECT n, MIN(r) AS cluster_id FROM walk2 GROUP BY n),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl2
       GROUP BY cluster_id)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size
FROM documents d
LEFT JOIN lbl2 l ON l.n = d.doc_id
LEFT JOIN sz s ON s.cluster_id = l.cluster_id
"""


def q_incremental_clusters_banded(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Cluster maintenance fed by the BANDED candidate tier (NEW r8 —
    closes SCALE.md's reservation that the r7 contract still paid a
    full-corpus pair scan to derive the batch pairs): same 90/10 split
    as ``incremental_clusters``, but every pair relation comes from the
    deterministic MinHash index — the standing corpus clusters over its
    own banded pairs, and the batch's merge pairs are the index PROBE
    (``incremental_minhash_dedup``: batch↔corpus, cost O(batch +
    candidates)) plus the batch's self-pairs (batch↔batch, batch-sized).
    Nothing touches an old↔old pair at merge time, so the refresh cost
    tracks the batch, not the corpus.  Because band keys are per-doc,
    the three relations partition the full banded pair relation by
    endpoint class — so the composite composes the PRIMITIVES the way
    the streaming sink does: sign and shingle the sliced corpus ONCE,
    one banded candidate join, one exact-jaccard verification, then the
    endpoint split (the split equality to the three operator calls —
    minhash_dedup_pairs(old/batch) and incremental_minhash_dedup — is
    pinned by test_banded_composite_split_equals_operator_calls).  The
    oracle computes the identical single relation and splits it, then
    replays the two-stage star-contraction CC.  Like the other
    acceptance composites (dedup_recall_report precedent) the contract
    prices a bounded md5 slice (gate_slice frac=0.3, capped at
    max_rows=_GATE_MAX_ROWS since r13, replayed by a shadowing
    documents CTE in the oracle)."""
    from basic_data_fusion_spark.operators.dedup import (
        cluster_labels,
        gate_slice,
        incremental_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = gate_slice(_catalog(spark, sf_dir).load("documents"), 0.3,
                      max_rows=_GATE_MAX_ROWS).localCheckpoint(eager=False)
    sets = docs.select("doc_id",
                       word_shingles(F.col("text"), 3).alias("shingles")) \
        .localCheckpoint(eager=False)
    sig = minhash_signatures(docs, "text", "doc_id", 3, 64, 42,
                             hash_fn="md5")
    cands = lsh_candidate_pairs(sig, "doc_id", bands=16, num_hashes=64,
                                hash_buckets=False)
    a = sets.select(F.col("doc_id").alias("id_a"),
                    F.col("shingles").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"),
                    F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = (n_common.cast("double")
           / (F.size("sh_a") + F.size("sh_b") - n_common))
    pairs = (cands.join(a, "id_a").join(b, "id_b")
             .filter(jac >= F.lit(0.8))
             .select("id_a", "id_b")
             .localCheckpoint(eager=False))
    is_new = lambda c: F.col(c) % 10 == 0
    old_pairs = pairs.filter(~is_new("id_a") & ~is_new("id_b"))
    new_pairs = pairs.filter(is_new("id_a") | is_new("id_b"))
    old = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # cluster_labels, not dedup_clusters: the merge consumes only the
    # label map, so the size aggregation + join dedup_clusters pays
    # would be discarded work (r13 opt; old_pairs endpoints ⊆ old)
    labels_old = cluster_labels(old, old_pairs)
    return incremental_clusters(labels_old, new_pairs,
                                batch.select("doc_id"))


def _incremental_clusters_banded_oracle(slice_frac: float = 0.3) -> str:
    # the three Spark-side pair relations (old self-join, batch→corpus
    # probe, batch self-join) partition the FULL det-banded pair
    # relation by endpoint class (band keys are per-doc), so the oracle
    # derives them by filtering one relation — then replays the same
    # two-stage CC as _incremental_clusters_oracle.  The md5 gate slice
    # (+ r13 max_rows cap) replays as a shadowing ``documents`` CTE
    # (dedup_recall precedent).
    pairs = _minhash_det_oracle(threshold=0.8)
    pred = _gate_slice_sql(slice_frac, _GATE_MAX_ROWS)
    return f"""
WITH RECURSIVE
documents AS (SELECT * FROM main.documents WHERE {pred}),
p_all AS (SELECT id_a, id_b FROM ({pairs}) t),
p_old AS (
  SELECT id_a, id_b FROM p_all
  WHERE id_a % 10 <> 0 AND id_b % 10 <> 0
),
e1 AS (SELECT id_a AS u, id_b AS v FROM p_old
       UNION SELECT id_b, id_a FROM p_old),
walk1(n, r) AS (
  SELECT DISTINCT u, u FROM e1
  UNION
  SELECT w.n, e.v FROM walk1 w JOIN e1 e ON e.u = w.r
),
lbl1 AS (SELECT n, MIN(r) AS c FROM walk1 GROUP BY n),
labels_old AS (
  SELECT d.doc_id, COALESCE(l.c, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lbl1 l ON l.n = d.doc_id
  WHERE d.doc_id % 10 <> 0
),
p_new AS (
  SELECT id_a, id_b FROM p_all
  WHERE id_a % 10 = 0 OR id_b % 10 = 0
),
star AS (SELECT doc_id AS id_a, cluster_id AS id_b
         FROM labels_old WHERE doc_id <> cluster_id),
eu AS (SELECT id_a, id_b FROM p_new UNION SELECT id_a, id_b FROM star),
e2 AS (SELECT id_a AS u, id_b AS v FROM eu UNION SELECT id_b, id_a FROM eu),
walk2(n, r) AS (
  SELECT DISTINCT u, u FROM e2
  UNION
  SELECT w.n, e.v FROM walk2 w JOIN e2 e ON e.u = w.r
),
lbl2 AS (SELECT n, MIN(r) AS cluster_id FROM walk2 GROUP BY n),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl2
       GROUP BY cluster_id)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size
FROM documents d
LEFT JOIN lbl2 l ON l.n = d.doc_id
LEFT JOIN sz s ON s.cluster_id = l.cluster_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule flags (Rae et al. 2021 §A1.1) per document —
    word-count / mean-word-length bounds, symbol and bullet/ellipsis
    line ratios, alphabetic-word fraction, must-have-stopword presence,
    plus the conjunction ``keep``. Bounds are tuned to the synthetic
    corpus (min_words=30, min_stop_hits=1) so the flags discriminate;
    the operator defaults are the published Gopher constants."""
    from basic_data_fusion_spark.operators.text import gopher_rules

    docs = _catalog(spark, sf_dir).load("documents")
    return gopher_rules(docs, min_words=30, min_stop_hits=1)


def q_dedup_impact_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup planning report: price greedy keep-smallest-id removal at
    four candidate jaccard thresholds from ONE pair relation — here the
    PPJoin prefix-filter tier, which is EXACT (same pair set as the
    exhaustive tier, pinned by test_prefix_filter_*) but prefix-bounded,
    so the sweep's cost at scale is the production similarity join plus
    two tiny aggregations. Thresholds sit inside the corpus's observed
    [0.9, 0.99] near-dup band so the sweep discriminates. The DuckDB
    oracle replays the exhaustive tier — the prefix filter's exactness
    is part of what the hash check pins."""
    from basic_data_fusion_spark.operators.dedup import (
        dedup_impact_sweep,
        prefix_filter_jaccard_pairs,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.9)
    return dedup_impact_sweep(docs, pairs, [0.9, 0.94, 0.96, 0.98])


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH → exact-jaccard verification. Engine-specific hash
    (xxhash64) → rows-only driver check; recall vs exhaustive jaccard is
    pytest-verified (tests/test_dedup.py)."""
    from basic_data_fusion_spark.operators.dedup import minhash_dedup_pairs

    docs = _catalog(spark, sf_dir).load("documents")
    return minhash_dedup_pairs(docs, n=3, num_hashes=32, bands=16, threshold=0.8)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit near-dups (Hamming ≤ 3). Engine-specific hash →
    rows-only driver check; pytest-verified against planted dups."""
    from basic_data_fusion_spark.operators.dedup import simhash_near_dups

    docs = _catalog(spark, sf_dir).load("documents")
    return simhash_near_dups(docs, max_hamming=3, n=2)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector (vec_id < 10), the 5
    most-similar corpus vectors with a DIFFERENT label — the
    contrastive-training pair source. Same broadcast + window-rank
    shape as embedding_topk, plus the per-pair label test."""
    from basic_data_fusion_spark.operators.similarity import hard_negatives

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding",
                          "label"))
    return hard_negatives(emb, queries_df, k=5, deterministic=True)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.operators.similarity import brute_force_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return brute_force_topk(emb, queries_df, k=5, deterministic=True)


def _ivf_centroids(dim: int = 64, cells: int = 8, seed: int = 7) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    c = rng.standard_normal((cells, dim))
    return [[float(x) for x in row] for row in c]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse-cell) approximate top-k; rows-only driver check,
    recall vs brute force pytest-verified (tests/test_pipeline_ops.py)."""
    from basic_data_fusion_spark.operators.similarity import ivf_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivf_topk(emb, queries_df, _ivf_centroids(), k=5, nprobe=3)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ asymmetric-distance top-k (Jégou et al. 2011): corpus
    vectors quantized to 16 one-byte codes, queries score via per-query
    distance tables — the billion-scale ANN memory shape. Codebooks are
    a deterministic pure function of the data (md5-ranked bounded sample,
    seeded numpy Lloyd) but engine-specific → rows-only driver check;
    recall vs exact L2 and a numpy differential are pytest-verified."""
    from basic_data_fusion_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    books = train_pq_codebooks(emb, m=16, ksub=64, sample=1024, max_iter=8)
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return pq_topk(emb, queries_df, books, k=5)


def _pq_codebooks_fixed(dim: int = 64, m: int = 8, ksub: int = 16,
                        seed: int = 11) -> list[list[list[float]]]:
    """Seeded-random PQ codebooks for the deterministic twin — fixed
    literals both engines embed verbatim (the trained tier's codebooks
    are a pure function of the data but numpy-Lloyd-specific, so they
    can't replay in SQL; fixed books exercise the identical encode/ADC/
    rank pipeline)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    dsub = dim // m
    return [[[float(x) for x in rng.standard_normal(dsub)]
             for _ in range(ksub)] for _ in range(m)]


def q_pq_topk_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ twin: fixed seeded codebook literals +
    fixed-point integer distance quanta for BOTH the code assignment
    argmin and the ADC table entries, so the per-vector codes, every
    ADC sum (an integer sum — order-free) and the final ranking replay
    in plain SQL and value-hash against the generated oracle. The
    trained tier (`pq_topk`) stays rows-only with numpy-differential +
    recall pytest coverage."""
    from basic_data_fusion_spark.operators.similarity import pq_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return pq_topk(emb, queries_df, _pq_codebooks_fixed(), k=5,
                   deterministic=True)


def _pq_topk_det_oracle(k: int = 5, m: int = 8, ksub: int = 16,
                        dim: int = 64) -> str:
    books = _pq_codebooks_fixed(dim=dim, m=m, ksub=ksub)
    dsub = dim // m
    values = ", ".join(
        f"({s}, {j}, {i + 1}, {v!r}::DOUBLE)"
        for s, book in enumerate(books)
        for j, cent in enumerate(book)
        for i, v in enumerate(cent))
    fp = "CAST(1000000000000.0 AS DOUBLE)"
    return f"""
WITH cb(s, j, i, cv) AS (VALUES {values}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
dist AS (
  SELECT b.vec_id, c.s, c.j,
         SUM(CAST(ROUND((b.e[c.s * {dsub} + c.i] - c.cv)
                        * (b.e[c.s * {dsub} + c.i] - c.cv) * {fp}, 0)
                  AS BIGINT)) AS d2i
  FROM base b CROSS JOIN cb c
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, j AS code
  FROM (SELECT vec_id, s, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2i ASC, j ASC) AS rn
        FROM dist)
  WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, s, j, d2i FROM dist WHERE vec_id < 10),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, SUM(q.d2i) AS adci
  FROM codes c JOIN qtab q ON q.s = c.s AND q.j = c.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(adci AS DOUBLE) / {fp} AS adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adci ASC, neighbor_id ASC) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ composition with exact re-rank (FAISS billion-scale
    default): nprobe coarse cells bound candidates, 16-byte PQ codes
    bound per-vector reads, exact L2 re-ranks the k·4 shortlist.
    Trained quantizers → rows-only driver check; recall-improvement vs
    raw ADC is pytest-verified."""
    from basic_data_fusion_spark.operators.similarity import (
        ivfpq_topk,
        train_pq_codebooks,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    books = train_pq_codebooks(emb, m=16, ksub=64, sample=1024, max_iter=8)
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivfpq_topk(emb, queries_df, _ivf_centroids(), books,
                      k=5, nprobe=3, refine=4)


def q_ivfpq_topk_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF-PQ twin — the full composition (fixed-point L2
    cell argmin, integer-quanta PQ codes and ADC sums, fixed-point exact
    re-rank of the k·refine shortlist) under fixed centroid + codebook
    literals, so the complete billion-scale search pipeline replays in
    SQL and value-hashes. With this, every ANN tier (brute force, IVF,
    SQ8, PQ, IVF-PQ) and every dedup tier has a hash-checked driver
    row; the trained tier (`ivfpq_topk`) stays the fast path."""
    from basic_data_fusion_spark.operators.similarity import ivfpq_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivfpq_topk(emb, queries_df, _ivf_centroids(),
                      _pq_codebooks_fixed(), k=5, nprobe=3, refine=4,
                      deterministic=True)


def _ivfpq_topk_det_oracle(k: int = 5, nprobe: int = 3, refine: int = 4,
                           m: int = 8, ksub: int = 16,
                           dim: int = 64) -> str:
    cents = _ivf_centroids()
    books = _pq_codebooks_fixed(dim=dim, m=m, ksub=ksub)
    dsub = dim // m
    cent_vals = ", ".join(
        f"({ci}, {i + 1}, {v!r}::DOUBLE)"
        for ci, row in enumerate(cents) for i, v in enumerate(row))
    cb_vals = ", ".join(
        f"({s}, {j}, {i + 1}, {v!r}::DOUBLE)"
        for s, book in enumerate(books)
        for j, cent in enumerate(book)
        for i, v in enumerate(cent))
    fp = "CAST(1000000000000.0 AS DOUBLE)"
    return f"""
WITH cent(cell, i, cv) AS (VALUES {cent_vals}),
cb(s, j, i, cv) AS (VALUES {cb_vals}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
celld AS (
  SELECT b.vec_id, c.cell,
         SUM(CAST(ROUND((b.e[c.i] - c.cv) * (b.e[c.i] - c.cv) * {fp}, 0)
                  AS BIGINT)) AS d2i
  FROM base b CROSS JOIN cent c
  GROUP BY 1, 2
),
asgn AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2i ASC, cell ASC) AS rn
        FROM celld)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2i ASC, cell ASC) AS rn
        FROM celld WHERE vec_id < 10)
  WHERE rn <= {nprobe}
),
dist AS (
  SELECT b.vec_id, c.s, c.j,
         SUM(CAST(ROUND((b.e[c.s * {dsub} + c.i] - c.cv)
                        * (b.e[c.s * {dsub} + c.i] - c.cv) * {fp}, 0)
                  AS BIGINT)) AS d2i
  FROM base b CROSS JOIN cb c
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, j AS code
  FROM (SELECT vec_id, s, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2i ASC, j ASC) AS rn
        FROM dist)
  WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, s, j, d2i FROM dist WHERE vec_id < 10),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
),
adc AS (
  SELECT c.query_id, c.neighbor_id, SUM(q.d2i) AS adci
  FROM cand c
  JOIN codes cd ON cd.vec_id = c.neighbor_id
  JOIN qtab q ON q.query_id = c.query_id
            AND q.s = cd.s AND q.j = cd.code
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adci ASC, neighbor_id ASC)
                 AS rn
        FROM adc)
  WHERE rn <= {k * refine}
),
dims AS (SELECT i FROM generate_series(1, {dim}) AS g(i)),
refined AS (
  SELECT s.query_id, s.neighbor_id,
         SUM(CAST(ROUND((qb.e[d.i] - nb.e[d.i]) * (qb.e[d.i] - nb.e[d.i])
                        * {fp}, 0) AS BIGINT)) AS l2i
  FROM short s
  JOIN base qb ON qb.vec_id = s.query_id
  JOIN base nb ON nb.vec_id = s.neighbor_id
  CROSS JOIN dims d
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(l2i AS DOUBLE) / {fp} AS l2_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY l2i ASC, neighbor_id ASC) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, l2_dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_part_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: exact top-20 heaviest join keys in the fact table
    (the report that decides where salting / AQE skew-join is needed).
    One partial-agg shuffle + sort-limit partial top-k; the total order
    (count DESC, key) makes the cut deterministic."""
    li = _catalog(spark, sf_dir).load("lineitem")
    return (li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("l_orderkey").alias("n_orders"))
            .orderBy(F.col("n_rows").desc(), F.col("l_partkey"))
            .limit(20))


_HEAVY_HITTERS_ORACLE = """
SELECT l_partkey, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_partkey
ORDER BY n_rows DESC, l_partkey
LIMIT 20
"""


def q_ivf_topk_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF tier: fixed seeded centroid literals +
    fixed-point cosine for assignment, probe and scoring — the entire
    cell-probe search (including which cell every vector lands in)
    replays in SQL and value-hashes against the generated oracle. The
    float tier (`q_ivf_topk`: the same `_ivf_centroids()`, float
    cosine) stays rows-only."""
    from basic_data_fusion_spark.operators.similarity import ivf_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivf_topk(emb, queries_df, _ivf_centroids(), k=5, nprobe=3,
                    deterministic=True)


def _ivf_det_oracle(k: int = 5, nprobe: int = 3) -> str:
    cents = _ivf_centroids()
    values = ", ".join(
        f"({ci}, {i + 1}, {v!r}::DOUBLE)"
        for ci, row in enumerate(cents) for i, v in enumerate(row))
    fps = _fps_sql

    return f"""
WITH cent(cell, i, cv) AS (VALUES {values}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
asgn_parts AS (
  SELECT b.vec_id, c.cell,
         {fps('b.e[c.i] * c.cv')} AS ab,
         {fps('b.e[c.i] * b.e[c.i]')} AS aa,
         {fps('c.cv * c.cv')} AS bb
  FROM base b CROSS JOIN cent c
  GROUP BY b.vec_id, c.cell
),
asgn AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts WHERE vec_id < 10)
  WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
pair_parts AS (
  SELECT c.query_id, c.neighbor_id,
         {fps('q.e[dims.i] * n.e[dims.i]')} AS ab,
         {fps('q.e[dims.i] * q.e[dims.i]')} AS aa,
         {fps('n.e[dims.i] * n.e[dims.i]')} AS bb
  FROM cand c
  JOIN base q ON q.vec_id = c.query_id
  JOIN base n ON n.vec_id = c.neighbor_id
  CROSS JOIN dims
  GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ab / (SQRT(aa) * SQRT(bb)) AS cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                     neighbor_id ASC) AS rank
  FROM pair_parts
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_semantic_dedup_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SemDeDup tier: fixed centroid literals + fixed-point
    cosine for assignment AND the within-cell near predicate — the whole
    keep/drop decision replays in SQL and value-hashes. The trained-
    quantizer default stays rows-only.

    The gate runs on a BOUNDED id slice (vec_id < 2000 — the full
    corpus at the driver's scale factors, a fixed-size sample above):
    fixed centroid literals cannot auto-scale their cell count with the
    corpus, so an unbounded det tier degrades as n²/cells (the r6 sf1
    sweep measured 27× at 10× data) — an acceptance gate samples; the
    trained-quantizer fast tier with its auto-scaled grid is the
    production path."""
    from basic_data_fusion_spark.operators.similarity import semantic_dedup

    emb = (_catalog(spark, sf_dir).load("embeddings")
           .filter(F.col("vec_id") < 2000))
    return semantic_dedup(emb, threshold=0.95,
                          centroids=_ivf_centroids(),
                          deterministic=True)


def _semantic_dedup_det_oracle(threshold: float = 0.95) -> str:
    cents = _ivf_centroids()
    values = ", ".join(
        f"({ci}, {i + 1}, {v!r}::DOUBLE)"
        for ci, row in enumerate(cents) for i, v in enumerate(row))
    fps = _fps_sql

    return f"""
WITH cent(cell, i, cv) AS (VALUES {values}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE vec_id < 2000
),
asgn_parts AS (
  SELECT b.vec_id, c.cell,
         {fps('b.e[c.i] * c.cv')} AS ab,
         {fps('b.e[c.i] * b.e[c.i]')} AS aa,
         {fps('c.cv * c.cv')} AS bb
  FROM base b CROSS JOIN cent c
  GROUP BY b.vec_id, c.cell
),
asgn AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts)
  WHERE rn = 1
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
norms AS (
  SELECT vec_id, {fps('e[dims.i] * e[dims.i]')} AS n2
  FROM base CROSS JOIN dims GROUP BY vec_id
),
pair_parts AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {fps('x.e[dims.i] * y.e[dims.i]')} AS ab
  FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN base x ON x.vec_id = a.vec_id
  JOIN base y ON y.vec_id = b.vec_id
  CROSS JOIN dims
  GROUP BY a.vec_id, b.vec_id
),
dropped AS (
  SELECT DISTINCT p.id_b AS vec_id
  FROM pair_parts p
  JOIN norms na ON na.vec_id = p.id_a
  JOIN norms nb ON nb.vec_id = p.id_b
  WHERE na.n2 > 0 AND nb.n2 > 0
    AND p.ab / (SQRT(na.n2) * SQRT(nb.n2)) >= CAST({threshold} AS DOUBLE)
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
       (d.vec_id IS NULL) AS keep
FROM asgn a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over documents-as-binary: payload → decode
    stats + feature vector via Arrow-batched mapInPandas. Deterministic
    stand-in codec → rows-only check."""
    from basic_data_fusion_spark.operators.multimodal import (
        decode_images,
        extract_features,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "utf-8").alias("data"))
    decoded = decode_images(media)
    feats = extract_features(media, dim=8)
    return (decoded.join(feats, "media_id")
            .select("media_id", "width", "height", "channels",
                    "mean_intensity", "decode_ok",
                    F.size("feature").alias("feature_dim")))


def q_media_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary container-header parsing, driver-hash-checked: each
    document synthesizes a VALID container (PNG / GIF89a / JPEG by
    ``doc_id % 3``, dimensions derived from the id) as actual bytes via
    ``unhex`` — the JPEG variant includes a variable-length APP1
    segment (``2 + doc_id % 64`` filler bytes) so the bounded marker
    walk is exercised at 64 different offsets — then
    ``multimodal.image_header_meta`` parses the bytes back with NO
    codec (pure JVM hex expressions; operator docstring).  The oracle
    computes the expected (format, width, height) ARITHMETICALLY from
    doc_id, so a hash match proves the entire construct→bytes→parse
    round trip: any error in byte layout, endianness, offset math, or
    the marker walk breaks the hash.  (The synthetic payloads exist
    because the driver tables carry no binary media column; the
    construction is honest — the parsed values are true container
    values of real header bytes.)"""
    from basic_data_fusion_spark.operators.multimodal import (
        image_header_meta,
    )
    from basic_data_fusion_spark.sources.partitioning import spread_narrow

    # hex construct + unhex + header parse are one CPU-bound map pass;
    # spread the single-file scan so it parallelizes (1 task before)
    docs = spread_narrow(
        _catalog(spark, sf_dir).load("documents").select("doc_id"))
    w = (F.lit(64) + F.pmod(F.col("doc_id"), F.lit(1920))).cast("int")
    h = (F.lit(64) + F.pmod(F.col("doc_id") * 7, F.lit(1080))).cast("int")
    k = F.pmod(F.col("doc_id"), F.lit(64)).cast("int")     # APP1 filler

    be16 = lambda x: F.lpad(F.hex(x), 4, "0")
    be32 = lambda x: F.lpad(F.hex(x), 8, "0")
    le16 = lambda x: F.concat(F.lpad(F.hex(F.pmod(x, F.lit(256))), 2, "0"),
                              F.lpad(F.hex((x / 256).cast("int")), 2, "0"))

    png_hex = F.concat(F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
                       be32(w), be32(h), F.lit("0806000000" "00000000"))
    gif_hex = F.concat(F.lit("474946383961"), le16(w), le16(h),
                       F.lit("000000"))
    jpeg_hex = F.concat(
        F.lit("FFD8" "FFE1"), be16(k + 2),
        F.substring(F.lit("45" * 64), 1, k * 2),
        F.lit("FFC0" "0011" "08"), be16(h), be16(w),
        F.lit("03" "012200021101031101"))
    kind = F.pmod(F.col("doc_id"), F.lit(3))
    payload = F.unhex(F.when(kind == 0, png_hex)
                      .when(kind == 1, gif_hex)
                      .otherwise(jpeg_hex))
    media = docs.select(F.col("doc_id").alias("media_id"),
                        payload.alias("data"))
    return image_header_meta(media)


_MEDIA_HEADERS_ORACLE = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            ELSE 'jpeg' END AS format,
       CAST(64 + (doc_id % 1920) AS INT) AS width,
       CAST(64 + ((doc_id * 7) % 1080) AS INT) AS height,
       TRUE AS header_ok
FROM documents
"""


def q_audio_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAV twin of ``media_headers`` (NEW r11, r10 verdict #3):
    each document synthesizes a VALID RIFF/WAVE container as actual
    bytes via ``unhex`` — sample rate, channel count, bit depth and
    data-chunk length all derived from doc_id, with the real PCM
    ``fmt `` fields (byte rate, block align) computed from them and a
    REAL zero-filled data payload of the declared length — then
    ``multimodal.audio_header_meta`` parses the bytes back with NO
    codec (pure JVM hex expressions).  ``doc_id % 3`` picks the chunk
    layout so the bounded chunk walk is exercised, not just the happy
    path: 0 = fmt+data, 1 = a LIST(INFO) chunk BEFORE fmt, 2 = an
    ODD-length LIST chunk whose word-alignment pad byte the walk must
    skip.  The oracle computes every expected field ARITHMETICALLY
    from doc_id (duration = data bytes / byte rate, both exact
    integers, so the IEEE division matches bit-for-bit), making the
    hash a proof of the whole construct→bytes→parse round trip —
    endianness, chunk-offset math, alignment padding and the fmt field
    layout all break it."""
    from basic_data_fusion_spark.operators.multimodal import (
        audio_header_meta,
    )
    from basic_data_fusion_spark.sources.partitioning import spread_narrow

    # same spread rationale as media_headers (1 task / ~1 s exec before)
    docs = spread_narrow(
        _catalog(spark, sf_dir).load("documents").select("doc_id"))

    # The payload expression parses as TWO SQL strings instead of ~200
    # py4j Column calls (the r13 single-parse treatment, change 1 of
    # that round — measured ~430 ms of pure driver build per bench run
    # for this construction alone); the parsed trees evaluate the
    # identical arithmetic, and the oracle hashes every derived field,
    # so the bytes are proven unchanged.  The chunk body is staged
    # through a projection boundary so its hex text is built once per
    # row and the RIFF size reads its length.
    def le(x: str, nbytes: int) -> str:                # little-endian hex
        return "concat(" + ",".join(
            f"lpad(hex(shiftright({x}, {8 * i}) & 255), 2, '0')"
            for i in range(nbytes)) + ")"

    sr = "CAST(8000 * (1 + pmod(doc_id, 5)) AS BIGINT)"
    ch = "CAST(1 + pmod(doc_id, 2) AS BIGINT)"
    bits = ("CAST(CASE WHEN pmod(doc_id, 4) < 2 THEN 16 ELSE 8 END"
            " AS BIGINT)")
    ds = "CAST(8 + pmod(doc_id, 64) AS BIGINT)"        # data bytes
    block = f"CAST({ch} * {bits} / 8 AS BIGINT)"
    br = f"CAST({sr} * {block} AS BIGINT)"             # byte rate
    fmt_hex = ("concat('666D7420" "10000000" "0100',"  # 'fmt ',16,PCM
               f"{le(ch, 2)},{le(sr, 4)},{le(br, 4)},"
               f"{le(block, 2)},{le(bits, 2)})")
    zeros = "00" * 71
    data_hex = (f"concat('64617461',{le(ds, 4)},"
                f"substring('{zeros}', 1, CAST({ds} * 2 AS INT)),"
                # spec word-alignment: odd-length data chunk pads a byte
                f"CASE WHEN pmod({ds}, 2) = 1 THEN '00' ELSE '' END)")
    list_even = "4C495354" "04000000" "494E464F"       # LIST,4,'INFO'
    list_odd = "4C495354" "05000000" "494E464F" "00" "00"  # 5 + pad
    chunks = (f"CASE pmod(doc_id, 3)"
              f" WHEN 0 THEN concat({fmt_hex},{data_hex})"
              f" WHEN 1 THEN concat('{list_even}',{fmt_hex},{data_hex})"
              f" ELSE concat('{list_odd}',{fmt_hex},{data_hex}) END")
    riff_size = "CAST(length(__chunks) / 2 + 4 AS BIGINT)"
    payload = (f"unhex(concat('52494646',{le(riff_size, 4)},"
               f"'57415645',__chunks))")
    media = (docs.withColumn("__chunks", F.expr(chunks))
             .select(F.col("doc_id").alias("media_id"),
                     F.expr(payload).alias("data")))
    return audio_header_meta(media)


_AUDIO_HEADERS_ORACLE = """
SELECT doc_id AS media_id,
       'wav' AS format,
       CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(CASE WHEN doc_id % 4 < 2 THEN 16 ELSE 8 END AS INT)
         AS bits_per_sample,
       CAST(8 + doc_id % 64 AS DOUBLE)
         / CAST(8000 * (1 + doc_id % 5) * (1 + doc_id % 2)
                * (CASE WHEN doc_id % 4 < 2 THEN 16 ELSE 8 END) // 8
                AS DOUBLE) AS duration_s,
       TRUE AS header_ok
FROM documents
"""


def q_line_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document consecutive-duplicate-line collapse (NEW r11,
    dedup.collapse_repeated_lines — the within-doc half of line
    cleanup beside the corpus-level `line_dedup`): each document gets
    a planted 5-line fixture (head line twice, body twice, head once —
    derived from its own text, so short docs where head == body
    exercise the full-collapse path too) and the map-only JVM
    expression collapses the back-to-back repeats, keeping first
    occurrences.  The oracle replays the identical list pipeline."""
    from basic_data_fusion_spark.operators.dedup import (
        collapse_repeated_lines,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    l1 = F.substring(t, 1, 40)
    fixture = F.concat_ws("\n", l1, l1, t, t, l1)
    return collapse_repeated_lines(
        docs.select("doc_id", fixture.alias("text")))


_LINE_COLLAPSE_ORACLE = """
WITH x AS (
  SELECT doc_id,
         substr(COALESCE(text, ''), 1, 40) || chr(10)
           || substr(COALESCE(text, ''), 1, 40) || chr(10)
           || COALESCE(text, '') || chr(10)
           || COALESCE(text, '') || chr(10)
           || substr(COALESCE(text, ''), 1, 40) AS ft
  FROM documents
),
s AS (SELECT doc_id, str_split(ft, chr(10)) AS ls FROM x),
k AS (
  SELECT doc_id, ls,
         list_filter(ls, (x, i) -> i = 1 OR x != ls[i - 1]) AS kept
  FROM s
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS clean_text,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(ls) - len(kept) AS BIGINT) AS n_collapsed
FROM k
"""


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-canonical text dedup (NEW r12, r11 verdict #5 —
    text.canonical_text + dedup.canonical_assignments: the text half
    of key canonicalization beside `url_dedup`'s URL half).  The
    corpus plants a confusable near-copy of every document: arm A is
    the doc text plus an ASCII ``" ... fine"`` tail; arm B (id+1000)
    applies a doc_id%4-selected Unicode disguise — identity,
    ideographic-space substitution, zero-width-prefixed fullwidth
    letters, or NBSP-wrapped uppercase — plus the same tail written
    with a real ellipsis and an fi-ligature.  The JVM fold (ONE
    translate + exact replaces + whitespace collapse + lower, a
    map-side projection — only (id, md5) pairs ever shuffle) must
    land every pair in one group: (doc_id, canonical_id, n_copies)
    with arm B's canonical_id pointing at arm A.  The oracle replays
    the identical disguises and the identical fold chain via
    ``canonical_text_sql`` — generated from the SAME fold tables, so
    any translate/replace/collapse divergence breaks the hash."""
    from basic_data_fusion_spark.operators.dedup import (
        canonical_assignments,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    m = F.pmod(F.col("doc_id"), F.lit(4))
    disguise = (
        F.when(m == 0, t)
        .when(m == 1, F.replace(t, F.lit(" "), F.lit(chr(0x3000))))
        .when(m == 2, F.concat(F.lit(chr(0x200B)),
                               F.replace(t, F.lit("a"),
                                         F.lit(chr(0xFF41)))))
        .otherwise(F.concat(F.lit(chr(0x00A0)), F.upper(t),
                            F.lit(chr(0x00A0)))))
    a = docs.select(F.col("doc_id"),
                    F.concat(t, F.lit(" ... fine")).alias("text"))
    b = docs.select((F.col("doc_id") + 1000).alias("doc_id"),
                    F.concat(disguise,
                             F.lit(" " + chr(0x2026) + " "
                                   + chr(0xFB01) + "ne")).alias("text"))
    return canonical_assignments(a.unionByName(b))


def _canonical_dedup_oracle() -> str:
    from basic_data_fusion_spark.operators.text import canonical_text_sql

    ideo, zwsp, nbsp = chr(0x3000), chr(0x200B), chr(0x00A0)
    tail_b = " " + chr(0x2026) + " " + chr(0xFB01) + "ne"
    return f"""
WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
corpus AS (
  SELECT doc_id, t || ' ... fine' AS text FROM base
  UNION ALL
  SELECT doc_id + 1000,
         CASE doc_id % 4
           WHEN 0 THEN t
           WHEN 1 THEN replace(t, ' ', '{ideo}')
           WHEN 2 THEN '{zwsp}' || replace(t, 'a', '{chr(0xFF41)}')
           ELSE '{nbsp}' || upper(t) || '{nbsp}'
         END || '{tail_b}'
  FROM base
),
keyed AS (
  SELECT doc_id, md5({canonical_text_sql('text')}) AS ck FROM corpus
),
grp AS (
  SELECT ck, MIN(doc_id) AS canonical_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM keyed GROUP BY ck
)
SELECT k.doc_id, g.canonical_id, g.n_copies
FROM keyed k JOIN grp g USING (ck)
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb corpus-level line dedup over documents: lines whose
    trimmed content appears in ≥2 distinct docs are stripped everywhere;
    output is the rebuilt text + removal counts."""
    from basic_data_fusion_spark.operators.dedup import line_dedup

    docs = _catalog(spark, sf_dir).load("documents")
    return line_dedup(docs, min_docs=2)


def q_exactsubstr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup (Lee et al. 2022 §4.1) over documents:
    20-token sliding windows duplicated across ≥2 distinct docs mark
    their covered tokens for removal everywhere; output is the rebuilt
    text + token/removal counts. (Window 20 instead of the paper's 50
    because sf docs average ~54 tokens — 50 would only re-find the
    whole-doc exact dups.)"""
    from basic_data_fusion_spark.operators.dedup import exact_substring_dedup

    docs = _catalog(spark, sf_dir).load("documents")
    return exact_substring_dedup(docs, window=20, min_docs=2)


def q_memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk audit (Carlini-style): the 20 most-duplicated
    20-token sequences in documents with distinct-doc and occurrence
    counts — the shortlist a blocklist or ExactSubstr pass would act
    on. Counting groups md5 keys; span text is rebuilt only for the 20
    winners via a broadcast probe of their representative docs."""
    from basic_data_fusion_spark.operators.dedup import (
        memorization_risk_report,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return memorization_risk_report(docs, window=20, k=20)


def q_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical span decontamination (GPT-3 §C removal variant): every
    13-token window of a training doc that appears verbatim in the
    held-out slice (doc_id % 7 == 0) is cut out; the clean remainder
    survives, unlike the doc-level drop of `decontam_overlap`. Held-out
    window hashes broadcast; train bodies never shuffle."""
    from basic_data_fusion_spark.operators.dedup import decontaminate_spans

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return decontaminate_spans(train, held, window=13)


def q_decontam_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination fraction (GPT-3 'dirty document'
    verdict): how many of each train doc's 13-token windows collide
    with the held-out slice (doc_id % 7 == 0). Runs the streaming
    gate's shared batch path — the same stateless broadcast probe a
    live ingest pipeline runs per micro-batch."""
    from basic_data_fusion_spark.streaming.dedup import (
        streaming_decontaminate,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return streaming_decontaminate(train, held, window=13)


def q_decontam_by_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination breakdown (NEW r11,
    dedup.decontam_by_benchmark): the held-out slice (doc_id % 7 == 0,
    the decontam family's split) is partitioned into three synthetic
    benchmarks by doc_id % 3, and the report answers WHICH benchmark
    leaked into the train side and how badly — eval docs leaked, train
    docs dirty, colliding-window mass, dirty fraction — the GPT-3 §C
    table shape as one hash-checked relation."""
    from basic_data_fusion_spark.operators.dedup import (
        decontam_by_benchmark,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    bench = (F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, "bench_a")
             .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, "bench_b")
             .otherwise("bench_c"))
    held = (docs.filter(F.col("doc_id") % 7 == 0)
            .select("doc_id", "text", bench.alias("benchmark")))
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return decontam_by_benchmark(train, held, window=13)


_DECONTAM_BY_BENCHMARK_ORACLE = r"""
WITH alldocs AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
held AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'bench_a' WHEN 1 THEN 'bench_b'
              ELSE 'bench_c' END AS benchmark,
         toks
  FROM alldocs WHERE doc_id % 7 = 0
),
train AS (SELECT * FROM alldocs WHERE doc_id % 7 <> 0),
ek AS (
  SELECT benchmark, doc_id AS eid,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM held WHERE len(toks) >= 13
),
probe AS (SELECT DISTINCT benchmark, h FROM ek),
tw AS (
  SELECT doc_id AS tid,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM train WHERE len(toks) >= 13
),
hits AS (SELECT p.benchmark, t.tid, t.h FROM tw t JOIN probe p ON p.h = t.h),
dirty AS (SELECT benchmark, COUNT(DISTINCT tid) AS n_train_docs_dirty
          FROM hits GROUP BY 1),
mass AS (SELECT benchmark, COUNT(*) AS n_hit_windows FROM hits GROUP BY 1),
hh AS (SELECT DISTINCT benchmark, h FROM hits),
leaked AS (
  SELECT e.benchmark, COUNT(DISTINCT e.eid) AS n_eval_docs_leaked
  FROM ek e JOIN hh ON hh.benchmark = e.benchmark AND hh.h = e.h
  GROUP BY 1
),
pb AS (SELECT benchmark, COUNT(*) AS n_eval_docs FROM held GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM train)
SELECT pb.benchmark,
       CAST(pb.n_eval_docs AS BIGINT) AS n_eval_docs,
       CAST(COALESCE(l.n_eval_docs_leaked, 0) AS BIGINT)
         AS n_eval_docs_leaked,
       CAST(COALESCE(d.n_train_docs_dirty, 0) AS BIGINT)
         AS n_train_docs_dirty,
       CAST(COALESCE(m.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
       CAST(COALESCE(d.n_train_docs_dirty, 0) AS DOUBLE)
         / NULLIF(CAST(tot.n AS DOUBLE), 0.0)
         AS pct_train_docs_dirty
FROM pb
LEFT JOIN leaked l ON l.benchmark = pb.benchmark
LEFT JOIN dirty d ON d.benchmark = pb.benchmark
LEFT JOIN mass m ON m.benchmark = pb.benchmark
CROSS JOIN tot
ORDER BY pb.benchmark
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169) for tilting the corpus
    toward its English slice: hashed unigram+bigram bucket models,
    add-one smoothing, fixed-point per-bucket log ratios."""
    from basic_data_fusion_spark.operators.selection import dsir_log_weights

    docs = _catalog(spark, sf_dir).load("documents")
    # target is a row-level slice of raw → target_filter derives the
    # target's bucket counts from the raw side's single tokenize pass
    # (r13 opt; values identical by construction, oracle unchanged)
    return dsir_log_weights(docs, docs.filter(F.col("lang") == "en"),
                            buckets=2048,
                            target_filter=F.col("lang") == "en")


def _planted_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL-variant fixture derived from doc_id (documents
    has no URL column): page identity is (host h = b%7, page b =
    doc_id%100); the variant index v = doc_id//100 gives each page's 5
    copies different surface forms — mixed case, default port +
    fragment, www + trailing slash, tracking params + shuffled param
    order — so canonicalization must collapse v∈{0,1,2} (no query) and
    v∈{3,4} (query a=1&b=2) into one canonical URL each."""
    b = (F.col("doc_id") % 100).cast("string")
    h = (F.col("doc_id") % 100 % 7).cast("string")
    v = F.floor(F.col("doc_id") / F.lit(100)).cast("long") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("https://example"), h,
                                F.lit(".com/page/"), b))
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE"), h,
                               F.lit(".COM:443/page/"), b, F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("https://www.example"), h,
                               F.lit(".com/page/"), b, F.lit("/")))
        .when(v == 3, F.concat(F.lit("https://example"), h,
                               F.lit(".com/page/"), b,
                               F.lit("?utm_source=x&b=2&a=1")))
        .otherwise(F.concat(F.lit("https://example"), h,
                            F.lit(".com/page/"), b, F.lit("?a=1&b=2"))))
    return docs.select("doc_id", url.alias("url"))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (RefinedWeb §3.1 — the first crawl-pipeline
    stage) over the planted URL-variant fixture: canonicalize
    scheme/host case, default ports, www, fragments, trailing slashes,
    tracking params and param order, then group by canonical URL."""
    from basic_data_fusion_spark.operators.dedup import url_dedup_groups

    docs = _catalog(spark, sf_dir).load("documents")
    return url_dedup_groups(_planted_urls(docs))


def q_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k DSIR resampling (arXiv:2302.03169 §2.3 via Kool et
    al. 2019): 50 docs sampled ∝ exp(log_weight) toward the English
    target, with the deterministic md5-uniform Gumbel perturbation —
    paper-faithful sampling that is still bit-reproducible."""
    from basic_data_fusion_spark.operators.selection import dsir_gumbel_sample

    docs = _catalog(spark, sf_dir).load("documents")
    return dsir_gumbel_sample(docs, docs.filter(F.col("lang") == "en"),
                              50, buckets=2048,
                              target_filter=F.col("lang") == "en")


def q_pareto_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3 appendix-A Pareto selection over the deterministic Gopher
    quality score: keep iff score > 1 − X, X ~ Pareto(9) from the
    seeded md5-uniform — scores materialized so DuckDB replays the
    whole keep/drop decision bit-exactly."""
    from basic_data_fusion_spark.operators.selection import pareto_keep
    from basic_data_fusion_spark.operators.text import quality_score

    docs = _catalog(spark, sf_dir).load("documents")
    scored = quality_score(docs).select("doc_id", "quality_score")
    return pareto_keep(scored, "quality_score")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs (cosine ≥ 0.99).

    Random sf embeddings never reach 0.99 (max pairwise cosine at
    sf0.01 is ~0.51), so the corpus is salted with 10 PLANTED
    duplicates — copies of vec_id<10 scaled by 1.5 (same direction,
    cosine exactly 1) under id+1_000_000. The LSH must recover exactly
    those pairs; the driver cross-checks against an exhaustive all-pairs
    fixed-point SQL oracle, so both false positives AND false negatives
    hash-mismatch. Deterministic scoring tier for bit-comparability."""
    from basic_data_fusion_spark.operators.similarity import embedding_near_dups

    emb = _catalog(spark, sf_dir).load("embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"))
    planted = (base.filter(F.col("vec_id") < 10)
               .select((F.col("vec_id") + 1000000).alias("vec_id"),
                       F.expr("transform(embedding, x -> x * 1.5d)").alias("embedding")))
    return embedding_near_dups(base.unionByName(planted), threshold=0.99,
                               planes=12, deterministic=True)


_SEMDEDUP_CENTROIDS: dict[tuple[str, str], list[list[float]]] = {}


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means cells → within-cell cosine pairs → greedy
    lowest-id-wins keep flags. Rows-only check (k-means isn't
    SQL-expressible); planted-duplicate recall is pytest-verified.

    The coarse quantizer is trained ONCE per (session, corpus) and
    memoized — at scale the IVF index is built offline and reused by
    every dedup/search query (FAISS practice), so steady-state latency
    must not pay Lloyd iterations per query. Seeded + deterministic, so
    the memo changes timing, never results."""
    from basic_data_fusion_spark.operators.similarity import (
        semantic_dedup,
        train_centroids,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    cents = _SEMDEDUP_CENTROIDS.get(key)
    if cents is None:
        cents = train_centroids(emb, k=8, seed=42, max_iter=8)
        _SEMDEDUP_CENTROIDS[key] = cents
    return semantic_dedup(emb, k=8, threshold=0.95, centroids=cents)


def q_substudy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 substudy/site whole-word matching over a multi-valued string
    (reference: query/query_secure.py:101-117) applied to documents.text
    — the only multi-word string column in the testdata."""
    from basic_data_fusion_spark.functions.scalars import site_whole_word_match

    docs = _catalog(spark, sf_dir).load("documents")
    return (docs.filter(site_whole_word_match(F.col("text"), ["data", "model"]))
            .agg(F.countDistinct("doc_id").alias("n_docs")))


def q_longitudinal_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 longitudinal path: composite key pid_session derived at load
    (lineitem as the long table: l_orderkey=pid, l_linenumber=session),
    session IN-filter (P3), hub join back to orders."""
    from basic_data_fusion_spark.functions.scalars import with_composite_id

    cat = _catalog(spark, sf_dir)
    li = with_composite_id(cat.load("lineitem"), "l_orderkey", "l_linenumber")
    ords = cat.load("orders")
    return (li.filter(F.col("l_linenumber").isin([1, 2]))
            .join(ords, li["l_orderkey"] == ords["o_orderkey"], "left")
            .select(F.col("customID"),
                    F.col("l_orderkey"), F.col("l_linenumber"),
                    F.col("l_quantity"), F.col("o_totalprice"),
                    F.col("o_orderstatus")))


def q_distinct_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 distinct-values scan with the reference's 1000-value cap
    (ordered before the cap → a deterministic set)."""
    cust = _catalog(spark, sf_dir).load("customer")
    return agg.distinct_ordered(cust, "c_name", cap=1000)


def q_categorical_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 categorical half: non-null count, distinct count, deterministic
    mode (count desc, value asc) per categorical column."""
    cat = _catalog(spark, sf_dir)
    out = None
    for table, col in (("customer", "c_mktsegment"), ("orders", "o_orderpriority")):
        s = agg.categorical_summary(cat.load(table), [col], top_k=1)
        one = s.select(
            F.concat(F.lit(f"{table}."), F.col("column")).alias("column"),
            "n_non_null", "n_unique",
            F.element_at("top_values", 1).alias("mode"),
            F.element_at("top_counts", 1).alias("mode_n"))
        out = one if out is None else out.unionByName(one)
    return out


# ---------------------------------------------------------------------------
# time-window operators over events (streaming-ready batch plans)
# ---------------------------------------------------------------------------

def q_events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.streaming.windows import tumbling_window_agg

    ev = _catalog(spark, sf_dir).load("events")
    return tumbling_window_agg(ev, "ts", "1 day", keys=["event_type"])


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.streaming.windows import sliding_window_agg

    ev = _catalog(spark, sf_dir).load("events")
    return sliding_window_agg(ev, "ts", "1 day", "12 hours", keys=["event_type"])


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from basic_data_fusion_spark.streaming.windows import session_window_agg

    ev = _catalog(spark, sf_dir).load("events")
    return session_window_agg(ev, "ts", "30 minutes", keys=["user_id"])


def q_top_event_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function composite (§2.5 Spark note): tumbling daily counts
    ranked per day, keep the busiest event type (deterministic tie-break
    on event_type)."""
    from pyspark.sql import Window

    from basic_data_fusion_spark.streaming.windows import tumbling_window_agg

    ev = _catalog(spark, sf_dir).load("events")
    daily = tumbling_window_agg(ev, "ts", "1 day", keys=["event_type"],
                                value_col=None)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type"))
    return (daily.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") == 1)
            .select("window_start", "event_type", "n_events"))


_TOP_EVENT_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type ASC) AS rk
  FROM daily
)
SELECT window_start, event_type, n_events FROM ranked WHERE rk = 1
"""


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling: extract a JSON field from events.props
    (get_json_object) and aggregate per event type."""
    ev = _catalog(spark, sf_dir).load("events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (ev.groupBy("event_type")
            .agg(F.count(k).alias("n_with_k"),
                 F.sum(k).alias("sum_k"),
                 F.min(k).alias("min_k"),
                 F.max(k).alias("max_k")))


_EVENTS_PROPS_ORACLE = """
SELECT event_type,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


_FP_SUM_VALUE = "SUM(CAST(ROUND(value * 1000000.0, 0) AS BIGINT)) / 1000000.0"

_TUMBLING_ORACLE = f"""
SELECT date_trunc('day', ts) AS window_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {_FP_SUM_VALUE} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2, 3
"""

# each event belongs to exactly duration/slide = 2 sliding windows; the
# window starts are the 12h bucket of ts minus 0 or 1 slide
_SLIDING_ORACLE = f"""
WITH expanded AS (
  SELECT e.*,
         make_timestamp((epoch_us(ts) // 43200000000 - i.i) * 43200000000) AS window_start
  FROM events e CROSS JOIN (SELECT UNNEST([0, 1]) AS i) i
)
SELECT window_start,
       window_start + INTERVAL 24 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {_FP_SUM_VALUE} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM expanded
GROUP BY 1, 2, 3
"""

# gaps-and-islands reconstruction of gap-based session windows
_SESSIONS_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS n_events,
       {_FP_SUM_VALUE} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM s
GROUP BY user_id, sess_id
"""


_EN_STOP_SQL = "'the','and','of','to','a','in','is','that','it','for'"

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS n_tok
  FROM documents
),
f AS (
  SELECT doc_id, n_tok AS n_tokens,
         CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS upper_ratio,
         CAST(len(list_filter(toks, x -> x IN ({_EN_STOP_SQL}))) AS DOUBLE)
           / greatest(n_tok, 1) AS stopword_ratio,
         CASE WHEN n_tok > 0 THEN
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / n_tok
         END AS mean_word_len
  FROM t
)
SELECT *,
       quality_score >= CAST(0.7 AS DOUBLE) AS keep
FROM (
  SELECT f.*,
         (CASE WHEN n_tokens >= 10 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN stopword_ratio >= CAST(0.01 AS DOUBLE) THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
          + CASE WHEN mean_word_len BETWEEN CAST(2.0 AS DOUBLE) AND CAST(12.0 AS DOUBLE)
                 THEN CAST(0.1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS quality_score
  FROM f
) s
"""


def _lang_id_oracle() -> str:
    from basic_data_fusion_spark.operators.text import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    hits = ",\n         ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS h_{}".format(
            ", ".join("'" + w.replace("'", "''") + "'" for w in LANG_PROFILES[lang]), lang)
        for lang in langs)
    all_h = ", ".join(f"h_{lang}" for lang in langs)
    case = " ".join(
        "WHEN " + " AND ".join([f"h_{lang} >= h_{other}" for other in langs if other != lang] or ["TRUE"])
        + f" THEN '{lang}'"
        for lang in langs)
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents
),
h AS (SELECT doc_id, {hits} FROM t)
SELECT doc_id,
       CASE WHEN greatest({all_h}) < 1 THEN NULL
            ELSE (CASE {case} END) END AS detected_lang
FROM h
"""


def _ngram_jaccard_oracle(threshold: float) -> str:
    """The exact word-3-gram jaccard pair relation at ``threshold`` —
    shared by the pair/cluster/impact-sweep oracles."""
    return _NGRAM_JACCARD_ORACLE_T.replace("__THRESHOLD__", repr(float(threshold)))


_NGRAM_JACCARD_ORACLE_T = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM d
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM s a JOIN s b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, x.set_size AS size_a, y.set_size AS size_b,
       CAST(n_common AS DOUBLE) / (x.set_size + y.set_size - n_common) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = id_a
JOIN sz y ON y.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (x.set_size + y.set_size - n_common) >= CAST(__THRESHOLD__ AS DOUBLE)
"""

_NGRAM_JACCARD_ORACLE = _ngram_jaccard_oracle(0.8)

# Gopher rule flags — same staged token/line arrays, integer-derived
# ratio divisions, boolean rule columns; corpus-tuned bounds
# (min_words=30, min_stop_hits=1) mirror q_gopher_rules.
_GOPHER_RULES_ORACLE = r"""
WITH d AS (
  SELECT doc_id, COALESCE(text, '') AS text,
         list_filter(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
                     t -> t <> '') AS toks,
         list_filter(str_split(COALESCE(text, ''), chr(10)),
                     l -> trim(l) <> '') AS lines
  FROM documents
),
f AS (
  SELECT doc_id,
    len(toks) AS n_words,
    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
    length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
    CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis,
    len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
    len(list_filter(['the','be','to','of','and','that','have','with'],
                    w -> list_contains(toks, w))) AS stop_hits,
    len(lines) AS n_lines,
    len(list_filter(lines, l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
    len(list_filter(lines, l -> trim(l) LIKE '%...')) AS n_ell_end
  FROM d
),
g AS (
  SELECT doc_id, n_words, stop_hits,
    CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_words > 0 THEN CAST(n_hash + n_ellipsis AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_word_frac,
    CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / n_lines ELSE 0.0 END AS bullet_ratio,
    CASE WHEN n_lines > 0 THEN CAST(n_ell_end AS DOUBLE) / n_lines ELSE 0.0 END AS ell_ratio
  FROM f
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  mean_word_len, symbol_ratio, alpha_word_frac,
  CAST(stop_hits AS BIGINT) AS stop_hits,
  (n_words >= 30 AND n_words <= 100000) AS rule_word_count,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_mean_word_len,
  (symbol_ratio <= 0.1) AS rule_symbol_ratio,
  (bullet_ratio <= 0.9) AS rule_bullet_lines,
  (ell_ratio <= 0.3) AS rule_ellipsis_lines,
  (alpha_word_frac >= 0.8) AS rule_alpha_words,
  (stop_hits >= 1) AS rule_stopwords,
  (n_words >= 30 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ell_ratio <= 0.3
   AND alpha_word_frac >= 0.8 AND stop_hits >= 1) AS keep
FROM g
"""

# Threshold sweep over the SAME exact-jaccard pair relation; greedy
# keep-smallest-id removal (id_b of any qualifying pair), integer
# counts/sums, integer-derived percentages.
_DEDUP_IMPACT_ORACLE = ("""
WITH p AS (""" + _ngram_jaccard_oracle(0.9) + """),
t AS (SELECT CAST(x AS DOUBLE) AS threshold
      FROM (VALUES (0.9), (0.94), (0.96), (0.98)) v(x)),
e AS (SELECT t.threshold, p.id_b FROM t JOIN p ON p.jaccard >= t.threshold),
pc AS (SELECT threshold, COUNT(*) AS n_pairs FROM e GROUP BY 1),
r AS (SELECT DISTINCT threshold, id_b FROM e),
ra AS (SELECT r.threshold, COUNT(*) AS docs_removed,
              SUM(d.n_chars) AS chars_removed
       FROM r JOIN documents d ON d.doc_id = r.id_b GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_docs, SUM(n_chars) AS n_chars FROM documents)
SELECT t.threshold,
  CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(COALESCE(ra.docs_removed, 0) AS BIGINT) AS docs_removed,
  CAST(COALESCE(ra.chars_removed, 0) AS BIGINT) AS chars_removed,
  CAST(COALESCE(ra.docs_removed, 0) AS DOUBLE) / tot.n_docs AS pct_docs_removed,
  CAST(COALESCE(ra.chars_removed, 0) AS DOUBLE) / tot.n_chars AS pct_chars_removed
FROM t
LEFT JOIN pc USING (threshold)
LEFT JOIN ra ON ra.threshold = t.threshold
CROSS JOIN tot
ORDER BY threshold
""")

# Positional token table (zipped unnest) → word counts, lead() bigrams,
# gaps-and-islands run lengths. All ratios are integer-count divisions.
_REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
w AS (
  SELECT doc_id, unnest(toks) AS word,
         unnest(generate_series(1, len(toks))) AS i
  FROM t
),
wc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
agg AS (SELECT doc_id, MAX(c) AS top_word, COUNT(*) AS n_distinct,
               SUM(c) AS n_tokens
        FROM wc GROUP BY 1),
bg AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY i) AS bigram
  FROM w QUALIFY bigram IS NOT NULL
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bagg AS (SELECT doc_id, MAX(c) AS top_bigram, SUM(c) AS n_bigrams FROM bc GROUP BY 1),
runs AS (
  SELECT doc_id, word,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id, word ORDER BY i) AS grp
  FROM w
),
rl AS (SELECT doc_id, COUNT(*) AS run_len FROM runs GROUP BY doc_id, word, grp),
ragg AS (SELECT doc_id, MAX(run_len) AS max_run FROM rl GROUP BY 1)
SELECT d.doc_id,
       -- SUM(BIGINT) is HUGEINT in DuckDB and fetches as float64; cast back
       -- so the driver's dtype-sensitive value hash sees BIGINT like Spark
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CASE WHEN a.n_tokens IS NULL THEN 0.0
            ELSE CAST(a.n_distinct AS DOUBLE) / a.n_tokens END AS distinct_ratio,
       CASE WHEN a.n_tokens IS NULL THEN 0.0
            ELSE CAST(a.top_word AS DOUBLE) / a.n_tokens END AS top_word_frac,
       CASE WHEN b.n_bigrams IS NULL THEN 0.0
            ELSE CAST(b.top_bigram AS DOUBLE) / b.n_bigrams END AS top_bigram_frac,
       COALESCE(r.max_run, 0) AS max_run
FROM documents d
LEFT JOIN agg a ON a.doc_id = d.doc_id
LEFT JOIN bagg b ON b.doc_id = d.doc_id
LEFT JOIN ragg r ON r.doc_id = d.doc_id
"""

# Min-reachable-node label via recursive CTE over the (deterministic)
# EXHAUSTIVE jaccard pair graph — tiny at oracle scale; the Spark side
# uses large-star/small-star for the 100 TB path.  Since r11 the
# dedup_clusters CONTRACT prices the banded feed
# (_dedup_clusters_banded_oracle below); this exhaustive variant
# remains the nested base of _leakage_split_oracle, whose Spark side
# still clusters over gate-sliced exact-jaccard pairs.
_DEDUP_CLUSTERS_ORACLE = ("""
WITH RECURSIVE p AS (""" + _NGRAM_JACCARD_ORACLE + """),
edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
walk(n, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT w.n, e.v FROM walk w JOIN edges e ON e.u = w.r
),
lbl AS (SELECT n, MIN(r) AS cluster_id FROM walk GROUP BY n),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size
FROM documents d
LEFT JOIN lbl l ON l.n = d.doc_id
LEFT JOIN sz s ON s.cluster_id = l.cluster_id
""")


def _dedup_clusters_banded_oracle() -> str:
    """The r11 dedup_clusters contract oracle: CC over the det-banded
    MinHash pair relation (the hash-green minhash_dedup_det oracle) —
    the _dedup_keep_best_oracle graph minus the quality ranking."""
    pairs = _minhash_det_oracle(threshold=0.8)
    return f"""
WITH RECURSIVE
p AS (SELECT id_a, id_b FROM ({pairs}) t),
edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
walk(n, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT w.n, e.v FROM walk w JOIN edges e ON e.u = w.r
),
lbl AS (SELECT n, MIN(r) AS cluster_id FROM walk GROUP BY n),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl
       GROUP BY cluster_id)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, 1) AS cluster_size
FROM documents d
LEFT JOIN lbl l ON l.n = d.doc_id
LEFT JOIN sz s ON s.cluster_id = l.cluster_id
"""


_HARD_NEGATIVES_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS query_label
  FROM embeddings WHERE vec_id < 10
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
parts AS (
  SELECT q.query_id, q.query_label,
         e.vec_id AS neighbor_id, e.label AS neighbor_label,
         SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS dot,
         SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM q CROSS JOIN embeddings e CROSS JOIN dims
  WHERE e.label <> q.query_label
  GROUP BY q.query_id, q.query_label, e.vec_id, e.label
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         dot / (SQRT(aa) * SQRT(bb)) AS cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (SQRT(aa) * SQRT(bb)) DESC,
                                     neighbor_id ASC) AS rank
  FROM parts
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_sim,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

_EMBEDDING_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
parts AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS dot,
         SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM q CROSS JOIN embeddings e CROSS JOIN dims
  GROUP BY q.query_id, e.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, dot / (SQRT(aa) * SQRT(bb)) AS cosine_sim
  FROM parts
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

# Exhaustive all-pairs check for the LSH near-dup query: every pair with
# fixed-point cosine ≥ 0.99 over (embeddings ∪ planted copies). The LSH
# result must equal this set exactly — at sf scales the only qualifying
# pairs are the 10 planted ones (max random-pair cosine ≈ 0.51), and
# identical-direction copies always share the full sign sketch.
_EMBEDDING_NEAR_DUPS_ORACLE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5)
  FROM embeddings WHERE vec_id < 10
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
parts AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(CAST(ROUND(a.e[i] * b.e[i]
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS dot,
         SUM(CAST(ROUND(a.e[i] * a.e[i]
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(b.e[i] * b.e[i]
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM base a JOIN base b ON a.vec_id < b.vec_id CROSS JOIN dims
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, dot / (SQRT(aa) * SQRT(bb)) AS cosine_sim
FROM parts
WHERE dot / (SQRT(aa) * SQRT(bb)) >= 0.99
"""


_LINE_DEDUP_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM documents
),
w AS (SELECT doc_id, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS i
      FROM t),
dfq AS (SELECT trim(line) AS tl, COUNT(DISTINCT doc_id) AS d
        FROM w WHERE trim(line) <> '' GROUP BY 1),
banned AS (SELECT tl FROM dfq WHERE d >= 2),
kept AS (SELECT * FROM w WHERE trim(line) NOT IN (SELECT tl FROM banned)),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(reb.clean_text, '') AS clean_text,
       CAST(len(t.ls) AS BIGINT) AS n_lines,
       CAST(len(t.ls) AS BIGINT) - COALESCE(reb.n_kept, 0) AS n_removed
FROM t LEFT JOIN reb USING (doc_id)
"""


# DuckDB replay of dedup.exact_substring_dedup(window=20, min_docs=2):
# identical lowercased-whitespace tokens, md5 window keys (zip-unnest of
# positions with per-position window hashes), covered-position expansion,
# ORDER BY re-assembly — bit-exact, no floats anywhere.
_EXACTSUBSTR_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS otoks
  FROM documents
),
hw AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks) - 19)) AS wpos,
         unnest(list_transform(
             generate_series(1, len(toks) - 19),
             i -> md5(array_to_string(list_slice(toks, i, i + 19), ' ')))) AS h
  FROM base WHERE len(toks) >= 20
),
dup AS (SELECT h FROM hw GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dwin AS (SELECT doc_id, wpos FROM hw WHERE h IN (SELECT h FROM dup)),
cov AS (SELECT DISTINCT doc_id, wpos + j AS tokpos
        FROM dwin, unnest(generate_series(0, 19)) AS g(j)),
alltok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(otoks))) AS tokpos,
         unnest(otoks) AS tok
  FROM base
),
kept AS (SELECT a.doc_id, a.tokpos, a.tok
         FROM alltok a ANTI JOIN cov USING (doc_id, tokpos)),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tokpos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(reb.clean_text, '') AS clean_text,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) AS BIGINT) - COALESCE(reb.n_kept, 0) AS n_removed
FROM base b LEFT JOIN reb USING (doc_id)
"""


# DuckDB replay of dedup.memorization_risk_report: same lowercased
# whitespace tokenization and 20-token stride-1 windows; grouping is by
# span text (equivalent to Spark's md5-of-span grouping), and the k-cut
# tie-break replays Spark's md5 order exactly (md5(span) == the Spark
# window key, both engines hash the identical space-joined string).
_MEMORIZATION_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
wins AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, len(toks) - 19),
             i -> array_to_string(list_slice(toks, i, i + 19), ' '))) AS span
  FROM base WHERE len(toks) >= 20
),
agg AS (
  SELECT span,
         COUNT(DISTINCT doc_id) AS n_docs,
         COUNT(*) AS n_occurrences
  FROM wins GROUP BY span
  HAVING COUNT(DISTINCT doc_id) >= 2
),
cut AS (
  SELECT * FROM agg
  ORDER BY n_docs DESC, n_occurrences DESC, md5(span)
  LIMIT 20
)
SELECT span, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM cut ORDER BY n_docs DESC, n_occurrences DESC, span
"""


# DuckDB replay of dedup.decontaminate_spans over the %7 held-out split:
# the _EXACTSUBSTR_ORACLE machinery with the flagged keys coming from
# the held-out side's DISTINCT 13-token window hashes instead of a
# >=min_docs self-count; the covered-token removal tail is identical.
_DECONTAM_SPANS_ORACLE = r"""
WITH alldocs AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS otoks
  FROM documents
),
base AS (SELECT * FROM alldocs WHERE doc_id % 7 <> 0),
heldout AS (SELECT * FROM alldocs WHERE doc_id % 7 = 0),
hw AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks) - 12)) AS wpos,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM base WHERE len(toks) >= 13
),
ev AS (
  SELECT DISTINCT
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM heldout WHERE len(toks) >= 13
),
dwin AS (SELECT doc_id, wpos FROM hw WHERE h IN (SELECT h FROM ev)),
cov AS (SELECT DISTINCT doc_id, wpos + j AS tokpos
        FROM dwin, unnest(generate_series(0, 12)) AS g(j)),
alltok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(otoks))) AS tokpos,
         unnest(otoks) AS tok
  FROM base
),
kept AS (SELECT a.doc_id, a.tokpos, a.tok
         FROM alltok a ANTI JOIN cov USING (doc_id, tokpos)),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tokpos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(reb.clean_text, '') AS clean_text,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) AS BIGINT) - COALESCE(reb.n_kept, 0) AS n_removed
FROM base b LEFT JOIN reb USING (doc_id)
"""


# DuckDB replay of streaming_decontaminate's batch path: per-train-doc
# 13-token window counts and held-out-collision counts (the contamination
# fraction's numerator/denominator as exact integers).
_DECONTAM_FRACTION_ORACLE = r"""
WITH alldocs AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
base AS (SELECT * FROM alldocs WHERE doc_id % 7 <> 0),
heldout AS (SELECT * FROM alldocs WHERE doc_id % 7 = 0),
hw AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM base WHERE len(toks) >= 13
),
ev AS (
  SELECT DISTINCT
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' ')))) AS h
  FROM heldout WHERE len(toks) >= 13
),
cnt AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN h IN (SELECT h FROM ev) THEN 1 ELSE 0 END)
             AS n_contaminated
  FROM hw GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(c.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(c.n_contaminated, 0) > 0 AS contaminated
FROM base b LEFT JOIN cnt c USING (doc_id)
"""


# DuckDB replay of dedup.url_dedup_groups over the same planted URL
# fixture (_planted_urls): identical variant construction from doc_id and
# identical canonicalization chain — pure string ops, no floats.
_URL_DEDUP_ORACLE = r"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST(FLOOR(doc_id / 100.0) AS BIGINT) % 5
      WHEN 0 THEN 'https://example' || CAST(doc_id % 100 % 7 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id % 100 AS VARCHAR)
      WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(doc_id % 100 % 7 AS VARCHAR)
                  || '.COM:443/page/' || CAST(doc_id % 100 AS VARCHAR) || '#frag'
      WHEN 2 THEN 'https://www.example' || CAST(doc_id % 100 % 7 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id % 100 AS VARCHAR) || '/'
      WHEN 3 THEN 'https://example' || CAST(doc_id % 100 % 7 AS VARCHAR)
                  || '.com/page/' || CAST(doc_id % 100 AS VARCHAR)
                  || '?utm_source=x&b=2&a=1'
      ELSE 'https://example' || CAST(doc_id % 100 % 7 AS VARCHAR)
           || '.com/page/' || CAST(doc_id % 100 AS VARCHAR) || '?a=1&b=2'
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         regexp_replace(trim(url), '#.*$', '') AS u
  FROM urls
),
p2 AS (
  SELECT doc_id, url,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
  FROM parts
),
p3 AS (
  SELECT doc_id, url, scheme, rest,
         lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport
  FROM p2
),
p4 AS (
  SELECT doc_id, url, scheme,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
              ELSE regexp_replace(hostport, '^www\.', '') END AS host,
         substr(rest, length(hostport) + 1) AS pathq
  FROM p3
),
p5 AS (
  SELECT doc_id, url, scheme, host,
         regexp_extract(pathq, '^([^?]*)', 1) AS path,
         CASE WHEN contains(pathq, '?')
              THEN substr(pathq, length(regexp_extract(pathq, '^([^?]*)', 1)) + 2)
              ELSE '' END AS query
  FROM p4
),
p6 AS (
  SELECT doc_id, url, scheme, host,
         CASE WHEN path IN ('', '/') THEN ''
              ELSE regexp_replace(path, '/$', '') END AS path_n,
         -- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
         -- array_join gives '') — coalesce to keep the concat non-NULL
         COALESCE(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_')
                  AND NOT starts_with(x, 'fbclid')
                  AND NOT starts_with(x, 'gclid')
                  AND NOT starts_with(x, 'ref='))), '&'), '') AS sorted_q
  FROM p5
),
canon AS (
  SELECT doc_id, url,
         scheme || '://' || host || path_n
         || CASE WHEN sorted_q = '' THEN '' ELSE '?' || sorted_q END
         AS canonical_url
  FROM p6
)
SELECT canonical_url, MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_urls, COUNT(DISTINCT url) AS n_distinct_raw
FROM canon GROUP BY canonical_url
"""

# The p2..p6 normalization chain of _URL_DEDUP_ORACLE, reused by the
# domain report (which needs the intermediate host, not just the final
# canonical string) — split at the "urls" fixture so both oracles share
# one copy of the chain text.
_URL_CANON_CHAIN = _URL_DEDUP_ORACLE.split("),\nparts AS", 1)[1].rsplit(
    "\nSELECT canonical_url", 1)[0]


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative selection (dedup.keep_best_per_
    cluster): near-dup pairs → connected-component clusters → each
    cluster keeps its highest-quality member (Gopher quality score, min
    id on ties) instead of the arbitrary min-id doc — the FineWeb-style
    'retain the cleanest copy' decision. Every stage (pairs, CC labels,
    scores, the ranking) replays in SQL, so the keep/drop column itself
    is hash-checked.

    RE-PRICED r10 (r9 verdict #4): the pair tier is now the
    deterministic MinHash BANDED candidate join + exact-jaccard
    verification (``minhash_dedup_pairs(deterministic=True)``, the
    hash-green ``minhash_dedup_det`` relation) instead of the
    exhaustive shingle self-join — the last acceptance-path composite
    fed by an all-pairs scan at full corpus.  Cost is O(candidates),
    not O(corpus²) (``incremental_clusters_banded`` precedent), and the
    oracle replays the identical banded pipeline via
    ``_minhash_det_oracle``; the exhaustive-jaccard CC parity stays
    covered by ``dedup_clusters``/``incremental_clusters``."""
    from basic_data_fusion_spark.operators.dedup import (
        keep_best_per_cluster,
        minhash_dedup_pairs,
    )
    from basic_data_fusion_spark.operators.text import quality_score

    docs = _catalog(spark, sf_dir).load("documents")
    pairs = minhash_dedup_pairs(docs, n=3, num_hashes=64, bands=16,
                                threshold=0.8, deterministic=True)
    scored = quality_score(docs)
    return keep_best_per_cluster(docs, pairs, scored)


def _dedup_keep_best_oracle() -> str:
    # CC over the det-banded pair relation (the minhash_dedup_det
    # oracle), then the same quality ranking as the Spark side
    pairs = _minhash_det_oracle(threshold=0.8)
    return f"""
WITH RECURSIVE
p AS (SELECT id_a, id_b FROM ({pairs}) t),
edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
walk(n, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT w.n, e.v FROM walk w JOIN edges e ON e.u = w.r
),
lbl AS (SELECT n, MIN(r) AS cluster_id FROM walk GROUP BY n),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl
       GROUP BY cluster_id),
cl AS (
  SELECT d.doc_id,
         COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         COALESCE(s.cluster_size, 1) AS cluster_size
  FROM documents d
  LEFT JOIN lbl l ON l.n = d.doc_id
  LEFT JOIN sz s ON s.cluster_id = l.cluster_id
),
q AS (SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE}) t)
SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_score,
       ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality_score DESC, c.doc_id ASC) = 1
         AS keep
FROM cl c JOIN q ON q.doc_id = c.doc_id
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (dedup.corpus_diff): crawl N (docs with id%11 != 0,
    text revised for id%13 == 0) vs crawl N+1 (docs with id%17 != 0) —
    per id: added / removed / changed / unchanged from one full-outer
    join of (id, md5) relations; bodies never shuffle."""
    from basic_data_fusion_spark.operators.dedup import corpus_diff

    docs = _catalog(spark, sf_dir).load("documents")
    old = (docs.filter(F.col("doc_id") % 11 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 13 == 0,
                              F.concat(F.col("text"), F.lit(" v0")))
                       .otherwise(F.col("text"))))
    new = docs.filter(F.col("doc_id") % 17 != 0)
    return corpus_diff(old, new)


_CORPUS_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id,
         md5(COALESCE(CASE WHEN doc_id % 13 = 0 THEN text || ' v0'
                           ELSE text END, '')) AS old_hash
  FROM documents WHERE doc_id % 11 <> 0
),
new AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS new_hash
  FROM documents WHERE doc_id % 17 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash <> n.new_hash THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_hash, n.new_hash
FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
"""


def q_domain_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus health table (dedup.domain_report) over the
    planted URL-variant fixture: page count, distinct canonical URLs,
    URL-dup ratio, fixed-point mean Gopher quality and keep rate per
    registrable host — the RefinedWeb/FineWeb domain-curation report."""
    from basic_data_fusion_spark.operators.dedup import domain_report
    from basic_data_fusion_spark.operators.text import quality_score

    docs = _catalog(spark, sf_dir).load("documents")
    return domain_report(_planted_urls(docs), quality_score(docs))


def _domain_report_oracle() -> str:
    urls_fixture = _URL_DEDUP_ORACLE.split("),\nparts AS", 1)[0] + ")"
    return f"""
{urls_fixture},
parts AS{_URL_CANON_CHAIN},
hostcanon AS (
  SELECT c.doc_id, p.host, c.canonical_url
  FROM canon c JOIN p4 p ON p.doc_id = c.doc_id
),
q AS (SELECT doc_id, quality_score, keep FROM ({_QUALITY_ORACLE}) t)
SELECT h.host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h.canonical_url) AS BIGINT) AS n_pages,
       CAST(1.0 AS DOUBLE)
         - CAST(COUNT(DISTINCT h.canonical_url) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS url_dup_ratio,
       CAST(SUM(CAST(ROUND(q.quality_score * 1000000.0, 0) AS BIGINT))
            AS DOUBLE) / CAST(1000000.0 AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_quality,
       CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS keep_rate
FROM hostcanon h JOIN q ON q.doc_id = h.doc_id
GROUP BY h.host
"""


def _dsir_weights_oracle(buckets: int = 2048) -> str:
    """DuckDB replay of selection.dsir_log_weights: identical md5-bucket
    hashing (big-endian first-8-hex-chars), add-one smoothing, and the
    1e8 fixed-point per-bucket log-ratio — so the per-doc integer
    accumulation is bit-exact across engines."""
    hv = ("(strpos('0123456789abcdef', substr(md5(g), {i}, 1)) - 1)"
          " * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    return rf"""
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         list_concat(
           toks,
           list_transform(range(1, len(toks)),
                          i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1))
         ) AS gs
  FROM tok
),
inst AS (
  SELECT doc_id, lang, {hex8} % {buckets} AS bucket
  FROM (SELECT doc_id, lang, unnest(gs) AS g FROM grams)
),
rc AS (SELECT bucket, COUNT(*) AS cr FROM inst GROUP BY 1),
tc AS (SELECT bucket, COUNT(*) AS ct FROM inst WHERE lang = 'en' GROUP BY 1),
tr AS (SELECT COUNT(*) AS n FROM inst),
tt AS (SELECT COUNT(*) AS n FROM inst WHERE lang = 'en'),
ratio AS (
  SELECT rc.bucket,
         CAST(ROUND((ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE)
                        / CAST(tt.n + {buckets} AS DOUBLE))
                     - ln(CAST(rc.cr + 1 AS DOUBLE)
                          / CAST(tr.n + {buckets} AS DOUBLE)))
                    * 100000000.0, 0) AS BIGINT) AS lr
  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tr CROSS JOIN tt
),
dc AS (SELECT doc_id, bucket, COUNT(*) AS n FROM inst GROUP BY 1, 2),
scored AS (
  SELECT dc.doc_id, SUM(dc.n) AS n_features,
         CAST(SUM(dc.n * ratio.lr) AS DOUBLE) / 100000000.0 AS log_weight
  FROM dc JOIN ratio USING (bucket)
  GROUP BY dc.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_features, 0) AS BIGINT) AS n_features,
       s.log_weight
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


_FILTER_IMPACT_INDIVIDUAL_ORACLE = """
WITH joined AS (
  SELECT demo.c_custkey, demo.c_mktsegment, demo.c_acctbal, orders.o_orderstatus
  FROM customer demo
  LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
  LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
),
b AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM joined),
s1 AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM joined
       WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
s2 AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM joined
       WHERE c_acctbal BETWEEN 1000.0 AND 8000.0),
s3 AS (SELECT COUNT(DISTINCT c_custkey) AS n FROM joined
       WHERE o_orderstatus IN ('O', 'F'))
SELECT 'segment' AS step, s1.n AS n_remaining, b.n - s1.n AS n_removed,
       (100.0 * (b.n - s1.n)) / b.n AS pct_removed FROM b, s1
UNION ALL
SELECT 'acctbal', s2.n, b.n - s2.n, (100.0 * (b.n - s2.n)) / b.n FROM b, s2
UNION ALL
SELECT 'order_status', s3.n, b.n - s3.n, (100.0 * (b.n - s3.n)) / b.n FROM b, s3
"""


def _profiling_stats_oracle() -> str:
    """Mirrors profiling_sections(deterministic=True): fixed-point mean and
    sample-std from fixed-point sums, rounded exact median — identical
    operand doubles → identical IEEE arithmetic in both engines."""
    def one(c: str) -> str:
        s = (f"SUM(CAST(ROUND(CAST({c} AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
             f" / 1000000.0")
        ss = (f"SUM(CAST(ROUND(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
              f" * 1000000.0, 0) AS BIGINT)) / 1000000.0")
        n = f"COUNT({c})"
        return f"""
SELECT '{c}' AS "column", {n} AS n_non_null,
       (SELECT COUNT(*) FROM part) - {n} AS n_missing,
       {s} / {n} AS mean,
       ROUND(quantile_cont(CAST({c} AS DOUBLE), 0.5), 4) AS median,
       CASE WHEN {n} > 1
            THEN SQRT(({ss} - ({s} * {s}) / {n}) / ({n} - 1)) END AS std,
       MIN(CAST({c} AS DOUBLE)) AS min, MAX(CAST({c} AS DOUBLE)) AS max
FROM part"""
    return " UNION ALL ".join(one(c) for c in ("p_size", "p_retailprice"))


def _media_features_oracle() -> str:
    """DuckDB replay of the stand-in codec (multimodal.py:_content_rng_values):
    v_j = le64(sha256(utf8(text) + le32(0))[8j:8j+8]) / 2^64, width/height =
    int(v*1024)+1, mean_intensity = v2*255. The hugeint→double cast and
    power-of-two division round identically to Python's int/2**64, so the
    check is bit-exact (validated over all sf0.01 docs)."""
    def le64(byte0: int) -> str:
        terms = []
        for j in range(8):
            pos = 2 * (byte0 + j) + 1
            b = (f"(strpos('0123456789abcdef', substr(hx,{pos},1))-1)*16"
                 f" + (strpos('0123456789abcdef', substr(hx,{pos + 1},1))-1)")
            terms.append(f"CAST({b} AS HUGEINT) * {256 ** j}::HUGEINT")
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH h AS (
  SELECT doc_id AS media_id,
         sha256(COALESCE(text, '') || repeat(chr(0), 4)) AS hx
  FROM documents
), v AS (
  SELECT media_id,
         CAST({le64(0)} AS DOUBLE) / 18446744073709551616.0 AS v0,
         CAST({le64(8)} AS DOUBLE) / 18446744073709551616.0 AS v1,
         CAST({le64(16)} AS DOUBLE) / 18446744073709551616.0 AS v2
  FROM h
)
SELECT media_id,
       CAST(FLOOR(v0 * 1024) AS INT) + 1 AS width,
       CAST(FLOOR(v1 * 1024) AS INT) + 1 AS height,
       CAST(3 AS INT) AS channels,
       v2 * 255.0 AS mean_intensity,
       CAST(0 AS INT) AS decode_ok,
       CAST(8 AS INT) AS feature_dim
FROM v
"""


# ---------------------------------------------------------------------------
# temporal joins, set ops, grouping sets, deterministic sampling
# (scale extensions — SURVEY §2.3 notes the reference has no temporal
#  joins, §2.4 no grouping sets, §2.7 no set ops)
# ---------------------------------------------------------------------------

def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of LEFT join: each event picks up the most recent order
    of the same customer at or before the event time. Orders are deduped
    per (custkey, orderdate) keeping the highest orderkey first, so the
    as-of winner is deterministic on both engines."""
    from pyspark.sql import Window

    from basic_data_fusion_spark.operators.joins import asof_join

    cat = _catalog(spark, sf_dir)
    ev = cat.load("events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    orders = (cat.load("orders")
              .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))
    return asof_join(ev, orders, "user_id", "o_custkey", "ts", "o_orderdate",
                     ["o_orderkey", "o_orderdate", "o_totalprice"])


_ASOF_ORACLE = """
WITH orders_d AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                     ORDER BY o_orderkey DESC) AS rn
        FROM orders)
  WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate, o.o_totalprice
FROM events e ASOF LEFT JOIN orders_d o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


def q_event_funnel_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (bounded time-range) join: for each click event, count the
    error events the same user produced in the following 5 minutes.
    Shuffles on (user, time-bucket), never key-only — see
    operators/joins.interval_join."""
    from basic_data_fusion_spark.operators.joins import interval_join

    ev = _catalog(spark, sf_dir).load("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"))
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"))
    pairs = interval_join(clicks, errors, "click_user", "err_user",
                          "click_ts", "err_ts", 0.0, 300.0)
    return (pairs.groupBy("click_id", "click_user", "click_ts")
            .agg(F.count(F.lit(1)).alias("n_errors_5m")))


_FUNNEL_ORACLE = """
SELECT l.event_id AS click_id, l.user_id AS click_user, l.ts AS click_ts,
       COUNT(*) AS n_errors_5m
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 300 SECOND
WHERE l.event_type = 'click' AND r.event_type = 'error'
GROUP BY 1, 2, 3
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase with first-touch attribution:
    per-user frontier min-aggregations chained on one shuffle key."""
    from basic_data_fusion_spark.operators.events import funnel_counts

    ev = _catalog(spark, sf_dir).load("events")
    return funnel_counts(ev, ["view", "click", "purchase"])


_FUNNEL_STEPS_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1
)
SELECT 'view' AS step, (SELECT COUNT(*) FROM v) AS n_users
UNION ALL SELECT 'click', (SELECT COUNT(*) FROM c)
UNION ALL SELECT 'purchase', (SELECT COUNT(*) FROM p)
"""


def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (cohort week × week offset × active
    users) — the classic training-data-adjacent activity matrix."""
    from basic_data_fusion_spark.operators.events import retention_matrix

    ev = _catalog(spark, sf_dir).load("events")
    return retention_matrix(ev)


_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY 1
),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events)
SELECT f.cohort_week,
       CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                      CAST(a.active_week AS DATE)) / 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: customers that placed no orders, rolled up per
    market segment (left_anti = NOT EXISTS)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    cust = cat.load("customer")
    okeys = cat.load("orders").select("o_custkey")
    no = cust.join(okeys, cust["c_custkey"] == okeys["o_custkey"], "left_anti")
    return (no.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 fixed_point_sum(F.col("c_acctbal")).alias("sum_acctbal")))


_NO_ORDERS_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       SUM(CAST(ROUND(c_acctbal * 1000000.0, 0) AS BIGINT)) / 1000000.0
         AS sum_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: revenue ROLLUP over (returnflag, linestatus) with
    subtotal and grand-total rows disambiguated by grouping_id — one
    aggregation pass produces all three levels (map-side partials make
    this a single shuffle at any scale)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    li = _catalog(spark, sf_dir).load("lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_rows"),
                 fixed_point_sum(F.col("l_quantity")).alias("sum_qty"),
                 fixed_point_sum(revenue).alias("sum_revenue"))
            .select("l_returnflag", "l_linestatus", "gid", "n_rows",
                    "sum_qty", "sum_revenue"))


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: order counts/totals across every combination
    of (orderstatus, orderpriority) — all four grouping levels from one
    aggregation pass (single shuffle, map-side partials)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    o = _catalog(spark, sf_dir).load("orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_orders"),
                 fixed_point_sum(F.col("o_totalprice")).alias("sum_totalprice"))
            .select("o_orderstatus", "o_orderpriority", "gid",
                    "n_orders", "sum_totalprice"))


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 1000000.0, 0) AS BIGINT)) / 1000000.0
         AS sum_totalprice
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (median + quartiles of acctbal per
    market segment) — the grouped form of the A6 distribution surface;
    one hash-aggregation, grouping key is the 5-value segment."""
    cust = _catalog(spark, sf_dir).load("customer")
    return (cust.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("q25"),
                 F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median"),
                 F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("q75")))


_MEDIAN_BY_SEGMENT_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q25,
       ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median,
       ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q75
FROM customer
GROUP BY c_mktsegment
"""


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       SUM(CAST(ROUND(l_quantity * 1000000.0, 0) AS BIGINT)) / 1000000.0
         AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 1000000.0, 0)
                AS BIGINT)) / 1000000.0 AS sum_revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-portable uniform sample (T10 upgrade over
    seeded ``df.sample``): keep rows whose md5(key-as-string) starts with
    hex nibble '0' — a 1/16 sample that is fully parallel (no global
    order, no RNG state) and reproducible bit-for-bit on any engine."""
    orders = _catalog(spark, sf_dir).load("orders")
    keep = F.md5(F.col("o_orderkey").cast("string")).substr(1, 1) == "0"
    return orders.filter(keep).select("o_orderkey", "o_custkey", "o_totalprice")


_HASH_SAMPLE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
"""


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: cap English at 25% and
    Chinese at 50%, keep tail languages whole — the corpus-rebalancing
    step of a training-data pipeline, as a pure hash filter (no RNG, no
    shuffle, repartition-stable)."""
    from basic_data_fusion_spark.functions.scalars import stratified_keep

    docs = _catalog(spark, sf_dir).load("documents")
    keep = stratified_keep(F.col("lang"), F.col("doc_id"),
                           {"en": 0.25, "zh": 0.5})
    return docs.filter(keep).select("doc_id", "lang")


_STRATIFIED_SAMPLE_ORACLE = """
SELECT doc_id, lang
FROM documents
WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
           WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
           ELSE TRUE END
"""


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag window surface: per-user inter-event gaps (lag over event
    time), aggregated to exact integer sums so the float division is
    bit-deterministic across engines."""
    from pyspark.sql import Window

    ev = _catalog(spark, sf_dir).load("events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn("gap_us", us - F.lag(us).over(w))
    return (g.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count("gap_us").alias("n_gaps"),
                 F.sum("gap_us").alias("sum_gap_us"),
                 F.max("gap_us").alias("max_gap_us"))
            .withColumn("avg_gap_s", F.round(
                F.col("sum_gap_us") / (F.col("n_gaps") * F.lit(1_000_000.0)), 4)))


_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id, COUNT(*) AS n_events, COUNT(gap_us) AS n_gaps,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us, MAX(gap_us) AS max_gap_us,
       ROUND(SUM(gap_us) / (COUNT(gap_us) * 1000000.0), 4) AS avg_gap_s
FROM g GROUP BY user_id
"""


def q_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (ROWS UNBOUNDED PRECEDING): per-customer running
    order total in fixed-point so every prefix sum is bit-deterministic.
    One shuffle on the partition key; the frame is computed in-partition."""
    from pyspark.sql import Window

    orders = _catalog(spark, sf_dir).load("orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    from basic_data_fusion_spark.functions.scalars import half_up_long
    fp = half_up_long(F.col("o_totalprice") * F.lit(1_000_000.0))
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        (F.sum(fp).over(w) / F.lit(1_000_000.0)).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"))


_RUNNING_SPEND_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       SUM(CAST(ROUND(o_totalprice * 1000000.0, 0) AS BIGINT)) OVER w
         / 1000000.0 AS running_spend,
       ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_trailing_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (time-based, vs running_spend's ROWS frame):
    per-user trailing-7-day event-value sum and count. The frame bound is
    on epoch MICROseconds — exact on both engines, where a seconds cast
    would truncate sub-second timestamps differently. In-partition frame
    scan after one shuffle on user_id; fixed-point sum keeps every frame
    total bit-deterministic."""
    from pyspark.sql import Window

    ev = _catalog(spark, sf_dir).load("events")
    us = F.unix_micros(F.col("ts"))
    w = (Window.partitionBy("user_id").orderBy(us)
         .rangeBetween(-7 * 86400 * 1_000_000, 0))
    from basic_data_fusion_spark.functions.scalars import half_up_long
    fp = half_up_long(F.col("value") * F.lit(1_000_000.0))
    return ev.select(
        "user_id", "event_id", "ts",
        (F.sum(fp).over(w) / F.lit(1_000_000.0)).alias("trailing_7d_sum"),
        F.count(F.lit(1)).over(w).alias("n_events_7d"))


_TRAILING_7D_ORACLE = """
SELECT user_id, event_id, ts,
       SUM(CAST(ROUND(value * 1000000.0, 0) AS BIGINT)) OVER w
         / 1000000.0 AS trailing_7d_sum,
       COUNT(*) OVER w AS n_events_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
"""


def q_acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking family: global account-balance deciles (deterministic
    tie-break on custkey), reduced to per-decile bounds + counts.
    r7: the bucket comes from ordering.global_ntile (distributed global
    rank + integer-exact remainder-to-early-buckets recomputation) —
    ANSI NTILE semantics with no single-partition gather, same oracle."""
    from basic_data_fusion_spark.operators.ordering import global_ntile

    cust = _catalog(spark, sf_dir).load("customer")
    return (global_ntile(cust.select("c_acctbal", "c_custkey"),
                         ["c_acctbal", "c_custkey"], 10, "decile")
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("c_acctbal").alias("lo"),
                 F.max("c_acctbal").alias("hi"))
            .orderBy("decile"))


_DECILES_ORACLE = """
SELECT decile, COUNT(*) AS n, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
FROM (SELECT c_acctbal,
             NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
GROUP BY decile ORDER BY decile
"""


def q_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (beyond the reference's §2.7 'none'): INTERSECT /
    EXCEPT cohort sizes — AUTOMOBILE-segment customers with vs without a
    1995 order. Both sides reduce to key columns before the set op, so
    only keys shuffle."""
    cat = _catalog(spark, sf_dir)
    auto = (cat.load("customer")
            .filter(F.col("c_mktsegment") == "AUTOMOBILE")
            .select("c_custkey"))
    o95 = (cat.load("orders")
           .filter(F.year("o_orderdate") == 1995)
           .select(F.col("o_custkey").alias("c_custkey")).distinct())
    rows = [
        auto.intersect(o95).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("auto_with_1995_order").alias("cohort"), "n"),
        auto.exceptAll(o95).agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("auto_without_1995_order").alias("cohort"), "n"),
    ]
    return rows[0].unionByName(rows[1])


_SETOPS_ORACLE = """
SELECT 'auto_with_1995_order' AS cohort, COUNT(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
UNION ALL
SELECT 'auto_without_1995_order', COUNT(*) FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
"""


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building (explode/flatMap surface): global token
    frequencies over the corpus, top 20 with deterministic tie-break.
    Partial aggregation combines counts map-side before the single
    shuffle on token — the explode fan-out never crosses the wire raw."""
    from basic_data_fusion_spark.operators.text import tokens

    docs = (_catalog(spark, sf_dir).load("documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(20))


_VOCAB_ORACLE = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical map-reduce TF-IDF: tf relation → df relation → join →
    per-doc top-3 rank. Log-free idf (tf·N/df) keeps the score
    IEEE-exact across engines (see operators/text.tfidf_terms)."""
    from basic_data_fusion_spark.operators.text import tfidf_terms

    docs = _catalog(spark, sf_dir).load("documents")
    return tfidf_terms(docs, k=3).withColumn("rnk", F.col("rnk").cast("long"))


_TFIDF_ORACLE = r"""
WITH inst AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM inst WHERE token <> '' GROUP BY 1, 2
),
dfr AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
         CAST(tf.tf AS DOUBLE) * n.n / dfr.df AS score
  FROM tf JOIN dfr USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token ASC) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, df, score, rnk FROM ranked WHERE rnk <= 3
"""


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson token diversity per doc — integer-derived,
    log-free repetition signal (operators/text.token_diversity)."""
    from basic_data_fusion_spark.operators.text import token_diversity

    docs = _catalog(spark, sf_dir).load("documents")
    return token_diversity(docs)


_TOKEN_DIVERSITY_ORACLE = r"""
WITH inst AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM inst WHERE token <> '' GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * tf) AS sum_sq,
         COUNT(*) AS n_distinct
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_distinct,
       CAST(1 AS DOUBLE) - CAST(sum_sq AS DOUBLE) / (n_tokens * n_tokens)
         AS simpson
FROM agg
UNION ALL
SELECT d.doc_id, 0, 0, NULL
FROM documents d LEFT JOIN agg USING (doc_id)
WHERE agg.doc_id IS NULL
"""


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group via rank window: 3 highest-value orders per
    market segment. The groupBy-free top-k idiom — one shuffle on the
    partition key, heap-free; ties broken deterministically on the
    order key. The customer side of the join is the small relation
    after projection and broadcasts under AQE."""
    cat = _catalog(spark, sf_dir)
    from pyspark.sql import Window

    cust = cat.load("customer").select("c_custkey", "c_mktsegment")
    orders = cat.load("orders").select("o_custkey", "o_orderkey", "o_totalprice")
    joined = orders.join(F.broadcast(cust),
                         orders.o_custkey == cust.c_custkey, "inner")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (joined.select("c_mktsegment", "o_orderkey", "o_totalprice")
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3))


_TOP_ORDERS_ORACLE = """
SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC)
           AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rnk <= 3
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS decorrelation (TPC-H Q4 shape): orders placed in 1996H1 with
    at least one lineitem shipped >60 days after the order date, counted
    per priority. The EXISTS is a LEFT SEMI join (operators/relational):
    equi term on the order key drives one shuffle; the 60-day lag is the
    residual predicate — outer rows are never fanned out or DISTINCTed."""
    from basic_data_fusion_spark.operators.relational import exists_semi

    cat = _catalog(spark, sf_dir)
    orders = (cat.load("orders")
              .where((F.col("o_orderdate") >= "1996-01-01")
                     & (F.col("o_orderdate") < "1996-07-01"))
              .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = cat.load("lineitem").select("l_orderkey", "l_shipdate")
    late = exists_semi(
        orders, li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


_LATE_SHIPMENT_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): revenue carried by
    lineitems whose quantity is below 20% of their part's average
    quantity. Decorrelated into one grouped pass + join-back
    (operators/relational.below_group_fraction); the per-part threshold
    is exact-integer-sum / count so the comparison is the same double on
    every engine. Revenue is a fixed-point sum (bit-deterministic)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.relational import below_group_fraction

    li = (_catalog(spark, sf_dir).load("lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    small = below_group_fraction(li, "l_partkey", "l_quantity", 0.2)
    return small.agg(
        (fixed_point_sum(F.col("l_extendedprice"), scale=100) / 7.0)
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"))


_SMALL_LOT_ORACLE = """
WITH p AS (
  SELECT l_partkey AS pk,
         SUM(l_quantity) / COUNT(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 / 7.0
         AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem JOIN p ON l_partkey = p.pk
WHERE l_quantity < 0.2 * p.avg_qty
"""


def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-gated IN subquery (TPC-H Q18 shape): customers holding
    orders whose total lineitem quantity exceeds 250. The IN list is
    relational.having_keys (grouped agg with map-side combine → key
    list) composed with a LEFT SEMI join into orders; customer resolves
    by broadcast. No driver-side key list, no IN literal explosion."""
    from basic_data_fusion_spark.operators.relational import having_keys

    cat = _catalog(spark, sf_dir)
    li = cat.load("lineitem").select("l_orderkey", "l_quantity")
    keys = having_keys(li, "l_orderkey",
                       F.sum("l_quantity").alias("total_qty"),
                       F.col("total_qty") > 250)
    orders = cat.load("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    big = orders.join(keys, orders.o_orderkey == keys.l_orderkey, "left_semi")
    cust = cat.load("customer").select("c_custkey", "c_name")
    # re-aggregate the quantity for the output (sum is exact: integral)
    totals = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty"))
              .where(F.col("total_qty") > 250))
    return (big.join(F.broadcast(cust),
                     big.o_custkey == cust.c_custkey, "inner")
            .join(totals, big.o_orderkey == totals.l_orderkey, "inner")
            .select("c_name", "c_custkey", "o_orderkey", "o_totalprice",
                    "total_qty"))


_BIG_ORDER_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice, t.total_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250) t
  ON o.o_orderkey = t.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
"""


def q_wealthy_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar subquery + NOT EXISTS (TPC-H Q22 shape): customers
    with above-average positive balance and no order since 2000-01-01
    (lapsed accounts), grouped by nation. The global average stays
    in-plan as a broadcast 1-row relation
    (relational.above_global_scalar) — no driver collect; the NOT
    EXISTS is a LEFT ANTI join whose inner side is pre-filtered so the
    anti probe only carries recent orders; the per-nation balance sum
    is fixed-point."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.relational import (
        above_global_scalar,
        not_exists_anti,
        positive_mean_cents,
    )

    cat = _catalog(spark, sf_dir)
    cust = cat.load("customer").select("c_custkey", "c_nationkey", "c_acctbal")
    rich = above_global_scalar(cust, "c_acctbal",
                               positive_mean_cents(cust, "c_acctbal"),
                               "__global_avg")
    orders = (cat.load("orders")
              .where(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    idle = not_exists_anti(rich, orders,
                           F.col("c_custkey") == F.col("o_custkey"))
    return (idle.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_custs"),
                 fixed_point_sum(F.col("c_acctbal"), scale=100)
                 .alias("total_acctbal")))


_WEALTHY_IDLE_ORACLE = """
WITH avg_bal AS (
  SELECT SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100.0
           / COUNT(c_acctbal) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS n_custs,
       SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100.0
         AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


def q_fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: near-identical part names by Levenshtein distance
    ≤ 4, blocked on the name's last token so candidate generation never
    approaches the full cross product (operators/linkage). Distinct
    names are paired (the scale path: match the name dictionary, not
    the row set) and edit distance runs JVM-side in the join residual."""
    from basic_data_fusion_spark.operators.linkage import blocked_fuzzy_pairs

    names = (_catalog(spark, sf_dir).load("part")
             .select(F.col("p_name").alias("name")).distinct())
    pairs = blocked_fuzzy_pairs(
        names, id_col="name", text_col="name",
        block=F.element_at(F.split(F.col("name"), " "), -1),
        max_distance=4)
    return pairs.select(F.col("id_a").alias("name_a"),
                        F.col("id_b").alias("name_b"), "distance")


_FUZZY_PART_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
blocked AS (
  SELECT name, (string_split(name, ' '))[-1] AS blk FROM names
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
"""


def q_latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → snapshot compaction (CDC read side): the latest event
    per (user, event type), deterministic on (ts, event_id). rank-1
    window → WindowGroupLimit partial top-1 before the shuffle
    (operators/linkage.latest_snapshot), so state depth never inflates
    the exchange."""
    from basic_data_fusion_spark.operators.linkage import latest_snapshot

    ev = (_catalog(spark, sf_dir).load("events")
          .select("user_id", "event_type", "ts", "event_id", "value"))
    snap = latest_snapshot(ev, ["user_id", "event_type"], "ts", "event_id")
    return snap.select("user_id", "event_type",
                       F.unix_micros("ts").alias("ts_us"), "event_id", "value")


_LATEST_EVENT_ORACLE = """
SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_daily_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user daily purchase totals
    densified onto each user's own calendar span with forward fill
    (operators/linkage.gap_fill_daily). The calendar is generated on
    executors (sequence + explode), the fill is one
    last(ignorenulls) window pass; daily totals are fixed-point."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.linkage import gap_fill_daily

    ev = _catalog(spark, sf_dir).load("events")
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy("user_id", F.to_date("ts").alias("day"))
             .agg(fixed_point_sum(F.col("value")).alias("day_value")))
    dense = gap_fill_daily(daily, key="user_id", day_col="day",
                           value_col="day_value")
    # ISO-string day: Spark DateType and DuckDB DATE reach pandas as
    # different dtypes (date vs datetime64) and would hash-mismatch
    return dense.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) / 1000000.0
           AS day_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM span
)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value,
       d.day_value IS NOT NULL AS observed
FROM grid g LEFT JOIN daily d USING (user_id, day)
"""


def q_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond ROLLUP/CUBE): per-status,
    per-priority, and grand-total aggregates from ONE pass —
    ((status), (priority), ()) is not a rollup prefix chain nor a full
    cube, so it needs the explicit grouping-set API. Same single-shuffle
    property as rollup: the Expand operator replicates rows per set and
    map-side partials combine before the exchange."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    orders = _catalog(spark, sf_dir).load("orders")
    return (orders.groupingSets(
                [["o_orderstatus"], ["o_orderpriority"], []],
                "o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_orders"),
                 fixed_point_sum(F.col("o_totalprice")).alias("sum_totalprice"))
            .select("o_orderstatus", "o_orderpriority", "gid", "n_orders",
                    "sum_totalprice"))


_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 1000000.0, 0) AS BIGINT)) / 1000000.0
         AS sum_totalprice
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_order_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (operators/linkage.scd2_history): each
    customer's order-status timeline compressed to value intervals —
    consecutive same-status orders collapse, each surviving change row
    carries [valid_from, valid_to) and is_current. Both window passes
    share one (custkey) exchange."""
    from basic_data_fusion_spark.operators.linkage import scd2_history

    orders = (_catalog(spark, sf_dir).load("orders")
              .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus"))
    hist = scd2_history(orders, ["o_custkey"], "o_orderdate", "o_orderkey",
                        change_cols=["o_orderstatus"])
    # o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
    # preserves the wall clock and unix_micros matches DuckDB's epoch_us
    return hist.select(
        "o_custkey", "o_orderstatus",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("valid_to_us"),
        "is_current")


_SCD2_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         LAG(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
  SELECT * FROM ordered
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
)
SELECT o_custkey, o_orderstatus,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(LEAD(o_orderdate) OVER w) AS valid_to_us,
       (LEAD(o_orderdate) OVER w) IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_numbered_tokens_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.12): a LATERAL table function numbering
    each document's tokens. The same result is expressible natively with
    ``posexplode`` (and the JVM path is what production queries should
    use — see vocab_top_tokens); this query exists to pin the
    arrow-batched UDTF extension mechanism end-to-end: class-based
    ``eval`` generator, LATERAL join correlation, schema enforcement,
    and oracle parity for a Python row producer."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string, n_chars bigint")
    class NumberedTokens:
        def eval(self, text: str):
            if text is None:
                return
            pos = 0
            for tok in re.split(r"\s+", text.lower()):
                if tok:
                    pos += 1
                    yield pos, tok, len(tok)

    spark.udtf.register("numbered_tokens", NumberedTokens)
    _register_views(spark, sf_dir, ["documents"])
    return spark.sql("""
        SELECT d.doc_id, t.pos, t.token, t.n_chars
        FROM documents d, LATERAL numbered_tokens(d.text) t
    """)


_NUMBERED_TOKENS_ORACLE = r"""
WITH raw AS (
  SELECT doc_id, i, arr[i] AS token
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(text), '\s+') AS arr
        FROM documents) t,
       LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) u
  WHERE arr[i] <> ''
)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS pos,
       token,
       CAST(length(token) AS BIGINT) AS n_chars
FROM raw
"""


# ---------------------------------------------------------------------------
# Decision-support shapes, second wave (TPC-H Q7/Q13/Q14/Q15/Q16/Q19) +
# reshape/stat extensions (melt, grouped z-score, MAD audit, group sample)
# ---------------------------------------------------------------------------

def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation (TPC-H Q13 shape): distribution of customers
    by how many non-urgent orders they placed. The outer-join condition
    lives in the join (filtering the spoke BEFORE the left join), so
    order-less customers survive with count 0. Plan: broadcast-ably
    small customer side builds against the filtered orders; first
    grouped count partial-aggregates map-side, second is |distinct
    counts| rows — two shuffles total, both on shrinking data."""
    cat = _catalog(spark, sf_dir)
    cust = cat.load("customer").select("c_custkey")
    orders = (cat.load("orders")
              .where(F.col("o_orderpriority") != "1-URGENT")
              .select("o_custkey", "o_orderkey"))
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_ORDER_DISTRIBUTION_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) per_cust
GROUP BY c_count
"""


def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio (TPC-H Q14 shape): % of March-1997
    revenue from PROMO-type parts. One broadcast join (part is a
    dimension) + a single agg computing both the CASE-gated and total
    fixed-point sums in one pass — never two scans for numerator and
    denominator."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    li = (cat.load("lineitem")
          .where((F.col("l_shipdate") >= "1997-03-01")
                 & (F.col("l_shipdate") < "1997-04-01"))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    pt = cat.load("part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return j.agg(
        (F.lit(100.0) * fixed_point_sum(promo, scale=100)
         / fixed_point_sum(rev, scale=100)).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"))


_PROMO_RATIO_ORACLE = """
SELECT 100.0 * (SUM(CAST(ROUND(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1.0 - l_discount)
                                    ELSE 0.0 END * 100.0, 0) AS BIGINT)) / 100.0)
             / (SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0)
         AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax membership (TPC-H Q15 shape): supplier(s) with the maximum
    Q1-1997 revenue. The revenue relation is computed ONCE and reused
    for both the max and the equality filter
    (relational.equals_global_scalar keeps the 1-row max in-plan,
    broadcast — no driver round-trip, ties all returned)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.relational import equals_global_scalar

    cat = _catalog(spark, sf_dir)
    li = (cat.load("lineitem")
          .where((F.col("l_shipdate") >= "1997-01-01")
                 & (F.col("l_shipdate") < "1997-04-01"))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = li.groupBy("l_suppkey").agg(
        fixed_point_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            scale=100).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    top = equals_global_scalar(rev, "total_revenue", mx, "__max_rev")
    sup = cat.load("supplier").select("s_suppkey", "s_name")
    return (top.join(F.broadcast(sup), top["l_suppkey"] == sup["s_suppkey"])
            .select("s_suppkey", "s_name", "total_revenue"))


_TOP_SUPPLIER_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_disjunctive_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-attribute predicate (TPC-H Q19 shape): revenue
    from three OR-ed (brand, size-range, quantity-range) branches. The
    whole disjunction is one JVM predicate evaluated after the broadcast
    join build — Catalyst extracts the common `p_partkey` equi-key, so
    the OR never degrades the join to nested-loop, and per-branch
    attribute bounds (p_size ≥ 1, quantity windows) still push to the
    scans as conjunctive envelopes."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    li = cat.load("lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    pt = cat.load("part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    branch = (
        ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1.0, 20.0))
        | ((F.col("p_brand") == "Brand#8") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10.0, 30.0))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20.0, 40.0)))
    return j.where(branch).agg(
        fixed_point_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            scale=100).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


_DISJUNCTIVE_ORACLE = """
SELECT SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 20.0)
   OR (p_brand = 'Brand#8' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10.0 AND 30.0)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20.0 AND 40.0)
"""


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT-IN exclusion + grouped COUNT(DISTINCT) (TPC-H Q16 shape):
    how many distinct suppliers ship each retained (brand, type, size)
    part class, excluding negative-balance suppliers. The NOT IN is a
    broadcast LEFT ANTI join (relational.not_exists_anti); part filters
    evaluate on the broadcast dimension before the build. COUNT(DISTINCT
    suppkey) per group expands to a two-phase aggregate on (group,
    suppkey) — partial combine makes the shuffle carry unique pairs
    only."""
    from basic_data_fusion_spark.operators.relational import not_exists_anti

    cat = _catalog(spark, sf_dir)
    li = cat.load("lineitem").select("l_partkey", "l_suppkey")
    pt = (cat.load("part")
          .where((F.col("p_brand") != "Brand#13") & (F.col("p_type") != "PROMO")
                 & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
          .select("p_partkey", "p_brand", "p_type", "p_size"))
    complained = (cat.load("supplier")
                  .where(F.col("s_acctbal") < 0.0).select("s_suppkey"))
    kept = not_exists_anti(
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]),
        complained, F.col("l_suppkey") == F.col("s_suppkey"))
    return (kept.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


_PART_VARIETY_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""


def q_nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake nation-pair volume (TPC-H Q7 shape): revenue between
    every (supplier nation, customer nation) pair per ship year. Join
    order keeps the two big facts (lineitem ⋈ orders on the order key)
    as the only shuffle join; supplier, customer and both nation aliases
    broadcast. Output is |nations|² × years rows — group-by on derived
    year plus two broadcast-joined names."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    li = (cat.load("lineitem")
          .where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                  "l_shipdate"))
    orders = cat.load("orders").select("o_orderkey", "o_custkey")
    cust = cat.load("customer").select("c_custkey", "c_nationkey")
    sup = cat.load("supplier").select("s_suppkey", "s_nationkey")
    n1 = cat.load("nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = cat.load("nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    j = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
         .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
         .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(fixed_point_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                scale=100).alias("volume")))


_NATION_PAIR_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0
         AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlated-MIN decoration (TPC-H Q2 shape, adapted to
    the schema's lineitem as the part-supplier relation): for each small
    part, the supplier(s) shipping it at the minimum unit price, decorated
    with supplier nation. Decorrelated into one grouped MIN + join-back on
    (part, exact min); unit price is a single raw-column division so the
    equality matches bit-for-bit on any engine; all ties returned (the
    driver's compare is order-insensitive). Part/supplier/nation dims
    broadcast; the only shuffle is the grouped MIN on the part key."""
    cat = _catalog(spark, sf_dir)
    part = (cat.load("part").where(F.col("p_size") <= 10)
            .select("p_partkey", "p_name", "p_brand"))
    li = (cat.load("lineitem")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
          .select("p_partkey", "p_name", "p_brand", "l_suppkey",
                  (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")))
    mins = li.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("unit_price").alias("min_unit_price"))
    sup = cat.load("supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = cat.load("nation").select("n_nationkey", "n_name")
    return (li.join(mins, (F.col("p_partkey") == F.col("__pk"))
                    & (F.col("unit_price") == F.col("min_unit_price")))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("p_partkey", "p_name", "p_brand", "s_suppkey", "s_name",
                    F.col("n_name").alias("supp_nation"), "min_unit_price")
            .distinct())


_CHEAPEST_SUPPLIER_ORACLE = """
WITH li AS (
  SELECT p_partkey, p_name, p_brand, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10
),
mins AS (
  SELECT p_partkey AS pk, MIN(unit_price) AS min_unit_price
  FROM li GROUP BY 1
)
SELECT DISTINCT li.p_partkey, li.p_name, li.p_brand, li.l_suppkey AS s_suppkey,
       s.s_name, n.n_name AS supp_nation, m.min_unit_price
FROM li
JOIN mins m ON li.p_partkey = m.pk AND li.unit_price = m.min_unit_price
JOIN supplier s ON li.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × ship year (TPC-H Q9 shape; supply cost
    proxied at 60% of retail price — the schema has no partsupp): 5-way
    snowflake where lineitem ⋈ supplier/part/nation all broadcast except
    the fact scan; LIKE filter evaluates on the broadcast part dimension
    before the build side ships. Profit summed fixed-point."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    part = (cat.load("part").where(F.col("p_name").like("%small%"))
            .select("p_partkey", "p_retailprice"))
    sup = cat.load("supplier").select("s_suppkey", "s_nationkey")
    nat = cat.load("nation").select("n_nationkey", "n_name")
    li = cat.load("lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount", "l_quantity")
    profit = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("l_shipdate").cast("long").alias("o_year"))
            .agg(fixed_point_sum(profit, scale=100).alias("sum_profit")))


_PRODUCT_TYPE_PROFIT_ORACLE = """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
       SUM(CAST(ROUND((l_extendedprice * (1.0 - l_discount)
                       - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity)
                      * 100.0, 0) AS BIGINT)) / 100.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%small%'
GROUP BY n_name, year(l_shipdate)
"""


def q_priority_shipping_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional two-band aggregation (TPC-H Q12 shape; lateness bands
    stand in for ship modes): lineitems shipped ≤/＞ 30 days after the
    order date, counting urgent/high-priority vs lower-priority orders in
    each band — CASE-WHEN counters folded into ONE aggregation after the
    single fact-fact shuffle join."""
    cat = _catalog(spark, sf_dir)
    li = cat.load("lineitem").select("l_orderkey", "l_shipdate")
    orders = cat.load("orders").select("o_orderkey", "o_orderdate",
                                       "o_orderpriority")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.when(late, F.lit("late")).otherwise(F.lit("ontime"))
                     .alias("ship_band"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


_PRIORITY_BANDS_ORACLE = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
            THEN 'late' ELSE 'ontime' END AS ship_band,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_bulk_suppliers_for_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-join chain (TPC-H Q20 shape): suppliers who shipped
    more than 80 units of any 'small' part, decorated with nation. Inner
    IN → broadcast semi on the part filter; middle HAVING → grouped sum
    on (part, supplier) with the threshold applied before any join back;
    outer IN → semi join into supplier. Quantities are integer-valued
    doubles — cast to BIGINT so the grouped sum is exact on any engine.
    No fact columns survive past the chain; only supplier keys shuffle."""
    cat = _catalog(spark, sf_dir)
    part = (cat.load("part").where(F.col("p_name").like("small%"))
            .select("p_partkey"))
    li = cat.load("lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    bulk_keys = (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
                 .groupBy("l_partkey", "l_suppkey")
                 .agg(F.sum(F.col("l_quantity").cast("long")).alias("__q"))
                 .filter(F.col("__q") > 80)
                 .select("l_suppkey").distinct())
    sup = cat.load("supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = cat.load("nation").select("n_nationkey", "n_name")
    return (sup.join(bulk_keys, F.col("s_suppkey") == F.col("l_suppkey"),
                     "left_semi")
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation")))


_BULK_SUPPLIERS_ORACLE = """
SELECT s_suppkey, s_name, n_name AS supp_nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 80
)
"""


_INCR_BATCH_SOURCES = ("src0", "src1", "src2")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-batch dedup: the src0-2 slice plays the incoming
    batch, everything else the standing corpus (reduced to a DISTINCT
    hash index — the per-increment shape where history never re-shuffles).
    Per new doc: keep + reason (dup_of_corpus / dup_in_batch / unique)."""
    from basic_data_fusion_spark.operators.dedup import incremental_exact_dedup

    docs = _catalog(spark, sf_dir).load("documents")
    batch = docs.filter(F.col("source").isin(*_INCR_BATCH_SOURCES))
    existing = docs.filter(~F.col("source").isin(*_INCR_BATCH_SOURCES))
    return incremental_exact_dedup(existing, batch)


_INCREMENTAL_DEDUP_ORACLE = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g')))) AS h
  FROM documents
),
ex AS (SELECT DISTINCT h FROM fp WHERE source NOT IN ('src0', 'src1', 'src2')),
nw AS (SELECT doc_id, h FROM fp WHERE source IN ('src0', 'src1', 'src2')),
bm AS (SELECT h, MIN(doc_id) AS min_id FROM nw GROUP BY 1)
SELECT nw.doc_id,
       (CASE WHEN ex.h IS NOT NULL THEN 'dup_of_corpus'
             WHEN nw.doc_id <> bm.min_id THEN 'dup_in_batch'
             ELSE 'unique' END = 'unique') AS keep,
       CASE WHEN ex.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN nw.doc_id <> bm.min_id THEN 'dup_in_batch'
            ELSE 'unique' END AS reason
FROM nw
JOIN bm ON nw.h = bm.h
LEFT JOIN ex ON nw.h = ex.h
"""


def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the map-side scale tier
    beside the exact shingle join (`decontam_overlap`): held-out (src0)
    3-grams build a fixed-size bitmap once; every training doc is flagged
    from its own shingle array in ONE zero-shuffle projection. xxhash64
    bit positions are engine-specific → rows-only driver check; no-false-
    negative and FP-rate properties are pytest-verified."""
    from basic_data_fusion_spark.operators.dedup import bloom_decontaminate

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    # m=2^18, k=3: ~0.8% FP at this held-out shingle count — plenty for a
    # candidate tier that routes to the exact join for confirmation, at
    # 1/4 the bitmap-literal size and 3/5 the per-shingle probe cost
    return bloom_decontaminate(train, held, n=3, m_bits=1 << 18, k_hashes=3)


def q_bloom_decontam_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom decontamination twin: md5-hex15 bit positions
    (``dedup._bloom_bit``) replace xxhash64, so the bitmap build AND the
    zero-shuffle array-side probe both replay in plain SQL — membership
    in the bitmap is equivalent to membership in the SET of held-out bit
    positions, which the oracle computes with joins. Closes the last
    dedup-ladder tier without a hash-checked driver row (the xxhash64
    tier stays the fast path)."""
    from basic_data_fusion_spark.operators.dedup import bloom_decontaminate

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return bloom_decontaminate(train, held, n=3, m_bits=1 << 18,
                               k_hashes=3, deterministic=True)


def _bloom_decontam_det_oracle(n: int = 3, m_bits: int = 1 << 18,
                               k_hashes: int = 3) -> str:
    """DuckDB replay of the det Bloom tier: a bit is set iff SOME
    (seed, held-out shingle) maps to it, so the bitmap probe 'all k bits
    set' becomes 'for every seed j, bit_j(shingle) IN (SELECT bit)' —
    the same never-false-negative semantics without materializing
    words."""
    hexbit = _hex15_sql("concat(CAST(j AS VARCHAR), ':', shingle)")
    return f"""
WITH seeds AS (SELECT unnest(generate_series(0, {k_hashes - 1})) AS j),
hd AS (
  SELECT regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+') AS t
  FROM documents WHERE source = 'src0'
),
hs AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM hd
),
bits AS (
  SELECT DISTINCT {hexbit} % {int(m_bits)} AS bit
  FROM hs CROSS JOIN seeds
),
td AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+') AS t
  FROM documents WHERE source <> 'src0'
),
ts AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM td
),
probe AS (
  SELECT ts.doc_id, ts.shingle,
         COUNT(b.bit) = {k_hashes} AS hit
  FROM ts CROSS JOIN seeds
  LEFT JOIN bits b ON b.bit = {hexbit} % {int(m_bits)}
  GROUP BY ts.doc_id, ts.shingle
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END) > 0 AS contaminated
FROM probe GROUP BY doc_id
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN acceptance gate as a first-class relational result: recall@5
    of the deterministic IVF and SQ8 tiers against the exact
    brute-force top-k, computed entirely in-engine (similarity.
    ann_recall — exact side broadcast, integer hit counts, integer-
    derived recall). Moves the recall thresholds that were pytest-only
    into the driver's hash-checked signal."""
    from basic_data_fusion_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
        sq8_topk,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = brute_force_topk(emb, queries_df, k=5, deterministic=True)
    ivf = ivf_topk(emb, queries_df, _ivf_centroids(), k=5, nprobe=3,
                   deterministic=True)
    sq8 = sq8_topk(emb, queries_df, k=5, dim=64)
    return ann_recall(exact, {"ivf": ivf, "sq8": sq8}, k=5)


_DIM_SWEEP_DIMS = (8, 16, 32, 64)


def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension planning report (NEW r11,
    similarity.dim_truncation_sweep): micro-averaged recall@5 of exact
    cosine search over the FIRST d dimensions against full-vector
    search, for d in 8/16/32/64 — the Matryoshka-style dimension knob
    beside the dedup family's threshold and banding sweeps.  All
    integer-derived (total hits / total per-query denominators), det
    fixed-point dots; the d=64 row is a built-in self-check (exactly
    1.0)."""
    from basic_data_fusion_spark.operators.similarity import (
        dim_truncation_sweep,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return dim_truncation_sweep(emb, queries_df, dims=_DIM_SWEEP_DIMS, k=5)


def _truncated_topk_sql(dim: int, k: int = 5) -> str:
    """Exact fixed-point cosine top-k over the first ``dim`` embedding
    dimensions — the per-arm building block of the dimension sweep
    oracle (the _EMBEDDING_TOPK_ORACLE skeleton with a parameterized
    dims relation)."""
    fp = "CAST(1000000000000.0 AS DOUBLE)"
    return f"""
SELECT query_id, neighbor_id
FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (SQRT(aa) * SQRT(bb)) DESC,
                                     neighbor_id ASC) AS rank
  FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          * {fp}, 0) AS BIGINT)) / {fp} AS dot,
           SUM(CAST(ROUND(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)
                          * {fp}, 0) AS BIGINT)) / {fp} AS aa,
           SUM(CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                          * {fp}, 0) AS BIGINT)) / {fp} AS bb
    FROM (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 10) q
    CROSS JOIN embeddings e
    CROSS JOIN (SELECT i FROM generate_series(1, {dim}) AS g(i)) dims
    GROUP BY q.query_id, e.vec_id
  ) parts
) ranked WHERE rank <= {k}
"""


def _dim_truncation_oracle(k: int = 5) -> str:
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {d} AS dim, query_id, neighbor_id"
        f" FROM ({_truncated_topk_sql(d, k)}) a{d}"
        for d in sorted(_DIM_SWEEP_DIMS))
    return f"""
WITH exact AS ({_truncated_topk_sql(64, k)}),
exn AS (SELECT query_id, COUNT(*) AS n FROM exact GROUP BY 1),
arms AS (
{arms}
),
per AS (
  SELECT a.dim, a.query_id,
         SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS n_hits
  FROM arms a
  LEFT JOIN exact e ON e.query_id = a.query_id
                   AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2
),
roll AS (
  SELECT p.dim, COUNT(*) AS n_queries, SUM(p.n_hits) AS hits,
         SUM(LEAST({k}, COALESCE(x.n, {k}))) AS possible
  FROM per p LEFT JOIN exn x ON x.query_id = p.query_id
  GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim,
       CAST(n_queries AS BIGINT) AS n_queries,
       CAST(hits AS BIGINT) AS n_hits_total,
       CAST(possible AS BIGINT) AS n_possible_total,
       CAST(hits AS DOUBLE) / CAST(possible AS DOUBLE) AS micro_recall
FROM roll ORDER BY dim
"""


def _ann_recall_oracle() -> str:
    """The same composition in SQL: each arm's published oracle runs as
    a derived table (so this stays in lockstep with the per-arm
    oracles), joined against the exact tier's result set."""
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({_EMBEDDING_TOPK_ORACLE}) t
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({_ivf_det_oracle()}) t
),
sq8 AS (
  SELECT query_id, neighbor_id FROM ({_SQ8_TOPK_ORACLE}) t
),
arms AS (
  SELECT 'ivf' AS arm, query_id, neighbor_id FROM ivf
  UNION ALL
  SELECT 'sq8' AS arm, query_id, neighbor_id FROM sq8
),
exact_n AS (
  SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1
)
SELECT a.arm, a.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_returned,
       CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits,
       -- denominator mirrors similarity.ann_recall: min(k, n_exact),
       -- so a perfect arm scores 1.0 even when the corpus holds < k
       CAST(COUNT(e.neighbor_id) AS DOUBLE)
         / CAST(LEAST(5, MAX(en.n_exact)) AS DOUBLE) AS recall_at_k
FROM arms a
JOIN exact_n en ON en.query_id = a.query_id
LEFT JOIN exact e
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY a.arm, a.query_id
"""


def q_centroid_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer drift audit (NEW r12, r11 verdict #3 —
    similarity.centroid_drift_report, the go/no-go gate in front of
    streaming.sinks.retrain_vector_index): per centroid set, the
    micro-averaged recall@5 of nprobe=2 cell-probe search vs exact
    search.  The 'stale' arm is the seeded at-build quantizer the
    existing IVF det tier uses (`_ivf_centroids`, random Gaussian —
    exactly what a drifted corpus looks like to a stale quantizer);
    the 'retrained' arm seeds cells from the corpus's own first 8
    vectors (the Forgy step — the SQL-expressible stand-in for the
    k-means retrain, whose float-iterative Lloyd rounds stay
    pytest-pinned via test_streaming's end-to-end rebuild parity).
    Deterministic fixed-point tier throughout, so assignment, probe,
    scoring and the integer-derived micro-average all replay in SQL
    (measured at sf0.01: retrained 0.86 vs stale 0.42 — the report
    showing exactly the decay it exists to price)."""
    from basic_data_fusion_spark.operators.similarity import (
        centroid_drift_report,
    )

    emb = _catalog(spark, sf_dir).load("embeddings")
    fresh = [[float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id") < 8)
             .orderBy("vec_id").collect()]
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return centroid_drift_report(
        emb, queries_df, {"stale": _ivf_centroids(), "retrained": fresh},
        k=5, nprobe=2, deterministic=True)


def _ivf_probe_sql(cent_sql: str, k: int, nprobe: int) -> str:
    """The `_ivf_det_oracle` probe pipeline with a PARAMETERIZED
    centroid relation ``cent(cell, i, cv)`` — assignment and probe
    rank by fixed-point cosine with the (score desc, cell asc)
    tie-break, candidates re-score exactly; returns
    (query_id, neighbor_id)."""
    fps = _fps_sql
    return f"""
WITH cent AS ({cent_sql}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
asgn_parts AS (
  SELECT b.vec_id, c.cell,
         {fps('b.e[c.i] * c.cv')} AS ab,
         {fps('b.e[c.i] * b.e[c.i]')} AS aa,
         {fps('c.cv * c.cv')} AS bb
  FROM base b CROSS JOIN cent c
  GROUP BY b.vec_id, c.cell
),
asgn AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts WHERE vec_id < 10)
  WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asgn a ON a.cell = p.cell
),
dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
pair_parts AS (
  SELECT c.query_id, c.neighbor_id,
         {fps('q.e[dims.i] * n.e[dims.i]')} AS ab,
         {fps('q.e[dims.i] * q.e[dims.i]')} AS aa,
         {fps('n.e[dims.i] * n.e[dims.i]')} AS bb
  FROM cand c
  JOIN base q ON q.vec_id = c.query_id
  JOIN base n ON n.vec_id = c.neighbor_id
  CROSS JOIN dims
  GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                     neighbor_id ASC) AS rank
  FROM pair_parts
)
SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k}
"""


def _ivf_cand_count_sql(cent_sql: str, nprobe: int) -> str:
    """Probe candidate volume for the same centroid relation: COUNT of
    the cand relation (probed cells × their members) — the
    n_candidates_total mirror of centroid_drift_report's cell-size
    join."""
    fps = _fps_sql
    return f"""
WITH cent AS ({cent_sql}),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
asgn_parts AS (
  SELECT b.vec_id, c.cell,
         {fps('b.e[c.i] * c.cv')} AS ab,
         {fps('b.e[c.i] * b.e[c.i]')} AS aa,
         {fps('c.cv * c.cv')} AS bb
  FROM base b CROSS JOIN cent c
  GROUP BY b.vec_id, c.cell
),
asgn AS (
  SELECT vec_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell
  FROM (SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ab / (SQRT(aa) * SQRT(bb)) DESC,
                                           cell ASC) AS rn
        FROM asgn_parts WHERE vec_id < 10)
  WHERE rn <= {nprobe}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates_total
FROM probes p JOIN asgn a ON a.cell = p.cell
"""


def _centroid_drift_oracle(k: int = 5, nprobe: int = 2) -> str:
    cents = _ivf_centroids()
    values = ", ".join(
        f"({ci}, {i + 1}, {v!r}::DOUBLE)"
        for ci, row in enumerate(cents) for i, v in enumerate(row))
    stale_cent = f"SELECT * FROM (VALUES {values}) v(cell, i, cv)"
    fresh_cent = """
SELECT CAST(vec_id AS INT) AS cell, d.i,
       CAST(embedding[d.i] AS DOUBLE) AS cv
FROM embeddings CROSS JOIN (SELECT i FROM generate_series(1, 64) AS g(i)) d
WHERE vec_id < 8
"""
    return f"""
WITH exact AS ({_truncated_topk_sql(64, k)}),
exn AS (SELECT query_id, COUNT(*) AS n FROM exact GROUP BY 1),
arms AS (
  SELECT 'stale' AS arm, query_id, neighbor_id
  FROM ({_ivf_probe_sql(stale_cent, k, nprobe)}) s
  UNION ALL
  SELECT 'retrained' AS arm, query_id, neighbor_id
  FROM ({_ivf_probe_sql(fresh_cent, k, nprobe)}) r
),
per AS (
  SELECT a.arm, a.query_id,
         SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS n_hits
  FROM arms a
  LEFT JOIN exact e ON e.query_id = a.query_id
                   AND e.neighbor_id = a.neighbor_id
  GROUP BY 1, 2
),
roll AS (
  SELECT p.arm, COUNT(*) AS n_queries, SUM(p.n_hits) AS hits,
         SUM(LEAST({k}, COALESCE(x.n, {k}))) AS possible
  FROM per p LEFT JOIN exn x ON x.query_id = p.query_id
  GROUP BY 1
),
cands AS (
  SELECT 'stale' AS arm, n_candidates_total
  FROM ({_ivf_cand_count_sql(stale_cent, nprobe)}) cs
  UNION ALL
  SELECT 'retrained' AS arm, n_candidates_total
  FROM ({_ivf_cand_count_sql(fresh_cent, nprobe)}) cr
)
SELECT roll.arm,
       CAST(n_queries AS BIGINT) AS n_queries,
       CAST(hits AS BIGINT) AS n_hits_total,
       CAST(possible AS BIGINT) AS n_possible_total,
       CAST(hits AS DOUBLE) / CAST(possible AS DOUBLE) AS micro_recall,
       cands.n_candidates_total
FROM roll JOIN cands ON cands.arm = roll.arm
ORDER BY roll.arm
"""


def q_minhash_dedup_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash+LSH tier: md5-derived base hash and
    raw-string band buckets make the ENTIRE candidate pipeline —
    signatures, banding, candidate join, jaccard verification —
    reproducible in plain SQL, so the fuzzy-dedup pair set value-hashes
    against DuckDB (the xxhash64 tier stays rows-only, recall
    pytest-verified)."""
    from basic_data_fusion_spark.operators.dedup import minhash_dedup_pairs

    docs = _catalog(spark, sf_dir).load("documents")
    return minhash_dedup_pairs(docs, n=3, num_hashes=64, bands=16,
                               threshold=0.8, deterministic=True)


def _fps_sql(prod: str) -> str:
    """Fixed-point SQL sum — the 1e-12 quantize-then-integer-sum idiom
    shared by every generated similarity oracle (must stay in lockstep
    with similarity.fp_sum)."""
    fp = "CAST(1000000000000.0 AS DOUBLE)"
    return f"SUM(CAST(ROUND(({prod}) * {fp}, 0) AS BIGINT)) / {fp}"


def _hex15_sql(col: str) -> str:
    """First 15 md5 hex chars of ``col`` as a 60-bit BIGINT — the SQL
    replay of conv(substring(md5(x),1,15),16,10) used by the md5-based
    minhash and simhash deterministic tiers."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({col}), {i}, 1)) - 1)"
        f" * {16 ** (15 - i)}::BIGINT" for i in range(1, 16)) + ")"


def _minhash_det_oracle(n: int = 3, num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8, seed: int = 42) -> str:
    """DuckDB replay of the deterministic MinHash tier, generated from
    the SAME affine parameters the Spark expression folds into its
    plan."""
    from basic_data_fusion_spark.operators.dedup import (
        MERSENNE31,
        _affine_params,
    )

    params = _affine_params(num_hashes, seed)
    values = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(params))
    hex15 = _hex15_sql("shingle")
    rpb = num_hashes // bands
    return f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, {hex15} % {MERSENNE31} AS h0 FROM s),
params(i, a, b) AS (VALUES {values}),
mins AS (
  SELECT h.doc_id, p.i, MIN((p.a * h.h0 + p.b) % {MERSENNE31}) AS mn
  FROM h CROSS JOIN params p
  GROUP BY 1, 2
),
bnd AS (
  SELECT doc_id, i // {rpb} AS band,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bucket
  FROM mins GROUP BY doc_id, i // {rpb}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cands c
  JOIN s sa ON sa.doc_id = c.id_a
  JOIN s sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT v.id_a, v.id_b,
       CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
         AS jaccard
FROM ver v
JOIN sz x ON x.doc_id = v.id_a
JOIN sz y ON y.doc_id = v.id_b
WHERE CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
      >= CAST({threshold} AS DOUBLE)
"""


def q_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-bit SimHash near-dups (md5-derived bit votes,
    4×15-bit pigeonhole bands): the whole fingerprint/band/verify chain
    replays in SQL → value-hashed driver check (the xxhash64 64-bit tier
    stays rows-only)."""
    from basic_data_fusion_spark.operators.dedup import simhash_near_dups_det

    docs = _catalog(spark, sf_dir).load("documents")
    return simhash_near_dups_det(docs, max_hamming=3, n=2)


def _simhash_det_oracle(n: int = 2, max_hamming: int = 3) -> str:
    hex15 = _hex15_sql("shingle")
    return f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, {hex15} AS h0 FROM s),
votes AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (h0 >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY 1, 2
),
sk AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)
           AS simhash
  FROM votes GROUP BY 1
),
bnd AS (
  SELECT doc_id, simhash, bb.band,
         (simhash >> (15 * bb.band)) & 32767 AS bits
  FROM sk CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bits = b.bits
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy incremental ingestion dedup: the src0-2 slice as the
    incoming batch vs the rest as the standing corpus, near-dup links
    via the banded MinHash index + exact-jaccard verification. xxhash64
    index → rows-only driver check; batch-tier parity pytest-verified."""
    from basic_data_fusion_spark.operators.dedup import incremental_minhash_dedup

    docs = _catalog(spark, sf_dir).load("documents")
    batch = docs.filter(F.col("source").isin(*_INCR_BATCH_SOURCES))
    existing = docs.filter(~F.col("source").isin(*_INCR_BATCH_SOURCES))
    return incremental_minhash_dedup(existing, batch, threshold=0.8)


def q_quantile_rollup_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (aggregations.quantile_hist_sketch /
    quantile_rollup — NEW r6): per-priority equi-width histogram
    sketches over order totalprice merged into global quantile
    estimates. The percentile analogue of the HLL partitioned-sketch
    tier — at 100 TB, per-shard histograms computed once at ingest
    answer any later cross-shard quantile by summing ≤bins integer
    rows, replacing both the exact percentile's global sort and
    approx_percentile's engine-opaque KLL state. Every estimate is
    integer-count + literal arithmetic, so the tier value-hashes
    cross-engine EXACTLY (no band flag needed — unlike the HLL/KLL
    gates). Merge-equals-whole and the one-bin-width error bound are
    pytest-pinned."""
    from basic_data_fusion_spark.operators.aggregations import (
        quantile_rollup_report,
    )

    orders = _catalog(spark, sf_dir).load("orders")
    return quantile_rollup_report(orders, "o_orderpriority",
                                  "o_totalprice", bins=512)


_QUANTILE_ROLLUP_ORACLE = """
WITH dom AS (
  SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
         MAX(CAST(o_totalprice AS DOUBLE)) AS hi
  FROM orders
),
sk AS (
  SELECT LEAST(511, GREATEST(0, CAST(FLOOR(
           (CAST(o_totalprice AS DOUBLE) - dom.lo) / (dom.hi - dom.lo) * 512
         ) AS INT))) AS bin,
         COUNT(*) AS n
  FROM orders, dom
  WHERE o_totalprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT bin, n,
         COALESCE(SUM(n) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         SUM(n) OVER () AS total
  FROM sk
),
qs AS (
  SELECT CAST(0.25 AS DOUBLE) AS quantile
  UNION ALL SELECT CAST(0.5 AS DOUBLE)
  UNION ALL SELECT CAST(0.75 AS DOUBLE)
  UNION ALL SELECT CAST(0.9 AS DOUBLE)
  UNION ALL SELECT CAST(0.99 AS DOUBLE)
),
picks AS (
  SELECT qs.quantile, c.bin, c.n, c.cb, c.total,
         ROW_NUMBER() OVER (PARTITION BY qs.quantile ORDER BY c.bin) AS rn
  FROM qs JOIN cum c
    ON CAST(c.cb AS DOUBLE) + CAST(c.n AS DOUBLE)
       >= qs.quantile * CAST(c.total AS DOUBLE)
)
SELECT p.quantile,
       CAST(p.total AS BIGINT) AS n_total,
       dom.lo + (CAST(p.bin AS DOUBLE)
                 + GREATEST(0.0, (p.quantile * CAST(p.total AS DOUBLE)
                                  - CAST(p.cb AS DOUBLE))
                            / CAST(p.n AS DOUBLE)))
               * ((dom.hi - dom.lo) / 512) AS estimate
FROM picks p, dom
WHERE p.rn = 1
ORDER BY p.quantile
"""


def q_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup acceptance gate as a first-class relational result (NEW
    r6, dedup.dedup_recall_report — the near-dup analogue of
    ann_recall_report): recall AND precision of the deterministic
    MinHash+LSH tier and the PPJoin prefix-filter tier against the
    exhaustive n-gram-jaccard truth set, computed entirely in-engine.
    Verification makes both arms' precision exact (1.0) and PPJoin is
    complete by construction (recall 1.0); the MinHash arm's recall is
    the banding's real operating point — the number a production dedup
    deployment watches.  All three pair sets are md5-deterministic, so
    the report value-hashes cross-engine.

    r7: the gate prices a deterministic md5 SLICE of the corpus by
    default (dedup.gate_slice, frac=0.3) — it composes three full
    dedup pipelines by definition, so at production scale the bounded
    sample is the standing gate and the full corpus (frac=1.0) the
    opt-in.  Pair-tier cost falls ~1/frac² (~11× here); the oracle
    replays the identical predicate via a shadowing documents CTE.

    r13 (r12 verdict #1): the slice is CAPPED at max_rows=
    _GATE_MAX_ROWS — the r12 decade sweep DNF'd this gate >420 s at
    sf10 because a bare fraction of a growing corpus keeps the
    exhaustive truth set quadratic; the fixed-size slice holds the
    gate flat (measured 26.7 → 29.1 s sf3 → sf10) and is inactive at
    driver scale (values unchanged)."""
    from basic_data_fusion_spark.operators.dedup import (
        dedup_recall_report,
        gate_slice,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    # slice ONCE: the three arms would otherwise each re-evaluate the
    # corpus-sized hash + top-n slice subtree (~6 scans of the full
    # corpus at sf10 — measured 84.6 s vs ~20 s at sf3 before this
    # checkpoint; the sliced frame itself is max_rows-bounded)
    docs = gate_slice(_catalog(spark, sf_dir).load("documents"), 0.3,
                      max_rows=_GATE_MAX_ROWS).localCheckpoint(eager=False)
    truth = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    mh = minhash_dedup_pairs(docs, n=3, num_hashes=64, bands=16,
                             threshold=0.8, deterministic=True)
    pp = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.8)
    return dedup_recall_report(truth, {"minhash_det": mh, "ppjoin": pp})


def _dedup_recall_oracle(slice_frac: float = 0.3) -> str:
    """The same composition in SQL: each arm's published oracle runs as
    a derived table so this stays in lockstep with the per-arm oracles.
    The md5 gate slice replays as a shadowing ``documents`` CTE (the
    per-arm oracles' bare ``documents`` references resolve to it), so
    the sliced gate needs no per-arm oracle edits."""
    pred = _gate_slice_sql(slice_frac, _GATE_MAX_ROWS)
    return f"""
WITH documents AS (SELECT * FROM main.documents WHERE {pred}),
truth AS (
  SELECT DISTINCT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE}) t
),
mh AS (
  SELECT DISTINCT id_a, id_b FROM ({_minhash_det_oracle()}) t
),
pp AS (
  SELECT DISTINCT id_a, id_b FROM ({_prefix_jaccard_oracle()}) t
),
tn AS (SELECT COUNT(*) AS n_truth FROM truth),
arms AS (
  SELECT 'minhash_det' AS arm, id_a, id_b FROM mh
  UNION ALL
  SELECT 'ppjoin' AS arm, id_a, id_b FROM pp
)
SELECT a.arm,
       CAST(MAX(tn.n_truth) AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_found,
       CAST(COUNT(t.id_a) AS BIGINT) AS n_hits,
       CAST(COUNT(t.id_a) AS DOUBLE)
         / NULLIF(CAST(MAX(tn.n_truth) AS DOUBLE), 0.0) AS recall,
       CAST(COUNT(t.id_a) AS DOUBLE)
         / NULLIF(CAST(COUNT(*) AS DOUBLE), 0.0) AS precision
FROM arms a
CROSS JOIN tn
LEFT JOIN truth t ON t.id_a = a.id_a AND t.id_b = a.id_b
GROUP BY a.arm
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (NEW r6,
    dedup.leakage_safe_split): split assignment by a deterministic
    uniform draw on the near-dup CLUSTER id, so a duplicate clique can
    never straddle splits — the eval-hygiene primitive a per-document
    split violates (a test doc whose near-copy sits in train is a
    leaked answer).  Clusters come from the deterministic exact-jaccard
    pair graph, the draw is the md5 hash_uniform, so the whole
    assignment replays in SQL.

    r7: the standing hygiene gate runs on the md5 gate slice
    (frac=0.3) — its cost is the pair graph + CC labeling, quadratic
    in documents; production verifies split hygiene on the bounded
    sample and runs the full-corpus assignment (frac=1.0) as the
    opt-in job.

    r13 (r12 verdict #1): slice capped at max_rows=_GATE_MAX_ROWS —
    the fraction slice grew 8.9× at the r12 sweep's sf3 step; the
    fixed-size hygiene sample costs the same at any corpus scale and
    the cap is inactive at driver scale (values unchanged)."""
    from basic_data_fusion_spark.operators.dedup import (
        gate_slice,
        leakage_safe_split,
        ngram_jaccard_pairs,
    )

    # slice ONCE (dedup_recall_report precedent): pairs and the split
    # both consume the sliced frame
    docs = gate_slice(_catalog(spark, sf_dir).load("documents"), 0.3,
                      max_rows=_GATE_MAX_ROWS).localCheckpoint(eager=False)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return leakage_safe_split(docs, pairs)


def _leakage_split_oracle(train_frac: float = 0.8,
                          val_frac: float = 0.1) -> str:
    """SQL replay: the dedup_clusters oracle labels clusters, then the
    md5-hex8 uniform (temperature_mix idiom) routes each CLUSTER.  The
    CASE thresholds embed the Python-side float sums via repr so the
    IEEE boundary values match the Spark plan bit-for-bit."""
    hv = ("(strpos('0123456789abcdef', substr(md5('split:' || "
          "CAST(cluster_id AS VARCHAR)), {i}, 1)) - 1) * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    t1 = repr(float(train_frac))
    t2 = repr(float(train_frac) + float(val_frac))
    pred = _gate_slice_sql(0.3, _GATE_MAX_ROWS)
    return f"""
WITH documents AS (SELECT * FROM main.documents WHERE {pred}),
base AS ({_DEDUP_CLUSTERS_ORACLE}),
drawn AS (
  SELECT doc_id, cluster_id,
         (CAST({hex8} AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM base
)
SELECT doc_id, cluster_id,
       CASE WHEN u < CAST({t1} AS DOUBLE) THEN 'train'
            WHEN u < CAST({t2} AS DOUBLE) THEN 'val'
            ELSE 'test' END AS split
FROM drawn
"""


def q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency tier (aggregations.cms_build/
    cms_estimate): a 4×1024-cell mergeable sketch over the corpus token
    stream, probed for the 20 highest-frequency tokens beside their
    exact counts — demonstrating the never-underestimates contract
    row-by-row (``is_overestimate`` true for every probe). md5 bucket
    hashes make every cell and every min-estimate SQL-replayable;
    completes the sketch tier (HLL distinct / approx_top_k heavy
    hitters / CMS point frequencies)."""
    from basic_data_fusion_spark.operators.aggregations import (
        cms_build,
        cms_estimate,
    )
    from basic_data_fusion_spark.operators.text import tokens
    from basic_data_fusion_spark.sources.partitioning import spread_narrow

    # tokenize + explode + per-cell md5 all pipeline with the scan;
    # spread the single-file source so the pass parallelizes (r13 opt:
    # 6 tasks / 1.45 s exec at sf0.1 before)
    docs = spread_narrow(_catalog(spark, sf_dir).load("documents"))
    toks = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                    lambda x: x != "")
    inst = docs.select(F.explode(toks).alias("token"))
    probes = (inst.groupBy("token")
              .agg(F.count(F.lit(1)).alias("exact_n"))
              .orderBy(F.desc("exact_n"), F.asc("token"))
              .limit(20))
    cms = cms_build(inst, "token", width=1024, depth=4)
    est = cms_estimate(cms, probes, "token", width=1024, depth=4)
    return est.select(
        "token", "exact_n", "cms_n",
        (F.col("cms_n") >= F.col("exact_n")).alias("is_overestimate"))


def _cms_token_freq_oracle(width: int = 1024, depth: int = 4,
                           k: int = 20) -> str:
    hexbit = _hex15_sql("concat(CAST(j AS VARCHAR), ':', token)")
    hexbit_p = _hex15_sql("concat(CAST(s.j AS VARCHAR), ':', p.token)")
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+'),
           x -> x <> '')) AS token
  FROM documents
),
exact AS (SELECT token, COUNT(*) AS exact_n FROM tok GROUP BY 1),
probes AS (
  SELECT token, exact_n FROM exact
  ORDER BY exact_n DESC, token ASC LIMIT {k}
),
seeds AS (SELECT unnest(generate_series(0, {depth - 1})) AS j),
cells AS (
  SELECT j AS d, {hexbit} % {int(width)} AS bucket, COUNT(*) AS n
  FROM tok CROSS JOIN seeds
  GROUP BY 1, 2
),
est AS (
  SELECT p.token, p.exact_n,
         MIN(COALESCE(c.n, 0)) AS cms_n
  FROM probes p CROSS JOIN seeds s
  LEFT JOIN cells c
    ON c.d = s.j AND c.bucket = {hexbit_p} % {int(width)}
  GROUP BY 1, 2
)
SELECT token, exact_n, cms_n, cms_n >= exact_n AS is_overestimate
FROM est
"""


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join via prefix filtering (AllPairs/PPJoin):
    pairs with 3-shingle Jaccard ≥ 0.8 found by joining only on each
    doc's rarest ``|S|−⌈t·|S|⌉+1`` shingles — complete (no LSH recall
    loss), and the join keys are low-df by construction so boilerplate
    shingles never become hot keys. Every step (df table, rarity rank,
    prefix cut, verification) is integer/md5-deterministic → the pair
    set value-hashes against the SQL replay. Same output contract as
    `ngram_jaccard`/`minhash_dedup_det` — the third point in the
    exact/LSH/prefix-filter similarity-join design space."""
    from basic_data_fusion_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return prefix_filter_jaccard_pairs(docs, n=3, threshold=0.8)


def _prefix_jaccard_oracle(n: int = 3, threshold: float = 0.8) -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM s GROUP BY 1),
ranked AS (
  SELECT s.doc_id, s.shingle,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY f.df ASC, s.shingle ASC) AS rn,
         COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
  FROM s JOIN dfreq f ON f.shingle = s.shingle
),
prefix AS (
  SELECT doc_id, shingle FROM ranked
  WHERE rn <= sz - CEIL(ROUND(CAST({threshold} AS DOUBLE) * sz, 9)) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cands c
  JOIN s sa ON sa.doc_id = c.id_a
  JOIN s sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT v.id_a, v.id_b,
       CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
         AS jaccard
FROM ver v
JOIN sz x ON x.doc_id = v.id_a
JOIN sz y ON y.doc_id = v.id_b
WHERE CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
      >= CAST({threshold} AS DOUBLE)
"""


def q_incremental_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic twin of the fuzzy incremental dedup: md5 base hash
    + raw-string band buckets make the standing-index probe AND the
    exact-jaccard verification replay in SQL, so the per-crawl near-dup
    link set value-hashes cross-engine (the xxhash64 tier stays the
    fast path; batch parity pytest-verified). Closes the last
    incremental-ingestion surface without a hash-checked driver row."""
    from basic_data_fusion_spark.operators.dedup import incremental_minhash_dedup

    docs = _catalog(spark, sf_dir).load("documents")
    batch = docs.filter(F.col("source").isin(*_INCR_BATCH_SOURCES))
    existing = docs.filter(~F.col("source").isin(*_INCR_BATCH_SOURCES))
    return incremental_minhash_dedup(existing, batch, threshold=0.8,
                                     deterministic=True)


def _incremental_minhash_det_oracle(n: int = 3, num_hashes: int = 64,
                                    bands: int = 16,
                                    threshold: float = 0.8,
                                    seed: int = 42) -> str:
    """DuckDB replay of the det incremental-minhash tier — the
    _minhash_det_oracle construction with the candidate join crossing
    the batch/corpus split instead of self-joining."""
    from basic_data_fusion_spark.operators.dedup import (
        MERSENNE31,
        _affine_params,
    )

    params = _affine_params(num_hashes, seed)
    values = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(params))
    hex15 = _hex15_sql("shingle")
    rpb = num_hashes // bands
    srcs = ", ".join(f"'{s}'" for s in _INCR_BATCH_SOURCES)
    return f"""
WITH d AS (
  SELECT doc_id, source IN ({srcs}) AS is_new,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id, is_new,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, is_new, {hex15} % {MERSENNE31} AS h0 FROM s),
params(i, a, b) AS (VALUES {values}),
mins AS (
  SELECT h.doc_id, h.is_new, p.i,
         MIN((p.a * h.h0 + p.b) % {MERSENNE31}) AS mn
  FROM h CROSS JOIN params p
  GROUP BY 1, 2, 3
),
bnd AS (
  SELECT doc_id, is_new, i // {rpb} AS band,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bucket
  FROM mins GROUP BY doc_id, is_new, i // {rpb}
),
cands AS (
  SELECT DISTINCT nb.doc_id AS new_id, eb.doc_id AS existing_id
  FROM bnd nb JOIN bnd eb
    ON nb.band = eb.band AND nb.bucket = eb.bucket
  WHERE nb.is_new AND NOT eb.is_new
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT c.new_id, c.existing_id, COUNT(*) AS n_common
  FROM cands c
  JOIN s sa ON sa.doc_id = c.new_id
  JOIN s sb ON sb.doc_id = c.existing_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT v.new_id, v.existing_id,
       CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
         AS jaccard
FROM ver v
JOIN sz x ON x.doc_id = v.new_id
JOIN sz y ON y.doc_id = v.existing_id
WHERE CAST(v.n_common AS DOUBLE) / (x.set_size + y.set_size - v.n_common)
      >= CAST({threshold} AS DOUBLE)
"""


# Fuzzy decontam held-out split: ~5% of documents by md5 prefix (the
# engine-portable slice idiom — both engines compute md5 of the same
# decimal doc_id string).
_FUZZY_DECONTAM_HELD_PREFIX = "0d"
_FUZZY_DECONTAM_THRESHOLD = 0.7


def q_fuzzy_decontam_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup benchmark decontamination (dedup.fuzzy_decontaminate),
    deterministic tier: the exact decontam family (n-gram join, Bloom
    probe, span surgery) misses paraphrase-grade leaks; this tier flags
    every train doc whose best held-out match reaches shingle Jaccard >=
    0.7 via the md5 banded MinHash probe — eval side BROADCAST so the
    corpus never shuffles (the 100 TB shape; see the operator
    docstring).  Per train doc: (doc_id, contaminated, matched_id,
    jaccard); the whole pipeline (banding, candidate probe, exact
    verification, best-match ranking) replays in SQL and value-hashes.

    Reference parity: extends the decontamination surface beyond the
    reference's exact-match semantics (SURVEY §2 decontam rows); no
    reference operator corresponds — this is a training-pipeline
    extension like the dedup ladder's banded tiers."""
    from basic_data_fusion_spark.operators.dedup import fuzzy_decontaminate

    docs = _catalog(spark, sf_dir).load("documents")
    held = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < _FUZZY_DECONTAM_HELD_PREFIX)
    return fuzzy_decontaminate(
        docs.filter(~held), docs.filter(held),
        threshold=_FUZZY_DECONTAM_THRESHOLD, deterministic=True)


def _fuzzy_decontam_det_oracle(n: int = 3, num_hashes: int = 64,
                               bands: int = 16,
                               threshold: float = _FUZZY_DECONTAM_THRESHOLD,
                               seed: int = 42) -> str:
    """DuckDB replay of the det fuzzy-decontam tier: the incremental
    det-minhash construction with the candidate join crossing the
    train/held-out md5 split, then best-match ranking (jaccard DESC,
    eval id ASC) and a left join back to every train doc."""
    from basic_data_fusion_spark.operators.dedup import (
        MERSENNE31,
        _affine_params,
    )

    params = _affine_params(num_hashes, seed)
    values = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(params))
    hex15 = _hex15_sql("shingle")
    rpb = num_hashes // bands
    return f"""
WITH d AS (
  SELECT doc_id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           < '{_FUZZY_DECONTAM_HELD_PREFIX}' AS is_held,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id, is_held,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, is_held, {hex15} % {MERSENNE31} AS h0 FROM s),
params(i, a, b) AS (VALUES {values}),
mins AS (
  SELECT h.doc_id, h.is_held, p.i,
         MIN((p.a * h.h0 + p.b) % {MERSENNE31}) AS mn
  FROM h CROSS JOIN params p
  GROUP BY 1, 2, 3
),
bnd AS (
  SELECT doc_id, is_held, i // {rpb} AS band,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bucket
  FROM mins GROUP BY doc_id, is_held, i // {rpb}
),
cands AS (
  SELECT DISTINCT tb.doc_id AS train_id, eb.doc_id AS eval_id
  FROM bnd tb JOIN bnd eb
    ON tb.band = eb.band AND tb.bucket = eb.bucket
  WHERE NOT tb.is_held AND eb.is_held
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT c.train_id, c.eval_id, COUNT(*) AS n_common
  FROM cands c
  JOIN s sa ON sa.doc_id = c.train_id
  JOIN s sb ON sb.doc_id = c.eval_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT v.train_id, v.eval_id,
         CAST(v.n_common AS DOUBLE)
           / (x.set_size + y.set_size - v.n_common) AS jaccard
  FROM ver v
  JOIN sz x ON x.doc_id = v.train_id
  JOIN sz y ON y.doc_id = v.eval_id
),
best AS (
  SELECT train_id, eval_id, jaccard,
         ROW_NUMBER() OVER (PARTITION BY train_id
                            ORDER BY jaccard DESC, eval_id) AS rn
  FROM jac WHERE jaccard >= CAST({threshold} AS DOUBLE)
)
SELECT t.doc_id,
       b.eval_id AS matched_id,
       b.jaccard,
       b.eval_id IS NOT NULL AS contaminated
FROM (SELECT doc_id FROM d WHERE NOT is_held) t
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.train_id = t.doc_id
"""


_FUZZY_SWEEP_THRESHOLDS = [0.5, 0.6, 0.7, 0.8, 0.9]


def q_fuzzy_decontam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-gate planning report (NEW r11, r10 verdict #4 —
    dedup.fuzzy_decontam_sweep): dirty-doc rate and removal cost at
    five candidate Jaccard thresholds from ONE broadcast-probe banded
    pair scan, the fuzzy counterpart of ``decontam_window_sweep`` /
    ``dedup_impact_sweep`` — what a curation run reads to pick its
    paraphrase gate's threshold before paying for the gate.  Same
    train/held-out md5 split and det md5 banding as
    ``fuzzy_decontam_det``; every count is exact and every fraction
    integer-derived, so the whole report value-hashes against the SQL
    replay of the banded pipeline.

    r13 (r12 verdict #5): the EVAL side is capped at max_rows=
    _GATE_MAX_ROWS (gate_slice top-n, frac=1.0) — the md5-prefix held
    split is fraction-sized, so at sf10 BOTH sides of the candidate
    probe grew with the corpus (133.5 s, 6.4× step).  A planning
    sweep prices its thresholds on a bounded eval sample; the train
    side (the corpus being decontaminated) still scans in full, which
    is the linear part.  At driver scale the held set is far below
    the cap, so values and hashes are unchanged."""
    from basic_data_fusion_spark.operators.dedup import (
        fuzzy_decontam_sweep,
        gate_slice,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    held = (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < _FUZZY_DECONTAM_HELD_PREFIX)
    eval_docs = gate_slice(docs.filter(held), 1.0,
                           max_rows=_GATE_MAX_ROWS) \
        .localCheckpoint(eager=False)
    return fuzzy_decontam_sweep(
        docs.filter(~held), eval_docs,
        thresholds=_FUZZY_SWEEP_THRESHOLDS, deterministic=True)


def _fuzzy_decontam_sweep_oracle(n: int = 3, num_hashes: int = 64,
                                 bands: int = 16, seed: int = 42) -> str:
    """DuckDB replay of the fuzzy threshold sweep: the det fuzzy
    decontam chain (banding, candidate probe crossing the md5 split,
    exact jaccard verification) cut at min(thresholds), then the
    per-threshold explode + distinct-dirty-doc rollup."""
    from basic_data_fusion_spark.operators.dedup import (
        MERSENNE31,
        _affine_params,
    )

    params = _affine_params(num_hashes, seed)
    values = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(params))
    hex15 = _hex15_sql("shingle")
    rpb = num_hashes // bands
    ts = sorted(float(t) for t in _FUZZY_SWEEP_THRESHOLDS)
    t_values = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in ts)
    t_min = repr(ts[0])
    # r13 eval cap: held docs beyond the max_rows smallest
    # (hash_uniform draw, doc_id) survivors drop out entirely —
    # they are neither train (md5 prefix) nor eval (cap), mirroring
    # gate_slice(frac=1.0, max_rows) on the held side
    hex8 = _seeded_hex8_sql("gate_slice")
    return f"""
WITH d0 AS (
  SELECT doc_id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           < '{_FUZZY_DECONTAM_HELD_PREFIX}' AS is_held,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
evalcap AS (
  SELECT doc_id FROM d0 WHERE is_held
  ORDER BY {hex8} ASC, doc_id ASC LIMIT {_GATE_MAX_ROWS}
),
d AS (
  SELECT * FROM d0
  WHERE NOT is_held OR doc_id IN (SELECT doc_id FROM evalcap)
),
s AS (
  SELECT doc_id, is_held,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, is_held, {hex15} % {MERSENNE31} AS h0 FROM s),
params(i, a, b) AS (VALUES {values}),
mins AS (
  SELECT h.doc_id, h.is_held, p.i,
         MIN((p.a * h.h0 + p.b) % {MERSENNE31}) AS mn
  FROM h CROSS JOIN params p
  GROUP BY 1, 2, 3
),
bnd AS (
  SELECT doc_id, is_held, i // {rpb} AS band,
         string_agg(CAST(mn AS VARCHAR), ',' ORDER BY i) AS bucket
  FROM mins GROUP BY doc_id, is_held, i // {rpb}
),
cands AS (
  SELECT DISTINCT tb.doc_id AS train_id, eb.doc_id AS eval_id
  FROM bnd tb JOIN bnd eb
    ON tb.band = eb.band AND tb.bucket = eb.bucket
  WHERE NOT tb.is_held AND eb.is_held
),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT c.train_id, c.eval_id, COUNT(*) AS n_common
  FROM cands c
  JOIN s sa ON sa.doc_id = c.train_id
  JOIN s sb ON sb.doc_id = c.eval_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT v.train_id, v.eval_id,
         CAST(v.n_common AS DOUBLE)
           / (x.set_size + y.set_size - v.n_common) AS jaccard
  FROM ver v
  JOIN sz x ON x.doc_id = v.train_id
  JOIN sz y ON y.doc_id = v.eval_id
  WHERE CAST(v.n_common AS DOUBLE)
          / (x.set_size + y.set_size - v.n_common)
        >= CAST({t_min} AS DOUBLE)
),
ts(threshold) AS (VALUES {t_values}),
hits AS (
  SELECT ts.threshold, j.train_id, j.eval_id
  FROM jac j CROSS JOIN ts
  WHERE j.jaccard >= ts.threshold
),
link_counts AS (
  SELECT threshold, COUNT(*) AS n_links FROM hits GROUP BY 1
),
dd AS (SELECT DISTINCT threshold, train_id FROM hits),
dirty AS (
  SELECT dd.threshold, COUNT(*) AS docs_contaminated,
         SUM(doc.n_chars) AS chars_removed
  FROM dd JOIN documents doc ON doc.doc_id = dd.train_id
  GROUP BY 1
),
tot AS (
  SELECT COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
  FROM documents
  WHERE NOT (substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
             < '{_FUZZY_DECONTAM_HELD_PREFIX}')
)
SELECT ts.threshold,
       COALESCE(l.n_links, 0) AS n_links,
       COALESCE(y.docs_contaminated, 0) AS docs_contaminated,
       CAST(COALESCE(y.chars_removed, 0) AS BIGINT) AS chars_removed,
       CAST(COALESCE(y.docs_contaminated, 0) AS DOUBLE) / tot.n_docs
         AS pct_docs_contaminated,
       CAST(COALESCE(y.chars_removed, 0) AS DOUBLE) / tot.n_chars
         AS pct_chars_removed
FROM ts
LEFT JOIN link_counts l ON l.threshold = ts.threshold
LEFT JOIN dirty y ON y.threshold = ts.threshold
CROSS JOIN tot
ORDER BY ts.threshold
"""


_LSH_SWEEP_BANDS = (4, 8, 16, 32)
_LSH_SWEEP_THRESHOLD = 0.8


def q_lsh_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-config planning report (NEW r11,
    dedup.lsh_config_sweep): candidate volume (cost), verified yield,
    precision, and the closed-form S-curve capture probability at the
    working threshold for each (bands, rows-per-band) factorization of
    the 64-hash signature — the bands knob the threshold sweeps don't
    cover, from ONE signature pass.  Det md5 tier; like the other
    acceptance composites it prices a bounded md5 slice (gate_slice
    frac=0.3, capped at max_rows=_GATE_MAX_ROWS since r13, replayed
    by a shadowing documents CTE) because the wide-bands configs
    (rows=2) deliberately explore the candidate-dense end of the
    knob."""
    from basic_data_fusion_spark.operators.dedup import (
        gate_slice,
        lsh_config_sweep,
    )

    # slice ONCE (dedup_recall_report precedent): the sweep pins both
    # a signature and a shingle-set relation off the sliced frame
    docs = gate_slice(_catalog(spark, sf_dir).load("documents"), 0.3,
                      max_rows=_GATE_MAX_ROWS).localCheckpoint(eager=False)
    return lsh_config_sweep(docs, bands_options=_LSH_SWEEP_BANDS,
                            threshold=_LSH_SWEEP_THRESHOLD,
                            deterministic=True)


def _lsh_config_sweep_oracle(n: int = 3, num_hashes: int = 64,
                             seed: int = 42,
                             slice_frac: float = 0.3) -> str:
    """DuckDB replay of the banding sweep: one mins relation, re-banded
    per config via a configs VALUES relation, candidates per config,
    exact jaccard on the DISTINCT pair union (LEFT join back so a
    zero-common-shingle candidate still counts), and the same
    chained-multiplication S-curve literals the Spark side embeds."""
    from basic_data_fusion_spark.operators.dedup import (
        MERSENNE31,
        _affine_params,
        _s_curve_capture,
    )

    t = float(_LSH_SWEEP_THRESHOLD)
    params = _affine_params(num_hashes, seed)
    values = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(params))
    hex15 = _hex15_sql("shingle")
    opts = sorted(set(int(b) for b in _LSH_SWEEP_BANDS))
    config_values = ", ".join(f"({b}, {num_hashes // b})" for b in opts)
    # quoted literals: DuckDB parses a bare 17-significant-digit
    # numeric as DECIMAL before the CAST, losing the last ulp vs
    # Spark's exact F.lit(float); a STRING cast parses straight to
    # the correctly-rounded double
    caps_values = ", ".join(
        f"({b}, {num_hashes // b}, "
        f"CAST('{_s_curve_capture(t, num_hashes // b, b)!r}' AS DOUBLE))"
        for b in opts)
    pred = _gate_slice_sql(slice_frac, _GATE_MAX_ROWS)
    return f"""
WITH documents AS (SELECT * FROM main.documents WHERE {pred}),
d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - {n - 1}, 1)),
           i -> array_to_string(t[i:i+{n - 1}], ' ')))) AS shingle
  FROM d
),
h AS (SELECT doc_id, {hex15} % {MERSENNE31} AS h0 FROM s),
params(i, a, b) AS (VALUES {values}),
mins AS (
  SELECT h.doc_id, p.i, MIN((p.a * h.h0 + p.b) % {MERSENNE31}) AS mn
  FROM h CROSS JOIN params p
  GROUP BY 1, 2
),
configs(bands, rpb) AS (VALUES {config_values}),
bnd AS (
  SELECT m.doc_id, c.bands, m.i // c.rpb AS band,
         string_agg(CAST(m.mn AS VARCHAR), ',' ORDER BY m.i) AS bucket
  FROM mins m CROSS JOIN configs c
  GROUP BY m.doc_id, c.bands, m.i // c.rpb
),
cands AS (
  SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a JOIN bnd b
    ON a.bands = b.bands AND a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
pairs AS (SELECT DISTINCT id_a, id_b FROM cands),
sz AS (SELECT doc_id, COUNT(*) AS set_size FROM s GROUP BY 1),
ver AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN s sa ON sa.doc_id = p.id_a
  JOIN s sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
jac AS (
  SELECT p.id_a, p.id_b,
         CAST(COALESCE(v.n_common, 0) AS DOUBLE)
           / (x.set_size + y.set_size - COALESCE(v.n_common, 0)) AS jaccard
  FROM pairs p
  LEFT JOIN ver v ON v.id_a = p.id_a AND v.id_b = p.id_b
  JOIN sz x ON x.doc_id = p.id_a
  JOIN sz y ON y.doc_id = p.id_b
),
per AS (
  SELECT c.bands, COUNT(*) AS n_candidates,
         SUM(CASE WHEN j.jaccard >= CAST({t!r} AS DOUBLE)
                  THEN 1 ELSE 0 END) AS n_verified
  FROM cands c
  JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
  GROUP BY 1
),
caps(bands, rows_per_band, capture_prob_at_t) AS (VALUES {caps_values})
SELECT CAST(caps.bands AS INT) AS bands,
       CAST(caps.rows_per_band AS INT) AS rows_per_band,
       CAST(COALESCE(per.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(per.n_verified, 0) AS BIGINT) AS n_verified,
       CAST(COALESCE(per.n_verified, 0) AS DOUBLE)
         / NULLIF(CAST(COALESCE(per.n_candidates, 0) AS DOUBLE), 0)
         AS precision,
       caps.capture_prob_at_t
FROM caps LEFT JOIN per ON per.bands = caps.bands
ORDER BY caps.bands
"""


_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.1}


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture assembly: published-style mixture weights
    (30/20/20/10% for four named sources, 2% each for the rest via the
    default) realized as deterministic per-source keep rates against a
    10k-token budget — the GPT-3/LLaMA mixture-table → per-document
    keep-decision step."""
    from basic_data_fusion_spark.operators.selection import token_budget_mix

    docs = _catalog(spark, sf_dir).load("documents")
    return token_budget_mix(docs, budget_tokens=10_000,
                            weights=_MIX_WEIGHTS, default_weight=0.02)


def _token_budget_mix_oracle() -> str:
    hv = ("(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
          " * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    w_case = ("CASE source "
              + " ".join(f"WHEN '{s}' THEN CAST({w} AS DOUBLE)"
                         for s, w in sorted(_MIX_WEIGHTS.items()))
              + " ELSE CAST(0.02 AS DOUBLE) END")
    return f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
              ELSE len(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '')) END AS BIGINT) AS n_tokens
  FROM documents
),
totals AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS T FROM base GROUP BY 1),
rates AS (
  SELECT source,
         CASE WHEN T > 0
              THEN LEAST(1.0, CAST(10000.0 AS DOUBLE) * ({w_case})
                              / CAST(T AS DOUBLE))
              ELSE CAST(1.0 AS DOUBLE) END AS keep_rate
  FROM totals
)
SELECT b.doc_id, b.source, b.n_tokens, r.keep_rate,
       (CAST({hex8} AS DOUBLE) / 4294967296.0) < r.keep_rate AS keep
FROM base b JOIN rates r USING (source)
"""


def q_ks_acctbal_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the BUILDING and
    MACHINERY segments' account balances — the nonparametric
    distribution-shift check, computed exactly (integer cross-products,
    one final division)."""
    from basic_data_fusion_spark.operators.stats import ks_two_sample

    cust = _catalog(spark, sf_dir).load("customer")
    return ks_two_sample(cust, "c_mktsegment", "c_acctbal",
                         "BUILDING", "MACHINERY")


_KS_ORACLE = """
WITH vals AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
         c_acctbal AS v
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_acctbal IS NOT NULL
),
cum AS (
  SELECT v,
         SUM(is_a) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(1 - is_a) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM vals
),
per_val AS (SELECT v, MAX(ca) AS ca, MAX(cb) AS cb FROM cum GROUP BY v),
totals AS (SELECT SUM(is_a) AS na, SUM(1 - is_a) AS nb FROM vals)
SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       CAST(MAX(ABS(p.ca * t.nb - p.cb * t.na)) AS DOUBLE)
         / NULLIF(t.na * t.nb, 0) AS ks_d
FROM per_val p CROSS JOIN totals t
GROUP BY t.na, t.nb
"""


def q_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double correlation on one fact table (TPC-H Q21 shape): suppliers
    who were the ONLY late supplier (ship > order date + 60 days) on a
    multi-supplier order. The EXISTS (another supplier on the order) and
    NOT EXISTS (another LATE supplier) decorrelate into ONE per-order
    aggregation — distinct-supplier count, distinct-late count and the
    single late supplier via conditional min/max — instead of two
    correlated self-probes of lineitem; orders with n_supp > 1 and
    exactly one late supplier assign blame. One fact-fact join + two
    grouped aggs; supplier/nation decorate via broadcast."""
    from basic_data_fusion_spark.sources.partitioning import spread_narrow

    cat = _catalog(spark, sf_dir)
    # spread the single-file fact scan so the join + first aggregation's
    # map side parallelizes (r13 opt: 2.1 s exec pinned to the scan
    # stage before; no-op at scale where the scan is already split)
    li = spread_narrow(
        cat.load("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate"))
    orders = cat.load("orders").select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # two-level aggregation instead of two countDistincts: the distinct
    # pass reduces to (order, supplier, any-late) first, so the plan
    # carries no Expand — the countDistinct form tripled every joined
    # row through the first shuffle (r13 opt; integers are identical:
    # distinct-supplier count = row count after the first level,
    # distinct-late count = sum of the any-late flags, and the sole
    # late supplier = min over late rows either way)
    per_pair = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("l_orderkey", "l_suppkey")
                .agg(F.max(late.cast("int")).alias("__late")))
    per_order = (per_pair
                 .groupBy("l_orderkey")
                 .agg(F.count(F.lit(1)).alias("__n_supp"),
                      F.sum("__late").alias("__n_late"),
                      F.min(F.when(F.col("__late") == 1,
                                   F.col("l_suppkey")))
                      .alias("__late_supp")))
    blamed = (per_order
              .filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1))
              .select(F.col("__late_supp").alias("s_suppkey")))
    sup = cat.load("supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = cat.load("nation").select("n_nationkey", "n_name")
    return (blamed.groupBy("s_suppkey")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(sup), "s_suppkey")
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation"),
                    "numwait")
            .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
            .limit(20))


_SOLE_BLAME_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) AS n_late,
         MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
),
blamed AS (
  SELECT late_supp AS s_suppkey, COUNT(*) AS numwait
  FROM per_order WHERE n_supp > 1 AND n_late = 1
  GROUP BY 1
)
SELECT b.s_suppkey, s.s_name, n.n_name AS supp_nation,
       CAST(b.numwait AS BIGINT) AS numwait
FROM blamed b
JOIN supplier s ON s.s_suppkey = b.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY b.numwait DESC, b.s_suppkey
LIMIT 20
"""


def q_mannwhitney_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann–Whitney U between the BUILDING and MACHINERY
    segments' account balances — nonparametric location-shift companion
    to the KS distance (stats.mann_whitney_u): doubled midranks and the
    tie term accumulate as exact integers; the tie-corrected z exits
    through one fixed IEEE expression tree."""
    from basic_data_fusion_spark.operators.stats import mann_whitney_u

    cust = _catalog(spark, sf_dir).load("customer")
    return mann_whitney_u(cust, "c_mktsegment", "c_acctbal",
                          "BUILDING", "MACHINERY")


_MANNWHITNEY_ORACLE = """
WITH vals AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
         c_acctbal AS v
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_acctbal IS NOT NULL
),
pos AS (
  SELECT v, is_a,
         SUM(1) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM vals
),
runs AS (
  SELECT v, COUNT(*) AS t, SUM(is_a) AS t_a, MAX(p) AS e FROM pos GROUP BY v
),
agg AS (
  SELECT SUM(t_a * (2 * e - t + 1)) AS r2a,
         SUM(t_a) AS na, SUM(t - t_a) AS nb,
         SUM(t * t * t - t) AS ties
  FROM runs
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       (CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE))
         / CAST(2.0 AS DOUBLE) AS u_a,
       CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         - ((CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE))
            / CAST(2.0 AS DOUBLE)) AS u_b,
       CASE WHEN na > 0 AND nb > 0 THEN
         CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(12.0 AS DOUBLE)
                   * (CAST(na + nb + 1 AS DOUBLE)
                      - CAST(ties AS DOUBLE)
                        / (CAST(na + nb AS DOUBLE)
                           * CAST(na + nb - 1 AS DOUBLE))) > CAST(0.0 AS DOUBLE)
         THEN
       (((CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE))
          / CAST(2.0 AS DOUBLE))
        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(2.0 AS DOUBLE))
       / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(12.0 AS DOUBLE)
              * (CAST(na + nb + 1 AS DOUBLE)
                 - CAST(ties AS DOUBLE)
                   / (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE))))
         END END AS z
FROM agg
"""


def q_dist_shift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + Mann–Whitney between the BUILDING and MACHINERY segments
    from ONE shared machine (NEW r9, stats.dist_shift_report): the two
    standalone tests pay the same value-keyed aggregation + prefix-sum
    floor separately; the combined report pays it once and its columns
    are BIT-EQUAL to the standalone outputs — the oracle is literally
    the two standalone oracles cross-joined."""
    from basic_data_fusion_spark.operators.stats import dist_shift_report

    cust = _catalog(spark, sf_dir).load("customer")
    return dist_shift_report(cust, "c_mktsegment", "c_acctbal",
                             "BUILDING", "MACHINERY")


_DIST_SHIFT_ORACLE = f"""
SELECT k.n_a, k.n_b, k.ks_d, m.u_a, m.u_b, m.z
FROM ({_KS_ORACLE}) k CROSS JOIN ({_MANNWHITNEY_ORACLE}) m
"""


def q_kendall_tau_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Kendall tau-b per return flag over a deterministic
    lineitem slice (NEW r9; re-pointed mid-r9 to the O(m·n)
    stats.kendall_tau_grouped_lowcard engine path after the sf1
    spot-check read the pair tier at 13.4× per 10× data — quadratic
    per cohort by design, SCALE.md r9) — closes T7's last pytest-only
    statistic with a driver hash row.  l_quantity is the bounded side
    (m≈50 distinct), so the grid/prefix tier is linear per cohort; the
    slice (l_orderkey % 200 = 0, oracle replays the predicate —
    gate_slice precedent) now bounds only the ORACLE's quadratic pair
    count, same as the reference bounds kendall with its ≤5000-row
    collected sample.  Every count is an exact BIGINT on both paths
    and tau exits through the same fixed IEEE tree, so the lowcard
    path hashes identically against the pair-count oracle
    (bitwise-parity pinned in tests/test_stats.py)."""
    from basic_data_fusion_spark.operators.stats import (
        kendall_tau_grouped_lowcard,
    )

    li = (_catalog(spark, sf_dir).load("lineitem")
          .filter(F.col("l_orderkey") % 200 == 0))
    return kendall_tau_grouped_lowcard(li, "l_returnflag", "l_quantity",
                                       "l_extendedprice")


_KENDALL_TAU_ORACLE = """
WITH d AS (
  -- ROW_NUMBER gives each ROW a unique pair id: the driver's synthetic
  -- lineitem contains duplicate (l_orderkey, l_linenumber) rows, so a
  -- packed key would merge them and silently skip their mutual pairs
  -- (tau over the multiset must count them; pair counts are invariant
  -- to WHICH unique ids rows get, so the undefined numbering order is
  -- harmless)
  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y,
         ROW_NUMBER() OVER () AS i
  FROM lineitem
  WHERE l_orderkey % 200 = 0
    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
p AS (
  SELECT a.g,
         CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS t1,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS t2
  FROM d a JOIN d b ON a.g = b.g AND a.i < b.i
),
agg AS (
  SELECT g, COUNT(*) AS n_pairs, SUM(conc) AS concordant,
         SUM(disc) AS discordant, SUM(t1) AS n1, SUM(t2) AS n2
  FROM p GROUP BY g
)
SELECT g AS l_returnflag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(concordant AS BIGINT) AS concordant,
       CAST(discordant AS BIGINT) AS discordant,
       CASE WHEN n_pairs > n1 AND n_pairs > n2 THEN
         CAST(concordant - discordant AS DOUBLE)
         / (SQRT(CAST(n_pairs - n1 AS DOUBLE))
            * SQRT(CAST(n_pairs - n2 AS DOUBLE)))
       END AS tau_b
FROM agg
ORDER BY g
"""


def q_chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between order priority and
    order status, with Cramér's V effect size (stats.chi2_independence):
    the fact table reduces to an R×C contingency cell table in the
    first aggregation, so every downstream total is dimension-sized;
    the statistic accumulates fixed-point."""
    from basic_data_fusion_spark.operators.stats import chi2_independence

    orders = _catalog(spark, sf_dir).load("orders")
    return chi2_independence(orders, "o_orderpriority", "o_orderstatus")


_CHI2_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
),
dec AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY a) AS r,
         SUM(o) OVER (PARTITION BY b) AS c,
         SUM(o) OVER () AS n
  FROM cells
),
dims AS (
  SELECT COUNT(DISTINCT a) AS nr, COUNT(DISTINCT b) AS nc FROM cells
),
stat AS (
  SELECT SUM(CAST(ROUND(((CAST(o AS DOUBLE)
                          - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(o AS DOUBLE)
                            - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                         / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT)) / 1000000.0 AS chi2,
         MAX(n) AS n
  FROM dec
)
SELECT s.chi2,
       CAST((d.nr - 1) * (d.nc - 1) AS BIGINT) AS dof,
       CAST(s.n AS BIGINT) AS n,
       CASE WHEN LEAST(d.nr - 1, d.nc - 1) > 0 THEN
         SQRT(s.chi2 / CAST(s.n * LEAST(d.nr - 1, d.nc - 1) AS DOUBLE))
       END AS cramers_v
FROM stat s CROSS JOIN dims d
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization ANN (similarity.sq8_topk): per-dim
    min/max training in one aggregation, 1-byte-per-dim codes, and
    asymmetric full-precision-query × decoded-code squared-L2 ranking —
    the 4× memory tier below PQ's 16×. All arithmetic is exact IEEE +
    fixed-point sums, so every code and distance hash-matches the
    DuckDB replay."""
    from basic_data_fusion_spark.operators.similarity import sq8_topk

    emb = _catalog(spark, sf_dir).load("embeddings")
    queries_df = (emb.filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return sq8_topk(emb, queries_df, k=5, dim=64)


_SQ8_TOPK_ORACLE = """
WITH dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
bounds AS (
  SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings CROSS JOIN dims GROUP BY i
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
),
codes AS (
  SELECT e.vec_id, b.i, b.mn, b.mx,
         CASE WHEN b.mx - b.mn = 0 THEN 0
              ELSE CAST(GREATEST(CAST(0.0 AS DOUBLE),
                        LEAST(CAST(255.0 AS DOUBLE),
                              ROUND((CAST(e.embedding[b.i] AS DOUBLE) - b.mn)
                                    * CAST(255.0 AS DOUBLE) / (b.mx - b.mn), 0)))
                   AS INT)
         END AS code
  FROM embeddings e CROSS JOIN bounds b
),
parts AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         SUM(CAST(ROUND((CAST(q.qv[c.i] AS DOUBLE)
                         - (CAST(c.code AS DOUBLE) * (c.mx - c.mn)
                            / CAST(255.0 AS DOUBLE) + c.mn))
                        * (CAST(q.qv[c.i] AS DOUBLE)
                           - (CAST(c.code AS DOUBLE) * (c.mx - c.mn)
                              / CAST(255.0 AS DOUBLE) + c.mn))
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS d2
  FROM q CROSS JOIN codes c
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM parts
)
SELECT query_id, neighbor_id, d2 AS adc_l2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_rolling_zscore_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over each user's purchase
    series (linkage.rolling_zscore): trailing-7 window excluding the
    current row, integer-sum mean/variance, NULL z below 3 priors or
    at zero variance."""
    from basic_data_fusion_spark.operators.linkage import rolling_zscore

    ev = (_catalog(spark, sf_dir).load("events")
          .where(F.col("event_type") == "purchase"))
    out = rolling_zscore(ev, "user_id", "ts", "event_id", "value",
                         lookback=7, min_prior=3, z_threshold=3.0,
                         decimals=4)
    return out.select("user_id", F.unix_micros("ts").alias("ts_us"),
                      "event_id", "value", "n_prior", "z", "is_anomaly")


_ROLLING_ZSCORE_ORACLE = """
WITH base AS (
  SELECT user_id, ts, event_id, value,
         CAST(ROUND(value * 10000.0, 0) AS BIGINT) AS vi
  FROM events WHERE event_type = 'purchase'
),
win AS (
  SELECT user_id, ts, event_id, value, vi,
         SUM(vi) OVER w AS s1, SUM(vi * vi) OVER w AS s2,
         COUNT(vi) OVER w AS n_prior
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT user_id, ts, event_id, value, n_prior,
         CASE WHEN n_prior >= 3
                   AND ((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n_prior AS DOUBLE))
                        / (CAST(n_prior AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                       > CAST(0.0 AS DOUBLE)
              THEN (CAST(vi AS DOUBLE)
                    - CAST(s1 AS DOUBLE) / CAST(n_prior AS DOUBLE))
                   / SQRT((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n_prior AS DOUBLE))
                          / (CAST(n_prior AS DOUBLE) - CAST(1.0 AS DOUBLE)))
         END AS z
  FROM win
)
SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
       CAST(n_prior AS BIGINT) AS n_prior, z,
       COALESCE(ABS(z) > CAST(3.0 AS DOUBLE), FALSE) AS is_anomaly
FROM scored
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed curriculum serve order over documents, difficulty
    proxied by length (selection.curriculum_order): NTILE stages
    easy→hard, deterministic md5 shuffle within each stage, one global
    serve position."""
    from basic_data_fusion_spark.operators.selection import curriculum_order

    docs = _catalog(spark, sf_dir).load("documents")
    return curriculum_order(docs, "n_chars", n_stages=4)


_CURRICULUM_ORACLE = """
WITH staged AS (
  SELECT doc_id, n_chars,
         CAST(NTILE(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS INT)
           AS stage,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, n_chars, stage,
       CAST(ROW_NUMBER() OVER (ORDER BY stage, h, doc_id) AS BIGINT)
         AS serve_pos
FROM staged
"""


def q_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report per (source, lang): docs, tokens,
    chars, and token share (selection.corpus_composition) — the data
    card's first table and the mixture ops' ground truth."""
    from basic_data_fusion_spark.operators.selection import corpus_composition

    docs = _catalog(spark, sf_dir).load("documents")
    return corpus_composition(docs)


_CORPUS_COMPOSITION_ORACLE = r"""
WITH cells AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         SUM(len(list_filter(
               regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
               x -> x <> ''))) AS n_tokens,
         SUM(length(COALESCE(text, ''))) AS n_chars
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
         AS pct_tokens
FROM cells
"""


def q_benford_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over lineitem extended prices
    (quality.benford_audit): exact integer-cents digit extraction, one
    aggregation pass, 9-row result."""
    from basic_data_fusion_spark.operators.quality import benford_audit

    li = _catalog(spark, sf_dir).load("lineitem")
    return benford_audit(li, "l_extendedprice", decimals=2)


_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(ABS(l_extendedprice) * 100.0, 0)
                               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND CAST(ROUND(ABS(l_extendedprice) * 100.0, 0) AS BIGINT) > 0
),
counts AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM counts)
SELECT digit, n,
       CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS obs_freq,
       ROUND(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit)
             * 1000000000000.0, 0) / 1000000000000.0 AS exp_freq,
       ABS(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
           - ROUND(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit)
                   * 1000000000000.0, 0) / 1000000000000.0) AS abs_dev
FROM counts CROSS JOIN tot
"""


def q_hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL distinct tier as a BAND REPORT (r6 conversion
    from rows-only to hash-checked, aggregations.hll_band_report): per
    orders column, the exact distinct count plus ``within_band`` — is
    the hll_sketch_agg estimate within 5% of exact (lg_k=12 ⇒ ~0.8%
    expected error, so the flag has 6σ headroom)?  The raw estimate is
    engine-specific and stays internal; the exact side + the verdict
    boolean value-hash against DuckDB.  The mergeable rollup surface
    (hll_partitioned_sketches / hll_merge_estimate) and the
    union-equals-whole contract remain pytest-verified."""
    from basic_data_fusion_spark.operators.aggregations import (
        hll_band_report,
    )

    orders = _catalog(spark, sf_dir).load("orders")
    return hll_band_report(orders, ["o_custkey", "o_orderstatus",
                                    "o_orderpriority"])


_HLL_BAND_ORACLE = """
SELECT 'o_custkey' AS column_name,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS within_band
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT), TRUE
FROM orders
"""


def q_approx_top_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k heavy-hitter sketch over lineitem return flags
    (aggregations.approx_heavy_hitters): on a key space that fits the
    sketch the counts are exact, so the oracle is the exact GROUP BY."""
    from basic_data_fusion_spark.operators.aggregations import (
        approx_heavy_hitters,
    )

    li = _catalog(spark, sf_dir).load("lineitem")
    return approx_heavy_hitters(li, "l_returnflag", k=3)


_APPROX_TOP_FLAGS_ORACLE = """
SELECT l_returnflag AS item, CAST(COUNT(*) AS BIGINT) AS approx_count
FROM lineitem GROUP BY 1
"""


def q_js_divergence_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution Jensen–Shannon divergence between English
    documents and the rest of the corpus (text.js_divergence) — the
    scalar drift metric beside the per-term keyness ranking."""
    from basic_data_fusion_spark.operators.text import js_divergence

    docs = _catalog(spark, sf_dir).load("documents")
    return js_divergence(docs, F.col("lang") == "en")


_JS_DIVERGENCE_ORACLE = r"""
WITH inst AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS flg,
         unnest(list_filter(
           regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
           x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT term, SUM(flg) AS a, SUM(1 - flg) AS b FROM inst GROUP BY 1
),
tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM counts),
terms AS (
  SELECT
    (CASE WHEN a > 0 THEN CAST(ROUND(
        (CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
        * ln((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE))
             / ((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
                 + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                / CAST(2.0 AS DOUBLE)))
        * 1000000000000.0, 0) AS BIGINT) ELSE 0 END
     +
     CASE WHEN b > 0 THEN CAST(ROUND(
        (CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
        * ln((CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
             / ((CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
                 + CAST(b AS DOUBLE) / CAST(tb AS DOUBLE))
                / CAST(2.0 AS DOUBLE)))
        * 1000000000000.0, 0) AS BIGINT) ELSE 0 END) AS t,
    ta, tb
  FROM counts CROSS JOIN tot
)
SELECT CAST(SUM(t) AS DOUBLE) / 1000000000000.0 / CAST(2.0 AS DOUBLE)
         AS js_nats,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(MAX(ta) AS BIGINT) AS n_tokens_in,
       CAST(MAX(tb) AS BIGINT) AS n_tokens_out
FROM terms
"""


def q_grouped_ols_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of event value on hour-of-day
    (stats.grouped_ols): one aggregation of exact fixed-point
    sufficient statistics, NULL fits for degenerate groups."""
    from basic_data_fusion_spark.operators.stats import grouped_ols

    ev = (_catalog(spark, sf_dir).load("events")
          .select("event_type", F.hour("ts").cast("double").alias("hod"),
                  "value"))
    return grouped_ols(ev, "event_type", "hod", "value", decimals=3)


_GROUPED_OLS_ORACLE = """
WITH pair AS (
  SELECT event_type,
         CAST(ROUND(CAST(hour(ts) AS DOUBLE) * 1000.0, 0) AS BIGINT) AS xi,
         CAST(ROUND(value * 1000.0, 0) AS BIGINT) AS yi
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
a AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(xi) AS sx, SUM(yi) AS sy, SUM(xi * yi) AS sxy,
         SUM(xi * xi) AS sxx, SUM(yi * yi) AS syy
  FROM pair GROUP BY 1
),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxy AS DOUBLE) AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
  FROM a
),
v AS (
  SELECT event_type, n, nd, sxd, syd,
         sxxd - sxd * sxd / nd AS vx,
         syyd - syd * syd / nd AS vy,
         sxyd - sxd * syd / nd AS cxy
  FROM d
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN n >= 2 AND vx > CAST(0.0 AS DOUBLE)
            THEN cxy / vx END AS slope,
       CASE WHEN n >= 2 AND vx > CAST(0.0 AS DOUBLE)
            THEN (syd / nd - (cxy / vx) * (sxd / nd)) / 1000.0
       END AS intercept,
       CASE WHEN n >= 2 AND vx > CAST(0.0 AS DOUBLE)
            THEN CASE WHEN vy > CAST(0.0 AS DOUBLE)
                      THEN (cxy * cxy) / (vx * vy) END
       END AS r2
FROM v
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source phrase-leak matrix (dedup.source_overlap,
    5-token shingle granularity): which sources share content, by
    distinct-shingle Jaccard; only hashes shuffle."""
    from basic_data_fusion_spark.operators.dedup import source_overlap

    docs = _catalog(spark, sf_dir).load("documents")
    return source_overlap(docs, granularity="shingle", n=5, min_shared=2)


_SOURCE_OVERLAP_ORACLE = r"""
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                           '\s+'), x -> x <> '') AS tk
  FROM documents
),
keyed AS (
  SELECT DISTINCT source AS src,
         md5(array_to_string(list_slice(tk, i, i + 4), ' ')) AS h
  FROM (SELECT source, tk, unnest(range(1, len(tk) - 5 + 2)) AS i
        FROM t WHERE len(tk) >= 5)
),
totals AS (SELECT src, COUNT(*) AS n FROM keyed GROUP BY 1),
shared AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM keyed a JOIN keyed b ON a.h = b.h AND a.src < b.src
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT s.source_a, s.source_b, s.n_shared,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       CAST(s.n_shared AS DOUBLE)
         / CAST(ta.n + tb.n - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN totals ta ON s.source_a = ta.src
JOIN totals tb ON s.source_b = tb.src
"""


def q_toml_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative pipeline execution (plans/pipeline.py): the default
    5-stage TOML spec compiles to the same lazy chain as the
    hand-written flagship curation query and is checked against the
    SAME oracle — spec-driven and code-driven execution are
    value-identical."""
    from basic_data_fusion_spark.plans.pipeline import (
        DEFAULT_CURATION_TOML,
        CurationSpec,
        build_curation_pipeline,
    )

    docs = (_catalog(spark, sf_dir).load("documents")
            .repartition(spark.sparkContext.defaultParallelism))
    spec = CurationSpec.from_toml(DEFAULT_CURATION_TOML)
    return build_curation_pipeline(docs, spec)


def q_distinctive_terms_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G² keyness: terms distinguishing English documents from
    the rest of the corpus (text.distinctive_terms) — 8-dp-quantized
    ln terms, broadcast totals, partial top-k."""
    from basic_data_fusion_spark.operators.text import distinctive_terms

    docs = _catalog(spark, sf_dir).load("documents")
    return distinctive_terms(docs, F.col("lang") == "en",
                             min_count=5, k=50)


_DISTINCTIVE_TERMS_ORACLE = r"""
WITH inst AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS flg,
         unnest(list_filter(
           regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
           x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT term, SUM(flg) AS a, SUM(1 - flg) AS b FROM inst GROUP BY 1
),
tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM counts),
scored AS (
  SELECT term, a, b,
         2.0 * CAST(
           (CASE WHEN a > 0 THEN CAST(ROUND(CAST(a AS DOUBLE)
                 * ln(CAST(a AS DOUBLE)
                      / (CAST(ta AS DOUBLE) * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                         / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))))
                 * 100000000.0, 0) AS BIGINT) ELSE 0 END
            +
            CASE WHEN b > 0 THEN CAST(ROUND(CAST(b AS DOUBLE)
                 * ln(CAST(b AS DOUBLE)
                      / (CAST(tb AS DOUBLE) * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                         / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))))
                 * 100000000.0, 0) AS BIGINT) ELSE 0 END) AS DOUBLE)
           / 100000000.0 AS g2,
         CAST(a AS DOUBLE) / CAST(ta AS DOUBLE)
           > CAST(b AS DOUBLE) / CAST(tb AS DOUBLE) AS enriched
  FROM counts CROSS JOIN tot
  WHERE a + b >= 5
)
SELECT term, CAST(a AS BIGINT) AS n_in, CAST(b AS BIGINT) AS n_out, g2,
       CASE WHEN enriched THEN g2 ELSE -g2 END AS keyness
FROM scored
ORDER BY g2 DESC, term
LIMIT 50
"""


def q_winsorized_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorized mean/std of account balances
    (stats.winsorized_stats): exact 5/95 percentile clamps joined back
    broadcast, integer-cents moments."""
    from basic_data_fusion_spark.operators.stats import winsorized_stats

    cust = _catalog(spark, sf_dir).load("customer")
    return winsorized_stats(cust, "c_mktsegment", "c_acctbal",
                            lower=0.05, upper=0.95, decimals=2)


_WINSORIZED_ORACLE = """
WITH g AS (
  SELECT c_mktsegment AS grp,
         ROUND(quantile_cont(c_acctbal, 0.05), 4) AS lo,
         ROUND(quantile_cont(c_acctbal, 0.95), 4) AS hi
  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1
),
c AS (
  SELECT g.grp, g.lo, g.hi,
         CAST(ROUND(GREATEST(g.lo, LEAST(g.hi, c_acctbal)) * 100.0, 0)
              AS BIGINT) AS vi
  FROM customer JOIN g ON c_mktsegment = g.grp
  WHERE c_acctbal IS NOT NULL
),
a AS (
  SELECT grp, COUNT(*) AS n, MAX(lo) AS q_lo, MAX(hi) AS q_hi,
         SUM(vi) AS s1, SUM(vi * vi) AS s2
  FROM c GROUP BY 1
)
SELECT grp AS c_mktsegment, CAST(n AS BIGINT) AS n, q_lo, q_hi,
       (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS w_mean,
       CASE WHEN n >= 2
                 AND ((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                     > CAST(0.0 AS DOUBLE)
            THEN SQRT((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))) / 100.0
       END AS w_std
FROM a
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints over documents
    (text.winnow_fingerprints): md5-based shingle hashes, w-window
    minima with rightmost tie-break — every ≥(w+k−1)-token match
    shares a fingerprint."""
    from basic_data_fusion_spark.operators.text import winnow_fingerprints

    docs = _catalog(spark, sf_dir).load("documents")
    return winnow_fingerprints(docs, k=3, w=4)


def _winnow_oracle(k: int = 3, w: int = 4) -> str:
    hv = ("(strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1)"
          " * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                           '\\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, t, len(t) - {k} + 1 AS m FROM toks WHERE len(t) >= {k}
),
hx AS (
  SELECT doc_id, m, i,
         md5(array_to_string(list_slice(t, i, i + {k - 1}), ' ')) AS hx
  FROM (SELECT doc_id, m, t, unnest(range(1, m + 1)) AS i FROM sh)
),
h AS (SELECT doc_id, m, i, {hex8} AS hv FROM hx),
wmn AS (
  SELECT h1.doc_id, h1.i AS j, MIN(h2.hv) AS fp
  FROM h h1 JOIN h h2 ON h1.doc_id = h2.doc_id
                     AND h2.i BETWEEN h1.i AND h1.i + {w - 1}
  WHERE h1.i <= GREATEST(h1.m - {w} + 1, 1)
  GROUP BY 1, 2
),
sel AS (
  SELECT w.doc_id, w.j, w.fp, MAX(h2.i) AS pos
  FROM wmn w JOIN h h2 ON w.doc_id = h2.doc_id
                      AND h2.i BETWEEN w.j AND w.j + {w - 1}
                      AND h2.hv = w.fp
  GROUP BY 1, 2, 3
)
SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, fp FROM sel
"""


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: near-dup candidates sharing ≥2 distinct
    winnowing fingerprint values (text.winnow_overlap_pairs); the
    shuffle carries only the winnowed fingerprint set."""
    from basic_data_fusion_spark.operators.text import winnow_overlap_pairs

    docs = _catalog(spark, sf_dir).load("documents")
    return winnow_overlap_pairs(docs, k=3, w=4, min_shared=2)


def _winnow_pairs_oracle(k: int = 3, w: int = 4, min_shared: int = 2,
                         max_df: int = 1000) -> str:
    return f"""
WITH sel AS ({_winnow_oracle(k, w)}),
fps0 AS (SELECT DISTINCT doc_id, fp FROM sel),
rare AS (
  SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) <= {max_df}
),
fps AS (SELECT * FROM fps0 WHERE fp IN (SELECT fp FROM rare))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""


def q_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cohesion report (similarity.label_cohesion):
    fixed-point per-dimension centroid sums, broadcast centroid
    join-back, fixed-point mean member-to-centroid cosine."""
    from basic_data_fusion_spark.operators.similarity import label_cohesion

    emb = _catalog(spark, sf_dir).load("embeddings")
    return label_cohesion(emb, "label", "embedding", dim=64)


_LABEL_COHESION_ORACLE = """
WITH dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
sums AS (
  SELECT label, i,
         SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM embeddings CROSS JOIN dims GROUP BY 1, 2
),
cent AS (
  SELECT label, i,
         (CAST(s AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS c
  FROM sums
),
cn AS (SELECT label, MAX(n) AS n FROM sums GROUP BY 1),
cnorm AS (
  SELECT label,
         SQRT(SUM(CAST(ROUND(c * c * CAST(1000000000000.0 AS DOUBLE), 0)
                       AS BIGINT)) / CAST(1000000000000.0 AS DOUBLE))
           AS centroid_norm
  FROM cent GROUP BY 1
),
parts AS (
  SELECT e.vec_id, e.label,
         SUM(CAST(ROUND(CAST(e.embedding[ct.i] AS DOUBLE) * ct.c
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS ab,
         SUM(CAST(ROUND(CAST(e.embedding[ct.i] AS DOUBLE)
                        * CAST(e.embedding[ct.i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(ct.c * ct.c
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM embeddings e JOIN cent ct ON e.label = ct.label
  GROUP BY e.vec_id, e.label
)
SELECT p.label, CAST(cn.n AS BIGINT) AS n, cnorm.centroid_norm,
       (CAST(SUM(CAST(ROUND(p.ab / (SQRT(p.aa) * SQRT(p.bb))
                            * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
        / CAST(1000000000.0 AS DOUBLE)) / CAST(cn.n AS DOUBLE)
         AS mean_cosine
FROM parts p JOIN cn ON p.label = cn.label
JOIN cnorm ON p.label = cnorm.label
GROUP BY p.label, cn.n, cnorm.centroid_norm
"""


def _planted_c4_texts(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line punctuation fixture derived from doc_id
    (the synthetic corpus has no punctuation or newlines, so the C4
    line rules would be constant on it — same precedent as
    _planted_urls): variant v = doc_id % 5 plants one clean page and
    one violation of each C4 page rule."""
    v = F.col("doc_id") % 5
    text = (
        F.when(v == 0, F.lit("One good sentence. Another fine one! "
                             "A third question?\n"
                             "The last line ends well."))
        .when(v == 1, F.lit("a line with no punctuation\n"
                            "another plain line"))
        .when(v == 2, F.lit("Lorem ipsum dolor sit amet. Second sentence! "
                            "Third one?\nClean tail line."))
        .when(v == 3, F.lit("Call f(x) now. It returns {a: 1}! Why not?\n"
                            "Short tail."))
        .otherwise(F.lit("Please enable javascript to proceed. Fine! Ok?\n"
                         "Done now.")))
    return docs.select("doc_id", text.alias("text"))


def q_attribute_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data attribution (dedup.attribute_spans): per held-out
    query (doc_id % 7 == 0), the top-3 train docs sharing the most
    13-token windows, with coverage fractions."""
    from basic_data_fusion_spark.operators.dedup import attribute_spans

    docs = _catalog(spark, sf_dir).load("documents")
    held = (docs.filter(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").alias("query_id"), "text"))
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return attribute_spans(train, held, window=13, k=3,
                           query_id_col="query_id")


_ATTRIBUTE_SPANS_ORACLE = r"""
WITH alldocs AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
cw AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' '))))
           AS h
  FROM alldocs WHERE doc_id % 7 <> 0 AND len(toks) >= 13
),
df_ok AS (SELECT h FROM cw GROUP BY h HAVING COUNT(*) <= 1000),
cwc AS (SELECT cw.doc_id, cw.h FROM cw JOIN df_ok USING (h)),
qw AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest(list_transform(
             generate_series(1, len(toks) - 12),
             i -> md5(array_to_string(list_slice(toks, i, i + 12), ' '))))
           AS h
  FROM alldocs WHERE doc_id % 7 = 0 AND len(toks) >= 13
),
qt AS (SELECT query_id, COUNT(*) AS nq FROM qw GROUP BY 1),
m AS (
  SELECT qw.query_id, cwc.doc_id, COUNT(*) AS n_shared
  FROM qw JOIN cwc USING (h) GROUP BY 1, 2
),
r AS (
  SELECT m.query_id, m.doc_id, m.n_shared, qt.nq,
         ROW_NUMBER() OVER (PARTITION BY m.query_id
                            ORDER BY m.n_shared DESC, m.doc_id ASC) AS rnk
  FROM m JOIN qt USING (query_id)
)
SELECT query_id, doc_id AS source_doc_id,
       CAST(n_shared AS BIGINT) AS n_shared_windows,
       CAST(nq AS BIGINT) AS n_query_windows,
       CAST(n_shared AS DOUBLE) / nq AS query_coverage,
       CAST(rnk AS INT) AS rank
FROM r WHERE rnk <= 3
"""


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleanup flags (Raffel et al. 2020 §2.2) over the planted
    punctuation fixture: sentence floor, terminal-punctuation lines,
    lorem-ipsum / curly-brace / javascript page rules, short-line
    fraction."""
    from basic_data_fusion_spark.operators.text import c4_rules

    docs = _catalog(spark, sf_dir).load("documents")
    return c4_rules(_planted_c4_texts(docs))


_C4_RULES_ORACLE = r"""
WITH d AS (
  SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'One good sentence. Another fine one! A third question?'
                || chr(10) || 'The last line ends well.'
    WHEN 1 THEN 'a line with no punctuation' || chr(10)
                || 'another plain line'
    WHEN 2 THEN 'Lorem ipsum dolor sit amet. Second sentence! Third one?'
                || chr(10) || 'Clean tail line.'
    WHEN 3 THEN 'Call f(x) now. It returns {a: 1}! Why not?'
                || chr(10) || 'Short tail.'
    ELSE 'Please enable javascript to proceed. Fine! Ok?'
         || chr(10) || 'Done now.'
  END AS text
  FROM documents
),
f AS (
  SELECT doc_id, text, lower(text) AS lc,
    list_filter(str_split(text, chr(10)), l -> trim(l) <> '') AS lines,
    length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
      AS n_sentences
  FROM d
),
g AS (
  SELECT doc_id, n_sentences,
    len(lines) AS n_lines,
    len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')))
      AS n_terminal,
    len(list_filter(lines,
        l -> len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                             t -> t <> '')) < 5)) AS n_short,
    len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS n_js,
    contains(lc, 'lorem ipsum') AS has_lorem,
    contains(text, '{') AS has_brace
  FROM f
),
h AS (
  SELECT doc_id, n_lines, n_sentences, n_short,
    CASE WHEN n_lines > 0 THEN CAST(n_terminal AS DOUBLE) / n_lines
         ELSE 0.0 END AS terminal_line_frac,
    (n_sentences >= 3) AS rule_min_sentences,
    NOT has_lorem AS rule_no_lorem,
    NOT has_brace AS rule_no_brace,
    (n_js = 0) AS rule_no_javascript
  FROM g
)
SELECT doc_id,
  CAST(n_lines AS BIGINT) AS n_lines,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  terminal_line_frac,
  CASE WHEN n_lines > 0 THEN CAST(n_short AS DOUBLE) / n_lines
       ELSE 0.0 END AS short_line_frac,
  rule_min_sentences,
  (terminal_line_frac >= 1.0) AS rule_terminal_lines,
  rule_no_lorem, rule_no_brace, rule_no_javascript,
  TRUE AS rule_no_badwords,
  (rule_min_sentences AND terminal_line_frac >= 1.0 AND rule_no_lorem
   AND rule_no_brace AND rule_no_javascript) AS keep
FROM h
"""


def q_decontam_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-gate width planning (dedup.decontam_window_sweep):
    dirty-doc and dirty-window rates at n-gram windows 7/13/21 against
    the held-out slice (doc_id % 7 == 0), one report."""
    from basic_data_fusion_spark.operators.dedup import decontam_window_sweep

    docs = _catalog(spark, sf_dir).load("documents")
    held = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return decontam_window_sweep(train, held, [7, 13, 21])


_DECONTAM_SWEEP_ORACLE = r"""
WITH alldocs AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
  FROM documents
),
ws AS (SELECT CAST(x AS BIGINT) AS w FROM (VALUES (7), (13), (21)) v(x)),
base AS (SELECT * FROM alldocs WHERE doc_id % 7 <> 0),
heldout AS (SELECT * FROM alldocs WHERE doc_id % 7 = 0),
hw AS (
  SELECT ws.w, b.doc_id,
         unnest(list_transform(
             generate_series(1, len(b.toks) - ws.w + 1),
             i -> md5(array_to_string(list_slice(b.toks, i, i + ws.w - 1),
                                      ' ')))) AS h
  FROM base b CROSS JOIN ws WHERE len(b.toks) >= ws.w
),
ev AS (
  SELECT DISTINCT ws.w,
         unnest(list_transform(
             generate_series(1, len(h.toks) - ws.w + 1),
             i -> md5(array_to_string(list_slice(h.toks, i, i + ws.w - 1),
                                      ' ')))) AS h
  FROM heldout h CROSS JOIN ws WHERE len(h.toks) >= ws.w
),
per_doc AS (
  SELECT hw.w, hw.doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM hw LEFT JOIN ev ON ev.w = hw.w AND ev.h = hw.h
  GROUP BY 1, 2
),
tot AS (SELECT COUNT(*) AS n_docs FROM base),
rep AS (
  SELECT w,
         SUM(CASE WHEN n_windows > 0 THEN 1 ELSE 0 END) AS n_docs_evaluable,
         SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS n_dirty_docs,
         SUM(n_windows) AS n_windows,
         SUM(n_hits) AS n_contaminated_windows
  FROM per_doc GROUP BY 1
)
SELECT ws.w AS "window",
  CAST(tot.n_docs AS BIGINT) AS n_docs,
  CAST(COALESCE(rep.n_docs_evaluable, 0) AS BIGINT) AS n_docs_evaluable,
  CAST(COALESCE(rep.n_dirty_docs, 0) AS BIGINT) AS n_dirty_docs,
  CASE WHEN tot.n_docs > 0
       THEN CAST(COALESCE(rep.n_dirty_docs, 0) AS DOUBLE) / tot.n_docs
       ELSE 0.0 END AS dirty_doc_frac,
  CAST(COALESCE(rep.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(COALESCE(rep.n_contaminated_windows, 0) AS BIGINT)
    AS n_contaminated_windows,
  CASE WHEN COALESCE(rep.n_windows, 0) > 0
       THEN CAST(COALESCE(rep.n_contaminated_windows, 0) AS DOUBLE)
            / rep.n_windows
       ELSE 0.0 END AS dirty_window_frac
FROM ws LEFT JOIN rep ON rep.w = ws.w CROSS JOIN tot
ORDER BY "window"
"""


def q_corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-generation curation composite spanning the round-6 stages:
    Gopher rule gate (corpus-tuned bounds) → exact dedup (min-id per
    normalized content, AMONG gate survivors — order matters and the
    oracle replays the exact chain) → proportional stride-interleaved
    serve order. The output is the thing a training run actually
    consumes: (doc, source, serve position) for the cleaned, deduped,
    mixture-correct stream."""
    from basic_data_fusion_spark.operators.dedup import exact_dedup
    from basic_data_fusion_spark.operators.selection import interleave_order
    from basic_data_fusion_spark.operators.text import gopher_rules

    docs = (_catalog(spark, sf_dir).load("documents")
            .repartition(spark.sparkContext.defaultParallelism))
    gated_ids = (gopher_rules(docs, min_words=30, min_stop_hits=1)
                 .filter("keep").select("doc_id"))
    gated = docs.join(gated_ids, "doc_id", "left_semi")
    survivors = exact_dedup(gated)
    return interleave_order(survivors, {"src0": 3.0, "src1": 2.0})


_CURATION_V3_ORACLE = ("""
WITH kept_ids AS (
  SELECT doc_id FROM (""" + _GOPHER_RULES_ORACLE + """) WHERE keep
),
kept AS (
  SELECT d.doc_id, d.text, d.source
  FROM documents d JOIN kept_ids USING (doc_id)
),
keepmin AS (
  SELECT MIN(doc_id) AS doc_id
  FROM kept
  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
),
surv AS (SELECT k.doc_id, k.source FROM kept k JOIN keepmin USING (doc_id)),
r AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS BIGINT) AS rank_in_source,
         CASE source WHEN 'src0' THEN CAST(3.0 AS DOUBLE)
                     WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM surv
)
SELECT doc_id, source, rank_in_source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(rank_in_source AS DOUBLE) / w ASC,
                  source ASC, rank_in_source ASC
       ) AS BIGINT) AS serve_pos
FROM r
""")


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-pair collocations by PMI (text.pmi_collocations):
    positional explode → bigram lead counts + unigram counts, support
    floor 5, single rounded ln."""
    from basic_data_fusion_spark.operators.text import pmi_collocations

    docs = _catalog(spark, sf_dir).load("documents")
    return pmi_collocations(docs, min_count=5, k=30)


_PMI_COLLOCATIONS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, unnest(toks) AS w,
         unnest(generate_series(1, len(toks))) AS i
  FROM t
),
uni AS (SELECT w, COUNT(*) AS c_w FROM w GROUP BY 1),
bg AS (
  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM w QUALIFY w2 IS NOT NULL
),
bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2
       HAVING COUNT(*) >= 5),
n AS (SELECT SUM(greatest(len(toks) - 1, 0)) AS nb FROM t)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       CAST(a.c_w AS BIGINT) AS c_a, CAST(b.c_w AS BIGINT) AS c_b,
       ROUND(LN(CAST(c_ab AS DOUBLE) * CAST(n.nb AS DOUBLE)
                / (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))), 6)
         AS pmi
FROM bc JOIN uni a ON a.w = bc.w1 JOIN uni b ON b.w = bc.w2 CROSS JOIN n
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 30
"""


def q_interleave_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture acceptance gate (selection.interleave_mixture_gate):
    per-source target vs achieved share in the first 10% of the
    interleaved serve stream, band 0.05. Integer-valued weights keep
    the double weight-sum exact at any partitioning."""
    from basic_data_fusion_spark.operators.selection import (
        interleave_mixture_gate,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return interleave_mixture_gate(docs, {"src0": 3.0, "src1": 2.0})


def _interleave_gate_oracle() -> str:
    # nests the interleave oracle (defined below) as a subquery; built
    # lazily so module definition order doesn't matter
    return ("""
WITH serve AS (""" + _INTERLEAVE_ORDER_ORACLE + """),
src AS (
  SELECT source, COUNT(*) AS n_source,
         CASE source WHEN 'src0' THEN CAST(3.0 AS DOUBLE)
                     WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM serve GROUP BY 1
),
tot AS (SELECT SUM(w) AS sum_w, SUM(n_source) AS n FROM src),
pre AS (
  SELECT source, COUNT(*) AS n_prefix
  FROM serve CROSS JOIN tot
  WHERE serve_pos <= CAST(CEIL(n * CAST(0.1 AS DOUBLE)) AS BIGINT)
  GROUP BY 1
)
SELECT s.source,
  CAST(s.n_source AS BIGINT) AS n_source,
  CAST(COALESCE(p.n_prefix, 0) AS BIGINT) AS n_prefix,
  CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS prefix_len,
  s.w / t.sum_w AS target_share,
  CAST(COALESCE(p.n_prefix, 0) AS DOUBLE)
    / CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS prefix_share,
  (ABS(CAST(COALESCE(p.n_prefix, 0) AS DOUBLE)
       / CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT)
       - s.w / t.sum_w) <= CAST(0.05 AS DOUBLE)) AS within_band
FROM src s LEFT JOIN pre p USING (source) CROSS JOIN tot t
ORDER BY source
""")



def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning sweep (packing.packing_efficiency_sweep):
    naive vs perfect-concat packing padding at ctx 64/128/256/512 —
    one tokenize pass, literal-array explode, one aggregation per
    ctx."""
    from basic_data_fusion_spark.operators.packing import (
        packing_efficiency_sweep,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return packing_efficiency_sweep(docs, [64, 128, 256, 512])


_PACKING_EFFICIENCY_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         t -> t <> '')) AS n
  FROM documents
),
c AS (SELECT CAST(x AS BIGINT) AS ctx
      FROM (VALUES (64), (128), (256), (512)) v(x)),
e AS (SELECT c.ctx, d.n FROM c CROSS JOIN d WHERE d.n > 0),
a AS (
  SELECT ctx, COUNT(*) AS n_docs, SUM(n) AS total_tokens,
         SUM(CAST(CEIL(CAST(n AS DOUBLE) / ctx) AS BIGINT)) AS n_seq_naive
  FROM e GROUP BY 1
)
SELECT ctx,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(total_tokens AS BIGINT) AS total_tokens,
  CAST(n_seq_naive AS BIGINT) AS n_seq_naive,
  CAST(n_seq_naive * ctx - total_tokens AS DOUBLE)
    / CAST(n_seq_naive * ctx AS DOUBLE) AS pad_frac_naive,
  CAST(CEIL(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT) AS n_seq_packed_lb,
  CAST(CAST(CEIL(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT) * ctx
       - total_tokens AS DOUBLE)
    / CAST(CAST(CEIL(CAST(total_tokens AS DOUBLE) / ctx) AS BIGINT) * ctx
           AS DOUBLE) AS pad_frac_packed_lb
FROM a ORDER BY ctx
"""


def q_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional interleave serve order
    (selection.interleave_order): weight-3 src0 / weight-2 src1 /
    weight-1 rest, stride scheduling on md5-shuffled per-source
    ranks."""
    from basic_data_fusion_spark.operators.selection import interleave_order

    docs = _catalog(spark, sf_dir).load("documents")
    return interleave_order(docs, {"src0": 3.0, "src1": 2.0})


_INTERLEAVE_ORDER_ORACLE = """
WITH r AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS BIGINT) AS rank_in_source,
         CASE source WHEN 'src0' THEN CAST(3.0 AS DOUBLE)
                     WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM documents
)
SELECT doc_id, source, rank_in_source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(rank_in_source AS DOUBLE) / w ASC,
                  source ASC, rank_in_source ASC
       ) AS BIGINT) AS serve_pos
FROM r
"""


def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-batching report (NEW r8,
    packing.length_bucketed_batches): docs sort by (token count, id),
    fill 16-doc batches, one row per batch with the dense-tensor
    padding cost — the no-concat middle ground between naive batching
    and pack_sequences.  Global rank from ordering.total_order_pos
    (no data-sized relation through one task); oracle is the
    ROW_NUMBER formulation."""
    from basic_data_fusion_spark.operators.packing import (
        length_bucketed_batches,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return length_bucketed_batches(docs, batch_size=16)


_LENGTH_BUCKETED_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
r AS (
  SELECT n_tokens,
         (ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1) // 16
           AS batch_id
  FROM t
)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS batch_max,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding
FROM r GROUP BY batch_id
"""


def _shard_sql(n_shards: int) -> str:
    """selection.serve_shard replayed in DuckDB: first 32 md5 bits of
    the id (no seed prefix) mod ``n_shards``."""
    hv = ("(strpos('0123456789abcdef', "
          "substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1) * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    return f"CAST(({hex8}) % {n_shards} AS INT)"


def q_interleave_order_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded proportional interleave (NEW r7,
    selection.interleave_order_sharded): the serve order with NO global
    window — md5 shard routing (source-independent), stride scheduling
    within each of 4 shards.  Every window carries a partition key; the
    plan guard asserts no partition-less Window survives."""
    from basic_data_fusion_spark.operators.selection import (
        interleave_order_sharded,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return interleave_order_sharded(docs, {"src0": 3.0, "src1": 2.0},
                                    n_shards=4)


def _interleave_sharded_oracle() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source, {_shard_sql(4)} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CASE source WHEN 'src0' THEN CAST(3.0 AS DOUBLE)
                     WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM documents
),
r AS (
  SELECT doc_id, source, shard, w,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY shard, source ORDER BY h ASC, doc_id ASC
         ) AS BIGINT) AS rank_in_source
  FROM base
)
SELECT doc_id, source, shard, rank_in_source,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY shard
         ORDER BY CAST(rank_in_source AS DOUBLE) / w ASC,
                  source ASC, rank_in_source ASC
       ) AS BIGINT) AS serve_pos
FROM r
"""


def q_interleave_gate_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard mixture acceptance gate (NEW r7,
    selection.interleave_mixture_gate_sharded): one row per
    (shard, source), targets normalized over the sources observed in
    each shard, achieved share in each shard's first 10%."""
    from basic_data_fusion_spark.operators.selection import (
        interleave_mixture_gate_sharded,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return interleave_mixture_gate_sharded(docs, {"src0": 3.0, "src1": 2.0},
                                           n_shards=4)


def _interleave_gate_sharded_oracle() -> str:
    return ("""
WITH serve AS (""" + _interleave_sharded_oracle() + """),
src AS (
  SELECT shard, source, COUNT(*) AS n_source,
         CASE source WHEN 'src0' THEN CAST(3.0 AS DOUBLE)
                     WHEN 'src1' THEN CAST(2.0 AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS w
  FROM serve GROUP BY 1, 2
),
tot AS (SELECT shard, SUM(w) AS sum_w, SUM(n_source) AS n
        FROM src GROUP BY 1),
pre AS (
  SELECT s.shard, s.source, COUNT(*) AS n_prefix
  FROM serve s JOIN tot t ON t.shard = s.shard
  WHERE s.serve_pos <= CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT)
  GROUP BY 1, 2
)
SELECT s.shard, s.source,
  CAST(s.n_source AS BIGINT) AS n_source,
  CAST(COALESCE(p.n_prefix, 0) AS BIGINT) AS n_prefix,
  CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS prefix_len,
  s.w / t.sum_w AS target_share,
  CAST(COALESCE(p.n_prefix, 0) AS DOUBLE)
    / CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT) AS prefix_share,
  ABS(CAST(COALESCE(p.n_prefix, 0) AS DOUBLE)
      / CAST(CEIL(t.n * CAST(0.1 AS DOUBLE)) AS BIGINT)
      - s.w / t.sum_w) <= CAST(0.05 AS DOUBLE) AS within_band
FROM src s
JOIN tot t ON t.shard = s.shard
LEFT JOIN pre p ON p.shard = s.shard AND p.source = s.source
ORDER BY s.shard, s.source
""")


def q_curriculum_order_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded curriculum serve order (NEW r7,
    selection.curriculum_order_sharded): NTILE stages and the
    easy→hard order both within md5 shards — no global sort."""
    from basic_data_fusion_spark.operators.selection import (
        curriculum_order_sharded,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return curriculum_order_sharded(docs, "n_chars", n_shards=4)


def _curriculum_sharded_oracle() -> str:
    return f"""
WITH staged AS (
  SELECT doc_id, n_chars, {_shard_sql(4)} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
st AS (
  SELECT doc_id, n_chars, shard, h,
         CAST(NTILE(4) OVER (
           PARTITION BY shard ORDER BY n_chars ASC, doc_id ASC
         ) AS INT) AS stage
  FROM staged
)
SELECT doc_id, n_chars, shard, stage,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY shard ORDER BY stage, h, doc_id
       ) AS BIGINT) AS serve_pos
FROM st
"""


def q_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded contiguous-fill packing (NEW r7,
    packing.pack_sequences_sharded): the running token offset is
    per-shard, pack ids are 'shard_localpack' — no global window."""
    from basic_data_fusion_spark.operators.packing import (
        pack_sequences_sharded,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    return pack_sequences_sharded(docs, budget=256, n_shards=4)


def _pack_sharded_oracle() -> str:
    return rf"""
WITH t AS (
  SELECT doc_id, {_shard_sql(4)} AS shard,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard,
       CAST(shard AS VARCHAR) || '_' ||
       CAST(CAST((SUM(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_tokens) // 256 AS BIGINT) AS VARCHAR) AS pack_id
FROM t
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label farthest-from-centroid audit
    (similarity.embedding_outliers): fixed-point centroids, broadcast
    join-back, ascending fixed-point cosine rank within label (NULLS
    FIRST, id tie-break), k=5."""
    from basic_data_fusion_spark.operators.similarity import embedding_outliers

    emb = _catalog(spark, sf_dir).load("embeddings")
    return embedding_outliers(emb, "label", "embedding", "vec_id",
                              k=5, dim=64)


_EMBEDDING_OUTLIERS_ORACLE = """
WITH dims AS (SELECT i FROM generate_series(1, 64) AS g(i)),
sums AS (
  SELECT label, i,
         SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM embeddings CROSS JOIN dims GROUP BY 1, 2
),
cent AS (
  SELECT label, i,
         (CAST(s AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS c
  FROM sums
),
parts AS (
  SELECT e.vec_id, e.label,
         SUM(CAST(ROUND(CAST(e.embedding[ct.i] AS DOUBLE) * ct.c
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS ab,
         SUM(CAST(ROUND(CAST(e.embedding[ct.i] AS DOUBLE)
                        * CAST(e.embedding[ct.i] AS DOUBLE)
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS aa,
         SUM(CAST(ROUND(ct.c * ct.c
                        * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT))
           / CAST(1000000000000.0 AS DOUBLE) AS bb
  FROM embeddings e JOIN cent ct ON e.label = ct.label
  GROUP BY e.vec_id, e.label
),
cs AS (
  SELECT label, vec_id,
         CASE WHEN SQRT(aa) * SQRT(bb) <> 0
              THEN ab / (SQRT(aa) * SQRT(bb)) END AS cosine_to_centroid
  FROM parts
),
r AS (
  SELECT label, vec_id, cosine_to_centroid,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY cosine_to_centroid ASC NULLS FIRST, vec_id ASC
         ) AS INTEGER) AS outlier_rank
  FROM cs
)
SELECT label, vec_id, cosine_to_centroid, outlier_rank
FROM r WHERE outlier_rank <= 5
"""


def q_mutual_info_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + marginal entropies + NMI between order
    priority and status (stats.mutual_information): one fact
    aggregation to R×C cells, 12-dp-quantized p·ln terms, exact
    integer accumulation."""
    from basic_data_fusion_spark.operators.stats import mutual_information

    orders = _catalog(spark, sf_dir).load("orders")
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


_MUTUAL_INFO_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2
),
dec AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY a) AS r,
         SUM(o) OVER (PARTITION BY b) AS c,
         SUM(o) OVER () AS n
  FROM cells
),
mi AS (
  SELECT SUM(CAST(ROUND((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
                             / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
                        * 1000000000000.0, 0) AS BIGINT))
           / 1000000000000.0 AS mi,
         MAX(n) AS n
  FROM dec
),
ra AS (
  SELECT a, SUM(o) AS m FROM cells GROUP BY 1
),
ha AS (
  SELECT -(SUM(CAST(ROUND((CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
                          * ln(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
                          * 1000000000000.0, 0) AS BIGINT))
           / 1000000000000.0) AS h_a
  FROM (SELECT m, SUM(m) OVER () AS nn FROM ra)
),
rb AS (
  SELECT b, SUM(o) AS m FROM cells GROUP BY 1
),
hb AS (
  SELECT -(SUM(CAST(ROUND((CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
                          * ln(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
                          * 1000000000000.0, 0) AS BIGINT))
           / 1000000000000.0) AS h_b
  FROM (SELECT m, SUM(m) OVER () AS nn FROM rb)
)
SELECT mi.mi, ha.h_a, hb.h_b,
       CASE WHEN ha.h_a * hb.h_b > CAST(0.0 AS DOUBLE)
            THEN mi.mi / SQRT(ha.h_a * hb.h_b) END AS nmi,
       CAST(mi.n AS BIGINT) AS n
FROM mi CROSS JOIN ha CROSS JOIN hb
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-fraction HAVING threshold (TPC-H Q11 shape, adapted — the
    schema has no partsupp, so lineitem stands in as the part-supplier
    relation): shipped value per part carried by NATION_3's suppliers,
    keeping parts whose value exceeds 0.1% of that nation's total. The
    grand total is a second-stage re-aggregation of the per-part rows —
    no second fact scan — kept in-plan as a broadcast 1-row relation
    (the scalar-subquery idiom, operators/relational.py). Per-part
    values accumulate as exact integer cents so the threshold compare
    is bit-identical on any engine and any partitioning. Completes the
    22/22 TPC-H decision-support shape inventory."""
    cat = _catalog(spark, sf_dir)
    # NATION_3 is the nation that also has suppliers at the tiny
    # sf0.001 evidence tier (sf0.001 carries only 10 suppliers), so the
    # dumped plan exercises the real shape instead of collapsing to an
    # AQE EmptyRelation
    nat = (cat.load("nation").where(F.col("n_name") == "NATION_3")
           .select("n_nationkey"))
    sup = (cat.load("supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey"))
    li = (cat.load("lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_semi"))
    from basic_data_fusion_spark.functions.scalars import half_up_long
    cents = half_up_long(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                         * F.lit(100.0))
    # per_part feeds BOTH the threshold scalar and the final filter;
    # without a persist Catalyst re-evaluates the subtree and the 100 TB
    # fact table would be scanned twice. The cached relation is one row
    # per part — dimension-sized, not fact-sized.
    per_part = (li.groupBy("l_partkey").agg(F.sum(cents).alias("__cents"))
                .persist())
    threshold = per_part.agg(
        (F.sum("__cents").cast("double") * F.lit(0.001)).alias("__thresh"))
    return (per_part.crossJoin(F.broadcast(threshold))
            .where(F.col("__cents").cast("double") > F.col("__thresh"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    (F.col("__cents") / F.lit(100.0)).alias("stock_value")))


_IMPORTANT_STOCK_ORACLE = """
WITH nsup AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                  AS BIGINT)) AS cents
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM nsup)
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(cents) AS DOUBLE) * CAST(0.001 AS DOUBLE) AS thresh
  FROM per_part
)
SELECT l_partkey AS p_partkey, cents / 100.0 AS stock_value
FROM per_part, tot
WHERE CAST(cents AS DOUBLE) > thresh
"""


def q_dsir_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling tier: deterministic top-50 docs by importance
    weight (weight desc, id asc) — the selection step downstream of
    q_dsir_weights, planned as a sort-limit (per-partition top-k + a
    50-row merge, no global sort)."""
    from basic_data_fusion_spark.operators.selection import dsir_select

    docs = _catalog(spark, sf_dir).load("documents")
    return dsir_select(docs, docs.filter(F.col("lang") == "en"),
                       k=50, buckets=2048,
                       target_filter=F.col("lang") == "en")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLM-R temperature sampling over document sources (α=0.3, expected
    half the corpus kept): per-source rates from fixed-point-normalized
    p^α, deterministic md5-uniform keep decisions."""
    from basic_data_fusion_spark.operators.selection import temperature_mix

    docs = _catalog(spark, sf_dir).load("documents")
    return temperature_mix(docs, alpha=0.3, target_frac=0.5)


def _temperature_mix_oracle(alpha: float = 0.3, target_frac: float = 0.5) -> str:
    """DuckDB replay of selection.temperature_mix: same p^α fixed-point
    normalization and the same md5-first-8-hex-chars uniform draw."""
    hv = ("(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
          " * {p}::BIGINT")
    hex8 = "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"
    return f"""
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
tot AS (SELECT COALESCE(SUM(n_s), 0) AS N FROM counts),
pa AS (
  SELECT source, n_s, tot.N,
         CAST(ROUND(POWER(CAST(n_s AS DOUBLE) / CAST(tot.N AS DOUBLE), {alpha})
                    * 1000000000000.0, 0) AS BIGINT) AS pa
  FROM counts CROSS JOIN tot
),
z AS (SELECT COALESCE(SUM(pa), 0) AS Z FROM pa),
rates AS (
  SELECT source,
         LEAST(1.0, ({target_frac} * CAST(pa.N AS DOUBLE)
                     * (CAST(pa.pa AS DOUBLE) / CAST(z.Z AS DOUBLE)))
                    / CAST(pa.n_s AS DOUBLE)) AS keep_rate
  FROM pa CROSS JOIN z
)
SELECT d.doc_id, d.source, r.keep_rate,
       (CAST({hex8} AS DOUBLE) / 4294967296.0) < r.keep_rate AS keep
FROM documents d JOIN rates r USING (source)
"""


def _seeded_hex8_sql(seed: str) -> str:
    """First 32 bits (big-endian) of md5(seed ':' doc_id) as a BIGINT —
    DuckDB replay of selection.hash_uniform's numerator."""
    hv = ("(strpos('0123456789abcdef', "
          "substr(md5('" + seed + ":' || CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
          " * {p}::BIGINT")
    return "(" + " + ".join(
        hv.format(i=i, p=16 ** (8 - i)) for i in range(1, 9)) + ")"


# Fixed-size cap for the acceptance-gate slices (r13 re-pricing, the
# r12 sf-decade finding): a FRACTION slice keeps a quadratic gate
# growing with the corpus (dedup_recall_report DNF'd >420 s at sf10 on
# frac=0.3 alone — 150k docs is still an exhaustive truth set), while
# the max_rows cap holds the gate flat (measured 26.7 → 29.1 s across
# sf3 → sf10, dedup.gate_slice).  5000 docs keeps hundreds of verified
# pairs through every gate at driver scale; at sf0.01/sf0.1 the
# 0.3-slice is already below the cap, so driver hashes are unchanged
# and the cap's top-n only prunes at sf1+.
_GATE_MAX_ROWS = 5000


def _gate_slice_sql(slice_frac: float, max_rows: int | None = None,
                    table: str = "main.documents") -> str:
    """DuckDB replay of ``dedup.gate_slice(frac, max_rows=…)`` as a WHERE
    predicate over ``table``: the md5 hash_uniform draw falls below
    ``frac``, and — when capped — the doc is among the ``max_rows``
    smallest (draw, doc_id) survivors.  hash_uniform is strictly
    monotone in the hex8 BIGINT numerator, so ``ORDER BY hex8, doc_id
    LIMIT n`` reproduces the Spark side's (draw, id) top-n exactly."""
    hex8 = _seeded_hex8_sql("gate_slice")
    pred = (f"((CAST({hex8} AS DOUBLE) + 0.5)"
            f" / 4294967296.0) < CAST({float(slice_frac)!r} AS DOUBLE)")
    if max_rows is None:
        return pred
    return (f"{pred} AND doc_id IN (SELECT doc_id FROM {table} "
            f"WHERE {pred} ORDER BY {hex8} ASC, doc_id ASC "
            f"LIMIT {int(max_rows)})")


def _dsir_gumbel_oracle(k: int = 50, buckets: int = 2048) -> str:
    """DuckDB replay of selection.dsir_gumbel_sample: the dsir_weights
    oracle plus the same 1e-8 fixed-point Gumbel perturbation
    −ln(−ln((h+0.5)/2^32)) and exact-integer key compare."""
    return f"""
WITH w AS ({_dsir_weights_oracle(buckets)}),
g AS (
  SELECT doc_id, log_weight,
         CAST(ROUND(log_weight * 100000000.0, 0) AS BIGINT)
         + CAST(ROUND(-ln(-ln(({_seeded_hex8_sql("gumbel")} + 0.5) / 4294967296.0))
                      * 100000000.0, 0) AS BIGINT) AS kf
  FROM w WHERE log_weight IS NOT NULL
)
SELECT doc_id, log_weight, CAST(kf AS DOUBLE) / 100000000.0 AS gumbel_key
FROM g ORDER BY kf DESC, doc_id ASC LIMIT {k}
"""


def _pareto_quality_oracle(alpha: float = 9.0) -> str:
    """DuckDB replay of selection.pareto_keep over the deterministic
    quality score: same md5-uniform, same 1e-12 fixed-point Lomax draw
    X = (1−u)^(−1/α) − 1, same keep rule score > 1 − X."""
    return f"""
WITH q AS ({_QUALITY_ORACLE}),
p AS (
  SELECT doc_id, quality_score,
         CAST(ROUND((POWER(1.0 - (({_seeded_hex8_sql("pareto")} + 0.5) / 4294967296.0),
                           {-1.0 / alpha!r}) - 1.0)
                    * 1000000000000.0, 0) AS BIGINT) AS xf
  FROM q
)
SELECT doc_id, quality_score,
       CAST(xf AS DOUBLE) / 1000000000000.0 AS pareto_x,
       quality_score > 1.0 - CAST(xf AS DOUBLE) / 1000000000000.0 AS keep
FROM p
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style zlib entropy proxy per document (Arrow mapInPandas —
    DEFLATE has no JVM-expression form, so this is an intentional
    Python-tier op like the multimodal codecs). Rows-only driver tier;
    exact zlib byte counts are pytest-verified."""
    from basic_data_fusion_spark.operators.text import compression_ratio

    docs = _catalog(spark, sf_dir).load("documents")
    return compression_ratio(docs)


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE: one corpus pass builds the word table, merge
    training runs driver-local over it (the production trainer shape —
    zero per-merge cluster jobs), then encode every doc (word-table
    fold + join-back; corpus scanned once). Iterative argmax training
    is not SQL-expressible → rows-only driver tier; merge-exactness is
    pytest-verified against a direct implementation of the Sennrich
    algorithm and differentially against the Spark trainer."""
    from basic_data_fusion_spark.operators.tokenizer import (
        bpe_encode,
        bpe_train_local,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    merges = bpe_train_local(docs, n_merges=6)
    return (bpe_encode(docs, merges)
            .select("doc_id", "n_bpe_tokens"))


def q_unigram_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer (NEW r12, r11 verdict #4 —
    tokenizer.unigram_train/unigram_encode, Kudo 2018 hard-EM flavor):
    train a small piece vocabulary on the corpus (one corpus pass for
    the word table; seeding/EM/prune run over the vocab-sized relation
    — the production trainer shape, same law as the BPE trio), then
    Viterbi-encode every document (word-table Arrow pass + join-back;
    the corpus never runs the DP).  Float-iterative training is not
    SQL-expressible, so the HASH-CHECKED bit is the structural
    invariant that survives any learned vocabulary (the
    quality_classifier AUC-gate pattern): per doc, the whitespace word
    count and ``roundtrip_ok`` — concat of the learned pieces equals
    concat of the words, which any join-back ordering bug, DP bug or
    coverage gap breaks.  The oracle replays the word count and
    asserts the flag; trainer exactness itself is pytest-pinned by the
    exact distributed-vs-local differential (integer counts +
    fixed-point loss quantization make the two orderings equal)."""
    from basic_data_fusion_spark.operators.text import tokens
    from basic_data_fusion_spark.operators.tokenizer import (
        unigram_encode,
        unigram_train_local,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    pieces = unigram_train_local(docs, vocab_size=60, seed_size=200,
                                 max_piece_len=5, n_em_rounds=1)
    enc = unigram_encode(docs, pieces)
    toks = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                    lambda x: x != "")
    base = docs.select("doc_id", F.size(toks).cast("long").alias("n_words"),
                       F.array_join(toks, "").alias("__joined"))
    return (base.join(enc, "doc_id")
            .select("doc_id", "n_words",
                    (F.array_join("unigram_tokens", "") == F.col("__joined"))
                    .alias("roundtrip_ok")))


_UNIGRAM_ROUNDTRIP_ORACLE = r"""
SELECT doc_id,
       CAST(len(list_filter(
         regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+'),
         x -> x != '')) AS BIGINT) AS n_words,
       TRUE AS roundtrip_ok
FROM documents
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (GPT-3-style logistic classifier over
    hashed token features) as a PLANTED-AUC GATE (r6 conversion from
    rows-only to hash-checked): inject a marker token into the text of
    even-id documents IN-QUERY, train the full HashingTF+LR pipeline on
    the planted classes, score the corpus, and compute the Mann-Whitney
    ROC AUC in-engine (selection.binary_auc — exact tie handling,
    integer-derived ranks).  A working trainer separates a perfectly
    planted signal near AUC 1.0, so ``auc_above_threshold`` (≥ 0.95) is
    a robust hash-checkable bit at any scale factor — unlike the raw
    L-BFGS coefficients (float-iterative, engine-specific) or the
    natural en-vs-rest AUC (corpus-dependent, measured as low as 0.55
    on the synthetic sf0.1 corpus).  The oracle replays the exact class
    counts and asserts the flag."""
    from basic_data_fusion_spark.operators.selection import (
        binary_auc,
        quality_classifier_scores,
        train_quality_classifier,
    )

    docs = _catalog(spark, sf_dir).load("documents")
    is_pos = F.col("doc_id") % 2 == 0
    planted = docs.select(
        "doc_id",
        F.when(is_pos,
               F.concat(F.coalesce(F.col("text"), F.lit("")),
                        F.lit(" qmarker qmarker qmarker")))
        .otherwise(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
        is_pos.alias("__pos"))
    # max_iter=8 (operator default 30): every L-BFGS iteration is a
    # full treeAggregate job, and the planted marker separates the
    # classes perfectly after the first few — AUC measured exactly
    # 1.000000 at sf0.001/0.01/0.1 down to max_iter=3, so 8 keeps a
    # wide margin over the 0.95 gate while dropping ~22 driver-
    # coordinated jobs from the contract (r13 opt, guide §1.2)
    model = train_quality_classifier(
        planted.filter("__pos"), planted.filter(~F.col("__pos")),
        buckets=1 << 12, max_iter=8)
    scored = (quality_classifier_scores(planted, model)
              .join(planted.select("doc_id", "__pos"), "doc_id"))
    return (binary_auc(scored, F.col("__pos"))
            .select("n_pos", "n_neg",
                    (F.col("auc") >= 0.95).alias("auc_above_threshold")))


_QUALITY_CLASSIFIER_ORACLE = """
SELECT CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
       TRUE AS auc_above_threshold
FROM documents
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table filtered aggregate (TPC-H Q6 shape): potential revenue
    increase from dropping small-lot discounts in 1997. No joins — the
    whole query is a pushed-down scan + one agg; the plan's cost is the
    parquet read, which is the shape a 100 TB cluster wants."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    li = (_catalog(spark, sf_dir).load("lineitem")
          .where((F.col("l_shipdate") >= "1997-01-01")
                 & (F.col("l_shipdate") < "1998-01-01")
                 & F.col("l_discount").between(0.03, 0.07)
                 & (F.col("l_quantity") < 10)))
    return li.agg(
        fixed_point_sum(F.col("l_extendedprice") * F.col("l_discount"),
                        scale=100).alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_items"))


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): NATION_3's share of ASIA's
    ECONOMY-part import revenue by order year. Seven relations; every
    dimension (part-filtered, supplier, customer, nation×2, region)
    broadcasts, so lineitem — the only fact — never shuffles for the
    joins; the single exchange is the per-year aggregate. Numerator and
    denominator are one pass (CASE-gated fixed-point sums)."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    li = cat.load("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    pt = cat.load("part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    sup = cat.load("supplier").select("s_suppkey", "s_nationkey")
    ords = cat.load("orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = cat.load("customer").select("c_custkey", "c_nationkey")
    n_supp = cat.load("nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n_cust = cat.load("nation").select(
        F.col("n_nationkey").alias("cn_key"), "n_regionkey")
    reg = cat.load("region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    j = (li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
         .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
         .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
         .join(ords, li["l_orderkey"] == ords["o_orderkey"])
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
         .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    gated = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (j.groupBy(F.year("o_orderdate").alias("o_year"))
            .agg((fixed_point_sum(gated, scale=100)
                  / fixed_point_sum(rev, scale=100)).alias("mkt_share"),
                 F.count(F.lit(1)).alias("n_items")))


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue loss (TPC-H Q10 shape): top-20 customers by
    returned ('R') revenue on 1996 orders. Grouped fixed-point revenue,
    deterministic (revenue desc, custkey asc) top-k — Spark plans the
    sort-limit as per-partition top-k + a 20-row merge, never a global
    sort."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum

    cat = _catalog(spark, sf_dir)
    li = (cat.load("lineitem").where(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    ords = (cat.load("orders")
            .where((F.col("o_orderdate") >= "1996-01-01")
                   & (F.col("o_orderdate") < "1997-01-01"))
            .select("o_orderkey", "o_custkey"))
    cust = cat.load("customer").select("c_custkey", "c_name", "c_nationkey")
    nat = cat.load("nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("c_custkey", "c_name", "n_name")
            .agg(fixed_point_sum(rev, scale=100).alias("lost_revenue"),
                 F.count(F.lit(1)).alias("n_returned_items"))
            .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
            .limit(20))


_FORECAST_REVENUE_ORACLE = """
SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 100.0, 0) AS BIGINT)) / 100.0
         AS forecast_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 10
"""

_MARKET_SHARE_ORACLE = """
SELECT year(o_orderdate) AS o_year,
       (SUM(CAST(ROUND(CASE WHEN n1.n_name = 'NATION_3'
                            THEN l_extendedprice * (1.0 - l_discount)
                            ELSE 0.0 END * 100.0, 0) AS BIGINT)) / 100.0)
       / (SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0)
         AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY year(o_orderdate)
"""

_RETURNED_ITEMS_ORACLE = """
SELECT c_custkey, c_name, n_name,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) / 100.0
         AS lost_revenue,
       COUNT(*) AS n_returned_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (reshape.melt — the inverse of A7 enwiden) over
    lineitem's four measure columns, then a grouped fixed-point sum per
    measure. The unpivot is shuffle-free (partition-local Expand); the
    only exchange is the 4-group aggregate."""
    from basic_data_fusion_spark.functions.scalars import fixed_point_sum
    from basic_data_fusion_spark.operators.reshape import melt

    li = _catalog(spark, sf_dir).load("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
    long = melt(li, ["l_orderkey", "l_linenumber"],
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                var_name="measure", value_name="value")
    return long.groupBy("measure").agg(
        fixed_point_sum(F.col("value"), scale=10000).alias("total"),
        F.count(F.lit(1)).alias("n"))


_MELT_ORACLE = """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure,
       SUM(CAST(ROUND(value * 10000.0, 0) AS BIGINT)) / 10000.0 AS total,
       COUNT(*) AS n
FROM long GROUP BY measure
"""


def q_zscore_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization (stats.grouped_zscore): z-score of each
    customer's balance within its market segment — grouped moments once,
    joined back (no whole-table window sort)."""
    from basic_data_fusion_spark.operators.stats import grouped_zscore

    cust = _catalog(spark, sf_dir).load("customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    return (grouped_zscore(cust, "c_mktsegment", "c_acctbal")
            .select("c_custkey", "c_mktsegment", "zscore"))


_ZSCORE_ORACLE = """
WITH st AS (
  SELECT c_mktsegment AS seg,
         SUM(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT)) / 100.0 AS s,
         SUM(CAST(ROUND((c_acctbal * c_acctbal) * 100.0, 0) AS BIGINT)) / 100.0 AS s2,
         COUNT(c_acctbal) AS n
  FROM customer GROUP BY c_mktsegment
)
SELECT c_custkey, c_mktsegment,
       CASE WHEN SQRT((s2 - n * (s / n) * (s / n)) / (n - 1)) > 0.0
            THEN ROUND((c_acctbal - s / n)
                       / SQRT((s2 - n * (s / n) * (s / n)) / (n - 1)), 4)
       END AS zscore
FROM customer JOIN st ON c_mktsegment = st.seg
"""


def q_mad_outliers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier audit (deterministic tier): exact median,
    MAD and 3×MAD fence counts per market segment; only the exact-
    quantile function name differs between engines."""
    from basic_data_fusion_spark.operators.deterministic_sql import mad_outliers_sql

    _register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        mad_outliers_sql("customer", "c_mktsegment", "c_acctbal", "percentile"))


def q_segment_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (aggregations.per_group_hash_sample):
    20 customers per market segment ranked by md5(key) — reproducible on
    any partitioning, verifiable cross-engine."""
    from basic_data_fusion_spark.operators.aggregations import per_group_hash_sample

    cust = _catalog(spark, sf_dir).load("customer").select(
        "c_custkey", "c_mktsegment")
    return per_group_hash_sample(cust, "c_mktsegment", "c_custkey", 20)


_SEGMENT_SAMPLE_ORACLE = """
SELECT c_custkey, c_mktsegment, CAST(rn AS INT) AS sample_rank
FROM (SELECT c_custkey, c_mktsegment,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                         c_custkey) AS rn
      FROM customer) ranked
WHERE rn <= 20
"""



# The first 50 keys of queries() — the driver's CORRECTNESS window.
# tests/test_window_pin.py asserts list(queries())[:50] == DRIVER_WINDOW;
# since round 6 queries() ORDERS ITSELF from this constant (window keys
# first, remaining keys in registration order), so drift is impossible
# by construction — a typo'd/duplicated window key still fails the pin.
#
# Round-7 policy = CHANGED-PLANS-FIRST, then recency (the r6 verdict's
# rotation request): a query whose plan or oracle changed after the
# previous window froze has no driver row for its CURRENT contract, so
# those outrank everything.
# (a) plans/oracles CHANGED in r13:
#     - the five acceptance-gate contracts re-priced onto
#       gate_slice(max_rows=_GATE_MAX_ROWS) (r12 verdict #1) — oracle
#       predicates now carry the top-n replay: dedup_recall_report,
#       leakage_safe_split, incremental_clusters,
#       incremental_clusters_banded, lsh_config_sweep — plus
#       fuzzy_decontam_sweep, whose EVAL slice is capped the same way
#       (r12 verdict #5).  Values unchanged at driver sf (cap
#       inactive below 5000 docs) but the contracts changed.
#     - column_summary + column_summary_approx: both tiers re-planned
#       onto ONE stacked quantile machine per call (r12 verdict #3;
#       r13 opt round 1 made each tier a single lazy plan — values
#       bit-identical, plans not).
#     - dedup_keep_best: singleton fast path (members-only CC window +
#       anti-join branch, r12 verdict #4; values identical).
#     - centroid_drift_recall: full (arm × query) grid join (r12
#       advisory — empty-probe queries keep their denominator).
# (b) the three r8-era rows queued from the r12 rotation (r12 verdict
#     #2): line_dedup, dsir_weights, embedding_near_dups.  After they
#     land, every oracle-backed contract's latest driver row is r9+.
# (c) 37 fills = the oldest-verified remaining oracle-backed rows
#     (all r9-era), name order within the round.
# Every query, windowed or not, stays pinned each pytest run by
# tests/test_oracle_parity.py.
DRIVER_WINDOW = [
    # (a) r14 plan changes (value-identical rewrites) — changed-plans-
    # first per the r7 rotation policy
    "kendall_tau_grouped", "centroid_drift_recall", "audio_headers",
    # (b) the 10 oldest-verified rows (last hash-checked in the r9
    # window)
    "regional_volume", "segment_breakdown", "shipping_priority",
    "source_overlap", "spearman_corr", "spearman_matrix",
    "substudy_filter", "token_budget_mix", "top_segments", "trigram_lm",
    # (c) 37 oldest fills (r10-era), name order; the 11 remaining
    # r10-era rows (prefix_jaccard_pairs, quality_percentile ..
    # winnow_overlap_pairs) queue for the next rotation
    "ann_recall_report", "asof_latest_order", "attribute_spans",
    "boilerplate_strip", "c4_rules", "chunk_documents",
    "corpus_curation", "corpus_curation_v3", "decontam_fraction",
    "decontam_overlap", "decontam_spans", "decontam_window_sweep",
    "dedup_impact_sweep", "dist_shift_report", "embedding_outliers",
    "embedding_topk", "event_funnel_5m", "events_props",
    "events_sessions", "events_sliding", "events_tumbling_daily",
    "fuzzy_decontam_det", "gopher_rules", "hard_negatives",
    "hll_distinct_orders", "interleave_gate", "interleave_order",
    "ks_acctbal_segments", "lang_id", "lm_surprisal",
    "media_features", "media_headers", "memorization_risk",
    "ngram_jaccard", "packing_efficiency", "pii_scrub",
    "pmi_collocations",
]


def internal_plan_frames() -> dict[str, Callable[[SparkSession, str],
                                                 DataFrame]]:
    """Lazy INTERNAL DataFrames whose plans the golden-plan pins freeze
    when the contract query itself executes eagerly (r8 advisory: the
    spearman queries run ``correlation_matrix``, which calls ``.first()``
    + ``local_frame``, so their own executed plan is just a
    LocalTableScan — a vacuous pin).  Each entry returns the pre-execution
    rank/aggregate frame (``stats.correlation_aggregate``) whose plan
    contains the distributed midrank pipeline the pin exists to protect
    (e.g. a data-sized global window reappearing).  The same holds for
    the exact-quantile prefix-sum machine: the pinned sf0.001 counts
    finish on the driver, so the machine's plan is pinned over the
    ``column_summary`` counts directly."""
    from basic_data_fusion_spark.operators.aggregations import (
        _quantile_machine,
    )
    from basic_data_fusion_spark.operators.stats import (
        correlation_aggregate,
    )

    def spearman_corr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = _catalog(spark, sf_dir).load("lineitem")
        return correlation_aggregate(li, ["l_quantity", "l_discount"],
                                     method="spearman")

    def spearman_matrix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = _catalog(spark, sf_dir).load("lineitem")
        return correlation_aggregate(
            li, ["l_quantity", "l_extendedprice", "l_discount"],
            method="spearman")

    def column_summary_machine(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        return _quantile_machine(_summary_counts(spark, sf_dir)[0], [0.5])

    return {
        "spearman_corr__rank_aggregate": spearman_corr_agg,
        "spearman_matrix__rank_aggregate": spearman_matrix_agg,
        "column_summary__quantile_machine": column_summary_machine,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order matters: the driver's CORRECTNESS check covers the first
    # 50 keys.  Since round 6 the order is DERIVED from DRIVER_WINDOW
    # (window keys first, the rest in registration order below), so the
    # documented window and the served window cannot drift; the
    # registration groups below are historical (which round added what),
    # not the window.
    det = {name: _make_det_query(sql) for name, sql in _det_sql().items()}
    det.pop("spearman_corr")  # engine path serves; det-SQL is oracle-only
    base = {
        # ---- round-4/5 additions ----
        "ivf_topk_det": q_ivf_topk_det,
        "semantic_dedup_det": q_semantic_dedup_det,
        "token_budget_mix": q_token_budget_mix,
        "trigram_lm": q_trigram_lm,
        "corpus_curation_v2": q_corpus_curation_v2,
        "part_heavy_hitters": q_part_heavy_hitters,
        "incremental_minhash": q_incremental_minhash,
        "bloom_decontam": q_bloom_decontam,
        "ivfpq_topk": q_ivfpq_topk,
        "hll_distinct_orders": q_hll_distinct_orders,
        "column_summary_approx": q_column_summary_approx,
        # ---- round-5 contract rows ----
        "bloom_decontam_det": q_bloom_decontam_det,
        "ann_recall_report": q_ann_recall_report,
        "dedup_keep_best": q_dedup_keep_best,
        "corpus_diff": q_corpus_diff,
        "domain_quality_report": q_domain_quality_report,
        "incremental_minhash_det": q_incremental_minhash_det,
        "pq_topk_det": q_pq_topk_det,
        "ivfpq_topk_det": q_ivfpq_topk_det,
        "prefix_jaccard_pairs": q_prefix_jaccard_pairs,
        "cms_token_freq": q_cms_token_freq,
        # ---- round-6 contract rows ----
        "quantile_rollup_totalprice": q_quantile_rollup_totalprice,
        "dedup_recall_report": q_dedup_recall_report,
        "leakage_safe_split": q_leakage_safe_split,
        # ---- round-1/2 core ----
        "flagship_merge": q_flagship_merge,
        "participant_count": q_participant_count,
        "segment_breakdown": q_segment_breakdown,
        "acctbal_minmax": q_acctbal_minmax,
        "distinct_segments": q_distinct_segments,
        "top_segments": q_top_segments,
        "numeric_ranges_lineitem": q_numeric_ranges_lineitem,
        "filter_impact": q_filter_impact,
        "enwiden_events": q_enwiden_events,
        "baseline_consolidation": q_baseline_consolidation,
        "column_summary": q_column_summary,
        "dist_stats_acctbal": q_dist_stats_acctbal,
        "iqr_outliers_acctbal": q_iqr_outliers,
        "substudy_filter": q_substudy_filter,
        "longitudinal_merge": q_longitudinal_merge,
        "distinct_capped": q_distinct_capped,
        "categorical_summary": q_categorical_summary,
        "pearson_corr": det.pop("pearson_corr"),
        # engine path (distributed midranks); det-SQL is oracle-only
        "spearman_corr": q_spearman_corr,
        "spearman_matrix": q_spearman_matrix,
        "ols_regression": det.pop("ols_regression"),
        "anova_acctbal_by_segment": det.pop("anova_acctbal_by_segment"),
        "histogram_acctbal": det.pop("histogram_acctbal"),
        "quality_audit_orders": det.pop("quality_audit_orders"),
        "density_2d_lineitem": det.pop("density_2d_lineitem"),
        "pricing_summary": det.pop("pricing_summary"),
        "shipping_priority": det.pop("shipping_priority"),
        "regional_volume": det.pop("regional_volume"),
        "dedup_exact": q_dedup_exact,
        "token_counts": q_token_counts,
        # ---------------- past the window (51+) ----------------
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "pii_scrub": q_pii_scrub,
        "corpus_curation": q_corpus_curation,
        "repetition_scores": q_repetition_scores,
        "token_rarity": q_token_rarity,
        "boilerplate_strip": q_boilerplate_strip,
        "quality_percentile": q_quality_percentile,
        # r4-checked greens, the rows-only canaries, and the r3 wave —
        # most-recently-verified rotate to the back.
        **det,  # grouped_normality_k2 (hash-green r4)
        "forecast_revenue": q_forecast_revenue,
        "market_share": q_market_share,
        "returned_item_losses": q_returned_item_losses,
        "bpe_encode_docs": q_bpe_encode_docs,
        "quality_classifier": q_quality_classifier,
        "compression_ratio": q_compression_ratio,
        "temperature_mix": q_temperature_mix,
        "dsir_top_docs": q_dsir_top_docs,
        "minhash_dedup": q_minhash_dedup,
        "simhash_near_dups": q_simhash_near_dups,
        "semantic_dedup": q_semantic_dedup,
        "ivf_topk": q_ivf_topk,
        "exactsubstr_dedup": q_exactsubstr_dedup,
        "memorization_risk": q_memorization_risk,
        "decontam_spans": q_decontam_spans,
        "decontam_fraction": q_decontam_fraction,
        "gopher_rules": q_gopher_rules,
        "dedup_impact_sweep": q_dedup_impact_sweep,
        "embedding_outliers": q_embedding_outliers,
        "interleave_order": q_interleave_order,
        "packing_efficiency": q_packing_efficiency,
        "pmi_collocations": q_pmi_collocations,
        "corpus_curation_v3": q_corpus_curation_v3,
        "decontam_window_sweep": q_decontam_window_sweep,
        "c4_rules": q_c4_rules,
        "shard_manifest": q_shard_manifest,
        "attribute_spans": q_attribute_spans,
        "interleave_gate": q_interleave_gate,
        "interleave_order_sharded": q_interleave_order_sharded,
        "interleave_gate_sharded": q_interleave_gate_sharded,
        "curriculum_order_sharded": q_curriculum_order_sharded,
        "pack_sequences_sharded": q_pack_sequences_sharded,
        "incremental_clusters": q_incremental_clusters,
        # ---- round-8 additions ----
        "incremental_clusters_banded": q_incremental_clusters_banded,
        "length_bucketed_batches": q_length_bucketed_batches,
        # ---- round-9 additions ----
        "dist_shift_report": q_dist_shift_report,
        "kendall_tau_grouped": q_kendall_tau_grouped,
        "url_dedup": q_url_dedup,
        "dsir_gumbel_sample": q_dsir_gumbel_sample,
        "pareto_quality_sample": q_pareto_quality_sample,
        "stupid_backoff_lm": q_stupid_backoff_lm,
        "perplexity_buckets": q_perplexity_buckets,
        "bm25_search": q_bm25_search,
        "pq_topk": q_pq_topk,
        "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
        "product_type_profit": q_product_type_profit,
        "priority_shipping_bands": q_priority_shipping_bands,
        "bulk_suppliers_for_parts": q_bulk_suppliers_for_parts,
        "sole_blame_suppliers": q_sole_blame_suppliers,
        "ks_acctbal_segments": q_ks_acctbal_segments,
        "important_stock": q_important_stock,
        "mannwhitney_acctbal": q_mannwhitney_acctbal,
        "chi2_priority_status": q_chi2_priority_status,
        "hybrid_rrf_search": q_hybrid_rrf_search,
        "sq8_topk": q_sq8_topk,
        "benford_extendedprice": q_benford_extendedprice,
        "curriculum_order": q_curriculum_order,
        "corpus_composition": q_corpus_composition,
        "rolling_zscore_purchases": q_rolling_zscore_purchases,
        "mutual_info_priority_status": q_mutual_info_priority_status,
        "label_cohesion": q_label_cohesion,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_overlap_pairs": q_winnow_overlap_pairs,
        "winsorized_acctbal": q_winsorized_acctbal,
        "distinctive_terms_en": q_distinctive_terms_en,
        "toml_pipeline_curation": q_toml_pipeline_curation,
        "source_overlap": q_source_overlap,
        "grouped_ols_events": q_grouped_ols_events,
        "js_divergence_en": q_js_divergence_en,
        "approx_top_flags": q_approx_top_flags,
        "incremental_dedup": q_incremental_dedup,
        "minhash_dedup_det": q_minhash_dedup_det,
        "simhash_det": q_simhash_det,
        "lm_surprisal": q_lm_surprisal,
        "shard_plan": q_shard_plan,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "decontam_overlap": q_decontam_overlap,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "embedding_topk": q_embedding_topk,
        "hard_negatives": q_hard_negatives,
        # --- round-3 greens (driver-checked r3, all 50 hash-green) ---
        "media_features": q_media_features,
        "events_tumbling_daily": q_events_tumbling_daily,
        "events_sliding": q_events_sliding,
        "events_sessions": q_events_sessions,
        "events_props": q_events_props,
        "top_event_per_day": q_top_event_per_day,
        "asof_latest_order": q_asof_latest_order,
        "event_funnel_5m": q_event_funnel_5m,
        "funnel_steps": q_funnel_steps,
        "retention_weekly": q_retention_weekly,
        "customers_no_orders": q_customers_no_orders,
        "pricing_rollup": q_pricing_rollup,
        "orders_cube": q_orders_cube,
        "median_by_segment": q_median_by_segment,
        "hash_sample_orders": q_hash_sample_orders,
        "stratified_sample_docs": q_stratified_sample_docs,
        "events_interarrival": q_events_interarrival,
        "running_spend": q_running_spend,
        "trailing_7d_value": q_trailing_7d_value,
        "acctbal_deciles": q_acctbal_deciles,
        "cohort_setops": q_cohort_setops,
        "vocab_top_tokens": q_vocab_top_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "token_diversity": q_token_diversity,
        "top_orders_per_segment": q_top_orders_per_segment,
        "late_shipment_priority": q_late_shipment_priority,
        "small_lot_revenue": q_small_lot_revenue,
        "big_order_customers": q_big_order_customers,
        "wealthy_idle_customers": q_wealthy_idle_customers,
        "fuzzy_part_pairs": q_fuzzy_part_pairs,
        "latest_event_state": q_latest_event_state,
        "daily_value_gapfill": q_daily_value_gapfill,
        "order_grouping_sets": q_order_grouping_sets,
        "order_status_scd2": q_order_status_scd2,
        "numbered_tokens_udtf": q_numbered_tokens_udtf,
        "customer_order_distribution": q_customer_order_distribution,
        "promo_revenue_ratio": q_promo_revenue_ratio,
        "top_revenue_supplier": q_top_revenue_supplier,
        "disjunctive_parts_revenue": q_disjunctive_parts_revenue,
        "part_supplier_variety": q_part_supplier_variety,
        "nation_pair_trade": q_nation_pair_trade,
        "melt_measures": q_melt_measures,
        "zscore_by_segment": q_zscore_by_segment,
        "mad_outliers_by_segment": q_mad_outliers_by_segment,
        "segment_sample": q_segment_sample,
        "filter_impact_individual": q_filter_impact_individual,
        "profiling_stats": q_profiling_stats,
        "line_dedup": q_line_dedup,
        "line_collapse": q_line_collapse,
        "decontam_by_benchmark": q_decontam_by_benchmark,
        "dsir_weights": q_dsir_weights,
        "embedding_near_dups": q_embedding_near_dups,
        # ---- round-10 additions ----
        "fuzzy_decontam_det": q_fuzzy_decontam_det,
        "media_headers": q_media_headers,
        # ---- round-11 contract rows ----
        "audio_headers": q_audio_headers,
        "fuzzy_decontam_sweep": q_fuzzy_decontam_sweep,
        "lsh_config_sweep": q_lsh_config_sweep,
        "dim_truncation_recall": q_dim_truncation_recall,
        # ---- round-12 contract rows ----
        "canonical_dedup": q_canonical_dedup,
        "unigram_roundtrip": q_unigram_roundtrip,
        "centroid_drift_recall": q_centroid_drift_recall,
    }
    ordered = {k: base[k] for k in DRIVER_WINDOW}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    from basic_data_fusion_spark.operators.deterministic_sql import dist_stats_sql

    from basic_data_fusion_spark.operators.deterministic_sql import iqr_outliers_sql

    from basic_data_fusion_spark.operators.deterministic_sql import mad_outliers_sql

    det = dict(_det_sql())  # shared text: the oracle runs the same SQL
    # spearman: the SERVED query is the engine path (correlation_matrix
    # distributed midranks); the det-SQL verification tier stays the
    # oracle, wrapped to the engine's (col_a, col_b, corr) schema
    det["spearman_corr"] = (
        "SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, "
        "spearman_rho AS corr FROM (" + det["spearman_corr"] + ")")
    det["spearman_matrix"] = _spearman_matrix_oracle()
    det["dist_stats_acctbal"] = dist_stats_sql("customer", "c_acctbal", "quantile_cont")
    det["iqr_outliers_acctbal"] = iqr_outliers_sql("customer", "c_acctbal", "quantile_cont")
    det["mad_outliers_by_segment"] = mad_outliers_sql(
        "customer", "c_mktsegment", "c_acctbal", "quantile_cont")
    # minhash_dedup / simhash_near_dups / semantic_dedup intentionally
    # have NO oracle (engine-specific xxhash64 / seeded k-means) →
    # driver records the weaker rows-only check; recall is pytest-verified.
    return {
        **det,
        "media_features": _media_features_oracle(),
        "embedding_near_dups": _EMBEDDING_NEAR_DUPS_ORACLE,
        "filter_impact_individual": _FILTER_IMPACT_INDIVIDUAL_ORACLE,
        "profiling_stats": _profiling_stats_oracle(),
        "line_dedup": _LINE_DEDUP_ORACLE,
        "line_collapse": _LINE_COLLAPSE_ORACLE,
        "canonical_dedup": _canonical_dedup_oracle(),
        "unigram_roundtrip": _UNIGRAM_ROUNDTRIP_ORACLE,
        "centroid_drift_recall": _centroid_drift_oracle(),
        "decontam_by_benchmark": _DECONTAM_BY_BENCHMARK_ORACLE,
        "exactsubstr_dedup": _EXACTSUBSTR_ORACLE,
        "memorization_risk": _MEMORIZATION_ORACLE,
        "decontam_spans": _DECONTAM_SPANS_ORACLE,
        "decontam_fraction": _DECONTAM_FRACTION_ORACLE,
        "gopher_rules": _GOPHER_RULES_ORACLE,
        "dedup_impact_sweep": _DEDUP_IMPACT_ORACLE,
        "embedding_outliers": _EMBEDDING_OUTLIERS_ORACLE,
        "interleave_order": _INTERLEAVE_ORDER_ORACLE,
        "packing_efficiency": _PACKING_EFFICIENCY_ORACLE,
        "pmi_collocations": _PMI_COLLOCATIONS_ORACLE,
        "corpus_curation_v3": _CURATION_V3_ORACLE,
        "decontam_window_sweep": _DECONTAM_SWEEP_ORACLE,
        "c4_rules": _C4_RULES_ORACLE,
        "shard_manifest": _SHARD_MANIFEST_ORACLE,
        "attribute_spans": _ATTRIBUTE_SPANS_ORACLE,
        "interleave_gate": _interleave_gate_oracle(),
        "interleave_order_sharded": _interleave_sharded_oracle(),
        "interleave_gate_sharded": _interleave_gate_sharded_oracle(),
        "curriculum_order_sharded": _curriculum_sharded_oracle(),
        "pack_sequences_sharded": _pack_sharded_oracle(),
        # the distributed twins keep the single-stream contract EXACTLY,
        # so they verify against the same oracle SQL — that identity is
        # the point (same total order, no partition-less window)
        "incremental_clusters": _incremental_clusters_oracle(),
        "incremental_clusters_banded": _incremental_clusters_banded_oracle(),
        "length_bucketed_batches": _LENGTH_BUCKETED_ORACLE,
        "dist_shift_report": _DIST_SHIFT_ORACLE,
        "kendall_tau_grouped": _KENDALL_TAU_ORACLE,
        "url_dedup": _URL_DEDUP_ORACLE,
        "stupid_backoff_lm": _STUPID_BACKOFF_ORACLE,
        "perplexity_buckets": _perplexity_buckets_oracle(),
        "bm25_search": _BM25_ORACLE,
        "cheapest_supplier_per_part": _CHEAPEST_SUPPLIER_ORACLE,
        "product_type_profit": _PRODUCT_TYPE_PROFIT_ORACLE,
        "priority_shipping_bands": _PRIORITY_BANDS_ORACLE,
        "bulk_suppliers_for_parts": _BULK_SUPPLIERS_ORACLE,
        "sole_blame_suppliers": _SOLE_BLAME_ORACLE,
        "ks_acctbal_segments": _KS_ORACLE,
        "important_stock": _IMPORTANT_STOCK_ORACLE,
        "mannwhitney_acctbal": _MANNWHITNEY_ORACLE,
        "chi2_priority_status": _CHI2_ORACLE,
        "hybrid_rrf_search": _HYBRID_RRF_ORACLE,
        "sq8_topk": _SQ8_TOPK_ORACLE,
        "benford_extendedprice": _BENFORD_ORACLE,
        "curriculum_order": _CURRICULUM_ORACLE,
        "corpus_composition": _CORPUS_COMPOSITION_ORACLE,
        "rolling_zscore_purchases": _ROLLING_ZSCORE_ORACLE,
        "mutual_info_priority_status": _MUTUAL_INFO_ORACLE,
        "label_cohesion": _LABEL_COHESION_ORACLE,
        "winnow_fingerprints": _winnow_oracle(),
        "winnow_overlap_pairs": _winnow_pairs_oracle(),
        "winsorized_acctbal": _WINSORIZED_ORACLE,
        "distinctive_terms_en": _DISTINCTIVE_TERMS_ORACLE,
        "toml_pipeline_curation": _curation_oracle(),
        "source_overlap": _SOURCE_OVERLAP_ORACLE,
        "grouped_ols_events": _GROUPED_OLS_ORACLE,
        "js_divergence_en": _JS_DIVERGENCE_ORACLE,
        "approx_top_flags": _APPROX_TOP_FLAGS_ORACLE,
        "incremental_dedup": _INCREMENTAL_DEDUP_ORACLE,
        "token_budget_mix": _token_budget_mix_oracle(),
        "part_heavy_hitters": _HEAVY_HITTERS_ORACLE,
        "trigram_lm": _TRIGRAM_LM_ORACLE,
        "corpus_curation_v2": _CURATION_V2_ORACLE,
        "minhash_dedup_det": _minhash_det_oracle(),
        "bloom_decontam_det": _bloom_decontam_det_oracle(),
        "ann_recall_report": _ann_recall_oracle(),
        "dedup_keep_best": _dedup_keep_best_oracle(),
        "corpus_diff": _CORPUS_DIFF_ORACLE,
        "domain_quality_report": _domain_report_oracle(),
        "incremental_minhash_det": _incremental_minhash_det_oracle(),
        "fuzzy_decontam_det": _fuzzy_decontam_det_oracle(),
        "media_headers": _MEDIA_HEADERS_ORACLE,
        "audio_headers": _AUDIO_HEADERS_ORACLE,
        "fuzzy_decontam_sweep": _fuzzy_decontam_sweep_oracle(),
        "lsh_config_sweep": _lsh_config_sweep_oracle(),
        "dim_truncation_recall": _dim_truncation_oracle(),
        "pq_topk_det": _pq_topk_det_oracle(),
        "ivfpq_topk_det": _ivfpq_topk_det_oracle(),
        "prefix_jaccard_pairs": _prefix_jaccard_oracle(),
        "cms_token_freq": _cms_token_freq_oracle(),
        # r6 band-report conversions: formerly rows-only sketch/ML tiers
        "quantile_rollup_totalprice": _QUANTILE_ROLLUP_ORACLE,
        "dedup_recall_report": _dedup_recall_oracle(),
        "leakage_safe_split": _leakage_split_oracle(),
        "hll_distinct_orders": _HLL_BAND_ORACLE,
        "column_summary_approx": _COLUMN_SUMMARY_APPROX_ORACLE,
        "quality_classifier": _QUALITY_CLASSIFIER_ORACLE,
        "simhash_det": _simhash_det_oracle(),
        "ivf_topk_det": _ivf_det_oracle(),
        "semantic_dedup_det": _semantic_dedup_det_oracle(),
        "dsir_gumbel_sample": _dsir_gumbel_oracle(),
        "pareto_quality_sample": _pareto_quality_oracle(),
        "dsir_weights": _dsir_weights_oracle(),
        "forecast_revenue": _FORECAST_REVENUE_ORACLE,
        "market_share": _MARKET_SHARE_ORACLE,
        "returned_item_losses": _RETURNED_ITEMS_ORACLE,
        "temperature_mix": _temperature_mix_oracle(),
        "dsir_top_docs": (
            "WITH w AS (" + _dsir_weights_oracle() + ") "
            "SELECT * FROM w WHERE log_weight IS NOT NULL "
            "ORDER BY log_weight DESC, doc_id ASC LIMIT 50"),
        "events_tumbling_daily": _TUMBLING_ORACLE,
        "events_sliding": _SLIDING_ORACLE,
        "events_sessions": _SESSIONS_ORACLE,
        "events_props": _EVENTS_PROPS_ORACLE,
        "top_event_per_day": _TOP_EVENT_ORACLE,
        "asof_latest_order": _ASOF_ORACLE,
        "event_funnel_5m": _FUNNEL_ORACLE,
        "funnel_steps": _FUNNEL_STEPS_ORACLE,
        "retention_weekly": _RETENTION_ORACLE,
        "customers_no_orders": _NO_ORDERS_ORACLE,
        "pricing_rollup": _ROLLUP_ORACLE,
        "orders_cube": _CUBE_ORACLE,
        "median_by_segment": _MEDIAN_BY_SEGMENT_ORACLE,
        "hash_sample_orders": _HASH_SAMPLE_ORACLE,
        "stratified_sample_docs": _STRATIFIED_SAMPLE_ORACLE,
        "events_interarrival": _INTERARRIVAL_ORACLE,
        "running_spend": _RUNNING_SPEND_ORACLE,
        "trailing_7d_value": _TRAILING_7D_ORACLE,
        "acctbal_deciles": _DECILES_ORACLE,
        "cohort_setops": _SETOPS_ORACLE,
        "vocab_top_tokens": _VOCAB_ORACLE,
        "tfidf_top_terms": _TFIDF_ORACLE,
        "token_diversity": _TOKEN_DIVERSITY_ORACLE,
        "top_orders_per_segment": _TOP_ORDERS_ORACLE,
        "late_shipment_priority": _LATE_SHIPMENT_ORACLE,
        "small_lot_revenue": _SMALL_LOT_ORACLE,
        "big_order_customers": _BIG_ORDER_ORACLE,
        "wealthy_idle_customers": _WEALTHY_IDLE_ORACLE,
        "fuzzy_part_pairs": _FUZZY_PART_ORACLE,
        "latest_event_state": _LATEST_EVENT_ORACLE,
        "daily_value_gapfill": _GAPFILL_ORACLE,
        "order_grouping_sets": _GROUPING_SETS_ORACLE,
        "order_status_scd2": _SCD2_ORACLE,
        "numbered_tokens_udtf": _NUMBERED_TOKENS_ORACLE,
        "customer_order_distribution": _ORDER_DISTRIBUTION_ORACLE,
        "promo_revenue_ratio": _PROMO_RATIO_ORACLE,
        "top_revenue_supplier": _TOP_SUPPLIER_ORACLE,
        "disjunctive_parts_revenue": _DISJUNCTIVE_ORACLE,
        "part_supplier_variety": _PART_VARIETY_ORACLE,
        "nation_pair_trade": _NATION_PAIR_ORACLE,
        "melt_measures": _MELT_ORACLE,
        "zscore_by_segment": _ZSCORE_ORACLE,
        "segment_sample": _SEGMENT_SAMPLE_ORACLE,
        "dedup_exact": """
            SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
                   MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
            FROM documents
            GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS n_tokens,
                   len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s])')) AS bpe_tokens
            FROM documents
        """,
        "lang_id": _lang_id_oracle(),
        "quality_scores": _QUALITY_ORACLE,
        "pii_scrub": _PII_ORACLE,
        "corpus_curation": _curation_oracle(),
        "repetition_scores": _REPETITION_ORACLE,
        "token_rarity": _TOKEN_RARITY_ORACLE,
        "boilerplate_strip": _BOILERPLATE_ORACLE,
        "quality_percentile": _quality_percentile_oracle(),
        "lm_surprisal": _LM_SURPRISAL_ORACLE,
        "shard_plan": _SHARD_PLAN_ORACLE,
        "chunk_documents": _CHUNK_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "decontam_overlap": _DECONTAM_ORACLE,
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "dedup_clusters": _dedup_clusters_banded_oracle(),
        "embedding_topk": _EMBEDDING_TOPK_ORACLE,
        "hard_negatives": _HARD_NEGATIVES_ORACLE,
        "flagship_merge": f"""
            SELECT demo.c_custkey, demo.c_name, demo.c_nationkey, demo.c_acctbal,
                   demo.c_mktsegment, orders.o_orderkey, orders.o_totalprice,
                   orders.o_orderstatus, nation.n_name
            {_FLAGSHIP_FROM_WHERE}
        """,
        "participant_count": f"""
            SELECT COUNT(DISTINCT demo.c_custkey) AS n_participants
            {_FLAGSHIP_FROM_WHERE}
        """,
        "segment_breakdown": f"""
            SELECT demo.c_mktsegment,
                   COUNT(DISTINCT demo.c_custkey) AS n_participants
            {_FLAGSHIP_FROM_WHERE}
            GROUP BY demo.c_mktsegment
        """,
        "acctbal_minmax": f"""
            SELECT MIN(demo.c_acctbal) AS min_c_acctbal,
                   MAX(demo.c_acctbal) AS max_c_acctbal
            {_FLAGSHIP_FROM_WHERE}
        """,
        "distinct_segments": """
            SELECT DISTINCT c_mktsegment FROM customer
            WHERE c_mktsegment IS NOT NULL ORDER BY c_mktsegment
        """,
        "substudy_filter": """
            SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
            WHERE (' ' || regexp_replace(text, '[,;]', ' ', 'g') || ' ') LIKE '% data %'
               OR (' ' || regexp_replace(text, '[,;]', ' ', 'g') || ' ') LIKE '% model %'
        """,
        "longitudinal_merge": """
            SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS customID,
                   l_orderkey, l_linenumber, l_quantity, o_totalprice, o_orderstatus
            FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
            WHERE l_linenumber IN (1, 2)
        """,
        "distinct_capped": """
            SELECT DISTINCT c_name FROM customer
            WHERE c_name IS NOT NULL ORDER BY c_name LIMIT 1000
        """,
        "categorical_summary": """
            SELECT 'customer.c_mktsegment' AS "column",
                   COUNT(c_mktsegment) AS n_non_null,
                   COUNT(DISTINCT c_mktsegment) AS n_unique,
                   (SELECT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL
                    GROUP BY c_mktsegment ORDER BY COUNT(*) DESC, c_mktsegment ASC LIMIT 1) AS mode,
                   (SELECT COUNT(*) FROM customer WHERE c_mktsegment IS NOT NULL
                    GROUP BY c_mktsegment ORDER BY COUNT(*) DESC, c_mktsegment ASC LIMIT 1) AS mode_n
            FROM customer
            UNION ALL
            SELECT 'orders.o_orderpriority',
                   COUNT(o_orderpriority),
                   COUNT(DISTINCT o_orderpriority),
                   (SELECT o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL
                    GROUP BY o_orderpriority ORDER BY COUNT(*) DESC, o_orderpriority ASC LIMIT 1),
                   (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
                    GROUP BY o_orderpriority ORDER BY COUNT(*) DESC, o_orderpriority ASC LIMIT 1)
            FROM orders
        """,
        "top_segments": """
            SELECT c_mktsegment, COUNT(*) AS n FROM customer
            WHERE c_mktsegment IS NOT NULL
            GROUP BY c_mktsegment
            ORDER BY n DESC, c_mktsegment ASC LIMIT 3
        """,
        "numeric_ranges_lineitem": """
            SELECT MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
                   MIN(l_extendedprice) AS min_l_extendedprice, MAX(l_extendedprice) AS max_l_extendedprice,
                   MIN(l_discount) AS min_l_discount, MAX(l_discount) AS max_l_discount,
                   MIN(l_tax) AS min_l_tax, MAX(l_tax) AS max_l_tax
            FROM lineitem
        """,
        "filter_impact": """
            WITH b AS (
              SELECT COUNT(DISTINCT demo.c_custkey) AS n FROM customer demo
              LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
              LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
            ),
            s1 AS (
              SELECT COUNT(DISTINCT demo.c_custkey) AS n FROM customer demo
              LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
              LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
              WHERE demo.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
            ),
            s2 AS (
              SELECT COUNT(DISTINCT demo.c_custkey) AS n FROM customer demo
              LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
              LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
              WHERE demo.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
                AND demo.c_acctbal BETWEEN 1000.0 AND 8000.0
            ),
            s3 AS (
              SELECT COUNT(DISTINCT demo.c_custkey) AS n FROM customer demo
              LEFT JOIN orders ON demo.c_custkey = orders.o_custkey
              LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey
              WHERE demo.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
                AND demo.c_acctbal BETWEEN 1000.0 AND 8000.0
                AND orders.o_orderstatus IN ('O', 'F')
            )
            SELECT 'baseline' AS step, b.n AS n_remaining, 0 AS n_removed,
                   0.0 AS pct_removed, 0.0 AS cum_pct_removed FROM b
            UNION ALL
            SELECT 'segment', s1.n, b.n - s1.n,
                   (100.0 * (b.n - s1.n)) / b.n,
                   (100.0 * (b.n - s1.n)) / b.n FROM b, s1
            UNION ALL
            SELECT 'acctbal', s2.n, s1.n - s2.n,
                   (100.0 * (s1.n - s2.n)) / s1.n,
                   (100.0 * (b.n - s2.n)) / b.n FROM b, s1, s2
            UNION ALL
            SELECT 'order_status', s3.n, s2.n - s3.n,
                   (100.0 * (s2.n - s3.n)) / s2.n,
                   (100.0 * (b.n - s3.n)) / b.n FROM b, s1, s2, s3
        """,
        "enwiden_events": """
            SELECT user_id,
                   first(value ORDER BY event_id, value) FILTER (WHERE event_type = 'click'    AND value IS NOT NULL) AS value_CLICK,
                   first(value ORDER BY event_id, value) FILTER (WHERE event_type = 'error'    AND value IS NOT NULL) AS value_ERROR,
                   first(value ORDER BY event_id, value) FILTER (WHERE event_type = 'purchase' AND value IS NOT NULL) AS value_PURCHASE,
                   first(value ORDER BY event_id, value) FILTER (WHERE event_type = 'signup'   AND value IS NOT NULL) AS value_SIGNUP,
                   first(value ORDER BY event_id, value) FILTER (WHERE event_type = 'view'     AND value IS NOT NULL) AS value_VIEW
            FROM events GROUP BY user_id
        """,
        "baseline_consolidation": """
            SELECT l_orderkey,
                   COALESCE(q3, q2, q1) AS l_quantity_BAS
            FROM (
              SELECT l_orderkey,
                     first(l_quantity ORDER BY l_partkey, l_quantity)
                       FILTER (WHERE l_linenumber = 1 AND l_quantity IS NOT NULL) AS q1,
                     first(l_quantity ORDER BY l_partkey, l_quantity)
                       FILTER (WHERE l_linenumber = 2 AND l_quantity IS NOT NULL) AS q2,
                     first(l_quantity ORDER BY l_partkey, l_quantity)
                       FILTER (WHERE l_linenumber = 3 AND l_quantity IS NOT NULL) AS q3
              FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey
            )
        """,
        "column_summary": """
            SELECT 'customer.c_acctbal' AS "column",
                   COUNT(c_acctbal) AS n_non_null,
                   (SELECT COUNT(*) FROM customer) - COUNT(c_acctbal) AS n_missing,
                   SUM(CAST(ROUND(c_acctbal * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(c_acctbal) AS mean,
                   ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median,
                   MIN(c_acctbal) AS min, MAX(c_acctbal) AS max
            FROM customer
            UNION ALL
            SELECT 'lineitem.' || c AS "column", n_non_null, n_missing, mean, median, min, max
            FROM (
              SELECT 'l_quantity' AS c, COUNT(l_quantity) AS n_non_null,
                     (SELECT COUNT(*) FROM lineitem) - COUNT(l_quantity) AS n_missing,
                     SUM(CAST(ROUND(l_quantity * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_quantity) AS mean,
                     ROUND(quantile_cont(l_quantity, 0.5), 4) AS median,
                     MIN(l_quantity) AS min, MAX(l_quantity) AS max
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', COUNT(l_extendedprice),
                     (SELECT COUNT(*) FROM lineitem) - COUNT(l_extendedprice),
                     SUM(CAST(ROUND(l_extendedprice * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_extendedprice),
                     ROUND(quantile_cont(l_extendedprice, 0.5), 4),
                     MIN(l_extendedprice), MAX(l_extendedprice)
              FROM lineitem
              UNION ALL
              SELECT 'l_discount', COUNT(l_discount),
                     (SELECT COUNT(*) FROM lineitem) - COUNT(l_discount),
                     SUM(CAST(ROUND(l_discount * 1000000.0, 0) AS BIGINT)) / 1000000.0 / COUNT(l_discount),
                     ROUND(quantile_cont(l_discount, 0.5), 4),
                     MIN(l_discount), MAX(l_discount)
              FROM lineitem
            )
        """,
    }
