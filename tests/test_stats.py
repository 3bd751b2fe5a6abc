"""Fast-tier statistics vs numpy/pandas ground truth on small data.

scipy is NOT in the runtime image; p-value/normality/KDE/kendall paths are
import-gated in the engine and skipped here individually.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from basic_data_fusion_spark.operators import aggregations, quality, stats

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def num_df(spark):
    n = 400
    x = RNG.normal(50, 10, n)
    y = 2.5 * x + RNG.normal(0, 5, n)
    g = RNG.choice(["a", "b", "c"], n)
    pdf = pd.DataFrame({"x": x, "y": y, "g": g})
    return spark.createDataFrame(pdf), pdf


def test_column_statistics_vs_pandas(num_df):
    df, pdf = num_df
    s = stats.column_statistics(df, "x")
    assert s["n"] == 400 and s["n_missing"] == 0
    assert s["mean"] == pytest.approx(pdf.x.mean())
    assert s["std"] == pytest.approx(pdf.x.std(ddof=1))
    assert s["median"] == pytest.approx(pdf.x.median())
    assert s["q25"] == pytest.approx(pdf.x.quantile(0.25))
    # spark skewness/kurtosis are population (biased) g1 / excess g2
    xc = pdf.x - pdf.x.mean()
    m2, m3, m4 = (xc ** 2).mean(), (xc ** 3).mean(), (xc ** 4).mean()
    assert s["skewness"] == pytest.approx(m3 / m2 ** 1.5, abs=1e-9)
    assert s["kurtosis"] == pytest.approx(m4 / m2 ** 2 - 3, abs=1e-9)
    # IQR outliers against pandas fences
    q25, q75 = pdf.x.quantile(0.25), pdf.x.quantile(0.75)
    iqr = q75 - q25
    n_out = ((pdf.x < q25 - 1.5 * iqr) | (pdf.x > q75 + 1.5 * iqr)).sum()
    assert s["n_outliers"] == n_out


def test_linear_regression_vs_numpy(num_df):
    df, pdf = num_df
    r = stats.linear_regression(df, "x", "y")
    slope, intercept = np.polyfit(pdf.x, pdf.y, 1)
    assert r.slope == pytest.approx(slope)
    assert r.intercept == pytest.approx(intercept)
    assert r.r == pytest.approx(pdf.x.corr(pdf.y))
    assert r.r_squared == pytest.approx(pdf.x.corr(pdf.y) ** 2)
    # stderr closed form: sqrt(mse / Sxx), mse = SSres/(n-2)
    resid = pdf.y - (slope * pdf.x + intercept)
    sxx = ((pdf.x - pdf.x.mean()) ** 2).sum()
    stderr = math.sqrt((resid ** 2).sum() / (len(pdf) - 2) / sxx)
    assert r.std_err == pytest.approx(stderr, rel=1e-9)


def test_anova_vs_numpy(num_df):
    df, pdf = num_df
    out = stats.one_way_anova(df, "g", "x")
    groups = [pdf[pdf.g == k].x.values for k in sorted(pdf.g.unique())]
    n, k = len(pdf), len(groups)
    grand = pdf.x.mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["f_statistic"] == pytest.approx(f)
    assert out["ss_between"] == pytest.approx(ssb)
    assert out["ss_within"] == pytest.approx(ssw, rel=1e-9)
    assert out["eta_squared"] == pytest.approx(ssb / (ssb + ssw))
    assert out["df_between"] == k - 1 and out["df_within"] == n - k


def test_pairwise_ttests_vs_numpy(num_df):
    df, pdf = num_df
    out = stats.pairwise_t_tests(df, "g", "x", bonferroni=False)
    byp = {(o["group_a"], o["group_b"]): o for o in out}
    a, b = pdf[pdf.g == "a"].x, pdf[pdf.g == "b"].x
    n1, n2 = len(a), len(b)
    sp2 = ((n1 - 1) * a.var(ddof=1) + (n2 - 1) * b.var(ddof=1)) / (n1 + n2 - 2)
    t = (a.mean() - b.mean()) / math.sqrt(sp2 * (1 / n1 + 1 / n2))
    assert byp[("a", "b")]["t"] == pytest.approx(t)
    assert byp[("a", "b")]["cohens_d"] == pytest.approx((a.mean() - b.mean()) / math.sqrt(sp2))


def test_correlation_matrix_vs_pandas(num_df):
    df, pdf = num_df
    pear = {(r["col_a"], r["col_b"]): r["corr"]
            for r in stats.correlation_matrix(df, ["x", "y"], "pearson").collect()}
    assert pear[("x", "y")] == pytest.approx(pdf.x.corr(pdf.y))
    spear = {(r["col_a"], r["col_b"]): r["corr"]
             for r in stats.correlation_matrix(df, ["x", "y"], "spearman").collect()}
    # pandas' spearman path needs scipy (absent) — rank-then-pearson instead
    ref = pdf.x.rank().corr(pdf.y.rank())
    assert spear[("x", "y")] == pytest.approx(ref, abs=1e-9)


def test_high_correlation_pairs(num_df):
    df, _ = num_df
    corr = stats.correlation_matrix(df, ["x", "y"], "pearson")
    assert stats.high_correlation_pairs(corr, 0.7).count() == 1
    assert stats.high_correlation_pairs(corr, 0.9999).count() == 0


def test_kendall_tau_unconditional(num_df):
    """tau-b runs with or without scipy (numpy fallback computes the
    identical statistic); cross-check against pandas' pure-Python
    implementation on ranks-free data."""
    df, pdf = num_df
    tau = stats.kendall_tau_sample(df, "x", "y", max_n=1000)
    a, b = pdf["x"].to_numpy(float), pdf["y"].to_numpy(float)
    n = len(a)
    da = np.sign(a[:, None] - a[None, :])
    db = np.sign(b[:, None] - b[None, :])
    iu = np.triu_indices(n, k=1)
    s = float((da[iu] * db[iu]).sum())
    n0 = n * (n - 1) / 2.0
    denom = ((n0 - float((da[iu] == 0).sum()))
             * (n0 - float((db[iu] == 0).sum()))) ** 0.5
    assert tau == pytest.approx(s / denom, abs=1e-9)
    # strictly monotone data → tau exactly 1
    one = stats.kendall_tau_sample(
        df.sparkSession.createDataFrame(
            [(float(i), float(i * 2)) for i in range(50)], "x double, y double"),
        "x", "y")
    assert one == pytest.approx(1.0)
    # heavy ties: the O(n log n) fallback must match the direct O(n²)
    # tau-b definition including tie corrections
    vals = [(float(i % 5), float((i * 7) % 3)) for i in range(200)]
    ta = np.array([v[0] for v in vals])
    tb = np.array([v[1] for v in vals])
    m = len(ta)
    da2 = np.sign(ta[:, None] - ta[None, :])
    db2 = np.sign(tb[:, None] - tb[None, :])
    iu2 = np.triu_indices(m, k=1)
    s2 = float((da2[iu2] * db2[iu2]).sum())
    m0 = m * (m - 1) / 2.0
    den2 = ((m0 - float((da2[iu2] == 0).sum()))
            * (m0 - float((db2[iu2] == 0).sum()))) ** 0.5
    tied = stats.kendall_tau_sample(
        df.sparkSession.createDataFrame(vals, "x double, y double"), "x", "y")
    assert tied == pytest.approx(s2 / den2, abs=1e-9)


def test_scipy_gated_paths_raise_cleanly(num_df):
    df, _ = num_df
    try:
        import scipy  # noqa: F401
        pytest.skip("scipy present; gate not exercised")
    except ImportError:
        pass
    # normality battery degrades: K² omnibus present, scipy extras absent
    nt = stats.normality_tests(df, "x")
    assert "dagostino" in nt and "shapiro" not in nt
    with pytest.raises(ImportError):
        stats.kde_curve(df, "x")
    # regression/anova still work, p-values just absent
    assert stats.linear_regression(df, "x", "y").p_value is None
    assert stats.one_way_anova(df, "g", "x")["p_value"] is None


def test_sampled_stats_draw_without_a_count(spark):
    """``normality_tests`` samples with ``uniform_sample``: exactly
    min(n, max_n) values, one job (a count, then a fractional sample and
    a limit ran three), and the same sample for the same seed."""
    from tests.conftest import SF0001, jobs_run

    df = spark.read.parquet(f"{SF0001}/orders.parquet")
    n = df.count()
    nt, jobs = jobs_run(spark, lambda: stats.normality_tests(
        df, "o_totalprice", max_n=500))
    assert nt["n"] == 500 and len(jobs) == 1
    assert stats.normality_tests(df, "o_totalprice", max_n=500) == nt
    assert stats.normality_tests(df, "o_totalprice", max_n=10 * n)["n"] == n


def test_dagostino_k2_semantics(spark):
    """Closed-form K² omnibus (no scipy): near-normal data passes, a
    hard-skewed sample fails decisively; grouped_normality populates the
    K² columns unconditionally."""
    rng = np.random.default_rng(7)
    normal = [(float(v), "n") for v in rng.normal(0, 1, 800)]
    skewed = [(float(v), "e") for v in rng.exponential(1.0, 800)]
    df = spark.createDataFrame(normal + skewed, "x double, g string")
    nt_norm = stats.normality_tests(df.filter("g = 'n'"), "x")
    nt_skew = stats.normality_tests(df.filter("g = 'e'"), "x")
    assert nt_norm["dagostino"]["p_value"] > 0.01
    assert nt_skew["dagostino"]["p_value"] < 1e-6
    rows = {r["g"]: r for r in
            stats.grouped_normality(df, "g", "x").collect()}
    assert rows["n"]["k2_p"] == pytest.approx(nt_norm["dagostino"]["p_value"])
    assert rows["e"]["k2_p"] == pytest.approx(nt_skew["dagostino"]["p_value"])


def test_grouped_k2_sql_tier_matches_python(spark):
    """The deterministic SQL K² tier and the pure-Python dagostino_k2
    are independent implementations of the same published formulas —
    they must agree to the SQL tier's 1e-6 rounding on real data."""
    from basic_data_fusion_spark.operators.deterministic_sql import grouped_k2_sql

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    cust.createOrReplaceTempView("customer")
    rows = {r["c_mktsegment"]: r for r in spark.sql(
        grouped_k2_sql("customer", "c_mktsegment", "c_acctbal")).collect()}
    pdf = cust.select("c_mktsegment", "c_acctbal").toPandas()
    for seg, grp in pdf.groupby("c_mktsegment"):
        vals = grp["c_acctbal"].dropna().to_numpy(float)
        if len(vals) < 8:
            continue
        k2, p = stats.dagostino_k2(vals)
        assert rows[seg]["k2"] == pytest.approx(k2, abs=2e-6)
        assert rows[seg]["p_k2"] == pytest.approx(p, abs=2e-9)
        assert rows[seg]["n"] == len(vals)


def test_grouped_k2_small_groups_ansi_safe(spark):
    """Groups below n=8 never enter the z-transform chain — no
    DIVIDE_BY_ZERO under ANSI mode — but still appear in the OUTPUT with
    their n/mean and NULL k2 (the same every-group contract as the
    grouped_normality applyInPandas tier); dagostino_k2 returns
    (nan, nan) for small samples instead of raising."""
    from basic_data_fusion_spark.operators.deterministic_sql import grouped_k2_sql

    rows = [("big", float(i % 13) + 0.1 * (i % 7)) for i in range(40)] + \
           [("tiny", 1.0), ("tiny", 2.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    df.createOrReplaceTempView("k2small")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = {r["g"]: r for r in
               spark.sql(grouped_k2_sql("k2small", "g", "x")).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert out["tiny"]["k2"] is None and out["tiny"]["p_k2"] is None
    assert out["tiny"]["n"] == 2 and out["tiny"]["mean"] == 1.5
    assert out["big"]["k2"] is not None
    k2, p = stats.dagostino_k2([1.0, 2.0, 3.0])
    assert math.isnan(k2) and math.isnan(p)


def test_dagostino_matches_scipy_when_present(num_df):
    pytest.importorskip("scipy")
    from scipy import stats as sps

    df, pdf = num_df
    k2, p = stats.dagostino_k2(pdf["x"].to_numpy())
    ref = sps.normaltest(pdf["x"])
    assert k2 == pytest.approx(ref.statistic, rel=1e-12)
    assert p == pytest.approx(ref.pvalue, rel=1e-12)


def test_histogram_counts(num_df):
    df, pdf = num_df
    rows = stats.histogram(df, "x", bins=10).collect()
    assert sum(r["n"] for r in rows) == len(pdf)
    np_counts, _ = np.histogram(pdf.x, bins=10)
    got = {r["bin"]: r["n"] for r in rows}
    for i, c in enumerate(np_counts):
        assert got.get(i, 0) == c


def test_density_heatmap(num_df):
    df, pdf = num_df
    rows = stats.density_heatmap_2d(df, "x", "y", bins_x=5, bins_y=5).collect()
    assert sum(r["n"] for r in rows) == len(pdf)
    assert all(0 <= r["bin_x"] < 5 and 0 <= r["bin_y"] < 5 for r in rows)


def test_quality_audit(spark):
    pdf = pd.DataFrame({
        "id": [1, 2, 2, 3, 4, 4],
        "v": [1.0, None, None, 3.0, 4.0, 4.0],
        "s": ["x", "1", "2", "x", "x", "x"],
    })
    df = spark.createDataFrame(pdf)
    miss = {r["column"]: r for r in quality.missing_report(df).collect()}
    assert miss["v"]["n_missing"] == 2
    assert miss["v"]["severity"] == "medium"  # 33%
    dups = quality.duplicate_keys(df, "id").collect()
    assert {r["id"] for r in dups} == {2, 4}
    mixed = {r["column"]: r["mixed"] for r in quality.mixed_type_columns(df).collect()}
    assert mixed["s"] is True
    ndup = quality.duplicate_row_count(df).first()["n_duplicate_rows"]
    assert ndup == 1  # (4, 4.0, 'x') appears twice


def test_distribution_stats_and_profile(num_df):
    df, pdf = num_df
    d = stats.distribution_stats(df, "x")
    assert d["variance"] == pytest.approx(pdf.x.var(ddof=1))
    assert d["range"] == pytest.approx(pdf.x.max() - pdf.x.min())
    prof = quality.data_profile(df.select("x", "y"), sample_n=None)
    assert prof["n_rows"] == 400
    assert set(prof["columns"]) == {"x", "y"}
    assert prof["correlations"].count() == 1


def test_profiling_sections_native(num_df):
    """A12 fallback runs with NO optional libraries: every headline
    section (stats, missing, correlations, sample) is a DataFrame."""
    df, pdf = num_df
    sections = quality.profiling_sections(df.select("x", "y"), sample_n=50)
    stats_rows = {r["column"]: r for r in sections["stats"].collect()}
    assert set(stats_rows) == {"x", "y"}
    assert stats_rows["x"]["n_non_null"] == 400
    assert stats_rows["x"]["mean"] == pytest.approx(pdf.x.mean())
    assert stats_rows["x"]["std"] == pytest.approx(pdf.x.std(ddof=1))
    assert sections["missing"].count() == 2
    assert sections["correlations"].count() == 1
    assert sections["sample"].count() <= 50
    # deterministic tier: fixed-point mean/std still approximate the truth
    det = {r["column"]: r for r in
           quality.profiling_sections(df.select("x", "y"),
                                      deterministic=True)["stats"].collect()}
    assert det["x"]["mean"] == pytest.approx(pdf.x.mean(), abs=1e-4)
    assert det["x"]["std"] == pytest.approx(pdf.x.std(ddof=1), abs=1e-3)


def test_profiling_report_fallback_is_native(num_df):
    """Without ydata-profiling the report degrades to the native sections
    dict (with it, to a ProfileReport) — either way it runs."""
    df, _ = num_df
    rep = quality.profiling_report(df.select("x", "y"), sample_n=100)
    try:
        import ydata_profiling  # noqa: F401
        assert type(rep).__name__ == "ProfileReport"
    except ImportError:
        assert set(rep) >= {"stats", "missing", "sample"}


def test_uniform_sample_bounds(num_df):
    df, _ = num_df
    assert stats.uniform_sample(df, 100).count() <= 100
    assert stats.uniform_sample(df, 10_000).count() == 400


def test_grouped_normality_matches_driver_scipy(spark):
    pytest.importorskip("scipy")
    from scipy import stats as sps

    from basic_data_fusion_spark.operators.stats import grouped_normality

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    got = {r["c_mktsegment"]: r for r in
           grouped_normality(cust, "c_mktsegment", "c_acctbal").collect()}
    pdf = cust.select("c_mktsegment", "c_acctbal").toPandas()
    for seg, grp in pdf.groupby("c_mktsegment"):
        vals = grp["c_acctbal"].dropna().astype(float).sort_values()
        r = got[seg]
        assert r["n"] == len(vals)
        assert abs(r["mean"] - vals.mean()) < 1e-9
        w, p = sps.shapiro(vals)
        assert abs(r["shapiro_w"] - w) < 1e-12
        assert abs(r["shapiro_p"] - p) < 1e-12
        assert abs(r["anderson_stat"] - sps.anderson(vals).statistic) < 1e-12


def test_approx_quantiles_near_exact(spark):
    from basic_data_fusion_spark.operators.stats import approx_quantiles

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    approx = approx_quantiles(cust, "c_acctbal", [0.25, 0.5, 0.75], 0.01)
    exact = list(cust.selectExpr(
        "percentile(c_acctbal, array(0.25, 0.5, 0.75)) AS p").first()["p"])
    spread = max(exact) - min(exact)
    for a, e in zip(approx, exact):
        assert abs(a - e) <= 0.05 * spread + 1e-9


def test_column_summary_approx_matches_exact_tier(spark):
    """The interactive tier's band report (r6 shape): deterministic
    columns agree with the exact tier EXACTLY, and the in-engine
    median_within_band verdict is True — the approx_percentile sketch
    sits inside the exact 0.49/0.51 quantile envelope."""
    import __spark_entry__ as entrymod

    exact = {r["column"]: r for r in entrymod.queries()[
        "column_summary"](spark, "/root/testdata/sf0.001").collect()}
    approx = {r["column"]: r for r in entrymod.queries()[
        "column_summary_approx"](spark, "/root/testdata/sf0.001").collect()}
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        assert (e["n_non_null"], e["n_missing"], e["min"], e["max"]) == \
            (a["n_non_null"], a["n_missing"], a["min"], a["max"])
        assert a["mean"] == e["mean"]  # fixed-point sum — identical tier
        assert a["median_within_band"] is True, c


def test_ks_two_sample_matches_scipy_or_reference(spark):
    """KS distance vs an independent reference (scipy when present,
    exact python ECDF otherwise); identical distribution → D small,
    shifted distribution → D large; partitioning-independent."""
    import numpy as np

    rng = np.random.default_rng(3)
    a = rng.normal(0, 1, 300)
    b = rng.normal(1.0, 1, 250)   # shifted
    rows = ([("a", float(x)) for x in a] + [("b", float(x)) for x in b])
    df = spark.createDataFrame(rows, "g string, v double")
    got = stats.ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert got["n_a"] == 300 and got["n_b"] == 250

    # exact python reference
    xs = sorted(set(list(a) + list(b)))
    sa, sb = sorted(a), sorted(b)
    import bisect
    d = max(abs(bisect.bisect_right(sa, x) * 250
                - bisect.bisect_right(sb, x) * 300) for x in xs) / (300 * 250)
    assert got["ks_d"] == pytest.approx(d, abs=1e-12)
    try:
        from scipy import stats as sps
        assert got["ks_d"] == pytest.approx(
            sps.ks_2samp(a, b, method="asymp").statistic, abs=1e-9)
    except ImportError:
        pass
    # shifted distributions must register a large distance
    assert got["ks_d"] > 0.3
    again = stats.ks_two_sample(df.repartition(7), "g", "v", "a", "b").collect()[0]
    assert again["ks_d"] == got["ks_d"]


def test_mann_whitney_u_hand_computed_and_scipy(spark):
    """U and z vs a hand-worked tied example, a pure-python rank
    reference on random data, scipy when present; partitioning-
    independent (integer rank accumulation)."""
    # A = [1,2,2], B = [2,3]: midranks 1, 3,3,3, 5 -> R_a = 7, U_a = 1,
    # U_b = 5, ties term t=3 -> 24,
    # z = (1 - 3) / sqrt(6/12 * (6 - 24/20)) = -2/sqrt(2.4)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double")
    got = stats.mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"]) == (3, 2)
    assert got["u_a"] == pytest.approx(1.0, abs=0)
    assert got["u_b"] == pytest.approx(5.0, abs=0)
    assert got["z"] == pytest.approx(-2.0 / math.sqrt(2.4), rel=1e-15)

    rng = np.random.default_rng(11)
    a = np.round(rng.normal(0, 1, 200), 1)   # coarse grid -> heavy ties
    b = np.round(rng.normal(0.5, 1, 150), 1)
    rows = ([("a", float(x)) for x in a] + [("b", float(x)) for x in b])
    big = spark.createDataFrame(rows, "g string, v double")
    got = stats.mann_whitney_u(big, "g", "v", "a", "b").collect()[0]

    # pure-python midrank reference
    allv = sorted(list(a) + list(b))
    import bisect
    def midrank(x):
        lo = bisect.bisect_left(allv, x)
        hi = bisect.bisect_right(allv, x)
        return (lo + 1 + hi) / 2.0
    r_a = sum(midrank(x) for x in a)
    u_a = r_a - 200 * 201 / 2.0
    assert got["u_a"] == pytest.approx(u_a, abs=1e-9)
    assert got["u_b"] == pytest.approx(200 * 150 - u_a, abs=1e-9)
    try:
        from scipy import stats as sps
        res = sps.mannwhitneyu(a, b, use_continuity=False,
                               alternative="two-sided", method="asymptotic")
        assert got["u_a"] == pytest.approx(res.statistic, abs=1e-9)
    except ImportError:
        pass
    again = stats.mann_whitney_u(big.repartition(7), "g", "v", "a", "b") \
        .collect()[0]
    assert (again["u_a"], again["z"]) == (got["u_a"], got["z"])


def test_chi2_independence_hand_computed(spark):
    """2x2 with all expected counts 15: chi2 = 4 * 25/15, dof 1,
    V = sqrt(chi2/n); independent columns -> chi2 near 0; fixed-point
    accumulation is partitioning-independent."""
    rows = ([("x", "p")] * 10 + [("x", "q")] * 20
            + [("y", "p")] * 20 + [("y", "q")] * 10)
    df = spark.createDataFrame(rows, "a string, b string")
    got = stats.chi2_independence(df, "a", "b").collect()[0]
    expect = 4 * round((25.0 / 15.0) * 1e6) / 1e6
    assert got["chi2"] == pytest.approx(expect, abs=1e-12)
    assert got["dof"] == 1 and got["n"] == 60
    assert got["cramers_v"] == pytest.approx(math.sqrt(expect / 60), rel=1e-15)
    try:
        from scipy.stats import chi2_contingency
        ref = chi2_contingency(np.array([[10, 20], [20, 10]]),
                               correction=False).statistic
        assert got["chi2"] == pytest.approx(ref, abs=1e-5)
    except ImportError:
        pass

    # perfectly proportional table -> statistic exactly 0
    rows = ([("x", "p")] * 12 + [("x", "q")] * 6
            + [("y", "p")] * 24 + [("y", "q")] * 12)
    indep = spark.createDataFrame(rows, "a string, b string")
    got0 = stats.chi2_independence(indep, "a", "b").collect()[0]
    assert got0["chi2"] == 0.0 and got0["cramers_v"] == 0.0

    again = stats.chi2_independence(df.repartition(5), "a", "b").collect()[0]
    assert again["chi2"] == got["chi2"]


def test_benford_audit_exact_digits(spark):
    """Digit extraction is exact at the quantization boundary (0.995 ->
    digit 1 via round-half-up at cents, not 9 via float repr), zeros
    and NULLs drop, frequencies sum to 1, expected masses are the
    12-dp-quantized Benford constants."""
    df = spark.createDataFrame(
        [(0.995,), (9.4,), (0.001,), (None,), (0.0,), (-200.0,), (123.0,)],
        "v double")
    got = {r["digit"]: r for r in
           quality.benford_audit(df, "v", decimals=2).collect()}
    # 0.995 -> 100 cents -> digit 1; 9.4 -> 940 -> 9; 0.001 -> 0 dropped;
    # -200 -> 20000 -> 2; 123 -> 12300 -> 1
    assert {d: r["n"] for d, r in got.items()} == {1: 2, 2: 1, 9: 1}
    assert sum(r["obs_freq"] for r in got.values()) == pytest.approx(1.0)
    assert got[1]["exp_freq"] == round(math.log10(2.0) * 1e12) / 1e12
    assert got[9]["exp_freq"] == \
        round(math.log10(1 + 1 / 9) * 1e12) / 1e12


def test_mann_whitney_and_chi2_degenerate_null_contracts(spark):
    """ANSI-mode safety: an all-ties sample has zero rank variance ->
    NULL z (not an error, not NaN); a 1-column contingency table has
    dof 0 -> NULL Cramer's V."""
    allsame = spark.createDataFrame(
        [("a", 1.0)] * 4 + [("b", 1.0)] * 3, "g string, v double")
    got = stats.mann_whitney_u(allsame, "g", "v", "a", "b").collect()[0]
    assert got["z"] is None
    assert got["u_a"] + got["u_b"] == 12.0

    onecol = spark.createDataFrame(
        [("x", "p")] * 3 + [("x", "q")] * 2, "a string, b string")
    c = stats.chi2_independence(onecol, "a", "b").collect()[0]
    assert c["dof"] == 0 and c["cramers_v"] is None and c["chi2"] == 0.0


def test_mutual_information_matches_python(spark):
    """MI/H/NMI vs a pure-python computation with the same 12-dp
    quantization; independent columns -> MI exactly 0; identical
    columns -> MI == H == both entropies, NMI == 1."""
    rows = ([("x", "p")] * 12 + [("x", "q")] * 6
            + [("y", "p")] * 24 + [("y", "q")] * 12)
    df = spark.createDataFrame(rows, "a string, b string")
    got = stats.mutual_information(df, "a", "b").collect()[0]
    assert got["mi"] == 0.0  # perfectly proportional table

    from collections import Counter
    rows = [("x", "p")] * 10 + [("x", "q")] * 5 + [("y", "q")] * 15
    df2 = spark.createDataFrame(rows, "a string, b string")
    got2 = stats.mutual_information(df2, "a", "b").collect()[0]
    cells = Counter(rows)
    n = len(rows)
    ra = Counter(a for a, _ in rows)
    rb = Counter(b for _, b in rows)
    q = lambda x: round(x * 1e12) / 1e12
    mi = sum(q((o / n) * math.log((o * n) / (ra[a] * rb[b])))
             for (a, b), o in cells.items())
    h_a = -sum(q((m / n) * math.log(m / n)) for m in ra.values())
    h_b = -sum(q((m / n) * math.log(m / n)) for m in rb.values())
    assert got2["mi"] == pytest.approx(mi, abs=5e-12)
    assert got2["h_a"] == pytest.approx(h_a, abs=5e-12)
    assert got2["h_b"] == pytest.approx(h_b, abs=5e-12)
    assert got2["nmi"] == pytest.approx(mi / math.sqrt(h_a * h_b), rel=1e-9)

    same = spark.createDataFrame([(c, c) for c in "aabbbcc"],
                                 "a string, b string")
    g3 = stats.mutual_information(same, "a", "b").collect()[0]
    assert g3["mi"] == pytest.approx(g3["h_a"], abs=5e-12)
    assert g3["nmi"] == pytest.approx(1.0, abs=1e-9)

    const = spark.createDataFrame([("x", v) for v in "pqpq"],
                                  "a string, b string")
    g4 = stats.mutual_information(const, "a", "b").collect()[0]
    assert g4["mi"] == 0.0 and g4["h_a"] == 0.0 and g4["nmi"] is None


def test_winsorized_stats_matches_numpy(spark):
    """Winsorized mean/std vs numpy clip at the same interpolated
    percentiles; outlier shrinks the winsorized mean far below the raw
    mean; constant group -> NULL std."""
    rng = np.random.default_rng(9)
    vals = np.round(np.concatenate([rng.normal(100, 10, 200), [10000.0]]), 2)
    rows = [("g", float(v)) for v in vals] + [("c", 5.0)] * 4
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {r["grp"]: r for r in
           stats.winsorized_stats(df, "grp", "v", 0.05, 0.95,
                                  decimals=2).collect()}
    lo = round(float(np.percentile(vals, 5)), 4)
    hi = round(float(np.percentile(vals, 95)), 4)
    assert got["g"]["q_lo"] == lo and got["g"]["q_hi"] == hi
    clipped = np.round(np.clip(vals, lo, hi) * 100)
    assert got["g"]["w_mean"] == pytest.approx(clipped.mean() / 100, abs=1e-9)
    assert got["g"]["w_std"] == pytest.approx(
        clipped.std(ddof=1) / 100, rel=1e-9)
    assert got["g"]["w_mean"] < float(vals.mean())  # outlier clamped away
    assert got["c"]["w_std"] is None and got["c"]["w_mean"] == 5.0


def test_grouped_ols_matches_numpy(spark):
    """Slope/intercept/r2 per group vs numpy polyfit on the quantized
    values; exact line -> r2 == 1; constant x -> NULL fit; constant
    y -> slope 0 with NULL r2."""
    rng = np.random.default_rng(13)
    x = np.round(rng.uniform(0, 10, 100), 3)
    y = np.round(2.5 * x + 1.0 + rng.normal(0, 0.5, 100), 3)
    rows = ([("a", float(a), float(b)) for a, b in zip(x, y)]
            + [("line", 1.0, 3.0), ("line", 2.0, 5.0), ("line", 3.0, 7.0)]
            + [("constx", 4.0, 1.0), ("constx", 4.0, 9.0)]
            + [("consty", 1.0, 2.0), ("consty", 5.0, 2.0)])
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in
           stats.grouped_ols(df, "g", "x", "y", decimals=3).collect()}

    xi = np.round(x * 1000)
    yi = np.round(y * 1000)
    slope = np.polyfit(xi, yi, 1)[0]
    assert got["a"]["slope"] == pytest.approx(slope, rel=1e-9)
    r = np.corrcoef(xi, yi)[0, 1]
    assert got["a"]["r2"] == pytest.approx(r * r, rel=1e-9)
    inter = (yi.mean() - slope * xi.mean()) / 1000
    assert got["a"]["intercept"] == pytest.approx(inter, rel=1e-9)

    assert got["line"]["slope"] == pytest.approx(2.0)
    assert got["line"]["intercept"] == pytest.approx(1.0)
    assert got["line"]["r2"] == pytest.approx(1.0)
    assert got["constx"]["slope"] is None and got["constx"]["r2"] is None
    assert got["consty"]["slope"] == 0.0 and got["consty"]["r2"] is None


def test_winsorized_stats_quoted_column_name(spark):
    """Identifier safety (advice r4): a value column with spaces/dashes
    must parse — the percentile call backtick-quotes the name like
    every other A6-tier percentile expression."""
    rows = [("g", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "grp string, v double") \
        .withColumnRenamed("v", "the value-col")
    got = stats.winsorized_stats(df, "grp", "the value-col", 0.05, 0.95,
                                 decimals=2).collect()[0]
    assert got["n"] == 100
    clipped = np.clip(np.arange(1.0, 101.0),
                      np.percentile(np.arange(1.0, 101.0), 5),
                      np.percentile(np.arange(1.0, 101.0), 95))
    assert got["w_mean"] == pytest.approx(clipped.mean(), abs=1e-6)


def test_correlation_degenerate_inputs_yield_null(spark):
    """ANSI-mode hardening: a constant column (zero variance), a single
    row, or an empty relation yield corr=NULL — pandas semantics — not
    a DIVIDE_BY_ZERO job failure (Spark 4's F.corr throws; the operator
    uses guarded sufficient statistics instead)."""
    from basic_data_fusion_spark.operators.stats import correlation_matrix

    const = spark.createDataFrame(
        [(5.0, float(i)) for i in range(6)], "x double, y double")
    assert correlation_matrix(const, ["x", "y"]).collect()[0]["corr"] is None
    assert correlation_matrix(
        const, ["x", "y"], "spearman").collect()[0]["corr"] is None
    single = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    assert correlation_matrix(single, ["x", "y"]).collect()[0]["corr"] is None
    # sanity: real correlation still computed (vs closed form)
    lin = spark.createDataFrame(
        [(float(i), 2.0 * i + 1) for i in range(10)], "x double, y double")
    assert correlation_matrix(lin, ["x", "y"]).collect()[0]["corr"] == \
        pytest.approx(1.0)


def test_histogram_empty_input_returns_empty(spark):
    from basic_data_fusion_spark.operators.stats import histogram

    empty = spark.createDataFrame([], "x double")
    out = histogram(empty, "x")
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == \
        ["bin", "bin_start", "bin_end", "n"]


def test_dist_shift_report_bitwise_equals_standalone(spark):
    """The combined KS+MW report (ONE value aggregation + ONE prefix
    machine) must be BIT-EQUAL to the standalone ks_two_sample and
    mann_whitney_u outputs — the shared-machine rewrite may not move a
    single ulp (the standalone oracles verify the combined row
    unchanged)."""
    from basic_data_fusion_spark.operators.stats import (
        dist_shift_report,
        ks_two_sample,
        mann_whitney_u,
    )

    rows = [("a", float(v)) for v in [1, 2, 2, 3, 5, 8, 8, 8, 13]] + \
           [("b", float(v)) for v in [2, 3, 3, 4, 8, 9, 21]] + \
           [("c", 99.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    got = dist_shift_report(df, "g", "v", "a", "b").collect()[0]
    ks = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    mw = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"]) == (ks["n_a"], ks["n_b"]) == (9, 7)
    assert got["ks_d"] == ks["ks_d"]
    assert (got["u_a"], got["u_b"], got["z"]) == (mw["u_a"], mw["u_b"], mw["z"])


def test_ks_empty_group_yields_null_not_divide_error(spark):
    """One group absent is a LEGAL input: ks_d must come back NULL (the
    z guard's semantics) instead of throwing DIVIDE_BY_ZERO under ANSI
    — r9 advisory; dist_shift_report and ks_two_sample in lockstep."""
    from basic_data_fusion_spark.operators.stats import (
        dist_shift_report,
        ks_two_sample,
    )

    rows = [("b", 1.0), ("b", 2.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    ks = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert (ks["n_a"], ks["n_b"]) == (0, 3)
    assert ks["ks_d"] is None
    rep = dist_shift_report(df, "g", "v", "a", "b").collect()[0]
    assert (rep["n_a"], rep["n_b"]) == (0, 3)
    assert rep["ks_d"] is None and rep["z"] is None


def test_kendall_tau_grouped_matches_sample_tau(spark):
    """The distributed exact pair-count tau-b equals the bounded-sample
    implementation (scipy when present, else the Fenwick O(n log n)
    numpy path) per group, ties included; degenerate groups (constant
    column, single row) yield NULL."""
    import math

    from basic_data_fusion_spark.operators.stats import (
        kendall_tau_grouped,
        kendall_tau_sample,
    )

    rows = []
    vals = [(1.0, 2.0), (2.0, 1.0), (2.0, 3.0), (3.0, 3.0), (4.0, 5.0),
            (4.0, 5.0), (5.0, 4.0), (6.0, 8.0)]
    for i, (x, y) in enumerate(vals):
        rows.append(("g1", x, y, i))
    for i, (x, y) in enumerate([(1.0, 9.0), (2.0, 7.0), (3.0, 4.0),
                                (4.0, 4.0), (5.0, 1.0)]):
        rows.append(("g2", x, y, 100 + i))
    rows.append(("const", 1.0, 5.0, 200))
    rows.append(("const", 1.0, 7.0, 201))
    rows.append(("single", 3.0, 3.0, 300))
    df = spark.createDataFrame(rows, "g string, x double, y double, i long") \
        .repartition(4)
    got = {r["g"]: r for r in kendall_tau_grouped(
        df, "g", "x", "y", "i").collect()}
    for g in ["g1", "g2"]:
        want = kendall_tau_sample(df.filter(df["g"] == g), "x", "y")
        assert math.isclose(got[g]["tau_b"], want, rel_tol=1e-12), (g, got[g], want)
    assert got["g2"]["tau_b"] < 0 < got["g1"]["tau_b"]
    # constant x: n_pairs == n1 -> NULL; single row: zero pairs -> no row
    assert got["const"]["tau_b"] is None
    assert "single" not in got


def test_kendall_tau_grouped_lowcard_bitwise_parity(spark):
    """The O(m·n) grid/prefix tau-b (kendall_tau_grouped_lowcard) is
    BITWISE equal to the O(n²) pair tier on every output column —
    both accumulate the identical BIGINT counts (C, D, n_pairs, tie
    terms) and exit through the same final IEEE tree, so even the
    double tau must match to the last bit.  Randomized frame with
    heavy ties plus the degenerate groups (constant column -> NULL
    tau, single row -> no output row, nulls dropped)."""
    import random
    import struct

    from basic_data_fusion_spark.operators.stats import (
        kendall_tau_grouped,
        kendall_tau_grouped_lowcard,
    )

    random.seed(7)
    rows = [(i, f"g{random.randint(0, 3)}", float(random.randint(0, 5)),
             float(random.randint(0, 8))) for i in range(400)]
    rows += [(1000, "solo", 1.0, 2.0)]
    rows += [(2000 + i, "consta", 3.0, float(i % 4)) for i in range(10)]
    rows += [(3000 + i, "constb", float(i % 4), 7.0) for i in range(10)]
    rows += [(4000, "g0", None, 1.0), (4001, "g0", 1.0, None)]
    df = spark.createDataFrame(
        rows, "id long, g string, a double, b double").repartition(8)

    def canon(rs):
        return sorted(
            (r["g"], r["n_pairs"], r["concordant"], r["discordant"],
             None if r["tau_b"] is None else struct.pack("d", r["tau_b"]))
            for r in rs)

    pair = kendall_tau_grouped(df, "g", "a", "b", "id").collect()
    low = kendall_tau_grouped_lowcard(df, "g", "a", "b").collect()
    assert canon(pair) == canon(low)
    got = {r["g"]: r for r in low}
    assert got["consta"]["tau_b"] is None
    assert got["constb"]["tau_b"] is None
    assert "solo" not in got


# _DRIVER_FINISH_ROWS per finish: the default bound keeps sf0.001 on the
# driver, a bound of 0 sends any non-empty input to the machine
_FINISHES = {"driver": aggregations._DRIVER_FINISH_ROWS, "machine": 0}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_exact_quantiles_distributed_matches_percentile(spark, monkeypatch):
    """exact_quantiles (melt → value counts → the driver finish, or ONE
    distributed prefix sum → bracketing-rank interpolation) must
    reproduce the percentile() aggregate on both finishes — including
    NULL exclusion, duplicate-heavy columns, odd/even counts and
    interpolated fractions — without the aggregate's data-sized merge
    buffer."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    ps = [0.1, 0.25, 0.5, 0.75, 0.9]
    exp_row = li.agg(*[
        F.expr(f"percentile({c}, {p})").alias(f"{c}__{i}")
        for c in cols for i, p in enumerate(ps)],
        *[F.count(F.col(c).cast("double")).alias(f"n__{c}")
          for c in cols]).first()
    # planted edges: NULLs, duplicates, odd and even counts
    rows = [(1.0, 10.0), (2.0, None), (2.0, 20.0), (3.0, 30.0),
            (None, 40.0), (100.0, None)]
    df = spark.createDataFrame(rows, "a double, b double")
    for finish, bound in _FINISHES.items():
        monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", bound)
        got = {(r["column"], r["p"]): (r["n_non_null"], r["value"])
               for r in exact_quantiles(li, cols, ps).collect()}
        for c in cols:
            for i, p in enumerate(ps):
                n, v = got[(c, p)]
                assert n == exp_row[f"n__{c}"]
                assert v == pytest.approx(exp_row[f"{c}__{i}"],
                                          rel=0, abs=1e-9), (finish, c, p)
        got = {(r["column"], r["p"]): r["value"]
               for r in exact_quantiles(df, ["a", "b"], [0.5]).collect()}
        assert got[("a", 0.5)] == 2.0          # n=5 odd → middle value
        assert got[("b", 0.5)] == 25.0         # n=4 even → mean of middles
        # no data-sized single-node structure: the plan holds no
        # percentile aggregate on either finish
        assert "percentile(" not in _plan(exact_quantiles(li, cols, [0.5]))


def test_exact_quantiles_stacked_fusion_bit_identical(spark, monkeypatch):
    """exact_quantiles_stacked (r13 fusion): two tables' melts unioned
    under table-qualified __cid labels through ONE quantile pass
    must return bit-identical values to separate per-table
    exact_quantiles runs on both finishes — the per-column cumulative
    rank subtracts the preceding columns' mass, so sharing the pass
    cannot move any bracketing rank or interpolation."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles,
        exact_quantiles_stacked,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    ps = [0.49, 0.5, 0.51]

    def melt(df, table, cols):
        return (df.select(F.explode(F.array(*[
            F.struct(F.lit(f"{table}.{c}").alias("__cid"),
                     F.col(c).cast("double").alias("__v"))
            for c in cols])).alias("s"))
            .select("s.__cid", "s.__v")
            .where(F.col("__v").isNotNull()))

    stacked = melt(cust, "customer", ["c_acctbal"]).unionByName(
        melt(li, "lineitem", ["l_quantity", "l_extendedprice"]))
    for finish, bound in _FINISHES.items():
        monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", bound)
        fused = {(r["column"], r["p"]): (r["n_non_null"], r["value"])
                 for r in exact_quantiles_stacked(stacked, ps).collect()}
        solo = {}
        for df, table, cols in ((cust, "customer", ["c_acctbal"]),
                                (li, "lineitem",
                                 ["l_quantity", "l_extendedprice"])):
            for r in exact_quantiles(df, cols, ps).collect():
                solo[(f"{table}.{r['column']}", r["p"])] = (r["n_non_null"],
                                                            r["value"])
        assert fused == solo, finish  # exact float equality, not approx


def _quantile_rows(df) -> list:
    """Rows in output order, values as their IEEE bytes (NaN == NaN)."""
    import struct

    return [(r["column"], r["p"], r["n_non_null"],
             struct.pack(">d", r["value"])) for r in df.collect()]


def test_exact_quantiles_driver_finish_matches_machine(spark, monkeypatch):
    """The driver finish reproduces the prefix-sum machine bit for bit
    on planted edges: NaN (sorts last, the largest value), ±inf,
    −0.0 beside 0.0, NULLs, an all-equal column, a one-row column,
    p ∈ {0, 1}, duplicate p, and string and int ``__cid`` labels."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles,
        exact_quantiles_stacked,
    )

    nan, inf = float("nan"), float("inf")
    rows = [(1.0, nan, 5.0, 7.0, -0.0),
            (nan, -0.0, 5.0, None, 0.0),
            (2.0, 0.0, 5.0, None, 1.5),
            (inf, None, 5.0, None, -inf),
            (-inf, 3.0, 5.0, None, inf),
            (None, 0.0, 5.0, None, 2.5),
            (2.0, -0.0, 5.0, None, nan)]
    df = spark.createDataFrame(rows, "a double, b double, c double, "
                                     "d double, e double")
    cols = ["a", "b", "c", "d", "e"]
    ps = [1.0, 0.0, 0.5, 0.25, 0.5, 0.9, 0.333, 0.75]
    stacked = df.select(F.posexplode(F.array(*cols)).alias("__cid", "__v")) \
        .where(F.col("__v").isNotNull())
    driver = (_quantile_rows(exact_quantiles(df, cols, ps)),
              _quantile_rows(exact_quantiles_stacked(stacked, ps)))
    monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", 0)
    machine = (_quantile_rows(exact_quantiles(df, cols, ps)),
               _quantile_rows(exact_quantiles_stacked(stacked, ps)))
    assert driver == machine
    assert len(driver[0]) == len(cols) * 7  # duplicate p give one row
    assert {r[0] for r in driver[1]} == set(range(len(cols)))
    with pytest.raises(ValueError):
        exact_quantiles(df, cols, [1.5])


def test_exact_quantiles_driver_bound(spark, monkeypatch):
    """A counts relation of exactly ``_DRIVER_FINISH_ROWS`` distinct
    rows finishes on the driver (a LocalRelation leaf); one row more
    runs the machine; both return the same rows."""
    df = spark.range(120).selectExpr("CAST(id % 50 AS DOUBLE) AS x",
                                     "CAST(id % 7 AS DOUBLE) AS y")
    ps = [0.1, 0.5, 0.75]
    monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", 57)
    at = aggregations.exact_quantiles(df, ["x", "y"], ps)
    assert "LocalRelation" in _plan(at)
    monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", 56)
    above = aggregations.exact_quantiles(df, ["x", "y"], ps)
    assert "LocalRelation" not in _plan(above)
    assert _quantile_rows(at) == _quantile_rows(above)


def test_exact_quantiles_machine_runs_upstream_once(spark, monkeypatch):
    """On the machine path the size probe and the machine read one
    materialization of the counts: the melt + aggregate upstream runs
    once, counted by an accumulator on every input row it reads."""
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.operators.aggregations import (
        exact_quantiles,
    )

    monkeypatch.setattr(aggregations, "_DRIVER_FINISH_ROWS", 0)
    seen = spark.sparkContext.accumulator(0)

    def tap(x):
        seen.add(1)
        return x

    df = (spark.range(300).repartition(3)
          .select(F.udf(tap, "double")(
              (F.col("id") % 40).cast("double")).alias("x")))
    rows = exact_quantiles(df, ["x"], [0.25, 0.5]).collect()
    assert [r["value"] for r in rows] == [9.0, 18.0]
    assert seen.value == 300
