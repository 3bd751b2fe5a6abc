"""Enwiden semantics vs the reference's pandas behavior
(reference: analysis/export.py:24-233) on a small longitudinal frame."""

from __future__ import annotations

from basic_data_fusion_spark.operators.reshape import (
    consolidate_baseline,
    enwiden,
    split_static_dynamic,
)


def _long_df(spark):
    rows = [
        # pid, session, order, score, sex
        ("S1", "BAS1", 1, 10.0, "M"),
        ("S1", "BAS2", 2, 11.0, "M"),
        ("S1", "BAS3", 3, None, "M"),   # null stays null in BAS3
        ("S2", "BAS1", 4, 20.0, "F"),
        ("S2", "BAS2", 5, None, "F"),
        ("S3", "BAS2", 6, 30.0, None),  # missing BAS1 entirely
    ]
    return spark.createDataFrame(
        rows, "pid string, session_num string, ord int, score double, sex string")


def test_static_dynamic_split(spark):
    df = _long_df(spark)
    static, dynamic = split_static_dynamic(df, "pid", ["score", "sex"])
    assert static == ["sex"]
    assert dynamic == ["score"]


def test_enwiden_wide_shape_and_values(spark):
    df = _long_df(spark)
    wide = enwiden(df, pid="pid", session_col="session_num", order_col="ord",
                   value_cols=["score"], static_cols=["sex"])
    got = {r["pid"]: r.asDict() for r in wide.collect()}
    assert set(wide.columns) == {"pid", "score_BAS1", "score_BAS2", "score_BAS3", "sex"}
    assert got["S1"]["score_BAS1"] == 10.0
    assert got["S1"]["score_BAS3"] is None
    assert got["S2"]["score_BAS2"] is None
    assert got["S3"]["score_BAS1"] is None
    assert got["S3"]["score_BAS2"] == 30.0
    assert got["S1"]["sex"] == "M" and got["S3"]["sex"] is None


def test_enwiden_auto_split_matches_explicit_split(spark):
    """``auto_split=True`` pivots the dynamic column and keeps the static
    one: exactly the frame of ``split_static_dynamic``'s lists passed
    explicitly."""
    df = _long_df(spark)
    auto = enwiden(df, pid="pid", session_col="session_num", order_col="ord",
                   auto_split=True)
    static, dynamic = split_static_dynamic(df, "pid", ["score", "sex"])
    explicit = enwiden(df, pid="pid", session_col="session_num",
                       order_col="ord", value_cols=dynamic, static_cols=static)
    assert auto.columns == explicit.columns == \
        ["pid", "score_BAS1", "score_BAS2", "score_BAS3", "sex"]
    assert auto.schema == explicit.schema
    assert sorted(auto.collect()) == sorted(explicit.collect())


def test_enwiden_first_non_null_by_order(spark):
    # two rows for same (pid, session): first-by-order wins; nulls never win
    rows = [("S1", "1", 2, 99.0), ("S1", "1", 1, None), ("S1", "1", 3, 42.0)]
    df = spark.createDataFrame(rows, "pid string, session_num string, ord int, v double")
    wide = enwiden(df, pid="pid", session_col="session_num", order_col="ord",
                   value_cols=["v"])
    row = wide.collect()[0]
    # label '1' normalizes to BAS1; ord=1 has null v → ord=2 value wins
    assert row["v_BAS1"] == 99.0


def test_session_label_normalization_in_enwiden(spark):
    rows = [("S1", "visit1", 1, 1.0), ("S1", "2.0", 2, 2.0), ("S1", "weird lbl!", 3, 3.0)]
    df = spark.createDataFrame(rows, "pid string, session_num string, ord int, v double")
    wide = enwiden(df, pid="pid", session_col="session_num", order_col="ord",
                   value_cols=["v"])
    assert set(wide.columns) == {"pid", "v_BAS1", "v_BAS2", "v_WEIRD_LBL_"}


def test_consolidate_baseline_priority(spark):
    rows = [("S1", 1.0, 2.0, 3.0), ("S2", 1.0, None, None), ("S3", None, 2.0, None)]
    df = spark.createDataFrame(rows, "pid string, x_BAS1 double, x_BAS2 double, x_BAS3 double")
    out = consolidate_baseline(df)
    got = {r["pid"]: r["x_BAS"] for r in out.collect()}
    assert set(out.columns) == {"pid", "x_BAS"}
    assert got == {"S1": 3.0, "S2": 1.0, "S3": 2.0}  # BAS3 > BAS2 > BAS1
