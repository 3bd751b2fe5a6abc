"""Scalar column helpers — the engine's F-layer (SURVEY §2.8).

All are pure ``pyspark.sql.functions`` compositions (JVM-side, codegen'd);
no Python UDFs in this module.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_composite_id(df: DataFrame, primary_id: str, session_id: str,
                      composite_id: str = "customID") -> DataFrame:
    """Derive ``customID = str(primary) + '_' + str(session)`` at load time
    (reference: file_handling/csv_utils.py:461-465 materializes this into the
    CSV on disk; we derive lazily instead — sources are never rewritten)."""
    return df.withColumn(
        composite_id,
        F.concat_ws("_", F.col(primary_id).cast("string"), F.col(session_id).cast("string")),
    )


def site_whole_word_match(col: Column, values: list[str]) -> Column:
    """Whole-word containment over a multi-valued site/substudy string,
    OR-joined across values (reference: query/query_secure.py:101-117 —
    ``(' ' || col || ' ') LIKE '% <v> %'``).

    The reference separates multi-valued entries with spaces in its own
    fixtures but the rockland fixture uses ``;`` — normalize common
    separators (``,``/``;``) to spaces first, then space-pad and match.
    """
    normalized = F.regexp_replace(col.cast("string"), r"[,;]", " ")
    padded = F.concat(F.lit(" "), normalized, F.lit(" "))
    cond = F.lit(False)
    for v in values:
        cond = cond | padded.like(f"% {v} %")
    return cond


# Boolean value vocabulary (reference: query/helpers/data_formatters.py:40-47).
_TRUE_VALUES = {"true", "yes", "1", "1.0", "t", "y"}
_FALSE_VALUES = {"false", "no", "0", "0.0", "f", "n"}


def coerce_bool_value(value) -> bool:
    """Coerce ``Yes/No/1/0/True/False`` (any case, str or number) to bool."""
    if isinstance(value, bool):
        return value
    s = str(value).strip().lower()
    if s in _TRUE_VALUES:
        return True
    if s in _FALSE_VALUES:
        return False
    raise ValueError(f"cannot coerce {value!r} to bool")


# Session-label normalization (reference: analysis/export.py:117-148).
# Table-driven: canonical label per recognized raw form; unrecognized labels
# are sanitized-uppercased.
_SESSION_LABEL_MAP = {
    "1": "BAS1", "1.0": "BAS1", "v1": "BAS1", "visit1": "BAS1", "bas1": "BAS1",
    "2": "BAS2", "2.0": "BAS2", "v2": "BAS2", "visit2": "BAS2", "bas2": "BAS2",
    "3": "BAS3", "3.0": "BAS3", "v3": "BAS3", "visit3": "BAS3", "bas3": "BAS3",
    "baseline": "BAS", "bas": "BAS",
    "followup": "FLU", "flu": "FLU",
    "followup1": "FLU1", "flu1": "FLU1",
    "followup2": "FLU2", "flu2": "FLU2",
    "12mo": "FLU12", "12month": "FLU12",
    "24mo": "FLU24", "24month": "FLU24",
}


def normalize_session_label(raw) -> str:
    """Driver-side normalization of one session label (used to name pivoted
    columns — label cardinality is bounded, so this runs on a collected
    distinct list, never per row)."""
    s = str(raw).strip()
    mapped = _SESSION_LABEL_MAP.get(s.lower())
    if mapped:
        return mapped
    return re.sub(r"[^0-9A-Za-z_]", "_", s).upper()


def let(value: Column, body) -> Column:
    """``body(v)`` with ``value`` evaluated ONCE per row and bound to the
    lambda variable ``v``.

    Catalyst has no common-subexpression elimination inside lambda
    bodies: a row expression captured by a ``transform``/``filter``/
    ``aggregate`` lambda is re-evaluated for every element, so a
    tokenizing ``split`` captured by a per-shingle lambda costs
    O(tokens²) per row.  Binding the value as the variable of a
    one-element ``transform`` keeps the helper a pure Column (usable in
    one streaming projection) while the body only reads the bound
    variable::

        element_at(transform(array(value), v -> body(v)), 1)
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def half_up_long(col: Column) -> Column:
    """``ROUND(x, 0)`` (half-away-from-zero) cast to BIGINT, as plain IEEE
    arithmetic on the EXACT fractional part.

    Spark's ``Round`` on a double routes every value through
    ``BigDecimal.setScale`` — an object allocation plus decimal-expansion
    arithmetic per row that dominated the fixed-point aggregation passes
    (pearson_corr spent 1.5 s of its 1.87 s in it at sf0.1).  This form
    stays inside codegen primitives: ``t = CAST(x AS BIGINT)`` (ANSI
    truncation toward zero), then bump by ±1 iff ``|x - t| >= 0.5``.

    Unlike the classic ``CAST(x + SIGN(x)*0.5 AS BIGINT)`` trick, this is
    bit-identical to ``ROUND(x, 0)`` for ALL |x| < 2^53, with no edge set:
    the subtraction ``x - t`` is exact (for |x| >= 1 Sterbenz applies since
    t <= |x| < 2*t; below 1, t = 0), so the >= 0.5 test sees the true
    fractional part — whereas ``x + 0.5`` itself rounds, e.g. for
    x = 0.49999999999999994 it rounds to exactly 1.0 and the trick yields 1
    where ROUND yields 0 (covered by test_half_up_long_matches_round).
    NaN and ±Inf throw on the cast in ANSI mode, exactly as the rounded
    cast did; NULL propagates.
    """
    t = col.cast("bigint")
    bump = F.when(F.abs(col - t.cast("double")) >= F.lit(0.5),
                  F.signum(col).cast("bigint")).otherwise(F.lit(0))
    return t + bump


def fixed_point_sum(col: Column, scale: int = 1_000_000) -> Column:
    """Order-independent (bit-deterministic) sum of a double column.

    Floating sums depend on partition/merge order, so a distributed SUM can
    differ from a single-threaded oracle in the last ulps. We pin semantics
    by summing a fixed-point integer view: ``SUM(CAST(ROUND(x*scale, 0) AS
    BIGINT)) / scale``. Both Spark and DuckDB round half-away-from-zero for
    ``ROUND(double, 0)`` and integer sums are exact, so the result is
    bit-identical regardless of execution order. Equivalent oracle SQL::

        SUM(CAST(ROUND(x * <scale>, 0) AS BIGINT)) / <scale>.0

    The rounding itself runs as [[half_up_long]] (plain IEEE multiply-add
    truncation, bit-identical to the ROUND form for every in-contract
    magnitude) — Spark's ``Round`` allocates a BigDecimal per row, which
    dominated the CPU profile of the fixed-point aggregation passes
    (r13 opt, guide §1.3/§4: keep hot per-row math inside codegen
    primitives).

    Overflow headroom: |x|·scale·rows must stay < 2^63 (~9.2e18) — at the
    100 TB tier use ``F.sum(col.cast('decimal(38,6)'))`` instead (Spark
    decimal aggregation is exact and unbounded-order-safe; kept out of the
    oracle path only because cross-engine double→decimal cast rounding is
    not pinned by any standard).
    """
    return F.sum(half_up_long(col * F.lit(float(scale)))) / F.lit(float(scale))


def stratified_keep(stratum: Column, key: Column, rates: dict[str, float],
                    default_rate: float = 1.0) -> Column:
    """Boolean keep-flag for deterministic per-stratum downsampling —
    corpus rebalancing (e.g. cap the dominant language at 25% while
    keeping the tail at 100%). Resolution is 1/256: a row survives iff
    its first two md5 hex chars sort below the stratum's threshold —
    lexicographic hex compare == numeric compare, so the predicate is the
    same text on any engine, needs no RNG state or global order, and is
    stable under repartitioning (unlike seeded ``sampleBy``). Extends the
    reference's uniform-sampling surface (statistics.py:430-434) to
    stratified rates."""
    h = F.md5(key.cast("string")).substr(1, 2)

    def cond(rate: float) -> Column:
        b = min(max(int(round(rate * 256)), 0), 256)
        if b >= 256:
            return F.lit(True)
        if b <= 0:
            return F.lit(False)
        return h < F.lit(format(b, "02x"))

    expr = None
    for value, rate in sorted(rates.items()):
        branch = (expr.when if expr is not None else F.when)
        expr = branch(stratum == value, cond(rate))
    return expr.otherwise(cond(default_rate)) if expr is not None else cond(default_rate)


def hash_split(key: Column, train: int = 12, val: int = 2) -> Column:
    """Deterministic train/val/test assignment from the first hex nibble
    of ``md5(key-as-string)``: nibbles ``[0, train)`` → 'train',
    ``[train, train+val)`` → 'val', rest → 'test' (out of 16). Fully
    parallel, engine-portable (same md5 text on any SQL engine), and
    stable under repartitioning — unlike seeded ``df.sample`` splits,
    which depend on partition layout. Oracle SQL equivalent::

        CASE WHEN substr(md5(CAST(k AS VARCHAR)), 1, 1) < '<hex(train)>'
             THEN 'train' ... END
    """
    nib = F.conv(F.md5(key.cast("string")).substr(1, 1), 16, 10).cast("int")
    return (F.when(nib < train, F.lit("train"))
            .when(nib < train + val, F.lit("val"))
            .otherwise(F.lit("test")))
