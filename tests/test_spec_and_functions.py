from __future__ import annotations

import pytest

from basic_data_fusion_spark.functions.scalars import (
    coerce_bool_value,
    normalize_session_label,
)
from basic_data_fusion_spark.plans.spec import (
    BehavioralFilter,
    DemographicFilters,
    QuerySpec,
)


def test_toml_round_trip():
    spec = QuerySpec(
        tables=["orders", "nation"],
        demographic=DemographicFilters(age_range=(18.0, 65.0),
                                       substudies=["Discovery"],
                                       sessions=["BAS1", "BAS2"]),
        behavioral=[
            BehavioralFilter("orders", "o_totalprice", "range", (0.0, 100.0)),
            BehavioralFilter("orders", "o_orderstatus", "categorical", ["O"]),
            BehavioralFilter("flags", "is_active", "boolean", True),
        ],
        selected_columns={"orders": ["o_orderkey"], "nation": ["n_name"]},
        enwiden=True,
    )
    back = QuerySpec.from_toml(spec.to_toml())
    assert back == spec


def test_bad_filter_type_rejected():
    with pytest.raises(ValueError):
        BehavioralFilter("t", "c", "fuzzy", 1)


@pytest.mark.parametrize("raw,expected", [
    ("Yes", True), ("no", False), ("1", True), ("0", False),
    (1.0, True), (0, False), (True, True), ("T", True), ("n", False),
])
def test_bool_coercion(raw, expected):
    # reference: query/helpers/data_formatters.py:40-47
    assert coerce_bool_value(raw) is expected


def test_bool_coercion_rejects_garbage():
    with pytest.raises(ValueError):
        coerce_bool_value("maybe")


@pytest.mark.parametrize("raw,expected", [
    ("1", "BAS1"), ("1.0", "BAS1"), ("visit1", "BAS1"), ("v2", "BAS2"),
    ("BAS3", "BAS3"), ("baseline", "BAS"), ("followup1", "FLU1"),
    ("Custom Session-2", "CUSTOM_SESSION_2"),
])
def test_session_label_map(raw, expected):
    # reference: analysis/export.py:117-148
    assert normalize_session_label(raw) == expected


def test_site_whole_word_match(spark):
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.functions.scalars import site_whole_word_match

    rows = [("A", "Discovery Longitudinal"), ("B", "Discovery;Longitudinal"),
            ("C", "DiscoveryX"), ("D", "Longitudinal"), ("E", None)]
    df = spark.createDataFrame(rows, "id string, all_studies string")
    hit = df.filter(site_whole_word_match(F.col("all_studies"), ["Discovery"]))
    assert sorted(r["id"] for r in hit.collect()) == ["A", "B"]  # not the substring C


def test_stratified_keep_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.functions.scalars import stratified_keep

    df = spark.range(4000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"))
    keep = stratified_keep(F.col("lang"), F.col("id"), {"en": 0.25, "zz": 0.0})
    out = df.filter(keep).groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in out}
    assert counts["fr"] == 2000                    # default rate 1.0 keeps all
    assert abs(counts["en"] / 2000 - 0.25) < 0.05  # ~25% of evens survive
    # repartition-stable: same surviving ids regardless of layout
    a = {r["id"] for r in df.filter(keep).select("id").collect()}
    b = {r["id"] for r in df.repartition(13).filter(keep).select("id").collect()}
    assert a == b


def test_validate_spec_drops_stale_pieces(spark):
    """An imported spec referencing tables/columns absent from the live
    dataset degrades gracefully: each invalid piece is dropped with a
    warning, valid parts survive (reference query_export.py:184-351)."""
    from basic_data_fusion_spark.catalog import Catalog
    from basic_data_fusion_spark.plans.spec import validate_spec

    cat = Catalog(spark, "/root/testdata/sf0.001",
                  primary_id="c_custkey", hub_table="customer")
    spec = QuerySpec(
        tables=["orders", "ghost_table"],
        demographic=DemographicFilters(age_range=(9000.0, 100.0)),
        behavioral=[
            BehavioralFilter("orders", "o_orderstatus", "categorical", ["O"]),
            BehavioralFilter("orders", "no_such_col", "range", (0, 1)),
            BehavioralFilter("ghost_table", "x", "boolean", True),
        ],
        selected_columns={"orders": ["o_orderkey", "bogus"],
                          "ghost_table": ["x"]})
    clean, warnings = validate_spec(spec, cat)
    assert clean.tables == ["orders"]
    assert clean.demographic.age_range is None      # inverted range dropped
    assert [(f.table, f.column) for f in clean.behavioral] == \
        [("orders", "o_orderstatus")]
    assert clean.selected_columns == {"orders": ["o_orderkey"]}
    assert len(warnings) == 6
    # a fully valid spec passes through untouched, no warnings
    ok = QuerySpec(tables=["orders"],
                   demographic=DemographicFilters(age_range=(100.0, 9000.0)),
                   behavioral=[BehavioralFilter(
                       "orders", "o_orderstatus", "categorical", ["O"])],
                   selected_columns={"orders": ["o_orderkey"]})
    clean2, w2 = validate_spec(ok, cat)
    assert w2 == [] and clean2.tables == ["orders"]
    # the cleaned spec owns COPIES of every mutable member: mutating the
    # imported spec afterwards must not leak into the validated one
    ok.tables.append("lineitem")
    ok.demographic.substudies = ["mutated"]
    ok.behavioral[0].value.append("F")
    ok.selected_columns["orders"].append("o_totalprice")
    assert clean2.tables == ["orders"]
    assert clean2.demographic.substudies is None
    assert clean2.behavioral[0].value == ["O"]
    assert clean2.selected_columns == {"orders": ["o_orderkey"]}


def test_curation_spec_toml_roundtrip_and_validation():
    from basic_data_fusion_spark.plans.pipeline import (
        DEFAULT_CURATION_TOML,
        CurationSpec,
    )

    spec = CurationSpec.from_toml(DEFAULT_CURATION_TOML)
    assert [s.kind for s in spec.stages] == [
        "exact_dedup", "quality_filter", "lang_gate",
        "pii_token_count", "hash_split"]
    again = CurationSpec.from_toml(spec.to_toml())
    assert again == spec

    withlangs = CurationSpec.from_toml(
        '[[stage]]\nkind = "lang_gate"\nlangs = ["en", "de"]\n')
    assert withlangs.stages[0].langs == ["en", "de"]
    assert CurationSpec.from_toml(withlangs.to_toml()) == withlangs

    import pytest
    with pytest.raises(ValueError, match="unknown curation stage"):
        CurationSpec.from_toml('[[stage]]\nkind = "rm_rf"\n')
    with pytest.raises(ValueError, match="no .*stage"):
        CurationSpec.from_toml("")


def test_curation_pipeline_lang_whitelist(spark):
    from basic_data_fusion_spark.plans.pipeline import (
        CurationSpec,
        CurationStage,
        build_curation_pipeline,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spec = CurationSpec(stages=[CurationStage("lang_gate", langs=["en"])])
    out = build_curation_pipeline(docs, spec)
    assert out.columns == ["doc_id", "detected_lang"]
    langs = {r["detected_lang"] for r in out.collect()}
    assert langs == {"en"}


def test_half_up_long_matches_round(spark):
    """half_up_long must be bit-identical to ROUND(x, 0)→BIGINT (the form it
    replaced in every fixed-point quantization site) across signs, exact .5
    ties, tiny magnitudes and the large-but-in-contract range, and the
    shared-dialect fs() FLOOR/ABS/SIGN form must agree too."""
    import duckdb
    from pyspark.sql import functions as F

    from basic_data_fusion_spark.functions.scalars import half_up_long
    from basic_data_fusion_spark.operators.deterministic_sql import fs

    vals = [0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
            -0.49999999999999994, 1e-300, -1e-300, 123456.789, -123456.789,
            2.0**51 + 0.5, -(2.0**51 + 0.5), 7.105427357601002e-15,
            1.0000000000000002, -0.9999999999999999, 3141592653.5897932]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.select(F.round("x", 0).cast("bigint").alias("o"),
                    half_up_long(F.col("x")).alias("n")).collect()
    for v, r in zip(vals, got):
        assert r.o == r.n, (v, r.o, r.n)

    # fs() text: Spark and DuckDB both equal the old ROUND form per row.
    df.createOrReplaceTempView("__hul")
    new_agg = fs("x", 1.0)
    old_agg = "SUM(CAST(ROUND((x) * CAST(1.0 AS DOUBLE), 0) AS BIGINT)) / CAST(1.0 AS DOUBLE)"
    q = f"SELECT {old_agg} AS o, {new_agg} AS n FROM __hul"
    sp = spark.sql(q).collect()[0]
    assert sp.o == sp.n, (sp.o, sp.n)
    con = duckdb.connect()
    con.execute("CREATE TABLE __hul (x DOUBLE)")
    con.executemany("INSERT INTO __hul VALUES (?)", [(v,) for v in vals])
    do, dn = con.execute(q.replace("__hul", "main.__hul")).fetchone()
    assert do == dn == sp.n, (do, dn, sp.n)


# every column type a driver-built frame carries (report tables use
# string/long/double/int/boolean; CC labels take the id's integral type)
_LOCAL_FRAME_DDL = ("s string, b boolean, i int, l long, d double, "
                    "y byte, h short")


@pytest.mark.parametrize("rows", [
    [("a", True, 1, 2 ** 40, float("nan"), 1, 2),
     (None, None, None, None, None, None, None),
     ("c", False, -3, -5, float("inf"), -1, -2),
     ("", True, 0, 0, float("-inf"), 0, 0),
     ("e", False, 2 ** 31 - 1, -2 ** 63, -0.0, 127, -32768)],
    [],
], ids=["values", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    """``local_frame`` is value- and schema-identical to
    ``createDataFrame(list)`` (None stays null, NaN/±inf stay doubles),
    for a DDL string and a StructType alike, and plans as a JVM-only
    LocalRelation instead of a pickled-RDD scan."""
    import math

    from pyspark.sql.types import StructType

    from basic_data_fusion_spark.session import local_frame

    def canon(r):
        return tuple("NaN" if isinstance(x, float) and math.isnan(x)
                     else (x, math.copysign(1.0, x))
                     if isinstance(x, float) else x for x in r)

    want = spark.createDataFrame(rows, _LOCAL_FRAME_DDL)
    for schema in (_LOCAL_FRAME_DDL, StructType.fromDDL(_LOCAL_FRAME_DDL)):
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert [canon(r) for r in got.collect()] == \
               [canon(r) for r in want.collect()]
        leaf = got._jdf.queryExecution().optimizedPlan().toString()
        assert leaf.startswith("LocalRelation"), leaf


def test_no_create_dataframe_outside_local_frame():
    """Driver rows enter Spark only through ``session.local_frame``:
    ``createDataFrame(list)`` is a pickled-RDD scan that every
    consuming job pays for, so no other library call site may return."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / \
        "basic_data_fusion_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == pkg:
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def _code_files():
    """``(package dir, every .py file that may call into the package)``:
    the package, the contracts, ``perfbench/``, ``scripts/``,
    ``bench.py`` and the tests."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "basic_data_fusion_spark"
    return pkg, [*pkg.rglob("*.py"), root / "__spark_entry__.py",
                 root / "bench.py", *(root / "perfbench").rglob("*.py"),
                 *(root / "scripts").rglob("*.py"),
                 *(root / "tests").rglob("*.py")]


def _call_name(call) -> str | None:
    """The name a call site uses: ``f(...)`` and ``mod.f(...)`` both
    give ``f``."""
    import ast

    f = call.func
    return f.id if isinstance(f, ast.Name) else \
        f.attr if isinstance(f, ast.Attribute) else None


def test_no_unreferenced_public_definitions():
    """Every top-level public ``def``/``class``/assignment of the
    package, and every public method of a top-level class, is named in
    code somewhere — the package, the contracts, ``perfbench/``,
    ``scripts/``, ``bench.py`` or the tests.  A mention in a docstring or
    comment does not count, and neither does the assignment itself; a
    name held in a string constant (a registry key) does.  Dunders such
    as ``__version__`` start with an underscore and are exempt."""
    import ast

    pkg, files = _code_files()
    named = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name) and not isinstance(node.ctx,
                                                             ast.Store):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.alias):
                named.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                named.add(node.value)
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    unreferenced = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            methods = node.body if isinstance(node, ast.ClassDef) else []
            names = [d.name for d in [node, *methods] if isinstance(d, defs)]
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                names += [n.id for t in targets for n in ast.walk(t)
                          if isinstance(n, ast.Name)]
            unreferenced += [f"{path.relative_to(pkg)}:{name}"
                             for name in names
                             if not name.startswith("_")
                             and name not in named]
    assert unreferenced == []


def test_no_unflipped_switches():
    """Every ``True``/``False``-default parameter of a package ``def`` is
    passed, by keyword or by position, at some call site in the code
    files.  A switch no caller flips is a configuration nobody runs:
    make it the default and delete the branch it guards.  Calls match by
    name, as in :func:`test_no_unreferenced_public_definitions`; a
    ``*args`` call passes no position and a ``**kwargs`` call no
    keyword."""
    import ast

    pkg, files = _code_files()
    keywords, positions = set(), {}
    for path in files:
        for call in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            name = _call_name(call) if isinstance(call, ast.Call) else None
            if name is None:
                continue
            keywords |= {(name, k.arg) for k in call.keywords if k.arg}
            if not any(isinstance(a, ast.Starred) for a in call.args):
                positions[name] = max(positions.get(name, 0), len(call.args))
    unflipped = []
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos = fn.args.posonlyargs + fn.args.args
            bound = 1 if pos and pos[0].arg in ("self", "cls") else 0
            defaults = [*zip(pos[len(pos) - len(fn.args.defaults):],
                             fn.args.defaults),
                        *zip(fn.args.kwonlyargs, fn.args.kw_defaults)]
            for arg, default in defaults:
                if not (isinstance(default, ast.Constant)
                        and isinstance(default.value, bool)):
                    continue
                by_position = (arg in pos and positions.get(fn.name, 0)
                               > pos.index(arg) - bound)
                if not by_position and (fn.name, arg.arg) not in keywords:
                    unflipped.append(
                        f"{path.relative_to(pkg)}:{fn.name}.{arg.arg}")
    assert unflipped == []
