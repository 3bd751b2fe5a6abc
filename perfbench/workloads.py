"""The benchmark's workloads: seeded op sequences, the ops, and their checks.

Each workload is a closed loop of *steps* run by one client. A step is a
``lead`` op that every step runs, then one ``follow`` op (or phase
pair). The library receives only the generated specs and batches; each
op's output is checked against an independent computation (DuckDB over
the same parquet files, or plain Python) outside the timed span.

==============  =====================  ====================================
workload        lead op                follow op(s)
==============  =====================  ====================================
cohort_explore  ``count``              ``preview`` | ``export`` | ``impact``
                                       | ``summary`` | ``analysis``
                                       (seeded rotation, equal shares)
dedup_curation  ``gate`` + ``fuzzy``   ``cluster`` + ``write``
==============  =====================  ====================================
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from basic_data_fusion_spark.caching import cache_pinned
from basic_data_fusion_spark.catalog import Catalog
from basic_data_fusion_spark.operators import aggregations as agg
from basic_data_fusion_spark.operators import dedup, stats, text
from basic_data_fusion_spark.plans.builder import PlanBuilder
from basic_data_fusion_spark.plans.spec import (BehavioralFilter,
                                                DemographicFilters, QuerySpec)
from basic_data_fusion_spark.sources import sinks

from datagen import SEGMENTS, STATUSES

JOIN_MAP = {"orders": ("c_custkey", "o_custkey"),
            "nation": ("c_nationkey", "n_nationkey")}
SELECTED = {"orders": ["o_orderkey", "o_totalprice", "o_orderstatus"],
            "nation": ["n_name"]}
PREVIEW_ROWS = 50
STATS_COLS = ["c_acctbal", "o_totalprice"]
QUANTILES = [0.25, 0.5, 0.75]
REL_TOL = 1e-9


class CheckFailed(Exception):
    """An op's output disagrees with the independent computation."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float, tol: float = REL_TOL) -> bool:
    return math.isfinite(a) and abs(a - b) <= tol * max(1.0, abs(a), abs(b))


@dataclass
class Bench:
    """What every workload shares: session, tracer, inputs, scratch space."""

    spark: object
    tracer: object
    data: dict  # table name -> parquet path
    work_dir: str
    duck: object  # duckdb connection with one view per input table
    seed: int = 0
    next_op_id: int = 0
    bytes_written: int = 0
    writes: int = 0

    def run_op(self, name: str, role: str, build, execute, plan: bool = True):
        """Time one op: the library call (build), Catalyst planning of the
        DataFrame it returned (plan), then the action (exec)."""
        self.next_op_id += 1
        tr = self.tracer
        with tr.op(self.next_op_id, name, role) as rec:
            with tr.phase("build"):
                built = build()
            if plan:
                with tr.phase("plan"):
                    for df in (built if isinstance(built, tuple) else (built,)):
                        if isinstance(df, DataFrame):
                            df._jdf.queryExecution().executedPlan()
            with tr.phase("exec"):
                result = execute(built)
        return rec, result

    def out_path(self, tag: str) -> str:
        return os.path.join(self.work_dir, "out", f"{tag}-{self.next_op_id}")

    def record_write(self, path: str) -> list[str]:
        files = [os.path.join(path, f) for f in os.listdir(path)
                 if not f.startswith((".", "_"))]
        self.bytes_written += sum(os.path.getsize(f) for f in files)
        self.writes += 1
        return files


def rotation(rng: np.random.Generator, kinds: tuple[str, ...]):
    """Endless seeded rotation with equal shares: each block of
    ``len(kinds)`` steps holds every kind once, in a seeded order."""
    while True:
        for i in rng.permutation(len(kinds)):
            yield kinds[int(i)]


# ---------------------------------------------------------------------------
# the cohort star: specs, the library's plans, the DuckDB oracle
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Cohort:
    """One analyst's filter state over customer ⟕ orders ⟕ nation."""

    acctbal: tuple[float, float]
    segments: tuple[str, ...]
    statuses: tuple[str, ...]
    price: tuple[float, float] | None

    @classmethod
    def draw(cls, rng: np.random.Generator) -> "Cohort":
        lo = round(float(rng.uniform(-1000.0, 6000.0)), 2)
        hi = round(min(9999.99, lo + float(rng.uniform(2000.0, 6000.0))), 2)
        segs = tuple(sorted(rng.choice(SEGMENTS, int(rng.integers(2, 5)),
                                       replace=False).tolist()))
        # every spec filters the orders spoke, so every count runs the same
        # semi-join plan shape and count latency is one mode, not two
        statuses = tuple(sorted(rng.choice(STATUSES, int(rng.integers(1, 3)),
                                           replace=False).tolist()))
        price = None
        if rng.random() < 0.5:
            plo = round(float(rng.uniform(1000.0, 300_000.0)), 2)
            price = (plo, round(plo + float(rng.uniform(100_000.0, 200_000.0)), 2))
        return cls((lo, hi), segs, statuses, price)

    def query_spec(self) -> QuerySpec:
        bfs = [BehavioralFilter("customer", "c_mktsegment", "categorical",
                                list(self.segments)),
               BehavioralFilter("orders", "o_orderstatus", "categorical",
                                list(self.statuses))]
        if self.price:
            bfs.append(BehavioralFilter("orders", "o_totalprice", "range",
                                        self.price))
        return QuerySpec(tables=["orders", "nation"],
                         demographic=DemographicFilters(age_range=self.acctbal),
                         behavioral=bfs, selected_columns=SELECTED)

    # steps of the filter-impact report, in the reference's fixed order
    def impact_steps(self):
        steps = [("acctbal", F.col("demo.c_acctbal").between(*self.acctbal)),
                 ("segment", F.col("demo.c_mktsegment").isin(list(self.segments))),
                 ("status", F.col("orders.o_orderstatus").isin(list(self.statuses)))]
        if self.price:
            steps.append(("price", F.col("orders.o_totalprice").between(*self.price)))
        return steps

    def sql_preds(self) -> list[str]:
        def inlist(xs):
            return ", ".join(f"'{x}'" for x in xs)
        preds = [f"demo.c_acctbal BETWEEN {self.acctbal[0]!r} AND {self.acctbal[1]!r}",
                 f"demo.c_mktsegment IN ({inlist(self.segments)})",
                 f"orders.o_orderstatus IN ({inlist(self.statuses)})"]
        if self.price:
            preds.append(f"orders.o_totalprice BETWEEN {self.price[0]!r} "
                         f"AND {self.price[1]!r}")
        return preds

    def holds(self, row) -> bool:
        ok = (self.acctbal[0] <= row["c_acctbal"] <= self.acctbal[1]
              and row["c_mktsegment"] in self.segments
              and row["o_orderstatus"] in self.statuses)
        if self.price:
            ok = ok and row["o_totalprice"] is not None \
                and self.price[0] <= row["o_totalprice"] <= self.price[1]
        return ok


MERGED_FROM = ("FROM customer demo "
               "LEFT JOIN orders ON demo.c_custkey = orders.o_custkey "
               "LEFT JOIN nation ON demo.c_nationkey = nation.n_nationkey")


class Oracle:
    """DuckDB answers for a cohort over the same parquet files."""

    def __init__(self, duck):
        self.duck = duck

    def _where(self, c: Cohort, select: str) -> tuple:
        return self.duck.execute(
            f"SELECT {select} {MERGED_FROM} WHERE {' AND '.join(c.sql_preds())}"
        ).fetchone()

    def merged(self, c: Cohort) -> dict:
        n, nd, na, np_ = self._where(
            c, "count(*), count(DISTINCT demo.c_custkey), "
               "count(demo.c_acctbal), count(orders.o_totalprice)")
        return {"rows": n, "distinct": nd, "c_acctbal": na, "o_totalprice": np_}

    def impact(self, c: Cohort) -> list[int]:
        preds = c.sql_preds()
        cols = ["count(DISTINCT demo.c_custkey)"] + [
            f"count(DISTINCT CASE WHEN {' AND '.join(preds[:i])} "
            f"THEN demo.c_custkey END)" for i in range(1, len(preds) + 1)]
        return list(self.duck.execute(
            f"SELECT {', '.join(cols)} {MERGED_FROM}").fetchone())

    def quantiles(self, c: Cohort, col: str) -> list[float]:
        return list(self._where(c, ", ".join(
            f"quantile_cont({col}, {p})" for p in QUANTILES)))

    def scalar(self, c: Cohort, expr: str):
        return self._where(c, expr)[0]

    def group_counts(self, c: Cohort, group: str, col: str) -> dict:
        rows = self.duck.execute(
            f"SELECT {group}, count({col}) {MERGED_FROM} "
            f"WHERE {' AND '.join(c.sql_preds())} GROUP BY 1").fetchall()
        return dict(rows)


def star_catalog(spark, data: dict) -> Catalog:
    cat = Catalog(spark, os.path.dirname(data["customer"]),
                  primary_id="c_custkey", hub_table="customer")
    cat.info("nation").is_dimension = True
    for t in ("customer", "orders", "nation"):
        cat.info(t)
    cat.merge_keys()
    return cat


def builder(cat: Catalog, c: Cohort) -> PlanBuilder:
    return PlanBuilder(cat, c.query_spec(), age_column="c_acctbal",
                       join_map=JOIN_MAP)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class CohortExplore:
    """One analyst on the star: every step runs the live count for a new
    filter state, then opens one page on the merged cohort, in a seeded
    rotation with equal shares: a 50-row preview, a CSV export, the
    filter-impact report, the numeric summary (exact quartiles), or the
    statistics page."""

    name = "cohort_explore"
    FOLLOW = ("preview", "export", "impact", "summary", "analysis")
    OPS = ("count",) + FOLLOW
    BLOCK = len(FOLLOW)  # steps per rotation block
    WARMUP = BLOCK  # every page once: codegen and Python workers settle
    STEP_S = 2.4  # nominal seconds per step on a 4-vCPU VM, local[2]

    def __init__(self, bench: Bench):
        self.b = bench
        self.cat = None
        self.oracle = Oracle(bench.duck)

    def setup(self) -> None:
        with self.b.tracer.region("catalog.open"):
            self.cat = star_catalog(self.b.spark, self.b.data)

    def steps(self, rng: np.random.Generator):
        follow = rotation(rng, self.FOLLOW)
        while True:
            yield Cohort.draw(rng), next(follow)

    def run_step(self, step) -> list:
        c, kind = step
        b = self.b
        rec, n = b.run_op("count", "lead",
                          lambda: builder(self.cat, c).count_distinct_df(),
                          lambda df: df.collect()[0][0])
        merged = self.oracle.merged(c)
        require(n == merged["distinct"], f"count {n} != {merged['distinct']}")
        return [rec, getattr(self, f"_{kind}")(c, merged)]

    def _preview(self, c: Cohort, merged: dict):
        rec, rows = self.b.run_op(
            "preview", "follow",
            lambda: builder(self.cat, c).preview(PREVIEW_ROWS),
            lambda df: df.collect())
        require(len(rows) == min(PREVIEW_ROWS, merged["rows"]),
                f"preview has {len(rows)} rows")
        require(all(c.holds(r) for r in rows), "preview row outside spec")
        return rec

    def _export(self, c: Cohort, merged: dict):
        path = self.b.out_path("export")
        rec, _ = self.b.run_op(
            "export", "follow", lambda: builder(self.cat, c).dataframe(),
            lambda df: sinks.write_csv(df, path), plan=False)
        lines = 0
        for f in self.b.record_write(path):
            with open(f) as fh:
                lines += max(0, sum(1 for _ in fh) - 1)  # minus the header
        shutil.rmtree(path)
        require(lines == merged["rows"], f"export {lines} != {merged['rows']}")
        return rec

    def _impact(self, c: Cohort, merged: dict):
        rec, report = self.b.run_op(
            "impact", "follow",
            lambda: agg.filter_impact_report(builder(self.cat, c).joined(),
                                             "c_custkey", c.impact_steps()),
            lambda df: df.collect())
        got = [r["n_remaining"] for r in report]
        want = self.oracle.impact(c)
        require(got == want, f"impact {got} != {want}")
        return rec

    def _summary(self, c: Cohort, merged: dict):
        def build():
            df = builder(self.cat, c).dataframe()
            return (agg.numeric_summary(df, STATS_COLS),
                    agg.exact_quantiles(df, STATS_COLS, QUANTILES))

        rec, (summary, quarts) = self.b.run_op(
            "summary", "follow", build,
            lambda dfs: tuple(df.collect() for df in dfs))
        for row in summary:
            require(row["n_non_null"] == merged[row["column"]],
                    f"summary n of {row['column']}")
            require(all(math.isfinite(row[k]) for k in ("mean", "median", "std")),
                    "summary not finite")
        for col in STATS_COLS:
            got = [r["value"] for r in quarts if r["column"] == col]
            want = self.oracle.quantiles(c, col)
            require(len(got) == len(want)
                    and all(close(g, w) for g, w in zip(got, want)),
                    f"quartiles of {col}: {got} != {want}")
        return rec

    def _analysis(self, c: Cohort, merged: dict):
        """The statistics page: correlation matrix, OLS fit, one-way ANOVA,
        normality tests, and per-segment normality (Python workers)."""
        def build():
            df = builder(self.cat, c).dataframe()
            return (stats.correlation_matrix(df, STATS_COLS + ["c_nationkey"]),
                    stats.grouped_normality(df, "c_mktsegment", "o_totalprice"),
                    stats.linear_regression(df, "c_acctbal", "o_totalprice"),
                    stats.one_way_anova(df, "c_mktsegment", "o_totalprice"),
                    stats.normality_tests(df, "o_totalprice"))

        rec, (corr, groups, reg, anova, norm) = self.b.run_op(
            "analysis", "follow", build,
            lambda r: (r[0].collect(), r[1].collect()) + r[2:])
        n = merged["o_totalprice"]
        got = {(r["col_a"], r["col_b"]): r["corr"] for r in corr}
        require(len(got) == 3 and all(math.isfinite(v) and -1 <= v <= 1
                                      for v in got.values()), "corr out of range")
        want = self.oracle.scalar(c, "corr(c_acctbal, o_totalprice)")
        require(close(got[("c_acctbal", "o_totalprice")], want, 1e-6),
                "corr != DuckDB")
        want = self.oracle.group_counts(c, "c_mktsegment", "o_totalprice")
        require({r["c_mktsegment"]: r["n"] for r in groups}
                == {k: min(v, 5000) for k, v in want.items()}, "grouped normality n")
        require(all(math.isfinite(r["k2_stat"]) for r in groups if r["n"] >= 8),
                "grouped K2 not finite")
        want = self.oracle.scalar(c, "regr_slope(o_totalprice, c_acctbal)")
        require(reg.n == n and close(reg.slope, want, 1e-6), "regression != DuckDB")
        require(anova["df_total"] + 1 == n and math.isfinite(anova["f_statistic"]),
                "anova")
        require(0 < norm["n"] <= min(n, 5000)
                and math.isfinite(norm["dagostino"]["statistic"]), "normality")
        return rec


class DedupCuration:
    """Incremental curation: each step is one arriving batch screened
    against a pinned MinHash index of the standing corpus, clustered
    within itself and written out."""

    name = "dedup_curation"
    OPS = ("gate", "fuzzy", "cluster", "write")
    BLOCK = 1
    WARMUP = 2  # the first batch runs cold; the second is still 20% slow
    STEP_S = 6.0  # nominal seconds per batch on a 4-vCPU VM, local[2]
    BATCH = 250
    THRESHOLD = 0.7
    CORPUS_SHARE = 5  # one doc in this many arrives later; the rest is corpus

    def __init__(self, bench: Bench):
        self.b = bench
        self.sig = self.shingles = self.corpus = self.docs = None
        self.arrivals: list[int] = []
        self.texts: dict[int, str] = {}

    def setup(self) -> None:
        b = self.b
        with b.tracer.region("catalog.open"):
            cat = Catalog(b.spark, os.path.dirname(b.data["documents"]))
            self.docs = cat.load("documents")
        ids, texts = b.duck.execute(
            "SELECT list(doc_id ORDER BY doc_id), list(text ORDER BY doc_id) "
            "FROM documents").fetchone()
        self.texts = dict(zip(ids, texts))
        salt = F.lit(b.seed)
        arriving = (F.xxhash64("doc_id", salt) % self.CORPUS_SHARE) == 0
        self.corpus = self.docs.where(~arriving)
        self.arrivals = sorted(r[0] for r in
                               self.docs.where(arriving).select("doc_id").collect())
        with b.tracer.region("dedup.index"):
            self.sig = cache_pinned(dedup.minhash_signatures(
                self.corpus, hash_fn="md5"))
            self.shingles = cache_pinned(self.corpus.select(
                "doc_id", dedup.word_shingles(F.col("text")).alias("shingles")))
            self.sig.count()
            self.shingles.count()
        self.corpus_ids = set(self.texts) - set(self.arrivals)

    def steps(self, rng: np.random.Generator):
        pool = np.array(self.arrivals)
        while True:
            yield sorted(rng.choice(pool, min(self.BATCH, len(pool)),
                                    replace=False).tolist())

    def run_step(self, batch_ids) -> list:
        b, t = self.b, self.THRESHOLD
        batch = self.docs.where(F.col("doc_id").isin(batch_ids))
        rec_gate, gated = b.run_op(
            "gate", "lead",
            lambda: text.quality_score(dedup.exact_dedup(batch))
            .where("keep")
            .select("doc_id", "text",
                    text.detect_language(F.col("text")).alias("lang_detected")),
            lambda df: df.localCheckpoint())
        rec_fuzzy, links = b.run_op(
            "fuzzy", "lead",
            lambda: dedup.incremental_minhash_dedup(
                self.corpus, gated, threshold=t, deterministic=True,
                existing_sig=self.sig, existing_shingles=self.shingles),
            lambda df: df.collect())
        rec_cluster, labels = b.run_op(
            "cluster", "follow",
            lambda: dedup.dedup_clusters(
                gated, dedup.minhash_dedup_pairs(gated, threshold=t,
                                                 deterministic=True)),
            lambda df: df.collect())
        linked = sorted({r["new_id"] for r in links})
        label_df = b.spark.createDataFrame(
            [(r["doc_id"], r["cluster_id"]) for r in labels],
            "doc_id long, cluster_id long")
        path = b.out_path("write")
        rec_write, _ = b.run_op(
            "write", "follow",
            lambda: gated.join(label_df, "doc_id")
            .withColumn("near_dup_of_corpus", F.col("doc_id").isin(linked)),
            lambda df: df.write.mode("overwrite").parquet(path), plan=False)

        gated_ids = [r[0] for r in gated.select("doc_id").collect()]
        self._check_links(links, set(gated_ids))
        self._check_clusters(labels, gated_ids)
        b.record_write(path)
        written = b.duck.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
        shutil.rmtree(path)
        require(written == len(gated_ids), f"wrote {written} of {len(gated_ids)}")
        return [rec_gate, rec_fuzzy, rec_cluster, rec_write]

    def _shingles(self, doc_id: int) -> set[str]:
        toks = self.texts[doc_id].strip().lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}

    def _jaccard(self, a: int, b: int) -> float:
        sa, sb = self._shingles(a), self._shingles(b)
        return len(sa & sb) / len(sa | sb)

    def _check_links(self, links, gated: set[int]) -> None:
        for r in links:
            require(r["new_id"] in gated and r["existing_id"] in self.corpus_ids,
                    "link endpoint outside batch/corpus")
            j = self._jaccard(r["new_id"], r["existing_id"])
            require(j >= self.THRESHOLD and close(r["jaccard"], j),
                    f"link jaccard {r['jaccard']} vs {j}")

    def _check_clusters(self, labels, gated_ids: list[int]) -> None:
        got = {}
        for r in labels:
            require(r["doc_id"] not in got, f"doc {r['doc_id']} labelled twice")
            got[r["doc_id"]] = r["cluster_id"]
        require(sorted(got) == sorted(gated_ids), "labels do not cover the batch")
        # every cluster must lie inside one component of the exact
        # Jaccard >= threshold graph: a label never merges non-duplicates
        parent = {d: d for d in gated_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        ids = sorted(gated_ids)
        sets = {d: self._shingles(d) for d in ids}
        for i, a in enumerate(ids):
            for bb in ids[i + 1:]:
                inter = len(sets[a] & sets[bb])
                if inter and inter / len(sets[a] | sets[bb]) >= self.THRESHOLD:
                    parent[find(bb)] = find(a)
        members: dict[int, list[int]] = {}
        for d, cid in got.items():
            members.setdefault(cid, []).append(d)
        for cid, ms in members.items():
            require(cid == min(ms), f"cluster id {cid} is not its min member")
            require(len({find(m) for m in ms}) == 1, f"cluster {cid} merges non-dups")


WORKLOADS = {w.name: w for w in (CohortExplore, DedupCuration)}
ALL_OPS = tuple(op for w in WORKLOADS.values() for op in w.OPS)
