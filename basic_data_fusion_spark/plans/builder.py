"""PlanBuilder — spec → lazy DataFrame plan.

The Spark-native analogue of the reference's secure SQL generator
(reference: query/query_secure.py:20-325 — ``FROM demo LEFT JOIN t ON
demo.k = t.k ... WHERE ...`` plus COUNT(DISTINCT demo.k) / SELECT wrappers).
Instead of emitting SQL strings we compose a lazy logical plan and let
Catalyst do predicate pushdown, column pruning, join reordering and
broadcast selection.

Scale design (100 TB notes):
- **Merged-data path** keeps the reference's hub→spoke LEFT joins (J1) but
  hints ``broadcast()`` for catalog-flagged dimension tables, so only the
  hub-sized sides shuffle.
- **Count path** (A1) rewrites ``LEFT JOIN + null-rejecting WHERE`` into
  per-spoke LEFT SEMI joins on pre-filtered spokes: identical distinct-key
  semantics (every predicate the spec can express — BETWEEN/IN/= — is
  null-rejecting), but no row fan-out and no wide shuffle. The spoke side
  is not deduplicated: a semi join emits each hub row at most once
  however many spoke rows match, so a spoke-key dedup would only add an
  aggregate and an exchange. Unfiltered spoke tables cannot change the
  count and are skipped entirely (join-set minimization, reference:
  query/callbacks/export.py:75-87).
- **The merged row-set is pinned** (reference: the EP2 merge runs once
  into ``merged-dataframe-store`` and the report pages reuse it).
  :meth:`PlanBuilder.dataframe` registers the joined, filtered,
  projected relation with :func:`caching.cache_pinned`; it stays lazy,
  the first action fills the cache and every later action reads the
  in-memory scan. A report page runs several aggregates on one cohort,
  and without the pin each re-ran the hub scan, the broadcast jobs of
  the filtered hub and the dimension spokes, the spoke scan and the
  join — and recompiled its generated code, because Spark writes the
  filter's double literals into it. A consumer that makes one pass pays
  for building the cache; the cohort is freed by ``release_cached``.
  ``preview`` and ``count_distinct_df`` read no pinned data.
- Nothing is collected; callers choose the action.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import cache_pinned
from ..catalog import Catalog
from ..functions.scalars import coerce_bool_value, site_whole_word_match
from .spec import BehavioralFilter, QuerySpec

HUB_ALIAS = "demo"  # reference: query/query_secure.py:46-47


class PlanBuilder:
    def __init__(self, catalog: Catalog, spec: QuerySpec,
                 age_column: str = "age", site_column: str = "all_studies",
                 join_map: dict[str, tuple[str, str]] | None = None):
        """``join_map``: spoke table → (hub_key, spoke_key); defaults to the
        detected merge column on both sides (the reference's only join shape,
        query/query_secure.py:87)."""
        self.catalog = catalog
        self.spec = spec
        self.age_column = age_column
        self.site_column = site_column
        self.join_map = join_map or {}
        self.mk = catalog.merge_keys()

    # ---------------- join-set resolution (J3) ----------------
    def join_tables(self) -> list[str]:
        hub = self.catalog.hub_table
        seen, out = set(), []
        for t in list(self.spec.tables) + [bf.table for bf in self.spec.behavioral]:
            if t != hub and t not in seen and self.catalog.has_table(t):
                seen.add(t)
                out.append(t)
        return out

    def _join_keys(self, table: str) -> tuple[str, str]:
        if table in self.join_map:
            return self.join_map[table]
        k = self.mk.merge_column()
        return (k, k)

    # ---------------- predicates (P2-P8) ----------------
    def hub_predicates(self) -> list[Column]:
        preds: list[Column] = []
        d = self.spec.demographic
        # fixed reference build order: substudy → session → age
        # (query/query_secure.py:97-100); order is semantic-neutral for
        # Catalyst but kept for report-step parity.
        if d.substudies:
            preds.append(site_whole_word_match(F.col(f"{HUB_ALIAS}.{self.site_column}"), d.substudies))
        if d.sessions and self.mk.is_longitudinal:
            preds.append(F.col(f"{HUB_ALIAS}.{self.mk.session_id}").isin(list(d.sessions)))
        if d.age_range is not None:
            lo, hi = d.age_range
            preds.append(F.col(f"{HUB_ALIAS}.{self.age_column}").between(lo, hi))
        return preds

    def behavioral_predicate(self, bf: BehavioralFilter, alias: str | None = None) -> Column:
        ref = F.col(f"{alias}.{bf.column}") if alias else F.col(bf.column)
        if bf.filter_type == "range":
            lo, hi = bf.value
            return ref.between(lo, hi)
        if bf.filter_type == "categorical":
            return ref.isin(list(bf.value))
        # boolean: equality with coerced value (reference:
        # query/query_secure.py:158-172 dodges DuckDB bool casts; Spark needs
        # only the value coercion).
        return ref == F.lit(coerce_bool_value(bf.value))

    # ---------------- merged-data plan (J1 + P1) ----------------
    def joined(self) -> DataFrame:
        """Hub LEFT JOIN every spoke, aliased, unprojected."""
        hub = self.catalog.load(self.catalog.hub_table).alias(HUB_ALIAS)
        out = hub
        for t in self.join_tables():
            hk, sk = self._join_keys(t)
            spoke = self.catalog.load(t)
            if self.catalog.info(t).is_dimension:
                spoke = F.broadcast(spoke)
            out = out.join(spoke.alias(t),
                           F.col(f"{HUB_ALIAS}.{hk}") == F.col(f"{t}.{sk}"), "left")
        return out

    def _bf_alias(self, bf: BehavioralFilter) -> str:
        return HUB_ALIAS if bf.table == self.catalog.hub_table else bf.table

    def filtered(self) -> DataFrame:
        df = self.joined()
        preds = self.hub_predicates()
        preds += [self.behavioral_predicate(bf, alias=self._bf_alias(bf)) for bf in self.spec.behavioral]
        if preds:
            df = df.filter(reduce(and_, preds))
        return df

    def projection(self) -> list[Column]:
        """Merge key first, all hub columns (IDs excluded from auto-include),
        then explicit per-table columns, de-duplicated by output name
        (reference: query/query_secure.py:194-286)."""
        mk = self.mk
        id_cols = {mk.primary_id, mk.session_id, mk.composite_id} - {None}
        taken: set[str] = set()
        cols: list[Column] = []

        def add(alias: str, name: str):
            if name not in taken:
                taken.add(name)
                cols.append(F.col(f"{alias}.{name}").alias(name))

        add(HUB_ALIAS, mk.merge_column())
        if mk.is_longitudinal and mk.session_id:
            add(HUB_ALIAS, mk.session_id)
        hub_info = self.catalog.info(self.catalog.hub_table)
        for c in hub_info.columns:
            if c not in id_cols:
                add(HUB_ALIAS, c)
        for c in self.spec.selected_columns.get(self.catalog.hub_table, []):
            add(HUB_ALIAS, c)
        for t in self.join_tables():
            for c in self.spec.selected_columns.get(t, []):
                add(t, c)
        return cols

    def _merged(self) -> DataFrame:
        return self.filtered().select(*self.projection())

    def dataframe(self) -> DataFrame:
        """The flagship merged row-set (reference EP2), pinned on first use.

        The relation is registered with ``caching.cache_pinned`` and is
        still lazy: the first action fills the cache, later actions read
        ``InMemoryTableScan`` — no second hub or spoke scan, no broadcast
        job, and generated code that holds none of the filter's literals.
        The cache keeps the lineage, so evicted or lost blocks are
        recomputed. A single-pass consumer (one write, one collect) pays
        for building the cache; ``caching.release_cached()`` unpersists
        the cohort. Two calls with one spec share one cache entry (Spark
        matches the plans)."""
        return cache_pinned(self._merged())

    # ---------------- count plan (A1), semi-join rewrite ----------------
    def count_distinct_df(self) -> DataFrame:
        """One-row DataFrame ``n_participants`` = COUNT(DISTINCT merge key)
        under all filters. Semi-join rewrite: no fan-out, no wide columns —
        the plan that survives 100 TB."""
        mk_col = self.mk.merge_column()
        hub = self.catalog.load(self.catalog.hub_table).alias(HUB_ALIAS)
        preds = self.hub_predicates()
        if preds:
            hub = hub.filter(reduce(and_, preds))
        hub_bfs = [bf for bf in self.spec.behavioral if bf.table == self.catalog.hub_table]
        if hub_bfs:
            hub = hub.filter(reduce(and_, [self.behavioral_predicate(bf, alias=HUB_ALIAS)
                                           for bf in hub_bfs]))
        by_table: dict[str, list[BehavioralFilter]] = {}
        for bf in self.spec.behavioral:
            if bf.table != self.catalog.hub_table:
                by_table.setdefault(bf.table, []).append(bf)
        for t, bfs in by_table.items():
            hk, sk = self._join_keys(t)
            spoke = self.catalog.load(t)
            spoke = spoke.filter(reduce(and_, [self.behavioral_predicate(bf) for bf in bfs]))
            spoke = spoke.select(sk)
            if self.catalog.info(t).is_dimension:
                spoke = F.broadcast(spoke)
            hub = hub.join(spoke, F.col(f"{HUB_ALIAS}.{hk}") == spoke[sk], "left_semi")
        return hub.agg(F.countDistinct(F.col(f"{HUB_ALIAS}.{mk_col}")).alias("n_participants"))

    def count_distinct(self) -> int:
        return self.count_distinct_df().first()["n_participants"]

    def preview(self, n: int = 50) -> DataFrame:
        """Bounded preview (reference: core/config.py:80 max_display_rows).
        Not pinned: LIMIT stops the scan early, where a cache fills whole
        partitions. When this spec's cohort is already pinned, Spark's
        cache manager substitutes the cache anyway."""
        return self._merged().limit(n)
