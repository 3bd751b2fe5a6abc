"""Catalog: table registry + metadata scans.

Replaces the reference's per-file pandas metadata layer
(reference: data_handling/metadata.py:32-178, 224-304 — chunked CSV scans,
100-row dtype samples, FIFO cache) with a Spark-native catalog:

- one directory scan registers every table (S1),
- schemas come from the Parquet footer / one CSV inference pass (S2/S3).

Merge-structure detection (reference: data_handling/merge_strategy.py:24-115)
is generalized: a dataset is *longitudinal* when the hub table carries the
session column, in which case the join key is a derived composite id
(``primary_id + '_' + session_id``); otherwise it is cross-sectional and the
join key is the primary id. The composite id is derived lazily at load time
(never rewriting source files, unlike merge_strategy.py:137-192).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import with_composite_id

NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def _timestamp_ns_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (unsupported by Spark).
    A directory of part files is read as a pyarrow dataset; a single
    file reads its footer directly, because importing
    ``pyarrow.dataset`` costs ~0.3 s per process."""
    if os.path.isdir(path):
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    else:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


def is_numeric_dtype(dtype: str) -> bool:
    d = dtype.lower()
    return any(d.startswith(t) for t in NUMERIC_TYPES)


def normalize_timestamps(df: DataFrame, ns_cols: list[str] | None = None) -> DataFrame:
    """Canonicalize timestamp encodings to TimestampType (µs, UTC session tz).

    Parquet writers vary: TIMESTAMP(NANOS) surfaces as an epoch-ns long
    (under ``spark.sql.legacy.parquet.nanosAsLong``), and
    TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ. Every
    downstream op (``unix_micros``, ``window``, ``withWatermark``) expects
    one timestamp type, so the Catalog funnels all loads through here.
    The session tz is pinned UTC, so the NTZ cast preserves the wall clock
    and matches DuckDB's epoch.
    """
    for c in (ns_cols or []):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


@dataclass
class MergeKeys:
    """Key-selection outcome (reference: merge_strategy.py:24-44)."""

    primary_id: str
    session_id: str | None = None
    composite_id: str | None = None
    is_longitudinal: bool = False

    def merge_column(self) -> str:
        return self.composite_id if (self.is_longitudinal and self.composite_id) else self.primary_id


@dataclass
class TableInfo:
    name: str
    path: str
    columns: list[str]
    dtypes: dict[str, str]
    is_dimension: bool = False  # small table → broadcast-join candidate


class Catalog:
    """Registry of named tables over a data directory (parquet or csv).

    All DataFrames are lazy; metadata scans run on demand and memoize.
    At 100 TB the registry maps to external-catalog tables; nothing here
    assumes data fits anywhere.
    """

    def __init__(self, spark: SparkSession, data_dir: str, fmt: str | None = None,
                 primary_id: str = "ursi", session_id: str = "session_num",
                 composite_id: str = "customID", hub_table: str = "demographics"):
        self.spark = spark
        self.data_dir = data_dir
        self.primary_id = primary_id
        self.session_id = session_id
        self.composite_id = composite_id
        self.hub_table = hub_table
        self._fmt = fmt
        self._tables: dict[str, str] = {}  # name -> path
        self._df_cache: dict[str, DataFrame] = {}
        self._info_cache: dict[str, TableInfo] = {}
        self._merge_keys: MergeKeys | None = None
        self._scan_dir()

    # ---------------- directory scan (S1) ----------------
    def _scan_dir(self) -> None:
        if not os.path.isdir(self.data_dir):
            return
        for fn in sorted(os.listdir(self.data_dir)):
            base, ext = os.path.splitext(fn)
            if (ext.lower() in (".parquet", ".csv", ".orc", ".json", ".jsonl")
                    and (self._fmt is None or ext[1:] == self._fmt)):
                self._tables[base] = os.path.join(self.data_dir, fn)

    @property
    def tables(self) -> list[str]:
        return sorted(self._tables)

    def has_table(self, name: str) -> bool:
        return name in self._tables

    # ---------------- load (S2) ----------------
    def load(self, name: str, derive_composite: bool = True) -> DataFrame:
        """Lazy DataFrame for a table; composite id derived on the fly when
        the dataset is longitudinal and the table has both key parts."""
        if name not in self._tables:
            raise KeyError(f"unknown table {name!r}; known: {self.tables}")
        if name not in self._df_cache:
            path = self._tables[name]
            # dispatch on the LOWERED extension — discovery accepts any
            # case (_scan_dir), so load must too or CUSTOMER.ORC would
            # fall through to the parquet reader
            ext = os.path.splitext(path)[1].lower()
            if ext == ".csv":
                df = self.spark.read.option("header", True).option("inferSchema", True).csv(path)
            elif ext == ".orc":
                # ORC is Spark-native columnar (predicate pushdown and
                # column pruning work like parquet); no nanos quirk
                df = self.spark.read.orc(path)
            elif ext in (".json", ".jsonl"):
                # JSON Lines: schema inference costs one extra scan and
                # row-oriented text has no predicate pushdown — fine for
                # landing-zone ingest, but at the 100 TB tier pass an
                # explicit schema and convert to parquet/ORC first (the
                # engine's sinks do exactly that)
                df = self.spark.read.json(path)
            else:
                ns_cols = _timestamp_ns_columns(path)
                if ns_cols:
                    # Spark has no nanosecond timestamps: read NANOS columns
                    # as epoch-ns longs (legacy conf) and truncate to a
                    # microsecond TimestampType column.
                    self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = normalize_timestamps(self.spark.read.parquet(path), ns_cols)
            self._df_cache[name] = df
        df = self._df_cache[name]
        if derive_composite:
            mk = self.merge_keys()
            if (mk.is_longitudinal and mk.composite_id not in df.columns
                    and mk.primary_id in df.columns and mk.session_id in df.columns):
                df = with_composite_id(df, mk.primary_id, mk.session_id, mk.composite_id)
        return df

    # ---------------- schema probe (S3) ----------------
    def info(self, name: str) -> TableInfo:
        ti = self._info_cache.get(name)
        if ti is None:
            df = self.load(name, derive_composite=False)
            ti = TableInfo(
                name=name, path=self._tables[name],
                columns=list(df.columns),
                dtypes=dict(df.dtypes),
            )
            self._info_cache[name] = ti
        return ti

    # ---------------- merge-structure detection ----------------
    def merge_keys(self) -> MergeKeys:
        """Cross-sectional vs longitudinal (reference: merge_strategy.py:79-115):
        longitudinal iff the hub table has the session column."""
        if self._merge_keys is not None:
            return self._merge_keys
        if self.hub_table in self._tables:
            hub_cols = set(self.info(self.hub_table).columns)
            is_long = self.session_id in hub_cols
            pid = self.primary_id if self.primary_id in hub_cols else self._fallback_id(hub_cols)
        else:
            is_long, pid = False, self.primary_id
        self._merge_keys = MergeKeys(
            primary_id=pid, session_id=self.session_id if is_long else None,
            composite_id=self.composite_id if is_long else None,
            is_longitudinal=is_long,
        )
        return self._merge_keys

    def _fallback_id(self, cols: set[str]) -> str:
        """Fallback id detection (reference: merge_strategy.py:96-110 tries
        common id-like names before giving up)."""
        for cand in (self.primary_id, "subject_id", "participant_id", "id"):
            if cand in cols:
                return cand
        lowered = {c.lower(): c for c in cols}
        for cand in ("ursi", "subject_id", "participant_id", "id"):
            if cand in lowered:
                return lowered[cand]
        raise ValueError(f"no id column found in hub table; columns={sorted(cols)}")

    # ---------------- SQL surface ----------------
    def register_views(self, prefix: str = "") -> list[str]:
        """Register every catalog table as a session temp view (name =
        sanitized table name, optionally prefixed) and return the view
        names. This is the Spark-native equivalent of the reference's
        generated-SQL execution surface (query/query_secure.py:70:
        ``FROM read_csv_auto(?) AS demo``): instead of interpolating
        file paths into SQL strings, the lazy DataFrames become named
        relations and ``spark.sql`` plans against them — identifiers
        pass through the same sanitizer as ingested columns
        (sources/ingest.sanitize_column_name), so a hostile filename
        can never splice SQL. Views are lazy: registering costs
        nothing until a query scans one."""
        from .sources.ingest import sanitize_column_name

        names = []
        seen: dict[str, str] = {}
        for t in self.tables:
            view = sanitize_column_name(prefix + t)
            # Two raw names can sanitize to the same identifier
            # ('a-b' and 'a b' both become 'a_b'); silently letting the
            # second overwrite the first would shadow a catalog table.
            if view in seen:
                raise ValueError(
                    f"table name collision after sanitization: {t!r} and "
                    f"{seen[view]!r} both map to view {view!r}; rename one "
                    "or register with a distinct prefix")
            seen[view] = t
            self.load(t).createOrReplaceTempView(view)
            names.append(view)
        return names

    def sql(self, query: str) -> DataFrame:
        """Run ANSI SQL against the catalog's tables (auto-registers
        views on first use). The text goes straight to Spark's parser —
        one statement, plans through the same Catalyst pipeline as the
        DataFrame API, so pushdown/pruning/broadcast behave identically
        to the builder path. User-supplied VALUES belong in
        ``spark.sql(query, args=...)``-style parameters upstream, never
        string-interpolated."""
        self.register_views()
        return self.spark.sql(query)
