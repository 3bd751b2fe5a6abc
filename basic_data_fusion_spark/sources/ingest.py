"""CSV ingest: validation, column sanitization, composite-ID derivation.

Spark-native rework of the reference upload pipeline
(reference: file_handling/csv_utils.py:23-227 validate/process,
file_handling/security.py:72-186 sanitize_column_names,
file_handling/security.py:244-297 detect_malicious_content).

Differences by design:
- validation reads file METADATA plus a bounded byte prefix — never the
  whole file through the driver (the reference loads full bytes into
  pandas; at 100 TB that is not an option);
- sanitization/composite-ID are load-time DataFrame transforms
  (``toDF``/``withColumn``) — source files are never rewritten (the
  reference self-heals CSVs in place, merge_strategy.py:137-192);
- the returned relation is a lazy DataFrame: Catalyst pushes projections
  and filters into the scan.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import with_composite_id

MAX_SIZE_MB_DEFAULT = 50
MAX_COLUMNS_DEFAULT = 1000
SECURITY_SCAN_BYTES = 1 << 20  # bounded prefix for content scanning

# reference: file_handling/security.py:91-96
SQL_KEYWORDS = {
    "SELECT", "INSERT", "UPDATE", "DELETE", "DROP", "CREATE", "ALTER",
    "UNION", "WHERE", "FROM", "JOIN", "HAVING", "GROUP", "ORDER", "BY",
    "EXEC", "EXECUTE", "SCRIPT", "TRUNCATE", "MERGE", "GRANT", "REVOKE",
}

# reference: file_handling/security.py:264-275
SUSPICIOUS_PATTERNS = [
    (r"<script[^>]*>", "JavaScript code detected"),
    (r"javascript:", "JavaScript URL detected"),
    (r"vbscript:", "VBScript URL detected"),
    (r"data:text/html", "HTML data URL detected"),
    (r"<\?php", "PHP code detected"),
    (r"<%.*%>", "Server-side code detected"),
    (r"union.*select", "SQL injection pattern detected"),
    (r"drop.*table", "SQL drop statement detected"),
    (r"exec.*\(", "Executable code pattern detected"),
]


def sanitize_column_name(name: str, index: int = 0) -> str:
    """One column name → safe identifier.
    Mirrors reference: file_handling/security.py:98-139 (control/SQL char
    strip, comment removal, separator folding, keyword prefixing, digit
    guard)."""
    s = str(name)
    s = re.sub(r"[\x00-\x1f\x7f'\"`;\\]", "", s)
    s = re.sub(r"--.*$", "", s)
    s = re.sub(r"/\*.*?\*/", "", s)
    s = re.sub(r"[\s\-\(\)\[\]\{\}\@\#\$\%\^\&\*\+\=\|\?\<\>\,\.\:\/\\]+", "_", s)
    s = re.sub(r"[^a-zA-Z0-9_]", "", s)
    s = "_".join(f"FIELD_{w}" if w.upper() in SQL_KEYWORDS else w
                 for w in s.split("_"))
    s = re.sub(r"_+", "_", s).strip("_")
    if not s:
        s = f"col_{index}"
    if s[0].isdigit():
        s = f"col_{s}"
    return s


def sanitize_column_names(columns: list[str]) -> tuple[list[str], dict[str, str]]:
    """All columns, with uniqueness suffixes (_1, _2, …) on collisions.
    reference: file_handling/security.py:140-151."""
    out: list[str] = []
    mapping: dict[str, str] = {}
    seen: set[str] = set()
    for i, col in enumerate(columns):
        s = sanitize_column_name(col, i)
        base, k = s, 1
        while s in seen:
            s = f"{base}_{k}"
            k += 1
        seen.add(s)
        out.append(s)
        mapping[str(col)] = s
    return out, mapping


@dataclass
class ValidationResult:
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.errors


def validate_csv_path(path: str, max_size_mb: int = MAX_SIZE_MB_DEFAULT,
                      required_columns: list[str] | None = None,
                      spark: SparkSession | None = None) -> ValidationResult:
    """File-level validation: existence, extension, size cap, bounded
    security scan, and (when a session is given) header checks via a
    schema-only read. reference: file_handling/csv_utils.py:23-103."""
    r = ValidationResult()
    name = os.path.basename(path)
    if not os.path.isfile(path):
        r.errors.append(f"File '{name}' does not exist")
        return r
    if not name.lower().endswith(".csv"):
        r.errors.append(f"File '{name}' must be a CSV (.csv extension)")
    size_mb = os.path.getsize(path) / (1024 * 1024)
    if size_mb > max_size_mb:
        r.errors.append(f"File '{name}' too large (maximum {max_size_mb}MB)")

    with open(path, "rb") as f:
        prefix = f.read(SECURITY_SCAN_BYTES)
    content = prefix.decode("utf-8", errors="ignore").lower()
    for pattern, warning in SUSPICIOUS_PATTERNS:
        if re.search(pattern, content):
            r.errors.append(f"{warning} in {name}")
    if prefix.count(b"\x00") > 100:
        r.errors.append(f"Excessive null bytes in {name}")

    if spark is not None and r.ok:
        header = spark.read.option("header", True).csv(path).schema
        cols = [f.name for f in header.fields]
        if len(cols) > MAX_COLUMNS_DEFAULT:
            r.errors.append(
                f"File '{name}' has too many columns (maximum {MAX_COLUMNS_DEFAULT})")
        # Spark dedupes duplicate headers to c0/c1 suffixes; detect the
        # reference's duplicate-header error from the raw first line
        first_line = prefix.split(b"\n", 1)[0].decode("utf-8", errors="ignore")
        raw = [c.strip().strip('"') for c in first_line.split(",")]
        if len(raw) != len(set(raw)):
            dupes = sorted({c for c in raw if raw.count(c) > 1})
            r.errors.append(
                f"File '{name}' has duplicate column names: {', '.join(dupes)}")
        if required_columns:
            missing = set(required_columns) - set(cols)
            if missing:
                r.errors.append(
                    f"File '{name}' missing required columns: {', '.join(sorted(missing))}")
    return r


def ingest_csv(spark: SparkSession, path: str,
               primary_id: str | None = None, session_id: str | None = None,
               composite_id: str = "customID",
               max_size_mb: int = MAX_SIZE_MB_DEFAULT
               ) -> tuple[DataFrame, ValidationResult]:
    """Validated, sanitized, composite-keyed CSV relation.

    reference: file_handling/csv_utils.py:145-227 (process_csv_file) +
    432-484 (composite-ID). The composite id is derived in the plan, not
    written back."""
    result = validate_csv_path(path, max_size_mb, spark=spark)
    if not result.ok:
        return None, result

    df = (spark.read.option("header", True).option("inferSchema", True)
          .csv(path))
    new_cols, mapping = sanitize_column_names(df.columns)
    renamed = {o: s for o, s in mapping.items() if o != s}
    if renamed:
        df = df.toDF(*new_cols)
        result.warnings.append(
            f"Sanitized {len(renamed)} column name(s) in "
            f"'{os.path.basename(path)}'")
    if primary_id and session_id and primary_id in df.columns \
            and session_id in df.columns and composite_id not in df.columns:
        df = with_composite_id(df, primary_id, session_id, composite_id)
        result.warnings.append(f"Derived composite ID '{composite_id}'")
    return df, result


def ingest_directory(spark: SparkSession, data_dir: str,
                     **kwargs) -> tuple[dict[str, DataFrame], dict[str, ValidationResult]]:
    """Scan a directory of CSVs into named relations (table name =
    filename minus extension). reference: data_handling/metadata.py:32-50."""
    tables: dict[str, DataFrame] = {}
    results: dict[str, ValidationResult] = {}
    for fn in sorted(os.listdir(data_dir)):
        if not fn.lower().endswith(".csv"):
            continue
        name = fn[:-4]
        df, res = ingest_csv(spark, os.path.join(data_dir, fn), **kwargs)
        results[name] = res
        if df is not None:
            tables[name] = df
    return tables, results


def detect_duplicate_files(spark: SparkSession, data_dir: str,
                           glob: str = "*.csv") -> DataFrame:
    """Byte-level duplicate-FILE detection (reference:
    file_handling/upload.py:47-92 rejects an upload whose raw-byte MD5
    matches an already-stored file; this is the batch sweep of the same
    check). Complements the row-content fingerprinting in
    operators/dedup.py — identical files are caught before any parse.

    Spark-native: the ``binaryFile`` source reads each file's bytes
    executor-side and ``md5(content)`` hashes them there — file content
    never moves through the driver and never shuffles (only the
    (path, digest, length) triple does). One row per duplicated digest
    with the lexicographically-first path as canonical, mirroring the
    min-id convention of ``dedup.exact_duplicates``."""
    bf = (spark.read.format("binaryFile").option("pathGlobFilter", glob)
          .load(data_dir)
          .select("path", F.md5(F.col("content")).alias("content_md5"),
                  "length"))
    return (bf.groupBy("content_md5")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.min("length").alias("n_bytes"),
                 F.sort_array(F.collect_list("path")).alias("paths"))
            .filter(F.col("n_files") > 1)
            .select("content_md5", "n_files", "n_bytes",
                    F.element_at("paths", 1).alias("canonical_path"), "paths"))


def ingest_jsonl(spark: SparkSession, path: str, schema=None,
                 corrupt_col: str = "_corrupt_record") -> DataFrame:
    """JSON-lines ingest — the interchange format of web-crawl / LLM
    corpus dumps (one JSON document per line). PERMISSIVE mode: malformed
    lines land in ``corrupt_col`` instead of failing the 10-hour job at
    line 9 billion; callers split on ``corrupt_col IS NULL`` to route
    rejects to a quarantine sink. Explicit ``schema`` skips the inference
    pre-pass (a full extra scan at 100 TB — always pass one in
    production; inference is for exploration).

    Extends the reference's CSV-only ingest surface
    (file_handling/csv_utils.py:145-227) to the format a training-data
    pipeline actually receives.
    """
    reader = (spark.read
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", corrupt_col))
    if schema is not None:
        from pyspark.sql.types import StringType, StructField, StructType
        if isinstance(schema, StructType) and not any(
                f.name == corrupt_col for f in schema.fields):
            schema = StructType(list(schema.fields)
                                + [StructField(corrupt_col, StringType(), True)])
        reader = reader.schema(schema)
    return reader.json(path)


def split_corrupt(df: DataFrame, corrupt_col: str = "_corrupt_record"
                  ) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) pair from a PERMISSIVE read. The quarantine
    side keeps only the raw line — write it to a rejects sink for replay
    after the schema/parser is fixed.

    The parse result is persisted (lifecycle: caching.cache_pinned):
    Spark refuses corrupt-column-only queries against a raw JSON scan
    (the pushed-down parse would skip the very rows being asked for),
    and persisting also means ONE parse pass serves both the clean and
    quarantine sides."""
    from ..caching import cache_pinned
    df = cache_pinned(df)
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return clean, bad
