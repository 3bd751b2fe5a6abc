"""Export sinks: CSV results, summary-report ZIP.

Spark-native rework of the reference export path
(reference: query/callbacks/export.py:291-342 download_csv_data,
analysis/export.py:340-398 prepare_export_data,
query/callbacks/export.py:373-480 report ZIP).

Scale stance: the merged result is written DISTRIBUTED (one file per
partition) by default; ``single_file=True`` coalesces for the
download-one-CSV use case the reference serves. Empty-column detection is
ONE aggregation pass, not a pandas scan.
"""

from __future__ import annotations

import io
import os
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def empty_and_sparse_columns(df: DataFrame, sparse_threshold: float = 0.95
                             ) -> tuple[list[str], list[str]]:
    """(all-null columns, >threshold-null columns) in one agg pass.
    reference: analysis/export.py:309-321, 364-369."""
    counts = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(c) for c in df.columns]).first()
    n = counts["__n"]
    empty = [c for c in df.columns if counts[c] == 0]
    sparse = [c for c in df.columns
              if counts[c] > 0 and n > 0 and (n - counts[c]) / n > sparse_threshold]
    return empty, sparse


def prepare_export(df: DataFrame,
                   sort_by: str | None = None) -> tuple[DataFrame, dict]:
    """Sorted, empty-column-dropped export relation + an info dict
    (dropped/sparse columns). reference: analysis/export.py:340-398."""
    empty, sparse = empty_and_sparse_columns(df)
    if empty:
        df = df.drop(*empty)
    info = {"dropped_empty": empty, "sparse_warned": sparse}
    if sort_by and sort_by in df.columns:
        df = df.orderBy(sort_by)
    return df, info


def write_csv(df: DataFrame, path: str, single_file: bool = False,
              sort_by: str | None = None) -> dict:
    """Write the export CSV. Distributed multi-part by default;
    ``single_file`` coalesces to one partition (driver-download parity
    with the reference's one-CSV response)."""
    out, info = prepare_export(df, sort_by=sort_by)
    writer = (out.coalesce(1) if single_file else out)
    writer.write.mode("overwrite").option("header", True).csv(path)
    return info


def collect_csv_bytes(df: DataFrame, sort_by: str | None = None,
                      limit: int | None = None) -> bytes:
    """Bounded driver-side CSV bytes (preview / download of small
    results). Guard with ``limit`` — this is the only path that pulls
    rows to the driver."""
    if sort_by and sort_by in df.columns:
        df = df.orderBy(sort_by)
    if limit is not None:
        df = df.limit(limit)
    pdf = df.toPandas()
    return pdf.to_csv(index=False).encode("utf-8")


def reports_zip(reports: dict[str, DataFrame], path: str | None = None,
                limit: int = 100_000) -> bytes:
    """Zip of named report CSVs (each report is a small aggregate
    relation; the limit is a safety bound, not a sampling step).
    reference: query/callbacks/export.py:373-480."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, df in reports.items():
            zf.writestr(f"{name}.csv", collect_csv_bytes(df, limit=limit))
    data = buf.getvalue()
    if path:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    return data
