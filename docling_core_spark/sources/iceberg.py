"""Iceberg-first input/output helpers with parquet fallback.

The production input (BASELINE.json input_hint) is an Iceberg table of web
pages. This sandbox ships no Iceberg runtime jars, so these helpers probe
for the catalog and fall back to plain parquet paths — same DataFrame shape
either way, and partition pruning / predicate pushdown work identically
through DataSource V2.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """Whether an Iceberg catalog is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_pages(spark: SparkSession, table_or_path: str) -> DataFrame:
    """Read the web_pages table (Iceberg table name or parquet path).

    On a cluster: ``spark.read.format("iceberg").load("catalog.db.web_pages")``
    — time-travel and partition pruning come free.  Fallback: parquet path.
    """
    if iceberg_available(spark) and "/" not in table_or_path:
        return spark.read.format("iceberg").load(table_or_path)
    return spark.read.parquet(table_or_path)


def prune_scan(pages: DataFrame, langs: Optional[list[str]] = None,
               ts_from: Optional[str] = None, ts_to: Optional[str] = None) -> DataFrame:
    """Pushdown-friendly filters (lang/time window) — these reach the scan as
    PushedFilters and prune Iceberg partitions at 100 TB."""
    out = pages
    if langs:
        out = out.filter(F.col("lang").isin(langs))
    if ts_from:
        out = out.filter(F.col("warc_ts") >= F.lit(ts_from).cast("timestamp"))
    if ts_to:
        out = out.filter(F.col("warc_ts") < F.lit(ts_to).cast("timestamp"))
    return out
