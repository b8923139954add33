"""End-to-end extraction job plan (the spark-submit entry at cluster scale).

Wires together: input scan -> skew split -> fused extract stage -> outputs
(docs parquet, chunks parquet, lineage side table), optionally under the
bucket-checkpoint protocol for resumability.

Cluster usage:
  spark-submit --py-files docling_core_spark.zip -m docling_core_spark.plans.pipeline \
      --input s3://crawl/web_pages --output s3://out/extracted

Local smoke:
  python -m docling_core_spark.plans.pipeline --sf-dir /root/testdata/sf0.001 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from docling_core_spark.operators.extract import (
    EXTRACT_SCHEMA,
    explode_chunks,
    extract_pages,
    lineage_metrics,
    split_skew,
)
from docling_core_spark.sources.checkpoint import read_output, run_checkpointed


def build_pages(spark: SparkSession, input_path: Optional[str], sf_dir: Optional[str]) -> DataFrame:
    """Input table: a real crawl parquet/Iceberg path, or the synthetic source."""
    if input_path:
        return spark.read.parquet(input_path)
    from docling_core_spark.sources.web_pages import web_pages_df

    return web_pages_df(spark, sf_dir or "/root/testdata/sf0.001")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output: str,
    chunker: str = "hybrid",
    max_tokens: int = 512,
    checkpointed: bool = True,
    n_buckets: int = 16,
    jumbo_bytes: int = 1_000_000,
) -> dict:
    """Execute the full extraction job; returns a run summary."""

    def stage(part: DataFrame) -> DataFrame:
        return extract_pages(
            split_skew(part, jumbo_bytes=jumbo_bytes),
            chunker=chunker,
            max_tokens=max_tokens,
            emit_doc_json=True,
        )

    if checkpointed:
        summary = run_checkpointed(
            spark, pages, f"{output}/docs", stage, n_buckets=n_buckets
        )
        docs = read_output(spark, f"{output}/docs", schema=EXTRACT_SCHEMA)
    else:
        docs = stage(pages)
        docs.write.mode("overwrite").parquet(f"{output}/docs/data")
        docs = spark.read.parquet(f"{output}/docs/data")
        summary = {"completed": "all", "skipped": 0}

    explode_chunks(docs).write.mode("overwrite").parquet(f"{output}/chunks")
    lineage = lineage_metrics(docs)
    lineage.write.mode("overwrite").parquet(f"{output}/lineage")

    # the run summary comes from the tiny lineage table, not re-scans of docs
    totals = spark.read.schema(lineage.schema).parquet(f"{output}/lineage").agg(
        F.sum("n_pages"), F.sum("n_chunks"), F.sum("n_errors")
    ).first()
    n_docs, n_chunks, n_errors = (v or 0 for v in totals)
    return {**summary, "docs": n_docs, "chunks": n_chunks, "errors": n_errors, "output": output}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet path of web_pages")
    ap.add_argument("--sf-dir", default=None, help="testdata dir for the synthetic source")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunker", default="hybrid", choices=["hybrid", "hierarchical"])
    ap.add_argument("--max-tokens", type=int, default=512)
    ap.add_argument("--no-checkpoint", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from docling_core_spark.session import get_spark

    spark = get_spark(app_name="docling-extract-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    pages = build_pages(spark, args.input, args.sf_dir)
    summary = run_pipeline(
        spark,
        pages,
        args.output,
        chunker=args.chunker,
        max_tokens=args.max_tokens,
        checkpointed=not args.no_checkpoint,
        n_buckets=args.buckets,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
