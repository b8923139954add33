"""End-to-end run_pipeline: summary counts, output layout, progress lineage."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from docling_core_spark.plans.pipeline import run_pipeline
from docling_core_spark.sources.checkpoint import read_output
from docling_core_spark.sources.web_pages import web_pages_df

from .test_checkpoint_streaming import SF_DIR

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available")


@pytest.fixture(scope="module")
def pages(spark):
    df = web_pages_df(spark, SF_DIR).limit(60).cache()
    df.count()
    yield df
    df.unpersist()


def _direct_counts(docs):
    row = docs.agg(
        F.count("*").alias("docs"),
        F.sum(F.size("chunks")).alias("chunks"),
        F.count("error").alias("errors"),
    ).first()
    return row.asDict()


def test_pipeline_checkpointed_summary_and_layout(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    summary = run_pipeline(spark, pages, out, checkpointed=True, n_buckets=4)
    assert summary["completed"] == 4 and summary["skipped"] == 0

    want = _direct_counts(read_output(spark, f"{out}/docs"))
    assert want["docs"] == 60
    assert {k: summary[k] for k in want} == want
    assert spark.read.parquet(f"{out}/chunks").count() == want["chunks"]

    data = Path(out) / "docs" / "data"
    dirs = {p.name for p in data.iterdir() if p.is_dir()}
    assert dirs <= {f"bucket={b}" for b in range(4)} and dirs

    recs = [json.loads(p.read_text()) for p in sorted((Path(out) / "docs" / "_progress").glob("*.json"))]
    assert sorted(r["bucket"] for r in recs) == list(range(4))
    for rec in recs:
        bucket_dir = data / f"bucket={rec['bucket']}"
        actual = spark.read.parquet(str(bucket_dir)).count() if bucket_dir.is_dir() else 0
        assert actual == rec["rows"]
    assert sum(r["rows"] for r in recs) == 60
    # the wave output is rebalanced on the bucket: one file per bucket dir
    for bucket_dir in data.glob("bucket=*"):
        assert len(list(bucket_dir.glob("*.parquet"))) == 1, bucket_dir


def test_pipeline_checkpointed_empty_input(spark, pages, tmp_path):
    # no rows means no bucket dir at all; every bucket still commits rows=0
    out = str(tmp_path / "out")
    summary = run_pipeline(spark, pages.limit(0), out, checkpointed=True, n_buckets=4)
    assert summary["completed"] == 4
    assert summary["docs"] == summary["chunks"] == summary["errors"] == 0
    again = run_pipeline(spark, pages.limit(0), out, checkpointed=True, n_buckets=4)
    assert again["skipped"] == 4 and again["completed"] == 0
    assert again["docs"] == again["chunks"] == again["errors"] == 0


def test_pipeline_uncheckpointed_summary(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    summary = run_pipeline(spark, pages, out, checkpointed=False)
    assert summary["completed"] == "all" and summary["skipped"] == 0

    want = _direct_counts(spark.read.parquet(f"{out}/docs/data"))
    assert want["docs"] == 60
    assert {k: summary[k] for k in want} == want
    assert spark.read.parquet(f"{out}/chunks").count() == want["chunks"]
