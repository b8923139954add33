"""Failure-tested crash-resume: a real SIGKILL mid-run, then resume.

test_checkpoint_streaming.py simulates a crash by deleting committed state;
this test kills an actual worker PROCESS in the dangerous window — after a
bucket's data directory is fully written but before its commit record lands
— and proves that a fresh process resumes to output byte-identical to an
uninterrupted run, with no double-written bucket.  That window is the one
the protocol docstring claims is safe ("data before progress, so a crash
between the two re-processes the bucket").
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from docling_core_spark.sources.checkpoint import (
    completed_buckets,
    read_output,
    run_checkpointed,
)
from docling_core_spark.sources.web_pages import web_pages_df

SF_DIR = "/root/testdata/sf0.001"
REPO_ROOT = Path(__file__).resolve().parents[1]
N_BUCKETS = 6
CRASH_AT_COMMIT = 3  # SIGKILL before the 3rd commit: 2 committed, 1 orphan data dir

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available")


def _stage(part):
    from pyspark.sql import functions as F

    return part.select(
        "url",
        F.length("html").alias("html_bytes"),
        F.md5(F.col("text")).alias("fingerprint"),
        F.lit(None).cast("string").alias("error"),
    )


_CRASH_SCRIPT = textwrap.dedent(
    """
    import os, signal, sys
    sys.path.insert(0, ".")
    import docling_core_spark.sources.checkpoint as cp
    from docling_core_spark.session import get_spark
    from docling_core_spark.sources.web_pages import web_pages_df
    from tests.test_checkpoint_crash import _stage, SF_DIR, N_BUCKETS, CRASH_AT_COMMIT

    out_dir = sys.argv[1]
    orig_commit = cp._commit_bucket
    n_commits = {"n": 0}

    def crashing_commit(out_dir_, bucket, lineage):
        n_commits["n"] += 1
        if n_commits["n"] == CRASH_AT_COMMIT:
            # the dangerous window: bucket data fully written, commit absent
            os.kill(os.getpid(), signal.SIGKILL)
        orig_commit(out_dir_, bucket, lineage)

    cp._commit_bucket = crashing_commit
    spark = get_spark(app_name="crash-run", cpus=4, shuffle_partitions=8)
    pages = web_pages_df(spark, SF_DIR).limit(150)
    cp.run_checkpointed(spark, pages, out_dir, _stage, n_buckets=N_BUCKETS, buckets_per_wave=2)
    print("UNREACHABLE")  # the kill must fire before all buckets commit
    """
)


def test_sigkill_mid_wave_then_resume_is_byte_identical(spark, tmp_path):
    crashed = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")

    proc = subprocess.run(
        [sys.executable, "-c", _CRASH_SCRIPT, crashed],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=420,
    )
    # SIGKILL, not a clean exit — and the run must not have finished
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "UNREACHABLE" not in proc.stdout

    # crash state: exactly CRASH_AT_COMMIT-1 commits, and at least one
    # orphan data dir (written but uncommitted — the window under test)
    done = completed_buckets(spark, crashed)
    assert len(done) == CRASH_AT_COMMIT - 1
    data_dirs = {
        int(p.name.split("=")[1]) for p in (Path(crashed) / "data").glob("bucket=*")
    }
    orphans = data_dirs - done
    assert orphans, "kill fired after commit — window not exercised"

    pages = web_pages_df(spark, SF_DIR).limit(150).cache()
    pages.count()

    # resume in this (fresh) process: only uncommitted buckets re-run
    resumed = run_checkpointed(
        spark, pages, crashed, _stage, n_buckets=N_BUCKETS, buckets_per_wave=2
    )
    assert resumed["skipped"] == CRASH_AT_COMMIT - 1
    assert resumed["completed"] == N_BUCKETS - (CRASH_AT_COMMIT - 1)

    # uninterrupted reference run
    run_checkpointed(spark, pages, clean, _stage, n_buckets=N_BUCKETS, buckets_per_wave=2)

    a = sorted(map(tuple, read_output(spark, crashed).collect()))
    b = sorted(map(tuple, read_output(spark, clean).collect()))
    assert a == b  # byte-identical output incl. the re-processed orphan bucket

    # no double-written bucket: one commit record per bucket, content counts
    # match the commit lineage exactly
    recs = [
        json.loads(p.read_text())
        for p in sorted((Path(crashed) / "_progress").glob("*.json"))
    ]
    assert sorted(r["bucket"] for r in recs) == list(range(N_BUCKETS))
    # per-bucket row counts equal the committed lineage counts
    for rec in recs:
        actual = spark.read.parquet(f"{crashed}/data/bucket={rec['bucket']}").count()
        assert actual == rec["rows"]
    pages.unpersist()
