"""Bucket commit records are durable, and a torn one re-runs its bucket.

A rename can become durable before the data it points at, so a machine
crash can leave a zero-length ``_progress/bucket_<b>.json``.  Such a record
must count as uncommitted (its bucket re-runs), not fail every resume.
"""

from __future__ import annotations

import os

from docling_core_spark.sources import checkpoint


def test_bucket_commit_fsyncs_record_and_directory(tmp_path, monkeypatch):
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: synced.append(fd) or real_fsync(fd))
    checkpoint._commit_bucket(str(tmp_path), 3, {"n_buckets": 4, "rows": 7})
    assert len(synced) == 2  # the record's data, then the directory entry
    assert checkpoint.completed_buckets(None, str(tmp_path), n_buckets=4) == {3}
    assert not list((tmp_path / "_progress").glob(".*.tmp"))


def test_torn_bucket_record_counts_as_uncommitted(tmp_path):
    checkpoint._commit_bucket(str(tmp_path), 1, {"n_buckets": 4, "rows": 2})
    progress = tmp_path / "_progress"
    (progress / "bucket_2.json").write_text("")
    (progress / "bucket_3.json").write_text('{"bucket": 3, "n_bu')
    assert checkpoint.completed_buckets(None, str(tmp_path), n_buckets=4) == {1}
