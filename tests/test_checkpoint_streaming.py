"""Checkpoint/resume protocol and streaming surface tests."""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pytest

from docling_core_spark.operators.extract import extract_pages
from docling_core_spark.sources.checkpoint import (
    completed_buckets,
    read_output,
    run_checkpointed,
)
from docling_core_spark.sources.web_pages import web_pages_df

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available")


def _stage(part):
    return extract_pages(part, chunker="hierarchical", emit_doc_json=False)


def test_checkpoint_run_and_resume(spark, tmp_path):
    out = str(tmp_path / "run")
    pages = web_pages_df(spark, SF_DIR).limit(120).cache()
    n_in = pages.count()

    summary = run_checkpointed(spark, pages, out, _stage, n_buckets=8, buckets_per_wave=4)
    assert summary["completed"] == 8 and summary["skipped"] == 0
    assert read_output(spark, out).count() == n_in

    # simulate a crash after 5 of 8 buckets committed
    done = sorted(completed_buckets(spark, out))
    for b in done[5:]:
        (Path(out) / "_progress" / f"bucket_{b}.json").unlink()
        shutil.rmtree(Path(out) / "data" / f"bucket={b}")

    resumed = run_checkpointed(spark, pages, out, _stage, n_buckets=8, buckets_per_wave=4)
    assert resumed["skipped"] == 5 and resumed["completed"] == 3
    assert read_output(spark, out).count() == n_in

    # idempotent: nothing left to do
    again = run_checkpointed(spark, pages, out, _stage, n_buckets=8)
    assert again["completed"] == 0 and again["skipped"] == 8
    pages.unpersist()


def test_checkpoint_lineage_records(spark, tmp_path):
    out = str(tmp_path / "run")
    pages = web_pages_df(spark, SF_DIR).limit(40)
    run_checkpointed(spark, pages, out, _stage, n_buckets=4)
    recs = [json.loads(p.read_text()) for p in sorted((Path(out) / "_progress").glob("*.json"))]
    assert len(recs) == 4
    assert sum(r["rows"] for r in recs) == 40
    assert all("wall_sec" in r and "errors" in r for r in recs)


def test_checkpoint_empty_buckets_commit(spark, tmp_path):
    # 5 rows into 16 buckets: most buckets get no rows, so no partition dir,
    # yet each must commit (rows=0) or every resume would re-run it
    out = str(tmp_path / "run")
    pages = web_pages_df(spark, SF_DIR).limit(5).cache()
    summary = run_checkpointed(spark, pages, out, _stage, n_buckets=16)
    assert summary["completed"] == 16 and summary["rows_out"] == 5
    recs = [json.loads(p.read_text()) for p in sorted((Path(out) / "_progress").glob("*.json"))]
    assert sorted(r["bucket"] for r in recs) == list(range(16))
    assert sum(r["rows"] for r in recs) == 5
    assert read_output(spark, out).count() == 5
    again = run_checkpointed(spark, pages, out, _stage, n_buckets=16)
    assert again["completed"] == 0 and again["skipped"] == 16
    pages.unpersist()


def test_checkpoint_stage_must_keep_key(spark, tmp_path):
    pages = web_pages_df(spark, SF_DIR).limit(5)
    with pytest.raises(ValueError, match="key column 'url'"):
        run_checkpointed(spark, pages, str(tmp_path / "run"), lambda d: d.drop("url"), n_buckets=4)
    assert not (tmp_path / "run" / "data").exists()


def test_checkpoint_failing_stage_starts_no_further_wave(spark, tmp_path):
    # 4 waves, two in flight: both in-flight waves may call stage_fn, but
    # once one raises no further wave starts, and nothing is left behind
    out = tmp_path / "run"
    pages = web_pages_df(spark, SF_DIR).limit(20)
    calls = []

    def failing(part):
        calls.append(1)
        raise RuntimeError("stage failed")

    with pytest.raises(RuntimeError, match="stage failed"):
        run_checkpointed(spark, pages, str(out), failing, n_buckets=8, buckets_per_wave=2)
    assert 1 <= len(calls) <= 2
    assert not list(out.glob("_progress/*.json"))
    assert not list(out.glob("data/bucket=*"))


def test_checkpoint_wave_jobs_keep_job_group(spark, tmp_path):
    # wave jobs run in pool threads; they must still carry the caller's job
    # group (perfbench counts pipeline jobs by group) and a per-wave
    # description, and the caller's own description must stay untouched
    sc = spark.sparkContext
    group = "ckpt-group-test"
    pages = web_pages_df(spark, SF_DIR).limit(20)
    sc.setJobGroup(group, "checkpoint job group test")
    try:
        summary = run_checkpointed(
            spark, pages, str(tmp_path / "run"), _stage, n_buckets=4, buckets_per_wave=2
        )
        assert sc.getLocalProperty("spark.job.description") == "checkpoint job group test"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert summary["waves"] == 2 and summary["rows_out"] == 20
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) >= 2 * summary["waves"]
    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(j).description().getOrElse(None) for j in jobs}
    assert {
        "checkpoint wave 1/2 buckets [0, 1]",
        "checkpoint wave 2/2 buckets [2, 3]",
    } <= descriptions


def test_streaming_extract(spark, tmp_path):
    from docling_core_spark.streaming.stream import stream_extract

    src = str(tmp_path / "src")
    web_pages_df(spark, SF_DIR).limit(30).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = str(tmp_path / "out")
    q = stream_extract(stream, out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.filter("error is not null").count() == 0


def test_streaming_stateful_dedup(spark, tmp_path):
    from pyspark.sql import functions as F

    from docling_core_spark.streaming.stream import stateful_exact_dedup

    src = str(tmp_path / "src")
    base = web_pages_df(spark, SF_DIR).limit(20)
    # duplicate every row under a second url -> every fingerprint seen twice
    dupes = base.withColumn("url", F.concat(F.lit("dup-"), F.col("url")))
    base.unionByName(dupes).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = stateful_exact_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("dedup_stream").collect()
    assert len(rows) == 40
    firsts = [r for r in rows if r["is_first"]]
    by_fp: dict = {}
    for r in rows:
        by_fp.setdefault(r["fingerprint"], []).append(r["is_first"])
    # exactly one first per fingerprint
    assert all(sum(v) == 1 for v in by_fp.values())
    assert len(firsts) == len(by_fp)


def test_streaming_ingest_metrics(spark, tmp_path):
    from docling_core_spark.streaming.stream import ingest_metrics_stream

    src = str(tmp_path / "src")
    web_pages_df(spark, SF_DIR).limit(50).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    metrics = ingest_metrics_stream(stream)
    q = (
        metrics.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_metrics")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits closed windows; the aggregation itself ran —
    # assert the query executed and produced a valid (possibly empty) table
    assert spark.table("ingest_metrics").columns == ["start", "end", "lang", "n_pages", "html_bytes"]


def test_streaming_quality_filter(spark, tmp_path):
    from docling_core_spark.streaming.stream import quality_filter_stream

    src = str(tmp_path / "docs_src")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).select(
        "doc_id", "text"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    filtered = quality_filter_stream(stream)
    q = (
        filtered.writeStream.outputMode("append")
        .format("memory")
        .queryName("quality_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("quality_stream")
    assert out.count() == 60  # stateless: every row flows through with signals
    # batch/stream parity: the same operator over the same rows agrees
    from docling_core_spark.operators.textstats import gopher_quality_filter

    batch = gopher_quality_filter(
        spark.read.parquet(src), canonical=False, min_stopword_hits=1
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_decontaminate(spark, tmp_path):
    from docling_core_spark.operators.decontam import decontaminate, eval_subset
    from docling_core_spark.streaming.stream import decontaminate_stream

    src = str(tmp_path / "dc_src")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).select(
        "doc_id", "text"
    )
    docs.write.parquet(src)
    bench = eval_subset(spark.read.parquet(src), modulus=10)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "dc_out")
    q = decontaminate_stream(stream, bench, out_dir, str(tmp_path / "ckpt5"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(out_dir)
    assert out.count() == 60
    assert out.filter("NOT keep").count() >= 6  # the eval docs flag themselves
    # batch/stream parity
    batch = decontaminate(spark.read.parquet(src), bench)
    got = sorted(map(tuple, out.drop("_batch_id").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_streaming_pii_redact(spark, tmp_path):
    from docling_core_spark.operators.pii import pii_demo_docs, pii_redact
    from docling_core_spark.streaming.stream import pii_redact_stream

    src = str(tmp_path / "pii_src")
    pii_demo_docs(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        pii_redact_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("pii_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("pii_stream")
    assert out.count() == 60
    assert out.filter("any_pii").count() > 0  # demo input is PII-bearing
    batch = pii_redact(spark.read.parquet(src), canonical=False)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_pack_sequences_parity(spark, tmp_path):
    """foreachBatch packing emits row-identical output to the batch
    operator over the same chunk table."""
    from docling_core_spark.operators.packing import pack_sequences
    from docling_core_spark.streaming.stream import pack_sequences_stream

    src = str(tmp_path / "pk_src")
    # synthesize a chunk table: 30 urls x 1-12 chunks with varying budgets
    rows = []
    for u in range(30):
        for c in range(1 + (u * 7) % 12):
            rows.append((f"https://ex.com/{u}", c, 40 + (u * 13 + c * 29) % 400))
    spark.createDataFrame(
        rows, "url string, chunk_idx int, n_tokens int"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "pk_out")
    q = pack_sequences_stream(stream, out_dir, str(tmp_path / "pk_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out_dir).drop("_batch_id").collect()))
    want = sorted(map(tuple, pack_sequences(spark.read.parquet(src)).collect()))
    assert got == want
    assert len(got) > 30  # multi-sequence docs exist


def test_streaming_mix_corpora_parity(spark, tmp_path):
    """foreachBatch mixing emits row-identical output to the batch operator
    (single micro-batch == whole input, so the per-batch budget is the
    global budget here)."""
    from docling_core_spark.operators.textstats import mix_corpora
    from docling_core_spark.streaming.stream import mix_corpora_stream

    src = str(tmp_path / "mx_src")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120).select(
        "doc_id", "lang", "text"
    )
    docs.write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "mx_out")
    q = mix_corpora_stream(stream, out_dir, str(tmp_path / "mx_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out_dir).drop("_batch_id").collect()))
    want = sorted(map(tuple, mix_corpora(spark.read.parquet(src)).collect()))
    assert got == want
    assert got  # the demo corpus selects a nonempty mix


def test_streaming_classifier_score_parity(spark, tmp_path):
    """The fastText/GPT-3 deployment shape: the quality classifier trains
    OFFLINE on the batch corpus, then every micro-batch scores map-side
    against the broadcast (weights, bias) — row-identical to the batch
    scorer over the same rows."""
    from docling_core_spark.operators.classifier import _train, classifier_score
    from docling_core_spark.streaming.stream import quality_classifier_stream

    src = str(tmp_path / "cls_src")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).select(
        "doc_id", "text"
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    dims, iterations, lr = 256, 3, 0.5
    w, b, _, _ = _train(docs, dims, iterations, lr)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "cls_out")
    q = quality_classifier_stream(
        stream, out_dir, str(tmp_path / "cls_ckpt"), model=(w, b)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out_dir).drop("_batch_id").collect()))
    want = sorted(
        map(tuple, classifier_score(docs, dims=dims, model=(w, b)).collect())
    )
    assert got == want
    assert len(got) == 60
    assert len({r[3] for r in got}) == 2  # both classes predicted


def test_streaming_lm_score_parity(spark, tmp_path):
    """The CCNet deployment shape: the bigram LM trains ONCE on the trusted
    corpus (_model_frames, cached), then each crawl micro-batch is scored
    against it — row-identical to the batch scorer over the same rows."""
    from docling_core_spark.operators.lm import _model_frames, lm_score
    from docling_core_spark.streaming.stream import lm_score_stream

    src = str(tmp_path / "lm_src")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).select(
        "doc_id", "text"
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    model = tuple(f.localCheckpoint(eager=False) for f in _model_frames(docs))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_dir = str(tmp_path / "lm_out")
    q = lm_score_stream(stream, out_dir, str(tmp_path / "lm_ckpt"), model=model)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out_dir).drop("_batch_id").collect()))
    want = sorted(map(tuple, lm_score(docs, model=model).collect()))
    assert got == want
    assert len(got) == 60
    assert any(r[1] > 0 for r in got)  # bigram-bearing docs scored


def test_streaming_url_filter_parity(spark, tmp_path):
    """Stateless URL filtering on the stream: row-identical to batch."""
    from pyspark.sql import functions as SF

    from docling_core_spark.operators.textstats import (
        url_filter,
        url_filter_demo_expr,
    )
    from docling_core_spark.streaming.stream import url_filter_stream

    src = str(tmp_path / "uf_src")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).select(
        "doc_id", url_filter_demo_expr(SF.col("doc_id")).alias("url")
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        url_filter_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("uf_stream")
        .option("checkpointLocation", str(tmp_path / "uf_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("uf_stream")
    assert out.count() == 60
    batch = url_filter(spark.read.parquet(src), canonical=False)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))
    assert out.filter("NOT keep").count() > 0


def test_streaming_main_content_parity(spark, tmp_path):
    """Stateless DOM-heuristic main-content on the stream: row-identical
    to batch over the same pages."""
    from docling_core_spark.operators.boilerplate import main_content_df
    from docling_core_spark.sources.web_pages import web_pages_df
    from docling_core_spark.streaming.stream import main_content_stream

    src = str(tmp_path / "mc_src")
    web_pages_df(spark, SF_DIR).limit(40).select("url", "html").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    kw = dict(stopwords_low=0.0, stopwords_high=0.0, length_low=25, length_high=120)
    q = (
        main_content_stream(stream, **kw)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mc_stream")
        .option("checkpointLocation", str(tmp_path / "mc_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("mc_stream")
    assert out.count() == 40
    batch = main_content_df(spark.read.parquet(src), **kw)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))
    assert out.filter("n_good < n_paragraphs").count() > 0  # non-vacuous


def test_streaming_robots_filter_parity(spark, tmp_path):
    """Stateless robots compliance on the stream: row-identical to batch."""
    from docling_core_spark.operators.textstats import (
        robots_demo_pages,
        robots_filter,
    )
    from docling_core_spark.streaming.stream import robots_filter_stream

    src = str(tmp_path / "rb_src")
    robots_demo_pages(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(49)
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        robots_filter_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rb_stream")
        .option("checkpointLocation", str(tmp_path / "rb_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("rb_stream")
    assert out.count() == 49
    batch = robots_filter(spark.read.parquet(src), canonical=False)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))
    assert out.filter("NOT keep").count() > 0
