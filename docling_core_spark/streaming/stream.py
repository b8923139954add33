"""Structured Streaming surface for the extraction pipeline.

The reference is batch-only (SURVEY.md §2.7), but a crawl feed is naturally a
stream; the same fused extract stage runs unchanged under foreachBatch, and a
watermarked windowed aggregate provides live ingest metrics with late-data
handling.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf resolves "pd.Series" hints here

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.extract import extract_pages, split_skew


def _write_batch(df: DataFrame, batch_id: int, output: str) -> None:
    """Replay-idempotent micro-batch sink: each batch writes its OWN
    partition with dynamic overwrite, so a batch replayed after a partial
    append (task retry mid-write, restart between write and checkpoint
    commit) REPLACES its rows instead of duplicating them — this is what
    makes the wrappers' "replays emit identical rows" claims actually
    hold at the sink, not just at the transform."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(output)
    )


def stream_extract(
    pages_stream: DataFrame,
    output: str,
    checkpoint: str,
    chunker: str = "hybrid",
    trigger_seconds: int = 10,
):
    """readStream(web_pages) -> extract -> append parquet sink.

    The batch extract stage is reused verbatim via foreachBatch — identical
    semantics in batch and streaming (same UDF, same determinism).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_pages(split_skew(batch_df), chunker=chunker, emit_doc_json=False)
        _write_batch(out, batch_id, output)

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def ingest_metrics_stream(
    pages_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingest metrics (late data tolerated).

    Pure streaming-native aggregation: pages/bytes per language per window.
    """
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
        .select("w.start", "w.end", "lang", "n_pages", "html_bytes")
    )


def stateful_exact_dedup(
    pages_stream: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup via applyInPandasWithState.

    Keyed by content fingerprint; per-key state stores whether the content
    was already seen, so only the first occurrence across the whole stream
    is emitted.  This is the custom-stateful-operator pattern: the state
    store scales horizontally with the shuffle partitioning of the key.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    from docling_core_spark.operators.hashing import fingerprint

    out_schema = StructType(
        [
            StructField("fingerprint", StringType()),
            StructField("url", StringType()),
            StructField("is_first", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("seen", BooleanType())])

    keyed = pages_stream.select(
        fingerprint(F.col(text_col)).alias("fingerprint"),
        F.col(key_col).alias("url"),
    ).groupBy("fingerprint")

    def dedup(key, pdfs, state: GroupState):
        seen = state.exists
        rows = []
        for pdf in pdfs:
            for url in pdf["url"]:
                rows.append({"fingerprint": key[0], "url": url, "is_first": not seen})
                seen = True
        if not state.exists:
            state.update((True,))
        yield pd.DataFrame(rows, columns=["fingerprint", "url", "is_first"])

    return keyed.applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_filter_stream(
    docs_stream: DataFrame,
    min_stopword_hits: int = 1,
) -> DataFrame:
    """Streaming corpus curation: the Gopher quality filter applied to a
    stream of (doc_id, text) rows.

    The filter is STATELESS (pure per-row expressions), so the exact batch
    operator runs unchanged under Structured Streaming — no watermark, no
    state store; kept rows flow through with their signals, rejects carry
    reject_reasons for a side-output audit sink.
    """
    from docling_core_spark.operators.textstats import gopher_quality_filter

    return gopher_quality_filter(
        docs_stream, canonical=False, min_stopword_hits=min_stopword_hits
    )


def decontaminate_stream(
    docs_stream: DataFrame,
    bench_docs: DataFrame,
    output: str,
    checkpoint: str,
    trigger_seconds: int = 10,
):
    """Streaming benchmark decontamination via foreachBatch: the batch
    operator (map-side gram explode -> broadcast eval-set hit-test ->
    per-doc rollup) runs unchanged per micro-batch against the STATIC
    bench frame, which Spark re-plans per batch — an updated eval set is
    picked up on the next trigger without restarting the query.

    foreachBatch, not a continuous stream-side aggregation: the per-doc
    rollup keyed on doc_id would otherwise accrete unbounded state (each
    doc appears in exactly one batch, so per-batch aggregation is both
    correct and state-free).
    """
    from docling_core_spark.operators.decontam import decontaminate

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = decontaminate(batch_df, bench_docs)
        _write_batch(out, batch_id, output)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def pack_sequences_stream(
    chunks_stream: DataFrame,
    output: str,
    checkpoint: str,
    trigger_seconds: int = 10,
):
    """Streaming sequence packing via foreachBatch: the batch operator
    (url-grouped greedy next-fit applyInPandas) runs unchanged per
    micro-batch.  Correct because packing is per-document and a document's
    chunks land in one micro-batch with document-level ingestion — no
    cross-batch state, no watermark needed (the streaming analogue of the
    per-doc decontaminate rollup rationale above).
    """
    from docling_core_spark.operators.packing import pack_sequences

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = pack_sequences(batch_df)
        _write_batch(out, batch_id, output)

    return (
        chunks_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def mix_corpora_stream(
    docs_stream: DataFrame,
    output: str,
    checkpoint: str,
    weights: dict | None = None,
    token_budget: int = 10_000,
    trigger_seconds: int = 10,
):
    """Streaming weighted corpus mixing via foreachBatch: per micro-batch,
    the batch operator computes source token totals and hash-gates docs at
    the weight-derived rate.  The token budget therefore applies PER
    micro-batch — the natural reading for a continuous ingest ("each
    trigger contributes its budget-share"); a run-global budget would need
    an accreting totals store and is a planned-state variant, not this
    operator.  Selection stays deterministic per doc_id (md5 gate), so
    replays after failure emit identical rows.
    """
    from docling_core_spark.operators.textstats import mix_corpora

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = mix_corpora(batch_df, weights=weights, token_budget=token_budget)
        _write_batch(out, batch_id, output)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def pii_redact_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming PII scrub: the map-only regexp chain (operators/pii.py)
    applied to a stream of (doc_id, text) rows.

    Stateless like the quality filter — the batch operator runs unchanged
    under Structured Streaming; counts ride along so a sink can alert on
    PII-rate spikes per micro-batch.
    """
    from docling_core_spark.operators.pii import pii_redact

    return pii_redact(docs_stream, canonical=False)


def quality_classifier_stream(
    docs_stream: DataFrame,
    output: str,
    checkpoint: str,
    model: tuple,
    trigger_seconds: int = 10,
):
    """Streaming quality-classifier scoring via foreachBatch: the model
    (weights, bias) trains OFFLINE on the batch corpus — the fastText/GPT-3
    deployment shape — and each micro-batch scores map-side against it
    (operators/classifier.py, one-row broadcast weight array, no shuffle).
    Stateless: replays emit identical rows (deterministic arithmetic)."""
    from docling_core_spark.operators.classifier import classifier_score

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = classifier_score(batch_df, dims=len(model[0]), model=model)
        _write_batch(out, batch_id, output)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def lm_score_stream(
    docs_stream: DataFrame,
    output: str,
    checkpoint: str,
    model: tuple,
    trigger_seconds: int = 10,
):
    """Streaming CCNet perplexity scoring via foreachBatch: the bigram LM
    (the (vocab, uni, bi, consts) frames from lm._model_frames, cached by
    the caller) trains ONCE on the trusted corpus; each micro-batch takes
    the five broadcast joins map-side + one per-batch doc_id rollup —
    correct per document because the rollup is per-doc (a doc's bigrams
    live in one micro-batch with document-level ingestion)."""
    from docling_core_spark.operators.lm import lm_score

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = lm_score(batch_df, model=model)
        _write_batch(out, batch_id, output)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def bloom_dedup_stream(
    docs_stream: DataFrame,
    output: str,
    checkpoint: str,
    filter_bytes: bytes,
    m_bits: int = None,
    k: int = None,
    trigger_seconds: int = 10,
):
    """Streaming BFF dedup via foreachBatch: the bloom filter builds ONCE
    over the reference corpus (operators/bloom.bloom_build — the Dolma
    deployment shape: the kept history IS the filter, bounded at m_bits no
    matter how much history) and every crawl micro-batch flags its
    paragraphs map-side against the broadcast bitset + one per-doc rollup
    (bloom_flag_docs).  Stateless given the filter: replays emit identical
    rows (the bitset is immutable and the probe is deterministic)."""
    from docling_core_spark.operators import bloom as _bloom

    m = m_bits if m_bits is not None else _bloom.BLOOM_M_BITS
    kk = k if k is not None else _bloom.BLOOM_K
    # fail fast on the DRIVER, before broadcasting or starting the query —
    # a size mismatch discovered inside process() would kill the stream
    # asynchronously after startup
    _bloom._check_filter(filter_bytes, m)
    # broadcast ONCE; every micro-batch reuses it (re-broadcasting a
    # crawl-scale filter per 10 s trigger would re-ship GBs per trigger)
    bc = docs_stream.sparkSession.sparkContext.broadcast(filter_bytes)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = _bloom.bloom_flag_docs(batch_df, bc, m, kk, canonical=False)
        _write_batch(out, batch_id, output)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def url_filter_stream(pages_stream: DataFrame, passthrough=()) -> DataFrame:
    """Streaming URL filtering (stateless map): the first curation stage
    runs on the crawl frontier itself — flag/drop documents by URL before
    any content parse.  Same operator as batch (textstats.url_filter).

    Input contract: (doc_id, url, ...) rows; name the payload columns the
    kept pages must carry downstream (html/text/...) in ``passthrough`` —
    url_filter projects doc_id + the URL signals otherwise, and a frontier
    filter that drops the page bytes would leave nothing to parse."""
    from docling_core_spark.operators.textstats import url_filter

    return url_filter(pages_stream, canonical=False, passthrough=passthrough)


def main_content_stream(pages_stream: DataFrame, **thresholds) -> DataFrame:
    """Streaming DOM-heuristic main-content extraction (stateless map):
    boilerplate scoring runs per micro-batch exactly as in batch — the
    operator is a pure per-row function, so batch/stream rows are
    identical (operators/boilerplate.py)."""
    from docling_core_spark.operators.boilerplate import main_content_df

    return main_content_df(pages_stream, **thresholds)


def robots_filter_stream(pages_stream: DataFrame, passthrough=()) -> DataFrame:
    """Streaming meta-robots compliance (stateless map): the page-level
    noindex opt-out enforced on the live ingest stream, same operator as
    batch (textstats.robots_filter)."""
    from docling_core_spark.operators.textstats import robots_filter

    return robots_filter(pages_stream, canonical=False, passthrough=passthrough)
