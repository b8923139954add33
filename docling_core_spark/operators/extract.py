"""Spark extraction stages: HTML -> doc tree -> markdown/text/chunks.

One fused Arrow-batch stage (mapInArrow) does parse + serialize + chunk per
page row — the tree is built once per row and never re-serialized between
stages (the reference's per-doc pipeline, vectorized over batches).  Catalyst
sees a single opaque UDF stage between two columnar boundaries, so column
pruning + predicate pushdown still reach the parquet scan of the input.

Scale notes (100 TB / 10^12 rows):
- per-row try/except: a malformed page yields an `error` row, never a failed
  task (at 10^12 rows, *everything* malformed exists).
- the stage is map-only: no shuffle; input-split parallelism scales linearly
  with executors.
- skew: see split_skew() — jumbo pages are isolated so a 50 MB page cannot
  stall a 64 MB multi-row partition.
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from docling_core_spark.operators.arrow_out import capped_batches, max_bytes_per_batch
from docling_core_spark.operators.canon import canonical_order
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from docling_core_spark.functions.chunkers import (
    HybridChunker,
    RegexTokenizer,
    contextualize,
    hierarchical_chunks,
)
from docling_core_spark.functions.html_parse import parse_html
from docling_core_spark.functions.serializers import export_to_markdown, export_to_text

CHUNK_STRUCT = StructType(
    [
        StructField("chunk_idx", IntegerType()),
        StructField("text", StringType()),
        StructField("headings", ArrayType(StringType())),
        StructField("doc_item_refs", ArrayType(StringType())),
        StructField("n_tokens", IntegerType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("doc_json", StringType()),
        StructField("markdown", StringType()),
        StructField("plain_text", StringType()),
        StructField("html_out", StringType()),
        StructField("doctags", StringType()),
        StructField("doclang", StringType()),
        StructField("chunks", ArrayType(CHUNK_STRUCT)),
        StructField("n_texts", IntegerType()),
        StructField("n_tables", IntegerType()),
        StructField("n_pictures", IntegerType()),
        StructField("n_groups", IntegerType()),
        StructField("html_bytes", LongType()),
        StructField("parse_us", LongType()),
        StructField("error", StringType()),
    ]
)


def extract_row(
    url: str,
    html: bytes,
    lang: str,
    chunker: str = "hybrid",
    max_tokens: int = 512,
    emit_doc_json: bool = True,
    emit_html: bool = False,
    emit_doctags: bool = False,
    emit_doclang: bool = False,
    tokenizer=None,
) -> dict:
    """Pure-python single-row extraction (also the single-process oracle).

    ``tokenizer`` (chunker protocol: count_tokens/get_max_tokens) overrides
    the default RegexTokenizer — e.g. a corpus-trained
    ``operators.bpe.BPETokenizer``; pass ONE instance per batch so its
    per-word memo amortizes across rows."""
    t0 = time.perf_counter_ns()
    doc = parse_html(html or b"", name=url)
    html_out = None
    doctags_out = None
    doclang_out = None
    tok = tokenizer if tokenizer is not None else RegexTokenizer(max_tokens)
    # no exporter or chunker writes into the doc (tests/test_export_purity.py),
    # so they share one traversal per (root, flags) and one grid per table
    with doc.read_scope():
        md = export_to_markdown(doc)
        txt = export_to_text(doc)
        if emit_html:
            from docling_core_spark.functions.html_out import export_to_html

            html_out = export_to_html(doc)
        if emit_doctags:
            from docling_core_spark.functions.doctags import export_to_doctags

            doctags_out = export_to_doctags(doc)
        if emit_doclang:
            from docling_core_spark.functions.doclang_out import export_to_doclang

            doclang_out = export_to_doclang(doc, pretty_indentation=None)
        if chunker == "hybrid":
            raw_chunks = HybridChunker(tokenizer=tok).chunk(doc)
        else:
            raw_chunks = list(hierarchical_chunks(doc))
    chunks = [
        {
            "chunk_idx": i,
            "text": c["text"],
            "headings": c.get("headings"),
            "doc_item_refs": [it["self_ref"] for it in c["doc_items"]],
            "n_tokens": tok.count_tokens(contextualize(c)),
        }
        for i, c in enumerate(raw_chunks)
    ]
    return {
        "url": url,
        "lang": lang,
        "doc_json": doc.to_json() if emit_doc_json else None,
        "markdown": md,
        "plain_text": txt,
        "html_out": html_out,
        "doctags": doctags_out,
        "doclang": doclang_out,
        "chunks": chunks,
        "n_texts": len(doc.texts),
        "n_tables": len(doc.tables),
        "n_pictures": len(doc.pictures),
        "n_groups": len(doc.groups),
        "html_bytes": len(html or b""),
        "parse_us": (time.perf_counter_ns() - t0) // 1000,
        "error": None,
    }


def _error_row(
    url: str, lang: str, html_len: int, err: Exception, parse_us: int = 0
) -> dict:
    return {
        "url": url,
        "lang": lang,
        "doc_json": None,
        "markdown": None,
        "plain_text": None,
        "html_out": None,
        "doctags": None,
        "doclang": None,
        "chunks": [],
        "n_texts": 0,
        "n_tables": 0,
        "n_pictures": 0,
        "n_groups": 0,
        "html_bytes": html_len,
        "parse_us": parse_us,
        "error": f"{type(err).__name__}: {err}"[:1000],
    }


def extract_batches(
    batches: Iterable["pa.RecordBatch"],
    max_bytes: int,
    max_tokens: int = 512,
    bpe_merges: Optional[list] = None,
    fault_url_substr: Optional[str] = None,
    **flags,
) -> Iterator["pa.RecordBatch"]:
    """The Python-worker side of ``extract_pages``: (url, html, lang) input
    batches -> EXTRACT_SCHEMA batches, rows in input order.

    The input columns come out with ``to_pylist()`` and the output is built
    from Arrow buffers (``arrow_out``): neither side goes through pandas, and
    nothing here imports it.  Each input batch gives one output batch, or
    more when its output strings pass ``max_bytes``, so the result rows a
    worker holds at once carry less than ``max_bytes`` of strings plus one
    row."""
    out_schema = to_arrow_schema(EXTRACT_SCHEMA)
    tokenizer = None
    if bpe_merges is not None:
        from docling_core_spark.operators.bpe import BPETokenizer

        tokenizer = BPETokenizer(bpe_merges, max_tokens)

    def rows(urls, htmls, langs) -> Iterator[dict]:
        for url, html, lang in zip(urls, htmls, langs):
            t0 = time.perf_counter()
            try:
                if fault_url_substr and fault_url_substr in url:
                    raise RuntimeError("injected fault (chaos test)")
                row = extract_row(
                    url, html, lang, max_tokens=max_tokens, tokenizer=tokenizer, **flags
                )
            except Exception as err:  # noqa: BLE001 — per-row isolation by design
                # failed rows keep their real elapsed time so time-spent
                # lineage includes them
                elapsed_us = int((time.perf_counter() - t0) * 1_000_000)
                row = _error_row(url, lang, len(html or b""), err, elapsed_us)
            yield row

    for rb in batches:
        urls, htmls, langs = (
            rb.column(rb.schema.get_field_index(c)).to_pylist() for c in ("url", "html", "lang")
        )
        yield from capped_batches(out_schema, rows(urls, htmls, langs), max_bytes)


def extract_pages(
    pages: DataFrame,
    chunker: str = "hybrid",
    max_tokens: int = 512,
    emit_doc_json: bool = True,
    emit_html: bool = False,
    emit_doctags: bool = False,
    emit_doclang: bool = False,
    bpe_merges: Optional[list] = None,
    _fault_url_substr: Optional[str] = None,
) -> DataFrame:
    """Fused parse+serialize+chunk stage over a web_pages DataFrame.

    Only `url, html, lang` are consumed — column pruning drops the fat
    pre-extracted `text` column at the scan.

    ``bpe_merges``: a trained BPE merge list ([(left, right), ...], e.g.
    from ``bpe.bpe_train(...).collect()``) — ships to every executor via
    the closure (the spark-submit --py-files analogue of broadcasting a
    tokenizer) and chunking switches from the regex proxy to the real
    subword tokenizer; one BPETokenizer per batch so the per-word memo
    amortizes across rows.

    ``_fault_url_substr`` is a chaos-testing hook: rows whose url contains
    the substring raise inside the batch, which MUST surface as error rows,
    never failed tasks — the html parser is total on garbage (fuzz-tested),
    so without injection the per-row isolation path is unreachable in tests.
    """
    max_bytes = max_bytes_per_batch(pages.sparkSession)

    def run(batches) -> Iterator["pa.RecordBatch"]:
        return extract_batches(
            batches,
            max_bytes,
            chunker=chunker,
            max_tokens=max_tokens,
            emit_doc_json=emit_doc_json,
            emit_html=emit_html,
            emit_doctags=emit_doctags,
            emit_doclang=emit_doclang,
            bpe_merges=bpe_merges,
            fault_url_substr=_fault_url_substr,
        )

    return pages.select("url", "html", "lang").mapInArrow(run, schema=EXTRACT_SCHEMA)


def explode_chunks(docs: DataFrame) -> DataFrame:
    """Doc-level rows -> chunk table (url, chunk_idx, text, headings, refs, n_tokens)."""
    return docs.select(
        "url",
        "lang",
        F.explode("chunks").alias("c"),
    ).select(
        "url",
        "lang",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.text").alias("text"),
        F.col("c.headings").alias("headings"),
        F.col("c.doc_item_refs").alias("doc_item_refs"),
        F.col("c.n_tokens").alias("n_tokens"),
    )


def split_skew(
    pages: DataFrame,
    jumbo_bytes: int = 1_000_000,
    normal_partitions: Optional[int] = None,
    jumbo_partitions: Optional[int] = None,
) -> DataFrame:
    """Skew-aware routing for mega-pages: ONE scan, ONE exchange.

    Every row shuffles once on a routing key: normal pages coarsen to
    ``pmod(xxhash64(url), n_norm)`` buckets, while each jumbo page (html
    larger than jumbo_bytes) keeps a UNIQUE key (its url) so no two jumbos
    share a key.  Since r9 the default bucket count is FINE-GRAINED
    (~256 buckets per partition): normal load spreads ±6% across all
    partitions, and a jumbo's worst-case stall bound is its own bytes plus
    ~1/n_part of the normal pages — tighter than the old
    one-bucket-per-two-partitions layout, whose few distinct keys left
    partitions holding 0 or 2-3 whole buckets (a hard isolation guarantee
    would need an RDD-level custom partitioner, which costs the DataFrame
    columnar path; an explicit ``normal_partitions`` sets the exact bucket
    count for deterministic isolation scenarios).

    Replaced the earlier two-branch filter+union design (r5): that read the
    input TWICE (a filter union cannot share one scan) and ran two
    exchanges; at 100 TB the duplicate scan dominates.  Interleaved A/B on
    the bench crawl table: single-pass ~9.6 s vs two-scan ~10.9 s for the
    full-format pipeline, with half the input I/O.
    """
    sc = pages.sparkSession.sparkContext
    n_part = (normal_partitions or sc.defaultParallelism * 2) + (
        jumbo_partitions or sc.defaultParallelism
    ) * 2
    # Bucket granularity (r9): the default bucket count is now ~256 per
    # partition instead of one-bucket-per-two-partitions.  With only ~2p
    # distinct keys hashed into 4p partitions, collisions left some
    # partitions holding 2-3 whole buckets and others empty (the guide's
    # "synthetic partitioning keys with too few distinct values" trap) —
    # measured ~7% of flagship wall vs a balanced layout.  Fine buckets
    # spread ±6%; the jumbo worst-case stall bound IMPROVES (a jumbo now
    # shares with ~1/n_part of normal pages instead of a whole 1/(2p)
    # bucket).  An explicit normal_partitions keeps its exact-bucket-count
    # meaning (tests pin deterministic isolation scenarios with it).
    n_norm = normal_partitions or n_part * 256
    key = F.when(
        F.length("html") > jumbo_bytes, F.concat(F.lit("J:"), F.col("url"))
    ).otherwise(F.pmod(F.xxhash64("url"), F.lit(n_norm)).cast("string"))
    return pages.repartition(n_part, key)


def lineage_metrics(docs: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics side table (north-rule requirement).

    Pure Catalyst aggregation — partial aggregates map-side, one small shuffle.
    """
    return (
        docs.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_pages"),
            F.count(F.col("error")).alias("n_errors"),
            F.sum("html_bytes").alias("bytes_in"),
            F.sum("n_texts").alias("n_texts"),
            F.sum("n_tables").alias("n_tables"),
            F.sum("n_pictures").alias("n_pictures"),
            F.sum(F.size("chunks")).alias("n_chunks"),
            F.sum("parse_us").alias("parse_us"),
        )
        .transform(lambda d: canonical_order(d, "partition_id"))
    )
