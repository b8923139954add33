"""Arrow output built from buffers (``operators/arrow_out.py``).

The builder must give the batch ``pa.array`` gives, byte for byte; a worker
that uses it must never import pandas; and one input batch whose output
passes the byte cap comes back as several batches holding the same rows.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from docling_core_spark.operators.arrow_out import capped_batches, record_batch
from docling_core_spark.operators.boilerplate import main_content_sql_rows
from docling_core_spark.operators.extract import (
    EXTRACT_SCHEMA,
    _error_row,
    extract_batches,
    extract_row,
)
from docling_core_spark.sources.web_pages import synth_rows

ROOT = Path(__file__).resolve().parents[1]
OUT_SCHEMA = to_arrow_schema(EXTRACT_SCHEMA)
MAIN_CONTENT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("n_paragraphs", pa.int32()),
        ("n_good", pa.int32()),
        ("n_chars", pa.int32()),
        ("n_chars_good", pa.int32()),
        ("main_text", pa.string()),
    ]
)
FLAGS = dict(emit_doc_json=True, emit_html=True, emit_doctags=True, emit_doclang=True)
ASTRAL = "𝄞 clef, 😀 face, ĳ, ß, 中文, é"


def _pages(n: int = 8) -> list[dict]:
    # doc id 101 * k is a mega-page in synth_html, 97 and 98 mod 101 degenerate
    ids = [101 * 1000 + i for i in (0, 1, 2, 97, 98, 3, 4, 5)][:n]
    texts = [f"spark window {ASTRAL} merge table column vector stream value {i}" for i in range(n)]
    langs = ["en", "zh", "es", "fr", "de", "en", "en", "zh"][:n]
    return list(synth_rows(ids, texts, langs))


def _pa_array_batch(schema: pa.Schema, rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[f.name] for r in rows], type=f.type) for f in schema], schema=schema
    )


def _extract_rows(pages: list[dict]) -> list[dict]:
    return [extract_row(p["url"], p["html"], p["lang"], **FLAGS) for p in pages]


def _input_batch(pages: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(
        [{k: p[k] for k in ("url", "html", "lang")} for p in pages],
        schema=pa.schema([("url", pa.string()), ("html", pa.binary()), ("lang", pa.string())]),
    )


def _without_parse_us(rows: list[dict]) -> list[dict]:
    return [{k: v for k, v in r.items() if k != "parse_us"} for r in rows]


def _chunk(text, headings, refs, idx=0):
    return {
        "chunk_idx": idx, "text": text, "headings": headings, "doc_item_refs": refs, "n_tokens": 3
    }


def _row(**kw) -> dict:
    row = _error_row("https://example.org/x", "en", 10, ValueError("boom"))
    row.update(error=None, **kw)
    return row


CASES = {
    "empty": [],
    "all_null_columns": [_row(), _row(lang=None, url=None)],
    "no_headings_and_empty_chunks": [
        _row(chunks=[]),
        _row(chunks=[_chunk("a", None, []), _chunk("b", [], ["#/texts/0"], 1)]),
        _row(chunks=[_chunk("", ["h"], ["#/texts/1", "#/texts/2"])]),
    ],
    "error_rows": [
        _error_row("https://example.org/a", "en", 3, RuntimeError("injected fault")),
        _error_row("https://example.org/b", None, 0, ValueError(ASTRAL), 17),
    ],
    "non_ascii_text": [
        _row(
            markdown=ASTRAL * 3,
            plain_text="ascii only",
            doclang="",
            chunks=[
                _chunk(ASTRAL, [ASTRAL, "h2"], ["#/texts/😀"]),
                _chunk("x" * 70_000, None, [], 1),
            ],
        ),
        _row(markdown="", plain_text=ASTRAL),
    ],
    "extract_rows": _extract_rows(_pages()),
}


@pytest.mark.parametrize("rows", list(CASES.values()), ids=list(CASES))
def test_extract_batch_from_buffers_equals_pa_array(rows):
    got = record_batch(OUT_SCHEMA, rows)
    got.validate(full=True)
    assert got.num_rows == len(rows)
    assert got.equals(_pa_array_batch(OUT_SCHEMA, rows))


def test_main_content_batch_from_buffers_equals_pa_array():
    pages = _pages()
    rows = list(main_content_sql_rows([(p["url"], p["html"]) for p in pages]))
    rows.append(dict.fromkeys(MAIN_CONTENT_SCHEMA.names, 0) | {"url": None, "main_text": None})
    got = record_batch(MAIN_CONTENT_SCHEMA, rows)
    got.validate(full=True)
    assert got.equals(_pa_array_batch(MAIN_CONTENT_SCHEMA, rows))


def test_column_rejects_an_unsupported_type():
    with pytest.raises(TypeError, match="no buffer builder"):
        record_batch(pa.schema([("x", pa.float64())]), [{"x": 1.0}])


def test_cap_counts_utf8_bytes_and_never_splits_a_row():
    schema = pa.schema([("s", pa.string()), ("n", pa.int32())])
    rows = [{"s": "é" * 5, "n": i} for i in range(7)]  # 10 UTF-8 bytes, 5 characters each
    batches = list(capped_batches(schema, rows, 25))
    assert [b.num_rows for b in batches] == [3, 3, 1]
    assert pa.Table.from_batches(batches).to_pylist() == rows
    assert [b.num_rows for b in capped_batches(schema, rows, 1)] == [1] * 7
    assert [b.num_rows for b in capped_batches(schema, [], 25)] == [0]


def test_byte_cap_splits_one_input_batch_into_several_with_the_same_rows():
    pages = _pages()
    expected = _without_parse_us(_pa_array_batch(OUT_SCHEMA, _extract_rows(pages)).to_pylist())
    one = list(extract_batches(iter([_input_batch(pages)]), 1 << 40, **FLAGS))
    assert len(one) == 1
    total = sum(len(r["markdown"].encode()) for r in expected)
    capped = list(extract_batches(iter([_input_batch(pages)]), total // 4, **FLAGS))
    assert len(capped) > 1
    for b in capped:
        b.validate(full=True)
        assert b.schema == OUT_SCHEMA
    assert _without_parse_us(pa.Table.from_batches(capped).to_pylist()) == expected
    assert _without_parse_us(one[0].to_pylist()) == expected


_NO_PANDAS_PROBE = """
import sys
import pyarrow as pa
from docling_core_spark.operators.boilerplate import main_content_sql_rows
from docling_core_spark.operators.arrow_out import capped_batches
from docling_core_spark.operators.extract import extract_batches

(batch,) = pa.ipc.open_stream(sys.stdin.buffer.read())
out = list(extract_batches(iter([batch]), 1 << 24, emit_doc_json=True, emit_html=True,
                           emit_doctags=True, emit_doclang=True))
urls, htmls = batch.column(0).to_pylist(), batch.column(1).to_pylist()
schema = pa.schema([("url", pa.string()), ("main_text", pa.string())])
mc = list(capped_batches(schema, main_content_sql_rows(zip(urls, htmls)), 1 << 24))
print(sum(b.num_rows for b in out), sum(b.num_rows for b in mc), "pandas" in sys.modules)
pa.array([1])
print("pandas" in sys.modules)
"""


def test_worker_batch_functions_never_import_pandas():
    sink = pa.BufferOutputStream()
    batch = _input_batch(_pages())
    with pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_PROBE],
        input=sink.getvalue().to_pybytes(),
        capture_output=True,
        cwd=ROOT,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    first, second = proc.stdout.decode().split("\n")[:2]
    assert first == "8 8 False", "a worker batch function imported pandas"
    assert second == "True", "the probe cannot see pyarrow's pandas import"


_SPARK_PROBE = """
from docling_core_spark.session import get_spark
from docling_core_spark.operators.boilerplate import main_content_df
from docling_core_spark.operators.extract import extract_pages
from docling_core_spark.sources.web_pages import synth_rows

spark = get_spark(app_name="no-pandas-in-workers", cpus=2, shuffle_partitions=4)
ids = [101 * 1000 + i for i in range(12)]
rows = [
    (r["url"], r["html"], r["lang"])
    for r in synth_rows(ids, ["spark table é"] * 12, ["en"] * 12)
]
pages = spark.createDataFrame(rows, "url string, html binary, lang string").repartition(4)
docs = extract_pages(pages, emit_html=True, emit_doctags=True, emit_doclang=True)
docs.write.format("noop").mode("overwrite").save()
main_content_df(pages).write.format("noop").mode("overwrite").save()


def probe(batches):
    import os
    import sys

    import pyarrow as pa

    from docling_core_spark.operators.arrow_out import record_batch

    for _ in batches:
        pass
    mods = sys.modules
    flags = ("pandas", "extract", "main_content")
    yield record_batch(
        pa.schema([("pid", pa.int64())] + [(c, pa.int32()) for c in flags]),
        [{
            "pid": os.getpid(),
            "pandas": int("pandas" in mods),
            "extract": int("docling_core_spark.functions.chunkers" in mods),
            "main_content": int("docling_core_spark.operators.boilerplate" in mods),
        }],
    )


got = spark.range(0, 16, numPartitions=8).mapInArrow(
    probe, "pid long, pandas int, extract int, main_content int"
).collect()
print(sorted({tuple(r) for r in got}))
assert any(r.extract for r in got) and any(r.main_content for r in got), "probe missed the workers"
assert not any(r.pandas for r in got), "a Python worker loaded pandas"
spark.stop()
"""


def test_spark_workers_never_load_pandas_after_extract_and_main_content():
    proc = subprocess.run(
        [sys.executable, "-c", _SPARK_PROBE],
        capture_output=True,
        cwd=ROOT,
        timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout.decode() + proc.stderr.decode())[-3000:]
