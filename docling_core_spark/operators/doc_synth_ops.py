"""Driver-boundary queries for the round-3 operators: Python code chunking
and field-kv DocLang serialization, as distributed per-row transforms.

Both run the same pure-python row code on Spark (mapInPandas) and in the
single-process expected builder (oracle_expected.py), so the DuckDB oracle
value-hashes the full output.  Inputs derive deterministically from the
synthetic `documents` table — no external data.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from docling_core_spark.functions.code_tree import chunker_class
from docling_core_spark.operators.canon import canonical_order
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_WORD_RE = re.compile(r"[a-z]+")


def synth_python_module(doc_id: str, text: str) -> str:
    """Deterministic small Python module derived from a document row:
    imports, a module constant, a class with a method, a free function with
    a decorator, and trailing top-level code — one of each chunkable shape."""
    words = _WORD_RE.findall(text.lower())[:8] or ["empty"]
    ident = re.sub(r"[^a-z0-9]", "_", doc_id.lower()) or "doc"
    body_lines = "\n".join(
        f'        out.append("{w}")' for w in words[:4]
    )
    return f'''import json
import os
# tuning constant for {ident}
LIMIT_{ident.upper()} = {len(words)}

class Handler_{ident}:
    kind = "{words[0]}"

    def __init__(self, root):
        self.root = os.fspath(root)

    def collect(self):
        out = []
{body_lines}
        return out

@staticmethod
def render_{ident}(items):
    payload = {{"n": LIMIT_{ident.upper()}, "items": list(items)}}
    return json.dumps(payload)

print(render_{ident}(["{words[-1]}"]))
'''


def synth_java_module(doc_id: str, text: str) -> str:
    """Deterministic small Java file derived from a document row: package,
    imports, a copyright header, a method-less interface (class chunk), and
    a class with a field and two methods (function chunks + context)."""
    words = _WORD_RE.findall(text.lower())[:8] or ["empty"]
    ident = re.sub(r"[^a-z0-9]", "_", doc_id.lower()) or "doc"
    adds = "\n".join(f'\t\tout.add("{w}");' for w in words[:4])
    return f"""/* Copyright (c) example. Licensed under the MIT license. */
package com.example.{ident};

import java.util.ArrayList;
import java.util.List;

interface Constants_{ident} {{
\tString KIND = "{words[0]}";
}}

public class Handler_{ident} {{

\tprivate int limit = {len(words)};

\tpublic List<String> collect() {{
\t\tList<String> out = new ArrayList<String>();
{adds}
\t\treturn out;
\t}}

\tpublic int size() {{
\t\treturn limit + Constants_{ident}.KIND.length();
\t}}
}}
"""


def synth_c_module(doc_id: str, text: str) -> str:
    """Deterministic small C file: an include, an object-like macro (module
    variable AND import), a star-keyed global (`*kind_x` glob-import quirk),
    a struct, and two functions with doc comments."""
    words = _WORD_RE.findall(text.lower())[:8] or ["empty"]
    ident = re.sub(r"[^a-z0-9]", "_", doc_id.lower()) or "doc"
    return f"""/* Copyright (c) example. Licensed under the MIT license. */
#include <stddef.h>

/* tuning for {ident} */
#define LIMIT_{ident.upper()} {len(words)}

static const char *kind_{ident} = "{words[0]}";

struct item_{ident}
{{
\tint idx;
}};

/* count helper for {ident} */
static int count_{ident}(const char *s)
{{
\tstruct item_{ident} it;
\tit.idx = LIMIT_{ident.upper()};
\treturn it.idx + (int)(s != kind_{ident});
}}

int total_{ident}(void)
{{
\treturn count_{ident}("{words[-1]}");
}}
"""


def synth_ts_module(doc_id: str, text: str) -> str:
    """Deterministic small TypeScript file: imports, a documented class with
    a method (function chunk + context), a method-less class (class chunk),
    a free function, and an export statement (preamble)."""
    words = _WORD_RE.findall(text.lower())[:8] or ["empty"]
    ident = re.sub(r"[^a-z0-9]", "_", doc_id.lower()) or "doc"
    return f"""import {{ format_{ident} }} from "./format";
import helpers from "./helpers";

/**
 * Handler for {ident}.
 */
class Handler_{ident} {{
  kind: string = "{words[0]}";

  resolve(name: string): string {{
    return helpers.join(name, this.kind);
  }}
}}

class Empty_{ident} {{
  marker: number = {len(words)};
}}

function load_{ident}(p: string): string {{
  return format_{ident}(p) + "{words[-1]}";
}}

export default Handler_{ident};
"""


def synth_js_module(doc_id: str, text: str) -> str:
    """Deterministic small JavaScript file exercising the JS-specific lexer
    paths golden-tested in chunker_repo/JS: a regex literal in initializer
    position vs division after an identifier, an aliased named import
    (``{a as b}`` registers "a"), a documented class with a method, a free
    function, and an export statement (a "function type" in the reference
    config, so exported declarations are preamble-only)."""
    words = _WORD_RE.findall(text.lower())[:8] or ["empty"]
    ident = re.sub(r"[^a-z0-9]", "_", doc_id.lower()) or "doc"
    n = len(words)
    return f"""import {{ format_{ident} as fmt }} from "./format";
import helpers from "./helpers";

const PATTERN_{ident} = /[a-z]+{{1,{n}}}/g;

/**
 * Handler for {ident}.
 */
class Handler_{ident} {{
  constructor() {{
    this.kind = "{words[0]}";
  }}

  resolve(name) {{
    return helpers.join(name, this.kind).length / {n};
  }}
}}

function load_{ident}(p) {{
  const ratio = p.length / {n};
  return fmt(p) + "{words[-1]}" + PATTERN_{ident}.source + ratio;
}}

export default Handler_{ident};
"""


_SYNTH_LANGUAGES = {
    "python": ("Python", synth_python_module),
    "java": ("Java", synth_java_module),
    "c": ("C", synth_c_module),
    "ts": ("TypeScript", synth_ts_module),
    "js": ("JavaScript", synth_js_module),
}


def _chunker_for(lang: str):
    """(module synthesizer, chunk function) for a ``lang`` operator key."""
    if lang not in _SYNTH_LANGUAGES:
        raise ValueError(f"unknown code-chunk language: {lang}")
    language, synth = _SYNTH_LANGUAGES[lang]
    return synth, chunker_class(language).chunk_code


def code_chunk_rows(doc_id: str, text: str, lang: str = "python") -> list[dict]:
    """Chunk the synthesized module; scalar columns only (driver contract)."""
    synth, chunker = _chunker_for(lang)
    code = synth(doc_id, text)
    rows = []
    for i, chunk in enumerate(chunker(code)):
        m = chunk["meta"]
        rows.append(
            {
                "doc_id": doc_id,
                "chunk_idx": i,
                "part_name": m.get("part_name"),
                "chunk_type": m["chunk_type"],
                "start_line": int(m["start_line"]),
                "end_line": int(m["end_line"]),
                "sha1_int": str(m["sha256"]),
                "chunk_text": chunk["text"],
            }
        )
    return rows


CODE_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("chunk_idx", IntegerType()),
        StructField("part_name", StringType()),
        StructField("chunk_type", StringType()),
        StructField("start_line", IntegerType()),
        StructField("end_line", IntegerType()),
        StructField("sha1_int", StringType()),
        StructField("chunk_text", StringType()),
    ]
)


def code_chunks(docs: DataFrame, lang: str = "python") -> DataFrame:
    """Distributed code chunking over synthesized modules (C8); one variant
    per ported language (python/java/c/ts)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in CODE_CHUNK_SCHEMA.fields]
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                rows.extend(code_chunk_rows(str(doc_id), str(text), lang))
            yield pd.DataFrame(rows, columns=cols)

    return (
        docs.select("doc_id", "text")
        .mapInPandas(run, schema=CODE_CHUNK_SCHEMA)
        .transform(lambda d: canonical_order(d, "doc_id", "chunk_idx"))
    )


def synth_layout_doc(doc_id: str, text: str):
    """Deterministic document with geometry derived from the row: one page,
    provenance'd texts, a 2x2 table with a header cell, and a key-value
    graph with one to_value link — every overlay kind the visualizers draw."""
    from docling_core_spark.model.doc import Doc

    words = _WORD_RE.findall(text.lower())[:6] or ["empty"]
    d = Doc(name=doc_id)
    d.add_page(1, 612.0, 792.0)

    def bb(i: int, w: str) -> dict:
        x0 = 40.0 + 13.0 * (len(w) % 7)
        y_top = 740.0 - 60.0 * i  # BOTTOMLEFT: t above b
        return {
            "l": x0,
            "t": y_top,
            "r": x0 + 30.0 + 9.0 * len(w),
            "b": y_top - 14.0,
            "coord_origin": "BOTTOMLEFT",
        }

    for i, w in enumerate(words):
        label = "section_header" if i == 0 else "text"
        d.add_text(label, w, prov=[{"page_no": 1, "bbox": bb(i, w), "charspan": [0, len(w)]}])

    def cell(r, c, txt, header=False):
        return {
            "bbox": {
                "l": 300.0 + 80.0 * c,
                "t": 700.0 - 24.0 * r,
                "r": 376.0 + 80.0 * c,
                "b": 680.0 - 24.0 * r,
                "coord_origin": "BOTTOMLEFT",
            },
            "row_span": 1,
            "col_span": 1,
            "start_row_offset_idx": r,
            "end_row_offset_idx": r + 1,
            "start_col_offset_idx": c,
            "end_col_offset_idx": c + 1,
            "text": txt,
            "column_header": header,
            "row_header": False,
            "row_section": False,
        }

    d.add_table(
        data={
            "num_rows": 2,
            "num_cols": 2,
            "table_cells": [
                cell(0, 0, "k", header=True),
                cell(0, 1, "v", header=True),
                cell(1, 0, words[0]),
                cell(1, 1, words[-1]),
            ],
        },
        prov=[{"page_no": 1, "bbox": {"l": 300.0, "t": 700.0, "r": 456.0, "b": 656.0, "coord_origin": "BOTTOMLEFT"}, "charspan": [0, 0]}],
    )
    d.add_key_values(
        graph={
            "cells": [
                {
                    "cell_id": 0,
                    "label": "key",
                    "text": words[0],
                    "prov": {"page_no": 1, "bbox": {"l": 60.0, "t": 200.0, "r": 140.0, "b": 184.0, "coord_origin": "BOTTOMLEFT"}, "charspan": [0, 0]},
                },
                {
                    "cell_id": 1,
                    "label": "value",
                    "text": words[-1],
                    "prov": {"page_no": 1, "bbox": {"l": 180.0, "t": 200.0, "r": 300.0, "b": 184.0, "coord_origin": "BOTTOMLEFT"}, "charspan": [0, 0]},
                },
            ],
            "links": [{"source_cell_id": 0, "target_cell_id": 1, "label": "to_value"}],
        }
    )
    return d


def visualize_svg_row(doc_id: str, text: str) -> dict:
    """Stacked SVG overlay of the synthesized document; scalar columns."""
    from docling_core_spark.functions.visualize_svg import visualize_doc_svg

    doc = synth_layout_doc(doc_id, text)
    svg = visualize_doc_svg(doc)[1]
    return {
        "doc_id": doc_id,
        "page_no": 1,
        "svg": svg,
        "n_rects": svg.count("<rect"),
        "n_arrows": svg.count("<polygon"),
    }


VISUALIZE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("svg", StringType()),
        StructField("n_rects", IntegerType()),
        StructField("n_arrows", IntegerType()),
    ]
)


def visualize_svg_op(docs: DataFrame) -> DataFrame:
    """Distributed visualizer-overlay rendering (map-only mapInPandas)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VISUALIZE_SCHEMA.fields]
        for pdf in batches:
            rows = [
                visualize_svg_row(str(doc_id), str(text))
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return (
        docs.select("doc_id", "text")
        .mapInPandas(run, schema=VISUALIZE_SCHEMA)
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def doclang_kv_row(doc_id: str, lang: str, text: str) -> dict:
    """Build a field-kv document for the row (builders + legacy-graph
    migration) and serialize to minimized DocLang."""
    from docling_core_spark.functions.doclang_out import export_to_doclang
    from docling_core_spark.model.doc import Doc

    words = _WORD_RE.findall((text or "").lower())[:6] or ["empty"]
    doc = Doc(name=doc_id)
    # the legacy graph item comes first: a single *trailing* kv item would
    # take the annotation-migration path (reference document.py:382-401)
    doc.add_key_values(
        graph={
            "cells": [
                {"label": "key", "cell_id": 0, "text": "tail_word", "orig": "tail_word"},
                {"label": "value", "cell_id": 1, "text": words[-1], "orig": words[-1]},
            ],
            "links": [
                {"label": "to_value", "source_cell_id": 0, "target_cell_id": 1}
            ],
        }
    )
    region = doc.add_field_region()
    doc.add_field_heading(f"Record {doc_id}", parent=region)
    fi = doc.add_field_item(parent=region)
    doc.add_field_key("lang", parent=fi)
    doc.add_field_value(lang or "", parent=fi)
    fi = doc.add_field_item(parent=region)
    doc.add_field_key("first_words", parent=fi)
    for w in words[:3]:
        doc.add_field_value(w, parent=fi, kind="fillable")

    doc.migrate_to_field_regions()
    out = export_to_doclang(doc, include_version=False, pretty_indentation=None)
    return {
        "doc_id": doc_id,
        "doclang_kv": out,
        "n_field_regions": len(doc.field_regions),
        "n_field_items": len(doc.field_items),
    }


DOCLANG_KV_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("doclang_kv", StringType()),
        StructField("n_field_regions", IntegerType()),
        StructField("n_field_items", IntegerType()),
    ]
)


def doclang_field_kv(docs: DataFrame) -> DataFrame:
    """Distributed field-kv DocLang serialization (S5 field-kv surface)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DOCLANG_KV_SCHEMA.fields]
        for pdf in batches:
            rows = [
                doclang_kv_row(str(d), str(lg), str(tx))
                for d, lg, tx in zip(pdf["doc_id"], pdf["lang"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return (
        docs.select("doc_id", "lang", "text")
        .mapInPandas(run, schema=DOCLANG_KV_SCHEMA)
        .transform(lambda d: canonical_order(d, "doc_id"))
    )
