"""Spark-level document operators: per-group concatenate, page filter, page
chunks, per-doc profile — the T3/T4/C7/A1 operators over doc_json columns.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from docling_core_spark.functions.chunkers import page_chunks, profile_doc
from docling_core_spark.model.doc import Doc
from docling_core_spark.model.transform import concatenate

CONCAT_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("doc_json", StringType()),
        StructField("n_docs", IntegerType()),
    ]
)


def concatenate_docs(docs: DataFrame, group_col: str, doc_json_col: str = "doc_json", order_col: str = "url") -> DataFrame:
    """Merge all docs of a group into one (reference concatenate, T4).

    groupBy + applyInPandas; deterministic merge order via order_col.
    """

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        parsed = [Doc.from_json(s) for s in pdf[doc_json_col] if s]
        merged = concatenate(parsed)
        return pd.DataFrame(
            [
                {
                    "group_key": str(pdf[group_col].iloc[0]),
                    "doc_json": merged.to_json(),
                    "n_docs": len(parsed),
                }
            ]
        )

    return docs.groupBy(group_col).applyInPandas(merge, schema=CONCAT_SCHEMA)


PAGE_CHUNK_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_no", IntegerType()),
        StructField("text", StringType()),
        StructField("doc_item_refs", ArrayType(StringType())),
    ]
)


def page_chunks_df(docs: DataFrame, doc_json_col: str = "doc_json") -> DataFrame:
    """One chunk per page per document (reference PageChunker, C7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, dj in zip(pdf["url"], pdf[doc_json_col]):
                if not dj:
                    continue
                try:
                    for c in page_chunks(Doc.from_json(dj)):
                        out.append(
                            {
                                "url": url,
                                "page_no": c.get("page_no"),
                                "text": c["text"],
                                "doc_item_refs": [it["self_ref"] for it in c["doc_items"]],
                            }
                        )
                except Exception:  # noqa: BLE001
                    continue
            yield pd.DataFrame(out, columns=[f.name for f in PAGE_CHUNK_SCHEMA.fields])

    return docs.select("url", doc_json_col).mapInPandas(run, schema=PAGE_CHUNK_SCHEMA)


PROFILE_FIELDS = [
    "num_pages", "num_tables", "num_pictures", "num_texts", "num_key_value_items",
    "num_form_items", "num_section_headers", "num_list_items", "num_code_items",
    "num_formulas", "num_pictures_for_ocr",
]

PROFILE_SCHEMA = StructType(
    [StructField("url", StringType())] + [StructField(f, IntegerType()) for f in PROFILE_FIELDS]
)


def profile_docs_df(docs: DataFrame, doc_json_col: str = "doc_json") -> DataFrame:
    """Reference profile_document per row (A1)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, dj in zip(pdf["url"], pdf[doc_json_col]):
                if not dj:
                    continue
                try:
                    p = profile_doc(Doc.from_json(dj))
                    out.append({"url": url, **{k: p[k] for k in PROFILE_FIELDS}})
                except Exception:  # noqa: BLE001
                    continue
            yield pd.DataFrame(out, columns=[f.name for f in PROFILE_SCHEMA.fields])

    return docs.select("url", doc_json_col).mapInPandas(run, schema=PROFILE_SCHEMA)
