"""Azure Document Intelligence JSON serialization (reference azure.py, P7).

Accumulator pattern over the shared traversal: text items become
`paragraphs` (with camelCase roles), tables become cell grids with span
anchors, pictures become `figures`; pages carry number+size.  Output is the
Azure-compatible JSON string (GT: activities.gt.azure.json).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Optional

from docling_core_spark.functions.geometry import to_top_left_tuple
from docling_core_spark.functions.serializers import (
    DocSerializer,
    MarkdownParams,
    SerResult,
    _res,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

_ROLE_BY_LABEL = {
    M.TITLE: "title",
    M.SECTION_HEADER: "sectionHeading",
    M.FOOTNOTE: "footnote",
    M.PAGE_HEADER: "pageHeader",
    M.PAGE_FOOTER: "pageFooter",
}


def _polygon(l: float, t: float, r: float, b: float) -> list[float]:
    return [l, t, r, t, r, b, l, b]


@dataclass
class AzureParams(MarkdownParams):
    """Azure serialization parameters (ALL content layers, per CommonParams)."""

    layers: frozenset = frozenset(M.CONTENT_LAYERS)
    indent: Optional[int] = None
    escape_underscores: bool = False
    escape_html: bool = False


class AzureSerializer(DocSerializer):
    """Azure-JSON dispatch engine (accumulates, then dumps once)."""

    # key-value and form items have no Azure form
    _MISSING_KEY_VALUE = ""
    _MISSING_FORM = ""

    params: AzureParams

    def __init__(self, doc: Doc, params: Optional[AzureParams] = None):
        super().__init__(doc, params or AzureParams())
        self._acc = {"pages": [], "tables": [], "figures": [], "paragraphs": []}

    def _poly_for_item(self, item: dict) -> tuple[Optional[int], Optional[list[float]]]:
        prov = (item.get("prov") or [None])[0]
        if not prov or not prov.get("bbox"):
            return None, None
        page_no = prov.get("page_no")
        return page_no, _polygon(*self._top_left(prov["bbox"], self._page_height(page_no)))

    def _page_height(self, page_no) -> Optional[float]:
        page = self.doc.page(page_no)
        return (page.get("size") or {}).get("height") if page else None

    @staticmethod
    def _top_left(bbox: dict, page_h: Optional[float]) -> tuple:
        """Top-left (l, t, r, b); kept as it is when the page has no height."""
        if page_h is None:
            return (bbox["l"], bbox["t"], bbox["r"], bbox["b"])
        return to_top_left_tuple(bbox, page_h)

    def _serialize_text_item(self, item: dict, visited: set, is_inline_scope: bool) -> SerResult:
        page_no, poly = self._poly_for_item(item)
        content = item.get("text", "")
        if content != "" and poly is not None:
            para = {
                "content": content,
                "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
            }
            role = _ROLE_BY_LABEL.get(item.get("label"))
            if role:
                para["role"] = role
            self._acc["paragraphs"].append(para)
        return _res()

    def _serialize_table(self, item: dict, visited: set, nested: bool = False) -> SerResult:
        page_no, poly = self._poly_for_item(item)
        if poly is None:
            return _res()
        data = item.get("data") or {}
        table = {
            "rowCount": data.get("num_rows", 0),
            "columnCount": data.get("num_cols", 0),
            "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
            "cells": [],
        }
        page_h = self._page_height(page_no)
        for i, row in enumerate(self._grid_c(data)):
            for j, cell in enumerate(row):
                if i != cell.get("start_row_offset_idx", i) or j != cell.get("start_col_offset_idx", j):
                    continue
                content = self._cell_text(cell, visited)
                cell_obj = {
                    "content": content.strip(),
                    "rowIndex": cell.get("start_row_offset_idx", i),
                    "columnIndex": cell.get("start_col_offset_idx", j),
                    "rowSpan": max(cell.get("row_span", 1), 1),
                    "colSpan": max(cell.get("col_span", 1), 1),
                }
                kind = (
                    "columnHeader"
                    if cell.get("column_header")
                    else ("rowHeader" if cell.get("row_header") else None)
                )
                if kind:
                    cell_obj["kind"] = kind
                bbox = cell.get("bbox")
                if bbox is not None:
                    cell_obj["boundingRegions"] = [
                        {"pageNumber": page_no, "polygon": _polygon(*self._top_left(bbox, page_h))}
                    ]
                table["cells"].append(cell_obj)
        self._acc["tables"].append(table)
        return _res()

    def _serialize_picture(self, item: dict, visited: set) -> SerResult:
        page_no, poly = self._poly_for_item(item)
        if poly is None:
            return _res()
        fig = {"boundingRegions": [{"pageNumber": page_no, "polygon": poly}]}
        foots = []
        for ref in item.get("footnotes", ()):
            tgt = self.doc.resolve(ref["$ref"])
            if M.is_text_item(tgt) and tgt.get("prov"):
                f_page, f_poly = self._poly_for_item(tgt)
                if f_poly is not None:
                    foots.append(
                        {
                            "content": tgt.get("text", ""),
                            "boundingRegions": [{"pageNumber": f_page, "polygon": f_poly}],
                        }
                    )
        if foots:
            fig["footnotes"] = foots
        self._acc["figures"].append(fig)
        return _res()

    def _serialize_list_group(self, item, visited, list_level, is_inline_scope) -> SerResult:
        # children are visited by the outer traversal; no list structure emitted
        return _res()

    def _serialize_inline_group(self, item, visited, list_level) -> SerResult:
        return _res()

    def _serialize_fallback(self, item, visited) -> SerResult:
        return _res()

    def serialize_meta(self, item: dict) -> SerResult:
        return _res()

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        for page_key in sorted(self.doc.pages, key=lambda k: int(k)):
            page = self.doc.pages[page_key]
            size = page.get("size")
            if size is not None:
                self._acc["pages"].append(
                    {
                        "pageNumber": int(page_key),
                        "width": size["width"],
                        "height": size["height"],
                        "words": [],
                    }
                )
        # assemble in the reference's field order
        out = {
            "pages": self._acc["pages"],
            "tables": self._acc["tables"],
            "figures": self._acc["figures"],
            "paragraphs": self._acc["paragraphs"],
        }
        return _res(json.dumps(out, ensure_ascii=False, indent=self.params.indent))


def export_to_azure(doc: Doc, indent: Optional[int] = None, **overrides) -> str:
    """Azure-JSON export (reference AzureDocSerializer)."""
    params = AzureParams(
        labels=frozenset(overrides.pop("labels", M.DOCUMENT_TOKENS_EXPORT_LABELS)),
        indent=indent,
        **overrides,
    )
    return AzureSerializer(doc, params).serialize().text
