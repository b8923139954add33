"""Regression tests for export bugs, each failing before its fix."""

from __future__ import annotations

import json

from docling_core_spark.functions.doclang_out import export_to_doclang
from docling_core_spark.functions.serializers import export_to_markdown, export_to_text
from docling_core_spark.model.doc import Doc


def _bbox(l, t, r, b, origin="TOPLEFT"):
    return {"l": l, "t": t, "r": r, "b": b, "coord_origin": origin}


def test_doclang_picture_class_skips_none_confidence():
    """A prediction with ``confidence: None`` is skipped when picking the
    class, as the other formats do; it used to raise TypeError."""
    doc = Doc(name="pic")
    doc.add_page(1, 100.0, 100.0)
    pic = doc.add_picture(prov=[{"page_no": 1, "bbox": _bbox(10, 10, 90, 90), "charspan": [0, 0]}])
    pic["meta"] = {"classification": {"predictions": [
        {"class_name": "no_confidence", "confidence": None},
        {"class_name": "bar_chart", "confidence": 0.3},
    ]}}
    out = export_to_doclang(doc)
    assert '<label value="bar_chart"/>' in out
    assert "no_confidence" not in out


def _cell(text, row, col):
    return {"text": text, "row_span": 1, "col_span": 1,
            "start_row_offset_idx": row, "end_row_offset_idx": row + 1,
            "start_col_offset_idx": col, "end_col_offset_idx": col + 1}


def test_export_after_add_table_cell_shows_the_new_cell():
    """An export after ``add_table_cell`` renders the new cell, not a grid
    remembered from the export before it."""
    doc = Doc(name="t")
    table = doc.add_table({"num_rows": 1, "num_cols": 2, "table_cells": [_cell("a", 0, 0)]})
    assert export_to_markdown(doc) == "| a   |    |\n|-----|----|"
    doc.add_table_cell(table, _cell("b", 0, 1))
    assert export_to_markdown(doc) == "| a   | b   |\n|-----|-----|"


def test_export_after_content_layer_edit_drops_the_item():
    """Moving an item to the furniture layer by a plain dict edit between two
    exports takes it out of the second (body-only) export."""
    doc = Doc(name="t")
    doc.add_text("text", "keep")
    moved = doc.add_text("text", "moved")
    assert export_to_markdown(doc) == "keep\n\nmoved"
    moved["content_layer"] = "furniture"
    assert export_to_markdown(doc) == "keep"
    assert export_to_text(doc) == "keep"


def _boxed_doc(origin):
    doc = Doc(name="boxes")
    doc.add_page(1, 200.0, 100.0)
    doc.add_text("text", "boxed", prov=[{"page_no": 1, "bbox": _bbox(10, 20, 90, 40, origin),
                                          "charspan": [0, 5]}])
    cell = {**_cell("c", 0, 0), "bbox": _bbox(12, 50, 30, 60, origin)}
    doc.add_table({"num_rows": 1, "num_cols": 1, "table_cells": [cell]},
                  prov=[{"page_no": 1, "bbox": _bbox(10, 50, 90, 70, origin), "charspan": [0, 0]}])
    return doc


def test_null_coord_origin_means_top_left_in_every_format():
    """``coord_origin: null`` reads as top-left, the schema default, in every
    format that places boxes; doctags, azure and svg used to raise
    AttributeError on it while doclang already read it as top-left."""
    from docling_core_spark.functions.azure_out import export_to_azure
    from docling_core_spark.functions.doctags import export_to_doctags
    from docling_core_spark.functions.visualize_svg import visualize_doc_svg

    for export in (export_to_doctags, export_to_doclang, export_to_azure, visualize_doc_svg):
        assert export(_boxed_doc(None)) == export(_boxed_doc("TOPLEFT")), export.__name__
    assert export_to_doctags(_boxed_doc("BOTTOMLEFT")) != export_to_doctags(_boxed_doc(None))


def test_null_coord_origin_geometry():
    from docling_core_spark.functions import geometry as G

    a, b = _bbox(0, 0, 10, 10, None), _bbox(5, 5, 15, 15, None)
    assert G.is_topleft(a) and not G.is_topleft(_bbox(0, 10, 10, 0, "BOTTOMLEFT"))
    assert G.intersection_area(a, b) == 25
    assert G.to_top_left_tuple(_bbox(1, 90, 3, 80, "BOTTOMLEFT"), 100.0) == (1, 10, 3, 20)
    assert G.to_top_left_tuple(a, 100.0) == (0, 0, 10, 10)


def test_to_json_of_cell_without_offsets_dumps_it():
    """A cell without offsets covers no grid slot; ``to_json`` used to raise
    KeyError on it while the serializers already rendered the table."""
    doc = Doc(name="t")
    doc.add_table({"num_rows": 1, "num_cols": 1, "table_cells": [{"text": "loose"}]})
    data = json.loads(doc.to_json())["tables"][0]["data"]
    assert data["table_cells"][0]["text"] == "loose"
    assert data["grid"][0][0]["text"] == ""


def test_page_lookup_takes_str_and_int_keys():
    doc = Doc(name="p")
    page = doc.add_page(1, 10.0, 20.0)
    assert doc.page(1) is page and doc.page("1") is page
    doc.pages = {2: page}
    assert doc.page(2) is page
    assert doc.page(3) is None
