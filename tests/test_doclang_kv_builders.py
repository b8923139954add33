"""Field-kv builder + graph-migration parity vs the reference's committed
documents (reference test/test_serialization_doclang.py:858-1283: the docs are
rebuilt here through the dict-model builders and must dump byte-equal to the
committed *.out.json and serialize byte-equal to the *.out.dclg.xml GT)."""

from __future__ import annotations

from docling_core_spark.functions.doclang_out import export_to_doclang
from docling_core_spark.model.doc import Doc

from .conftest import load_doc_json, load_gt

_FMT_BOLD = {
    "bold": True,
    "italic": False,
    "underline": False,
    "strikethrough": False,
    "script": "baseline",
}


def _prov():
    # BoundingBox.from_tuple((1, 2, 3, 4), origin=BOTTOMLEFT): y-sorted so t>=b
    return [
        {
            "page_no": 1,
            "bbox": {"l": 1.0, "t": 4.0, "r": 3.0, "b": 2.0, "coord_origin": "BOTTOMLEFT"},
            "charspan": [0, 2],
        }
    ]


def _assert_parity(doc: Doc, name: str, **ser_kw):
    expected = load_doc_json(f"doc/{name}.json")
    got = doc.to_dict()
    got["version"] = expected["version"]
    assert got == expected
    out = export_to_doclang(doc, include_version=False, **ser_kw)
    assert out.rstrip() == load_gt(f"doc/{name}.dclg.xml").rstrip()


def test_kv_built():
    doc = Doc(name="")
    kvm = doc.add_field_region()

    doc.add_field_heading("KV heading", parent=kvm)

    kve = doc.add_field_item(parent=kvm)
    doc.add_field_key("simple key", parent=kve)
    doc.add_field_value("simple value", parent=kve)

    doc.add_field_heading("KV sub-heading", level=2, parent=kvm)

    inl = doc.add_inline_group(parent=kvm)
    kve = doc.add_field_item(parent=inl)
    doc.add_field_key("my inline key1: ", parent=kve)
    doc.add_field_value("my inline value1", parent=kve, kind="fillable")

    kve = doc.add_field_item(parent=kvm)
    doc.add_field_key("name", parent=kve)
    doc.add_field_value("John Doe", parent=kve, kind="fillable")
    doc.add_field_value("Max Mustermann", parent=kve, kind="fillable")

    kk = doc.add_field_value("", parent=kve, kind="fillable")
    opt_vis = doc.add_inline_group(parent=kk)
    doc.add_text("checkbox_unselected", "", parent=opt_vis)
    doc.add_text("text", "Clark ", parent=opt_vis)
    doc.add_text("text", "Kent", parent=opt_vis, formatting=_FMT_BOLD)
    doc.add_field_hint("Select this if you are a Superman fan", parent=opt_vis)

    doc.add_field_value("", parent=kve)

    inl = doc.add_inline_group(parent=kve)
    doc.add_text("text", "My first input ", parent=inl)
    doc.add_field_value("", parent=inl, kind="fillable")
    doc.add_text("text", " and my second input ", parent=inl)
    doc.add_field_value("m", parent=inl, kind="fillable")

    kv_entry_3 = doc.add_field_item(parent=kvm)
    doc.add_field_key("I am in the country as a: ", parent=kv_entry_3)

    for label in ("Visitor", " Student", "Other (Specify)"):
        val = doc.add_field_value("", parent=kv_entry_3, kind="fillable")
        opt = doc.add_inline_group(parent=val)
        doc.add_text("checkbox_unselected", label, parent=opt)
    doc.add_field_value("", parent=kv_entry_3, kind="fillable")

    doc.add_text("text", "Some final stuff.")
    doc.add_text("text", "The end.")

    _assert_parity(doc, "kv.out")


_IMAGE_URI = (
    "data:image/png;base64,iVBORw0KGgoAAAANSUhEUgAAAAIAAAACCAIAAAD91JpzAAAAC0lE"
    "QVR4nGNgQAYAAA4AAamRc7EAAAAASUVORK5CYII="
)


def test_kv_invoice_built():
    doc = Doc(name="")
    doc.add_page(1, 100.0, 100.0)
    prov = _prov()
    image = {
        "mimetype": "image/png",
        "dpi": 300,
        "size": {"width": 100.0, "height": 100.0},
        "uri": _IMAGE_URI,
    }

    kvm = doc.add_field_region(prov=prov)
    for value_text in ("+123-456-7890", "hello@example.com"):
        kve = doc.add_field_item(parent=kvm)
        kvk = doc.add_field_key("", parent=kve)
        doc.add_picture(parent=kvk, image=dict(image))
        doc.add_field_value(value_text, parent=kve)

    kvm = doc.add_field_region()
    for key_text, value_text in (("Invoice No: ", "222"), ("Date: ", "02 May, 2021")):
        inl_outer = doc.add_inline_group(parent=kvm)
        kve = doc.add_field_item(parent=inl_outer)
        doc.add_field_key(key_text, parent=kve)
        doc.add_field_value(value_text, parent=kve)

    kvm = doc.add_field_region()
    kve = doc.add_field_item(parent=kvm)
    doc.add_field_key("Administrator", parent=kve, prov=_prov())
    doc.add_field_value("John Doe", parent=kve, prov=_prov())

    expected = load_doc_json("doc/kv_invoice.out.json")
    got = doc.to_dict()
    got["version"] = expected["version"]
    assert got == expected
    for gt, mode in (("kv_invoice.out", "placeholder"), ("kv_invoice_embedded.out", "embedded")):
        out = export_to_doclang(doc, include_version=False, image_mode=mode)
        assert out.rstrip() == load_gt(f"doc/{gt}.dclg.xml").rstrip()


def test_kv_nested_built():
    doc = Doc(name="")
    doc.add_page(1, 100.0, 100.0)

    kvm = doc.add_field_region(prov=_prov())
    kve = doc.add_field_item(parent=kvm)
    doc.add_field_key("A", parent=kve)
    kvv = doc.add_field_value("", parent=kve)
    kvm_inner = doc.add_field_region(parent=kvv)

    kve_inner = doc.add_field_item(parent=kvm_inner)
    doc.add_marker("1.", parent=kve_inner)
    doc.add_field_key("AA", parent=kve_inner)
    doc.add_field_hint("Some explanation for key AA", parent=kve_inner)
    doc.add_field_value("AAA", parent=kve_inner)
    doc.add_field_hint("Some explanation for value AAA", parent=kve_inner)
    doc.add_field_value("AAB", parent=kve_inner)
    doc.add_field_hint("Some explanation for value AAB", parent=kve_inner)

    kve_inner = doc.add_field_item(parent=kvm_inner)
    doc.add_marker("2.", parent=kve_inner)
    doc.add_field_key("AB", parent=kve_inner)
    doc.add_field_value("ABA", parent=kve_inner)
    doc.add_field_value("ABB", parent=kve_inner)

    _assert_parity(doc, "kv_nested.out")


def test_kv_form_with_table_built():
    doc = Doc(name="")
    doc.add_page(1, 100.0, 100.0)

    kvm = doc.add_field_region()
    table_vals = [
        ["Description of property",
         "Cost or other basis, plus improvements and expense of sale",
         "Gain or loss"],
        ["", "gain", "150,997"],
        ["", "loss", "114,676"],
    ]
    num_rows, num_cols = len(table_vals), len(table_vals[0])
    table = doc.add_table(
        data={"table_cells": [], "num_rows": num_rows, "num_cols": num_cols},
        parent=kvm,
    )
    for i in range(num_rows):
        for j in range(num_cols):
            cell = {
                "start_row_offset_idx": i,
                "end_row_offset_idx": i + 1,
                "start_col_offset_idx": j,
                "end_col_offset_idx": j + 1,
            }
            if i == 0:
                cell.update(text=table_vals[i][j], column_header=True)
            else:
                kve = doc.add_field_item(parent=table)
                doc.add_field_value(table_vals[i][j], parent=kve, kind="fillable")
                cell.update(text="", ref={"$ref": kve["self_ref"]})
            doc.add_table_cell(table, cell)

    _assert_parity(doc, "kv_form_with_table.out")


def _graph_kv():
    return {
        "cells": [
            {"label": "key", "cell_id": 0, "text": "Common name", "orig": "Common name"},
            {"label": "value", "cell_id": 1, "text": "Duck", "orig": "Duck"},
            {"label": "key", "cell_id": 2, "text": "Anatoidea", "orig": "Anatoidea"},
            {"label": "value", "cell_id": 3, "text": "Anatidae", "orig": "Anatidae"},
            {"label": "key", "cell_id": 4, "text": "Distribution package",
             "orig": "Distribution package"},
            {"label": "value", "cell_id": 5, "text": "docling", "orig": "docling"},
            {"label": "value", "cell_id": 6, "text": "docling-core",
             "orig": "docling-core", "prov": _prov()[0]},
        ],
        "links": [
            {"label": "to_value", "source_cell_id": 0, "target_cell_id": 1},
            {"label": "to_key", "source_cell_id": 1, "target_cell_id": 0},
            {"label": "to_child", "source_cell_id": 2, "target_cell_id": 3},
            {"label": "to_parent", "source_cell_id": 3, "target_cell_id": 2},
            {"label": "to_value", "source_cell_id": 4, "target_cell_id": 5},
            {"label": "to_value", "source_cell_id": 4, "target_cell_id": 6},
        ],
    }


def _graph_form():
    return {
        "cells": [
            {"label": "key", "cell_id": 0, "text": "Color", "orig": "Color"},
            {"label": "value", "cell_id": 1, "text": "Orange", "orig": "Orange"},
            {"label": "value", "cell_id": 2, "text": "Black", "orig": "Black"},
            {"label": "value", "cell_id": 3, "text": "White", "orig": "White"},
        ],
        "links": [
            {"label": "to_value", "source_cell_id": 0, "target_cell_id": 1},
            {"label": "to_value", "source_cell_id": 0, "target_cell_id": 2},
            {"label": "to_value", "source_cell_id": 0, "target_cell_id": 3},
            {"label": "to_key", "source_cell_id": 3, "target_cell_id": 0},
        ],
    }


def test_kv_migration_self_contained():
    doc = Doc(name="")
    doc.add_page(1, 100.0, 100.0)
    doc.add_text("text", "Hello, world!")
    doc.add_key_values(graph=_graph_kv())
    doc.add_text("text", "Some more text...")
    doc.add_form(graph=_graph_form(), prov=_prov())
    doc.add_text("text", "The end.")

    pre_expected = load_doc_json("doc/kv_pre_migration.out.json")
    got = doc.to_dict()
    got["version"] = pre_expected["version"]
    assert got == pre_expected

    doc.migrate_to_field_regions()

    post_expected = load_doc_json("doc/kv_post_migration.out.json")
    got = doc.to_dict()
    got["version"] = post_expected["version"]
    assert got == post_expected

    out = export_to_doclang(doc, include_version=False)
    assert out.rstrip() == load_gt("doc/kv_migration.out.dclg.xml").rstrip()


def test_migrate_loaded_pre_migration_doc():
    """Migration over a from_dict-loaded document reaches the same state."""
    doc = Doc.from_dict(load_doc_json("doc/kv_pre_migration.out.json"))
    doc.migrate_to_field_regions()
    expected = load_doc_json("doc/kv_post_migration.out.json")
    got = doc.to_dict()
    got["version"] = expected["version"]
    assert got == expected


def test_flat_key_value_wraps_field_item():
    """Key/value directly under field_region are auto-wrapped in field_item
    (reference test_serialization_doclang.py:2004)."""
    doc = Doc(name="field_region_flat_kv")
    doc.add_page(1, 100.0, 100.0)
    region = doc.add_field_region()
    doc.add_field_key("Key", parent=region)
    doc.add_field_value("Value", parent=region, kind="read_only")
    out = export_to_doclang(doc, include_version=False)
    assert out.rstrip() == load_gt("doc/field_region_flat_key_value.gt.dclg.xml").rstrip()


def test_value_only_wraps_field_item():
    doc = Doc(name="field_region_value_only")
    doc.add_page(1, 100.0, 100.0)
    region = doc.add_field_region()
    doc.add_field_value("42", parent=region, kind="read_only")
    out = export_to_doclang(doc, include_version=False)
    assert out.rstrip() == load_gt("doc/field_region_value_only.gt.dclg.xml").rstrip()


def test_field_item_outside_region_wraps_field_region():
    doc = Doc(name="field_item_outside_region")
    doc.add_page(1, 100.0, 100.0)
    item = doc.add_field_item()
    doc.add_field_key("K", parent=item)
    doc.add_field_value("V", parent=item, kind="read_only")
    out = export_to_doclang(doc, include_version=False)
    assert out.rstrip() == load_gt("doc/field_item_outside_field_region.gt.dclg.xml").rstrip()
