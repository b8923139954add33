"""JSON-Schema export vs the reference's committed schema (§1.2 pin).

The reference generates ``docs/DoclingDocument.json`` with pydantic's
``model_json_schema()`` (utils/generate_jsonschema.py); this repo emits it
from the declarative spec table.  Deep equality is key-order-insensitive by
construction (dict ==).  The consistency tests tie the spec's defaults to
the live dict model so the table cannot silently drift from behavior.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from docling_core_spark.model.schema import (
    document_json_schema,
    generate_json_schema,
    title_of,
)

GT_PATH = Path("/root/reference/docs/DoclingDocument.json")

pytestmark = pytest.mark.skipif(not GT_PATH.exists(), reason="reference schema absent")


def _gt() -> dict:
    return json.loads(GT_PATH.read_text().rstrip())


def test_document_schema_matches_committed_gt():
    assert document_json_schema() == _gt()


def test_single_class_schema_plain():
    mine = generate_json_schema("doc.document.TableCell")
    gt_def = _gt()["$defs"]["TableCell"]
    # TableCell refs BoundingBox -> carried in $defs
    assert mine["$defs"]["BoundingBox"] == _gt()["$defs"]["BoundingBox"]
    for k, v in gt_def.items():
        assert mine[k] == v


def test_single_class_schema_unknown_returns_none():
    assert generate_json_schema("doc.document.NoSuchClass") is None


def test_title_casing_matches_pydantic():
    assert title_of("self_ref") == "Self Ref"
    assert title_of("$ref") == "$Ref"
    assert title_of("start_row_offset_idx") == "Start Row Offset Idx"


# -- spec <-> model behavior consistency -----------------------------------


def _root_default(field: str):
    from docling_core_spark.model.schema_spec import ROOT

    spec = ROOT["fields"][field]
    if isinstance(spec, dict):
        if spec["__kind__"] == "const":
            return spec["args"][0]
        return spec["extras"].get("default")
    return None


def _def_field_default(def_name: str, field: str):
    from docling_core_spark.model.schema_spec import DEFS

    spec = DEFS[def_name]["fields"][field]
    if isinstance(spec, dict):
        if spec["__kind__"] == "const":
            return spec["args"][0]
        return spec["extras"].get("default")
    return None


def test_spec_version_matches_model_constant():
    from docling_core_spark.model.doc import CURRENT_VERSION

    assert _root_default("version") == CURRENT_VERSION
    assert _root_default("schema_name") == "DoclingDocument"


def test_spec_defaults_match_builder_behavior():
    from docling_core_spark.model.doc import Doc

    d = Doc("x")
    g = d.add_group()
    # GroupItem.name default "group" (the round-3 bug class: was "list")
    assert g["name"] == _def_field_default("GroupItem", "name") == "group"
    assert g["label"] == _def_field_default("GroupItem", "label") == "unspecified"
    assert g["content_layer"] == _def_field_default("GroupItem", "content_layer") == "body"
    # raw ListItem model marker default is "-" (builders use "")
    assert _def_field_default("ListItem", "marker") == "-"
    # CodeItem always dumps code_language, default "unknown"
    assert _def_field_default("CodeItem", "code_language") == "unknown"


def test_spec_table_cell_defaults_match_normalizer():
    from docling_core_spark.model.doc import Doc

    # the pydantic defaults Doc.to_dict fills in on table cells
    for field, expected in [
        ("row_span", 1),
        ("col_span", 1),
        ("column_header", False),
        ("row_header", False),
        ("row_section", False),
        ("fillable", False),
    ]:
        assert _def_field_default("TableCell", field) == expected
    doc = Doc("x")
    doc.add_table({"num_rows": 1, "num_cols": 1, "table_cells": [{
        "start_row_offset_idx": 0, "end_row_offset_idx": 1,
        "start_col_offset_idx": 0, "end_col_offset_idx": 1, "text": "t"}]})
    data = doc.to_dict()["tables"][0]["data"]
    for cell in (data["table_cells"][0], data["grid"][0][0]):
        for field in ("row_span", "col_span", "column_header", "row_header", "row_section", "fillable"):
            assert cell[field] == _def_field_default("TableCell", field)


def test_spec_ref_pattern_matches_model_refs():
    import re

    from docling_core_spark.model.schema_spec import DEFS

    pattern = DEFS["RefItem"]["fields"]["$ref"]["extras"]["pattern"]
    for ok in ("#/texts/0", "#/body", "#", "#/groups/12"):
        assert re.match(pattern, ok), ok
    for bad in ("texts/0", "#/texts/x", "#/texts/0/extra"):
        assert not re.match(pattern, bad), bad


def test_schema_covers_every_field_in_gt_document_corpus():
    """Non-circular completeness check: every key observed in the reference's
    own GT document corpus must be a declared field of the matching schema
    def(s).  Known exception: 'furnitures' (a pre-1.0 legacy key present in
    one old fixture, 2106.09680v1.json, ignored as a pydantic extra by the
    reference and stored as doc.extra here)."""
    import glob

    from docling_core_spark.model.schema_spec import DEFS, ROOT

    array_to_defs = {
        "texts": [
            "TitleItem", "SectionHeaderItem", "ListItem", "CodeItem",
            "FormulaItem", "FieldHeadingItem", "FieldValueItem", "TextItem",
        ],
        "groups": ["GroupItem", "ListGroup", "InlineGroup"],
        "pictures": ["PictureItem"],
        "tables": ["TableItem"],
        "key_value_items": ["KeyValueItem"],
        "form_items": ["FormItem"],
        "field_regions": ["FieldRegionItem"],
        "field_items": ["FieldItem"],
    }
    legacy_root_keys = {"furnitures"}
    n_docs = 0
    for path in glob.glob("/root/reference/test/data/doc/*.json"):
        try:
            d = json.loads(Path(path).read_text())
        except (ValueError, UnicodeDecodeError):
            continue
        if not isinstance(d, dict) or "schema_name" not in d:
            continue
        n_docs += 1
        for k in d:
            assert k in ROOT["fields"] or k in legacy_root_keys, (path, k)
        for arr, defnames in array_to_defs.items():
            fields = set()
            for dn in defnames:
                fields |= set(DEFS[dn]["fields"])
            for item in d.get(arr) or []:
                for k in item:
                    assert k in fields, (path, arr, k)
    assert n_docs >= 30  # the corpus actually loaded
