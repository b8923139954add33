"""JSON round-trip fidelity (S1/S2): load -> export is exact for canonical
files and a fixed point for files needing migration."""

from __future__ import annotations

import json

import pytest

from docling_core_spark.model.doc import Doc

from .conftest import load_doc_json


@pytest.mark.parametrize("name", ["activities.json", "polymers.json", "checkboxes.json"])
def test_roundtrip_exact(name):
    orig = load_doc_json(f"doc/{name}")
    rt = Doc.from_dict(json.loads(json.dumps(orig))).to_dict()
    assert rt == orig


@pytest.mark.parametrize(
    "name",
    [
        "barchart.json",  # legacy annotations migrate into meta on load
        "2311.18481v1.json",  # older schema lacking pydantic defaults
        "2206.01062.yaml.dt.json",
    ],
)
def test_roundtrip_fixed_point(name):
    """Migration applies once; a second round-trip changes nothing."""
    orig = load_doc_json(f"doc/{name}")
    once = Doc.from_dict(json.loads(json.dumps(orig))).to_dict()
    twice = Doc.from_dict(json.loads(json.dumps(once))).to_dict()
    assert once == twice


def test_uint64_binary_hash_roundtrip():
    """Hashes above 2^63-1 must survive load/save (reference origin.py:48-60)."""
    import json as _json

    from docling_core_spark.model.doc import (
        Doc,
        binary_hash_column_value,
        parse_binary_hash,
    )

    big = 16887312431371817791  # > 2^63, from the webvtt_example_01 fixture
    doc = Doc.from_dict(
        {
            "name": "t",
            "origin": {"mimetype": "text/html", "binary_hash": big, "filename": "t.html"},
            "body": {"self_ref": "#/body", "children": [], "content_layer": "body"},
        }
    )
    assert doc.origin["binary_hash"] == big
    again = Doc.from_json(doc.to_json())
    assert again.origin["binary_hash"] == big
    assert _json.loads(doc.to_json())["origin"]["binary_hash"] == big

    # hex form masks to 64 bits like the reference validator
    h = "f" * 17  # 68 bits of ones
    assert parse_binary_hash(h) == 0xFFFFFFFFFFFFFFFF
    assert binary_hash_column_value(big) == str(big)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_binary_hash("not-hex")


def test_upgrade_content_layer_from_1_0_0():
    """1.0.0 docs move page headers/footers to furniture on load and report
    the current version (reference test_docling_doc.py:973-980)."""
    from docling_core_spark.model.doc import CURRENT_VERSION

    doc = Doc.from_dict(load_doc_json("doc/2206.01062-1.0.0.json"))
    assert doc.version == CURRENT_VERSION
    assert doc.texts[0]["label"] == "page_header"
    assert doc.texts[0]["content_layer"] == "furniture"


def test_yaml_roundtrip_builder_doc():
    """S3: ``to_yaml`` / ``from_yaml`` round-trip a builder-made document."""
    from docling_core_spark.functions.serializers import export_to_markdown

    doc = Doc(name="y")
    doc.add_title("Title")
    doc.add_text("text", "body ü")
    text = doc.to_yaml()
    assert "body ü" in text
    back = Doc.from_yaml(text)
    assert back.to_dict() == doc.to_dict()
    assert export_to_markdown(back) == "# Title\n\nbody ü"
