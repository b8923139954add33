"""DocTags loader parity: .dt fixtures -> dict-identical to reference output."""

from __future__ import annotations

import json

import pytest

from docling_core_spark.functions.doctags import export_to_doctags
from docling_core_spark.functions.doctags_load import load_from_doctags, parse_otsl_table_content

from .conftest import load_doc_json, load_gt, require_ref_data


def _strip_uris(d):
    if isinstance(d, dict):
        return {k: _strip_uris(v) for k, v in d.items() if k not in ("uri", "image_uri")}
    if isinstance(d, list):
        return [_strip_uris(x) for x in d]
    return d


@pytest.mark.parametrize(
    "dt,gt",
    [
        ("2206.01062.yaml.dt", "2206.01062.yaml.dt.json"),
    ],
)
def test_doctags_load_dict_parity(dt, gt):
    data_dir = require_ref_data() / "doc"
    doc = load_from_doctags((data_dir / dt).read_text(encoding="utf-8"))
    expected = json.loads((data_dir / gt).read_text(encoding="utf-8"))
    assert _strip_uris(doc.to_dict()) == _strip_uris(expected)


def test_doctags_roundtrip_through_serializer():
    """load(.dt) -> export_to_doctags is stable modulo known-lossy fields."""
    data_dir = require_ref_data() / "doc"
    dt_text = (data_dir / "2206.01062.yaml.dt").read_text(encoding="utf-8")
    doc = load_from_doctags(dt_text)
    out = export_to_doctags(doc)
    doc2 = load_from_doctags(out)
    # a second round-trip must be a fixed point
    assert doc2.to_dict() == load_from_doctags(export_to_doctags(doc2)).to_dict()
    assert len(doc2.texts) == len(doc.texts)
    assert len(doc2.tables) == len(doc.tables)


def test_otsl_spans():
    data = parse_otsl_table_content(
        "<otsl><fcel>a<lcel><fcel>b<nl><ucel><ecel><fcel>c<nl></otsl>"
    )
    assert data["num_rows"] == 2 and data["num_cols"] == 3
    by_pos = {(c["start_row_offset_idx"], c["start_col_offset_idx"]): c for c in data["table_cells"]}
    assert by_pos[(0, 0)]["col_span"] == 2
    assert by_pos[(0, 0)]["row_span"] == 2
    assert by_pos[(0, 2)]["text"] == "b"
    assert by_pos[(1, 2)]["text"] == "c"


# -- image-paired DocTags load (reference test_doctags_load.py:107-140) --


def _strip_uris(data):
    if isinstance(data, dict):
        return {k: _strip_uris(v) for k, v in data.items() if k != "uri"}
    if isinstance(data, list):
        return [_strip_uris(x) for x in data]
    return data


def test_doctags_chart_with_image():
    """barchart.dt + barchart.png -> barchart.dt.out.json (uri-stripped:
    image sizes/provs from the PNG header, no embedded re-encoding)."""
    doctags = load_gt("doc/barchart.dt")
    doc = load_from_doctags(
        doctags, images=[str(require_ref_data() / "doc" / "barchart.png")]
    )
    expected = load_doc_json("doc/barchart.dt.out.json")
    got = doc.to_dict()
    got["version"] = expected["version"]
    got["name"] = expected["name"]
    assert _strip_uris(got) == _strip_uris(expected)


def test_doctags_table_provenances_and_captions():
    doc = load_from_doctags(
        load_gt("doc/01030000000083.dt"),
        images=[str(require_ref_data() / "doc" / "01030000000083.png")],
    )
    assert doc.tables
    for table in doc.tables:
        assert table["prov"]
        assert table["captions"]


def test_doctags_picture_provenances_and_captions():
    doc = load_from_doctags(
        load_gt("doc/01030000000111.dt"),
        images=[str(require_ref_data() / "doc" / "01030000000111.png")],
    )
    assert doc.pictures
    for picture in doc.pictures:
        assert picture["prov"]
        assert picture["captions"]


def test_doctags_page_with_pic_from_files():
    """page_with_pic.dt + png -> page_with_pic_from_files.dt.json
    (uri-stripped; reference test_doctags_load.py:40-49)."""
    doc = load_from_doctags(
        load_gt("doc/page_with_pic.dt"),
        images=[str(require_ref_data() / "doc" / "page_with_pic.png")],
    )
    expected = load_doc_json("doc/page_with_pic_from_files.dt.json")
    got = doc.to_dict()
    got["version"] = expected["version"]
    got["name"] = expected["name"]
    assert _strip_uris(got) == _strip_uris(expected)
