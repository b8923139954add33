"""Page-layer types vs reference test vectors (reference test/test_page.py)."""

from __future__ import annotations

import math

import pytest

from docling_core_spark.model.page import (
    SegmentedPage,
    cell_to_bbox,
    pdf_page_geometry,
    rect_angle,
    rect_angle_360,
    rect_centre,
    rect_from_bbox,
    rect_to_bbox,
    rect_to_bottom_left_origin,
    rect_to_top_left_origin,
    rectangle,
    text_cell,
)

S = math.sqrt(2)


def _r(coords, origin):
    return rectangle(*coords, coord_origin=origin)


# the reference's 16 rotation vectors (test_page.py:12-215)
ANGLE_CASES = [
    (_r((0, 0, 1, 0, 1, 1, 0, 1), "BOTTOMLEFT"), 0.0, 0),
    (_r((0, 0, S / 2, S / 2, 0, S, -S / 2, S / 2), "BOTTOMLEFT"), math.pi / 4, 45),
    (_r((0, 0, 0, 1, -1, 1, -1, 0), "BOTTOMLEFT"), math.pi / 2, 90),
    (_r((0, 0, -S / 2, S / 2, -S, 0, -S / 2, -S / 2), "BOTTOMLEFT"), 3 * math.pi / 4, 135),
    (_r((0, 0, -0, 0, -1, -1, 0, -1), "BOTTOMLEFT"), math.pi, 180),
    (_r((0, 0, -S / 2, -S / 2, 0, -S, S / 2, -S / 2), "BOTTOMLEFT"), 5 * math.pi / 4, 225),
    (_r((0, 0, 0, -1, 1, -1, 1, 0), "BOTTOMLEFT"), 3 * math.pi / 2, 270),
    (_r((0, 0, S / 2, -S / 2, S, 0, S / 2, S / 2), "BOTTOMLEFT"), 7 * math.pi / 4, 315),
    (_r((0, 0, 1, 0, 1, 1, 0, 1), "TOPLEFT"), 0.0, 0),
    (_r((0, 0, S / 2, -S / 2, 0, -S, -S / 2, -S / 2), "TOPLEFT"), math.pi / 4, 45),
    (_r((0, 0, 0, -1, -1, -1, -1, 0), "TOPLEFT"), math.pi / 2, 90),
    (_r((0, 0, -S / 2, -S / 2, -S, 0, -S / 2, S / 2), "TOPLEFT"), 3 * math.pi / 4, 135),
    (_r((0, 0, -0, 0, -1, 1, 0, 1), "TOPLEFT"), math.pi, 180),
    (_r((0, 0, -S / 2, S / 2, 0, S, S / 2, S / 2), "TOPLEFT"), 5 * math.pi / 4, 225),
    (_r((0, 0, 0, 1, 1, 1, 1, 0), "TOPLEFT"), 3 * math.pi / 2, 270),
    (_r((0, 0, S / 2, S / 2, S, 0, S / 2, -S / 2), "TOPLEFT"), 7 * math.pi / 4, 315),
]


@pytest.mark.parametrize("rect,angle,angle360", ANGLE_CASES)
def test_bounding_rectangle_angle(rect, angle, angle360):
    assert rect_angle(rect) == pytest.approx(angle, abs=1e-6)
    assert rect_angle_360(rect) == pytest.approx(angle360, abs=1e-6)


def test_rect_bbox_roundtrip_and_centre():
    bb = {"l": 10.0, "b": 20.0, "r": 30.0, "t": 50.0, "coord_origin": "BOTTOMLEFT"}
    r = rect_from_bbox(bb)
    assert rect_to_bbox(r) == bb
    assert rect_centre(r) == (20.0, 35.0)


def test_origin_flips_are_inverse():
    r = rectangle(0, 0, 1, 0, 1, 1, 0, 1, coord_origin="BOTTOMLEFT")
    tl = rect_to_top_left_origin(r, page_height=100)
    assert tl["coord_origin"] == "TOPLEFT" and tl["r_y0"] == 100
    back = rect_to_bottom_left_origin(tl, page_height=100)
    assert back == r


def _page():
    dim = pdf_page_geometry(
        angle=0.0,
        rect=rect_from_bbox({"l": 0, "b": 0, "r": 100, "t": 200, "coord_origin": "BOTTOMLEFT"}),
    )
    cells = [
        text_cell(rect_from_bbox({"l": 0, "b": 190, "r": 20, "t": 200, "coord_origin": "BOTTOMLEFT"}),
                  "Hello", index=0, font_name="F1"),
        text_cell(rect_from_bbox({"l": 20, "b": 190, "r": 45, "t": 200, "coord_origin": "BOTTOMLEFT"}),
                  "World", index=1, font_name="F1"),
        text_cell(rect_from_bbox({"l": 0, "b": 0, "r": 30, "t": 10, "coord_origin": "BOTTOMLEFT"}),
                  "Footer", index=2, font_name="F1"),
    ]
    return SegmentedPage(dimension=dim, word_cells=cells)


def test_segmented_page_flags_and_dims():
    page = _page()
    assert page.has_words and not page.has_chars and not page.has_lines
    assert page.width == 100 and page.height == 200


def test_get_cells_in_bbox_origin_conversion():
    page = _page()
    # top-left query box covering the top strip (y 0..10 in TOPLEFT coords)
    got = page.get_cells_in_bbox(
        "word", {"l": 0, "t": 0, "r": 100, "b": 10, "coord_origin": "TOPLEFT"}
    )
    assert [c["text"] for c in got] == ["Hello", "World"]
    assert all(c["rect"]["coord_origin"] == "TOPLEFT" for c in got)
    assert cell_to_bbox(got[0])["t"] == 0  # converted into the query frame


def test_crop_text_adjacency():
    page = _page()
    out = page.crop_text("word", {"l": 0, "b": 150, "r": 100, "t": 200})
    assert out == "HelloWorld"  # adjacent cells stitch without a space
    out_all = page.crop_text("word", {"l": 0, "b": 0, "r": 100, "t": 200})
    assert out_all == "HelloWorld Footer"


def test_json_roundtrip(tmp_path):
    page = _page()
    path = tmp_path / "page.json"
    page.save_as_json(path)
    loaded = SegmentedPage.load_from_json(path)
    assert loaded.to_dict() == page.to_dict()
    assert loaded.has_words


def test_textlines_export():
    page = _page()
    lines = page.export_to_textlines("word", add_location=False)
    assert lines == [
        "        F1 left_to_right Hello",
        "        F1 left_to_right World",
        "        F1 left_to_right Footer",
    ]
    with_loc = page.export_to_textlines("word")[0]
    assert with_loc.startswith("(000.00, 190.00) ")


def test_iterate_cells_invalid_unit():
    with pytest.raises(ValueError):
        list(_page().iterate_cells("sentence"))


# -- PDF annotation surface (reference test_page.py:218-269 + page.py:385-540) --

from docling_core_spark.model.page import (  # noqa: E402
    ParsedPdfDocument,
    bitmap_resource,
    parse_hyperlink_uri,
    parse_pdf_metadata_xml,
    pdf_hyperlink,
    pdf_shape,
    pdf_table_of_contents,
    pdf_text_cell,
    rectangle,
    resource_to_bottom_left_origin,
    shape_segments,
    shape_to_bottom_left_origin,
    shape_to_top_left_origin,
)

_RECT = rectangle(0, 0, 1, 0, 1, 1, 0, 1, coord_origin="TOPLEFT")


def test_hyperlink_uri_coercion():
    from pydantic import AnyUrl

    h = pdf_hyperlink(_RECT, uri="https://example.com/page")
    assert isinstance(h["uri"], AnyUrl)
    assert h["uri"].scheme == "https" and h["uri"].host == "example.com"

    m = pdf_hyperlink(_RECT, uri="mailto:user@example.com")
    assert isinstance(m["uri"], AnyUrl) and m["uri"].scheme == "mailto"

    for raw in ("/wiki/pages/internal-document-link", "#internal-bookmark",
                "../relative/path.html"):
        h = pdf_hyperlink(_RECT, uri=raw)
        assert isinstance(h["uri"], str) and h["uri"] == raw

    assert pdf_hyperlink(_RECT)["uri"] is None
    assert parse_hyperlink_uri(None) is None


def test_pdf_text_cell_ltr_normalization():
    cell = pdf_text_cell(_RECT, "hi", left_to_right=False, font_name="F1")
    assert cell["text_direction"] == "right_to_left"
    cell = pdf_text_cell(_RECT, "hi", left_to_right=True)
    assert cell["text_direction"] == "left_to_right"


def test_shape_segments_and_origin_flips():
    sh = pdf_shape(1, [(0, 0), (1, 0), (1, 2)], coord_origin="TOPLEFT", line_width=2.0)
    assert list(shape_segments(sh)) == [((0, 0), (1, 0)), ((1, 0), (1, 2))]
    assert sh["has_graphics_state"] and sh["line_width"] == 2.0
    bl = shape_to_bottom_left_origin(sh, 10.0)
    assert bl["points"] == [(0, 10.0), (1, 10.0), (1, 8.0)]
    assert shape_to_bottom_left_origin(bl, 10.0) is bl  # already converted
    assert shape_to_top_left_origin(bl, 10.0)["points"] == [(0, 0.0), (1, 0.0), (1, 2.0)]


def test_bitmap_resource_flip():
    res = bitmap_resource(rectangle(0, 1, 2, 1, 2, 3, 0, 3, coord_origin="TOPLEFT"))
    flipped = resource_to_bottom_left_origin(res, 10.0)
    assert flipped["rect"]["coord_origin"] == "BOTTOMLEFT"
    assert flipped["rect"]["r_y0"] == 9.0


def test_pdf_metadata_xml_parse():
    xml = "<dc:title>My Doc</dc:title><xmp:creator>me</xmp:creator><a:b>bad</c:d>"
    assert parse_pdf_metadata_xml(xml) == {"title": "My Doc", "creator": "me"}


def test_parsed_pdf_document_roundtrip(tmp_path):
    from docling_core_spark.model.page import SegmentedPage, page_geometry

    page = SegmentedPage(dimension=page_geometry(0.0, _RECT))
    toc = pdf_table_of_contents("Ch 1", children=[pdf_table_of_contents("Sec 1.1")])
    doc = ParsedPdfDocument(pages={1: page}, table_of_contents=toc)
    f = tmp_path / "doc.json"
    doc.save_as_json(f)
    loaded = ParsedPdfDocument.load_from_json(f)
    assert list(dict(loaded.iterate_pages())) == [1]
    assert loaded.table_of_contents["children"][0]["text"] == "Sec 1.1"


def test_page_geometry_origin():
    """PdfPageGeometry.origin (reference page.py:541-629): (l, b) of the
    crop box when there is one, else of the page rect."""
    from docling_core_spark.model.page import geometry_origin, page_geometry

    rect = rect_from_bbox({"l": 1, "b": 2, "r": 100, "t": 200, "coord_origin": "BOTTOMLEFT"})
    crop = {"l": 5, "b": 7, "r": 95, "t": 190, "coord_origin": "BOTTOMLEFT"}
    assert geometry_origin(pdf_page_geometry(0.0, rect, crop_bbox=crop)) == (5, 7)
    assert geometry_origin(pdf_page_geometry(0.0, rect)) == (1, 2)
    assert geometry_origin(page_geometry(0.0, rect)) == (1, 2)
