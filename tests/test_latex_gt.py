"""LaTeX serializer byte-parity + behavior tests."""

from __future__ import annotations

import pytest

from docling_core_spark.functions.latex_out import escape_latex, export_to_latex
from docling_core_spark.model.doc import Doc

from .conftest import load_doc_json, load_gt


def test_latex_activities_gt():
    doc = Doc.from_dict(load_doc_json("doc/activities.json"))
    actual = export_to_latex(doc)
    assert actual == load_gt("doc/activities.gt.tex").rstrip()


def test_latex_escaping():
    assert escape_latex("50% & more_fun #1 {x}") == r"50\% \& more\_fun \#1 \{x\}"


def test_latex_title_relocation():
    doc = Doc(name="t")
    doc.add_title("My Title")
    doc.add_text("text", "Body.")
    out = export_to_latex(doc)
    head, _, body = out.partition("\\begin{document}")
    assert "\\title{My Title}" in head
    assert "\\maketitle" in body
    assert "\\title" not in body


@pytest.mark.parametrize("command", ["\\newpage", "\\clearpage", "% break \\1 \\g<0>"])
def test_latex_page_break_command_is_literal(command):
    """The page-break command is inserted verbatim, not as a regex template."""
    doc = Doc(name="two pages")
    doc.add_page(1, 100.0, 100.0)
    doc.add_page(2, 100.0, 100.0)
    bbox = {"l": 1.0, "t": 1.0, "r": 9.0, "b": 9.0, "coord_origin": "TOPLEFT"}
    doc.add_text("text", "first page", prov=[{"page_no": 1, "bbox": bbox, "charspan": [0, 10]}])
    doc.add_text("text", "second page", prov=[{"page_no": 2, "bbox": bbox, "charspan": [0, 11]}])
    out = export_to_latex(doc, page_break_command=command)
    assert f"first page\n\n{command}\n\nsecond page" in out


def test_latex_section_level_guard():
    doc = Doc(name="t")
    doc.add_heading("Deep", level=5)
    with pytest.raises(ValueError, match="level must be in"):
        export_to_latex(doc)


def test_latex_smoke_constructed():
    doc = Doc.from_dict(load_doc_json("doc/constructed_doc.embedded.json.gt"))
    out = export_to_latex(doc)
    assert out.startswith("\\documentclass") and out.endswith("\\end{document}")
    assert "\\begin{tabular}" in out


def test_azure_activities_gt():
    from docling_core_spark.functions.azure_out import export_to_azure

    doc = Doc.from_dict(load_doc_json("doc/activities.json"))
    actual = export_to_azure(doc, indent=2)
    assert actual == load_gt("doc/activities.gt.azure.json").rstrip()
