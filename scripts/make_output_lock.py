"""Behaviour lock over every serializer and chunker output.

Writes ``tests/data/output_lock.json``, which ``tests/test_output_lock.py``
recomputes and compares.  Each output is recorded as the first 16 hex digits
of its sha256.  The lock has three parts:

- ``extract/...``: ``extract_row`` with every format on, one digest per url
  and column, over perfbench's ``inputgen.build_rows`` seeds 7 and 11 (crawl
  table, plus the jumbo pages of the jumbo table; its other rows are crawl
  rows) and the sf0.01 ``documents`` pages built through ``synth_rows``.
  Seed 7's crawl also runs the hierarchical chunker.
- ``serializers``: builder-constructed documents (``CORPUS``) through
  every ``DocSerializer`` subclass in the variants of :func:`variants`.
- ``code_chunks``: the five code chunkers over
  ``doc_synth_ops.synth_*_module`` sources, and the Python chunker over the
  named sources of ``PY_SOURCES``, each at the default and at a small token
  budget (oversize splitting); plus ``hierarchical_chunks(code_chunking=True)``
  over a doc with Python, Java and unknown-language code items.

An output that raises is recorded as ``raises:<ExceptionType>``.

Usage (from the repo root)::

    python scripts/make_output_lock.py          # rewrite the lock
    python scripts/make_output_lock.py --diff   # list what moved, write nothing
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path
from typing import Any, Callable, Iterator

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

LOCK_PATH = ROOT / "tests" / "data" / "output_lock.json"

EXTRACT_COLUMNS = (
    "doc_json",
    "markdown",
    "plain_text",
    "html_out",
    "doctags",
    "doclang",
    "chunks",
    "stats",
)
_STATS_KEYS = ("n_texts", "n_tables", "n_pictures", "n_groups", "html_bytes", "error")


def digest(value: Any) -> str:
    """First 16 hex digits of the sha256 of a str or a JSON-able value."""
    if not isinstance(value, str):
        value = json.dumps(value, ensure_ascii=False, sort_keys=True, default=str)
    return hashlib.sha256(value.encode("utf-8")).hexdigest()[:16]


def _guarded(fn: Callable[[], Any]) -> str:
    try:
        return digest(fn())
    except Exception as e:  # noqa: BLE001 — a raise is locked behaviour too
        return f"raises:{type(e).__name__}"


# ---------------------------------------------------------------------------
# Part 1: extract_row over perfbench inputs and sf0.01 pages
# ---------------------------------------------------------------------------


def _row_digests(row: dict, chunker: str) -> str:
    from docling_core_spark.operators.extract import extract_row

    out = extract_row(
        row["url"],
        row["html"],
        row["lang"],
        chunker=chunker,
        emit_html=True,
        emit_doctags=True,
        emit_doclang=True,
    )
    cols = {c: out.get(c) for c in EXTRACT_COLUMNS if c != "stats"}
    cols["stats"] = [out[k] for k in _STATS_KEYS]
    return " ".join(digest(cols[c]) for c in EXTRACT_COLUMNS)


def _extract_inputs(sf_dir: Path) -> Iterator[tuple[str, str, list[dict]]]:
    """(case, chunker, rows) for every extract case."""
    from perfbench.inputgen import build_rows

    for seed in (7, 11):
        tables = build_rows(seed)
        crawl_urls = {r["url"] for r in tables["crawl"]}
        jumbo_only = [r for r in tables["jumbo"] if r["url"] not in crawl_urls]
        yield f"seed{seed}/crawl/hybrid", "hybrid", tables["crawl"]
        if seed == 7:
            yield f"seed{seed}/crawl/hierarchical", "hierarchical", tables["crawl"]
        yield f"seed{seed}/jumbo/hybrid", "hybrid", jumbo_only
    if sf_dir.is_dir():
        import pyarrow.parquet as pq

        from docling_core_spark.sources.web_pages import synth_rows

        docs = pq.read_table(sf_dir / "documents.parquet", columns=["doc_id", "text", "lang"])
        d = docs.to_pydict()
        rows = list(synth_rows(d["doc_id"], d["text"], d["lang"]))
        yield f"{sf_dir.name}/hybrid", "hybrid", rows


def _batch_digests(chunker: str, rows: list[dict]) -> list[tuple[str, str]]:
    return [(r["url"], _row_digests(r, chunker)) for r in rows]


def extract_cases(sf_dir: Path, workers: int = 3) -> dict[str, dict[str, str]]:
    """Digests of every extract case, computed in ``workers`` processes."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    out: dict[str, dict[str, str]] = {}
    ctx = multiprocessing.get_context("spawn")  # no fork of a JVM-holding parent
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futures = []
        for case, chunker, rows in _extract_inputs(sf_dir):
            out[case] = {}
            for i in range(0, len(rows), 100):
                fut = pool.submit(_batch_digests, chunker, rows[i : i + 100])
                futures.append((case, fut))
        for case, fut in futures:
            out[case].update(fut.result())
    return {case: dict(sorted(d.items())) for case, d in out.items()}


# ---------------------------------------------------------------------------
# Part 2: builder-constructed documents through every serializer
# ---------------------------------------------------------------------------


def _bbox(l: float, t: float, r: float, b: float) -> dict:
    return {"l": l, "t": t, "r": r, "b": b, "coord_origin": "TOPLEFT"}


def _prov(page: int, l: float, t: float, r: float, b: float, n: int = 0) -> dict:
    return {"page_no": page, "bbox": _bbox(l, t, r, b), "charspan": [0, n]}


def _cell(text: str, r: int, c: int, header: bool = False, **kw: Any) -> dict:
    cell = {
        "text": text,
        "row_span": 1,
        "col_span": 1,
        "start_row_offset_idx": r,
        "end_row_offset_idx": r + 1,
        "start_col_offset_idx": c,
        "end_col_offset_idx": c + 1,
        "column_header": header,
        "row_header": False,
        "row_section": False,
    }
    cell.update(kw)
    return cell


def _table_data(rows: list[list[str]], header: bool = True) -> dict:
    cells = [
        _cell(t, i, j, header=header and i == 0) for i, row in enumerate(rows) for j, t in enumerate(row)
    ]
    return {"num_rows": len(rows), "num_cols": len(rows[0]), "table_cells": cells}


def _graph(pairs: list[tuple[str, str]]) -> dict:
    cells, links = [], []
    for i, (k, v) in enumerate(pairs):
        kid, vid = 2 * i, 2 * i + 1
        cells.append({"cell_id": kid, "label": "key", "text": k, "orig": k})
        cells.append({"cell_id": vid, "label": "value", "text": v, "orig": v})
        links.append({"label": "to_value", "source_cell_id": kid, "target_cell_id": vid})
    return {"cells": cells, "links": links}


def _full_meta() -> dict:
    """Every ``_META_FIELD_ORDER`` field plus a custom one, out of order."""
    return {
        "myns__rating": "five_stars",
        "code": {"language": "Python", "text": "print('meta <code>')"},
        "tabular_chart": {"chart_data": _table_data([["k", "v"], ["a", "1"]])},
        "molecule": {"smi": "C1=CC=CC=C1"},
        "classification": {
            "predictions": [
                {"class_name": "no_confidence", "confidence": None},
                {"class_name": "bar_chart", "confidence": 0.4},
                {"class_name": "pie_chart", "confidence": 0.4},
            ]
        },
        "description": {"text": "A described_item & more"},
        "topics": {"values": ["finance", "data_science"]},
        "keywords": {"values": ["alpha", "beta_gamma"]},
        "entities": {
            "mentions": [
                {"label": "ORG", "charspan": [0, 4], "text": "ACME"},
                {"label": "PER", "text": "Ada"},
                {"charspan": [5, 7], "text": "xy"},
                {"text": "plain"},
            ]
        },
        "language": {"code": "en"},
        "summary": {"text": "Summary of <item> with under_score"},
    }


def _kitchen_doc():
    """Two pages with every item family, meta, formatting and page breaks."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="kitchen_sink")
    d.add_page(1, 600.0, 800.0)
    d.add_page(2, 600.0, 800.0)
    d.body["meta"] = {"summary": {"text": "Body summary"}}
    d.add_title("Kitchen <sink> & co", prov=[_prov(1, 50, 20, 550, 60, 18)])
    h = d.add_heading("Section_one", level=1, prov=[_prov(1, 50, 70, 550, 90, 11)])
    h["meta"] = {"summary": {"text": "heading summary"}, "keywords": {"values": ["k1"]}}
    t = d.add_text(M.TEXT, "Formatted text with snake_case", prov=[_prov(1, 50, 100, 550, 120, 30)],
                   formatting={"bold": True, "italic": True, "underline": True,
                               "strikethrough": True, "script": "sub"},
                   hyperlink="https://example.org/a_b?x=1&y=2")
    t["meta"] = _full_meta()
    d.add_text(M.TEXT, "مرحبا بالعالم هذا نص عربي", prov=[_prov(1, 50, 125, 550, 140, 25)])
    d.add_text(M.TEXT, "שלום עולם", prov=[_prov(1, 50, 141, 550, 150, 9)],
               formatting={"italic": True})
    d.add_text(M.TEXT, "Super <b>script</b>", prov=[_prov(1, 50, 151, 550, 160, 19)],
               formatting={"script": "super"})
    # a paragraph whose content is an inline group
    para = d.add_text(M.TEXT, "", prov=[_prov(1, 50, 165, 550, 180, 0)])
    inline = d.add_inline_group(parent=para)
    d.add_text(M.TEXT, "inline start", parent=inline, prov=[_prov(1, 50, 165, 200, 180, 12)])
    d.add_code("x_1 = y", code_language="Python", parent=inline, prov=[_prov(1, 210, 165, 300, 180, 7)])
    d.add_formula("a+b=c", parent=inline, prov=[_prov(1, 310, 165, 400, 180, 5)])
    d.add_text(M.TEXT, "inline end", parent=inline, hyperlink="https://example.org/i",
               prov=[_prov(1, 410, 165, 550, 180, 10)])
    # nested list, enumerated list
    lst = d.add_list_group()
    d.add_list_item("first bullet", marker="-", parent=lst, prov=[_prov(1, 60, 190, 550, 200, 12)])
    second = d.add_list_item("second bullet", marker="*", parent=lst, prov=[_prov(1, 60, 201, 550, 210, 13)])
    sub = d.add_list_group(parent=second)
    d.add_list_item("nested one", enumerated=True, marker="1.", parent=sub, prov=[_prov(1, 80, 211, 550, 220, 10)])
    d.add_list_item("nested two", enumerated=True, marker="", parent=sub, prov=[_prov(1, 80, 221, 550, 230, 10)])
    d.add_list_item("third (a)", marker="(a)", parent=lst, prov=[_prov(1, 60, 231, 550, 240, 9)])
    d.add_text(M.CHECKBOX_SELECTED, "done item", prov=[_prov(1, 50, 241, 300, 250, 9)])
    d.add_text(M.CHECKBOX_UNSELECTED, "open item", prov=[_prov(1, 50, 251, 300, 260, 9)])
    d.add_formula("", orig="\\frac{1}{2}", prov=[_prov(1, 50, 261, 300, 270, 0)])
    # table with a caption, a rich cell and one cell pointing at a kv item
    cap = d.add_text(M.CAPTION, "Table 1: numbers_and words", prov=[_prov(1, 50, 280, 550, 290, 26)])
    data = _table_data([["Name", "Value", "Rich"], ["alpha", "1", ""], ["beta|pipe", "2.5", ""]])
    tbl = d.add_table(data, caption=cap, prov=[_prov(1, 50, 295, 550, 400)])
    rich_grp = d.add_group(parent=tbl, name="rich_cell")
    rich_txt = d.add_text(M.TEXT, "rich cell text", parent=rich_grp)
    # key-value and form items, with and without meta
    kv = d.add_key_values(_graph([("Invoice", "42"), ("Date", "2024-01-01")]),
                          prov=[_prov(1, 50, 410, 550, 450)])
    kv["meta"] = {"summary": {"text": "kv summary"}, "myns__origin": "scan"}
    d.add_key_values(_graph([("Total", "9.99")]), prov=[_prov(1, 50, 455, 550, 470)])
    form = d.add_form(_graph([("Name", "Ada"), ("Role", "Engineer")]), prov=[_prov(1, 50, 475, 550, 520)])
    form["meta"] = {"description": {"text": "form description"}, "keywords": {"values": ["f"]}}
    d.add_form(_graph([("Signed", "yes")]), prov=[_prov(1, 50, 525, 550, 540)])
    for r, c, ref in ((1, 2, rich_grp), (2, 2, kv)):
        data["table_cells"][r * 3 + c]["ref"] = {"$ref": ref["self_ref"]}
        data["table_cells"][r * 3 + c]["text"] = rich_txt["text"] if ref is rich_grp else ""
    # picture with caption, tie-only classification and chart meta
    pcap = d.add_text(M.CAPTION, "Figure 1: a chart", prov=[_prov(1, 50, 700, 550, 710, 17)])
    pic = d.add_picture(caption=pcap, prov=[_prov(1, 50, 550, 550, 690)],
                        image={"uri": "https://example.org/img_1.png", "mimetype": "image/png",
                               "dpi": 72, "size": {"width": 10, "height": 10}})
    pic["meta"] = {
        "classification": {"predictions": [{"class_name": "bar_chart", "confidence": 0.5},
                                           {"class_name": "pie_chart", "confidence": 0.5}]},
        "description": {"text": "picture description"},
        "tabular_chart": {"chart_data": _table_data([["x", "y"], ["1", "2"]])},
        "molecule": {"smi": "CCO"},
    }
    d.add_text(M.FOOTNOTE, "footnote text", prov=[_prov(1, 50, 760, 550, 770, 13)])
    d.add_text(M.PAGE_HEADER, "running header", prov=[_prov(1, 50, 5, 550, 15, 14)])
    # unlabeled group and a fallback (field-region) item
    grp = d.add_group(name="unlabeled")
    d.add_text(M.TEXT, "inside unlabeled group", parent=grp, prov=[_prov(1, 50, 775, 550, 785, 22)])
    region = d.add_field_region(prov=[_prov(1, 50, 786, 550, 798)])
    fi = d.add_field_item(parent=region, prov=[_prov(1, 50, 786, 550, 798)])
    d.add_field_key("Field key", parent=fi, prov=[_prov(1, 50, 786, 200, 798, 9)])
    d.add_field_value("field value", parent=fi, prov=[_prov(1, 210, 786, 550, 798, 11)])
    # page 2: a text continued across pages, a list across pages, a split table
    d.add_text(M.TEXT, "Two-page text: first half second half",
               prov=[_prov(1, 50, 799, 550, 800, 15), dict(_prov(2, 50, 10, 550, 30), charspan=[15, 37])])
    xl = d.add_list_group()
    d.add_list_item("page one item", parent=xl, prov=[_prov(1, 60, 799, 550, 800, 13)])
    d.add_list_item("page two item", parent=xl, prov=[_prov(2, 60, 35, 550, 45, 13)])
    split = _table_data([["h1", "h2"], ["a", "b"], ["c", "d"], ["e", "f"]])
    d.add_table(split, prov=[_prov(1, 50, 790, 550, 800), _prov(2, 50, 50, 550, 120)])
    d.add_heading("Second page heading", level=2, prov=[_prov(2, 50, 130, 550, 150, 19)])
    code = d.add_code("def f(a_b):\n    return a_b", code_language="Python",
                      prov=[_prov(2, 50, 160, 550, 200, 26)])
    ccap = d.add_text(M.CAPTION, "Listing 1", prov=[_prov(2, 50, 205, 550, 215, 9)])
    code["captions"].append({"$ref": ccap["self_ref"]})
    d.add_text(M.TEXT, "Closing paragraph on page two.", prov=[_prov(2, 50, 220, 550, 240, 30)])
    d.add_text(M.PAGE_FOOTER, "page 2 footer", prov=[_prov(2, 50, 780, 550, 795, 13)])
    return d


def _meta_only_doc():
    """A picture whose classification has only ``None`` confidences."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="meta_only")
    d.add_page(1, 100.0, 100.0)
    d.add_title("Meta doc", prov=[_prov(1, 1, 1, 99, 9, 8)])
    pic = d.add_picture(prov=[_prov(1, 10, 10, 90, 90)])
    pic["meta"] = {
        "classification": {"predictions": [{"class_name": "first_none", "confidence": None},
                                           {"class_name": "second_none", "confidence": None}]},
        "summary": {"text": "pic summary"},
        "myns__note": "custom",
    }
    kv = d.add_key_values(_graph([("K", "V")]))
    kv["meta"] = {"summary": {"text": "unpaged kv"}}
    d.add_text(M.TEXT, "tail", prov=[_prov(1, 1, 91, 99, 99, 4)])
    return d


def _sheet_doc():
    """Excel-style workbook: sheet groups holding tables and text."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="workbook")
    for name in ("Sheet_A", "Sheet B"):
        sheet = d.add_group(label="sheet", name=name)
        d.add_table(_table_data([["col_1", "col 2"], ["1", "x"], ["2", "y"]]), parent=sheet)
        d.add_text(M.TEXT, f"note on {name}", parent=sheet)
    d.add_group(label="sheet", name="Empty sheet")
    return d


def _threaded_doc():
    """A page break consumed by a threaded item, then met again inside a
    rich table cell (doclang drops a suppressed break once)."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="threaded")
    d.add_page(1, 100.0, 100.0)
    d.add_page(2, 100.0, 100.0)
    d.add_text(M.TEXT, "page one", prov=[_prov(1, 1, 1, 99, 9, 8)])
    d.add_text(M.TEXT, "split across pages",
               prov=[_prov(1, 1, 90, 99, 99, 6), dict(_prov(2, 1, 1, 99, 9), charspan=[6, 18])])
    d.add_text(M.TEXT, "page two", prov=[_prov(2, 1, 10, 99, 19, 8)])
    grp = d.add_group(name="cell group")
    d.add_text(M.TEXT, "group on one", parent=grp, prov=[_prov(1, 1, 20, 99, 29, 12)])
    d.add_text(M.TEXT, "group on two", parent=grp, prov=[_prov(2, 1, 30, 99, 39, 12)])
    form = d.add_form(_graph([("Q", "A")]), prov=[_prov(2, 1, 40, 99, 49)])
    data = _table_data([["a", "b"], ["c", "d"]])
    data["table_cells"][1]["ref"] = {"$ref": grp["self_ref"]}
    data["table_cells"][3]["ref"] = {"$ref": form["self_ref"]}
    d.add_table(data, prov=[_prov(2, 1, 50, 99, 90)])
    return d


def _annotated_doc():
    """Legacy (pre-meta) annotations on a picture and a table."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="annotated")
    d.add_title("Annotated")
    pic = d.add_picture(caption=d.add_text(M.CAPTION, "Figure: legacy_annotations"))
    pic["annotations"] = [
        {"kind": "classification", "provenance": "model",
         "predicted_classes": [{"class_name": "bar_chart", "confidence": 0.9}]},
        {"kind": "description", "provenance": "model", "text": "first line\nsecond_line"},
        {"kind": "molecule_data", "provenance": "model", "smi": "CCO", "confidence": 1.0},
        {"kind": "tabular_chart", "title": "t", "chart_data": _table_data([["x", "y"], ["1", "2"]])},
        {"kind": "misc", "content": {"k": "v"}},
    ]
    tbl = d.add_table(_table_data([["a", "b"], ["1", "2"]]))
    tbl["annotations"] = [{"kind": "description", "provenance": "model", "text": "table <note>"}]
    d.add_text(M.TEXT, "after")
    return d


CORPUS = {
    "kitchen": _kitchen_doc,
    "meta_only": _meta_only_doc,
    "sheet": _sheet_doc,
    "threaded": _threaded_doc,
    "annotated": _annotated_doc,
}


def variants() -> dict[str, Callable[[Any], Any]]:
    """Serializer variants, each a function of a fresh Doc."""
    from docling_core_spark.functions.azure_out import export_to_azure
    from docling_core_spark.functions.chunkers import HybridChunker, RegexTokenizer, hierarchical_chunks
    from docling_core_spark.functions.doclang_out import export_to_doclang
    from docling_core_spark.functions.doctags import export_to_doctags
    from docling_core_spark.functions.html_out import export_to_html
    from docling_core_spark.functions.latex_out import export_to_latex
    from docling_core_spark.functions.outline_out import export_to_outline
    from docling_core_spark.functions.serializers import (
        export_to_markdown,
        export_to_markdown_excel,
        export_to_text,
    )
    from docling_core_spark.model import doc as M

    no_kv = M.DOCUMENT_TOKENS_EXPORT_LABELS - {M.KEY_VALUE_REGION}
    no_form = M.DOCUMENT_TOKENS_EXPORT_LABELS - {M.FORM}
    allowed = {"summary", "classification", "myns__rating", "entities"}
    blocked = frozenset({"summary", "keywords", "myns__origin"})

    def chunks(it):
        return [[c["text"], c.get("headings"), [i["self_ref"] for i in c["doc_items"]]] for c in it]

    return {
        "markdown": export_to_markdown,
        "markdown/page_break": lambda d: export_to_markdown(d, page_break_placeholder="<!-- page-break -->"),
        "markdown/mark_meta": lambda d: export_to_markdown(d, mark_meta=True, mark_annotations=True),
        "markdown/allowed_meta": lambda d: export_to_markdown(d, allowed_meta_names=allowed),
        "markdown/blocked_meta": lambda d: export_to_markdown(d, blocked_meta_names=blocked),
        "markdown/non_meta_off": lambda d: export_to_markdown(d, include_non_meta=False),
        "markdown/no_kv": lambda d: export_to_markdown(d, labels=no_kv),
        "markdown/no_form": lambda d: export_to_markdown(d, labels=no_form),
        "markdown/all_layers": lambda d: export_to_markdown(
            d, layers=M.CONTENT_LAYERS, compact_tables=True, image_mode="referenced"),
        "text": export_to_text,
        "markdown_excel": export_to_markdown_excel,
        "outline": export_to_outline,
        "outline/toc_json": lambda d: export_to_outline(d, mode="table_of_contents", format="json"),
        "azure": export_to_azure,
        "azure/indent_no_kv": lambda d: export_to_azure(d, indent=2, labels=no_kv),
        "azure/non_meta_off": lambda d: export_to_azure(d, include_non_meta=False),
        "latex": export_to_latex,
        "latex/page_break_comment": lambda d: export_to_latex(d, page_break_command="% page-break"),
        "latex/page_break_newpage": lambda d: export_to_latex(d, page_break_command="\\newpage"),
        "latex/page_break_clearpage": lambda d: export_to_latex(d, page_break_command="\\clearpage"),
        "latex/non_meta_off": lambda d: export_to_latex(d, include_non_meta=False),
        "latex/no_kv_no_escape": lambda d: export_to_latex(d, labels=no_kv, escape_latex=False),
        "html": export_to_html,
        "html/split_page": lambda d: export_to_html(d, split_page_view=True),
        "html/non_meta_off": lambda d: export_to_html(d, include_non_meta=False),
        "html/allowed_meta": lambda d: export_to_html(d, allowed_meta_names=allowed),
        "html/blocked_meta": lambda d: export_to_html(d, blocked_meta_names=blocked),
        "html/no_kv": lambda d: export_to_html(d, labels=no_kv, image_mode="referenced"),
        "html/no_form_split": lambda d: export_to_html(d, labels=no_form, split_page_view=True),
        "doctags": export_to_doctags,
        "doctags/minified": lambda d: export_to_doctags(d, minified=True),
        "doctags/no_page_break": lambda d: export_to_doctags(d, add_page_break=False, add_location=False),
        "doctags/non_meta_off": lambda d: export_to_doctags(d, include_non_meta=False),
        "doctags/no_kv": lambda d: export_to_doctags(d, labels=no_kv),
        "doclang": export_to_doclang,
        "doclang/compact": lambda d: export_to_doclang(d, pretty_indentation=None),
        "doclang/no_content": lambda d: export_to_doclang(d, add_content=False),
        "doclang/no_content_compact": lambda d: export_to_doclang(d, add_content=False, pretty_indentation=None),
        "doclang/non_meta_off": lambda d: export_to_doclang(d, include_non_meta=False),
        "doclang/no_kv_no_page_break": lambda d: export_to_doclang(d, labels=no_kv, add_page_break=False),
        "doclang/allowed_meta": lambda d: export_to_doclang(d, allowed_meta_names=allowed),
        "chunks/hierarchical": lambda d: chunks(hierarchical_chunks(d)),
        "chunks/hybrid": lambda d: chunks(HybridChunker(tokenizer=RegexTokenizer(64)).chunk(d)),
        "doc_json": lambda d: d.to_json(),
    }


def serializer_cases() -> dict[str, str]:
    out = {}
    for name, build in CORPUS.items():
        for vname, fn in variants().items():
            doc = build()  # fresh per variant: no memo or mutation leaks
            out[f"{name}/{vname}"] = _guarded(lambda: fn(doc))
    return out


# ---------------------------------------------------------------------------
# Part 3: code chunkers over synthesized modules
# ---------------------------------------------------------------------------

CODE_DOCS = (
    ("d1", "alpha beta gamma delta"),
    ("d2", "The quick brown fox jumps over the lazy dog; copyright notice 2024."),
    ("d3", "x" * 7 + " long_identifier_with_underscores " * 5),
)


# Named Python sources, one per behaviour of the Python chunker worth
# pinning: the reference quirks it keeps, decorators and comments, nesting,
# import forms, module variables, and inputs that split, vanish or raise.
PY_SOURCES = {
    "quirks": '''\
# Copyright 2024 Example Corp. All rights reserved.
# second header line
"""Module docstring."""
import os
import sys as system

LIMIT = 10


class Plain:
    """Class docstring: never stripped, never in meta."""

    def method(self, path):
        """Method docstring."""
        return os.path.join(path, str(LIMIT))


# first comment
# second comment
@decorator
def top(value):
    # inner comment
    return system.argv[value]

# between functions
X = 1
caf\u00e9 = "\u00e9t\u00e9 \u2014 \u65e5\u672c"
''',
    "decorated": '''\
import functools
from dataclasses import dataclass


def deco(fn):
    return fn


@functools.lru_cache(maxsize=None)
def cached(n):
    return n * 2


@dataclass
class Point:
    x: int = 0
    y: int = 0


class Service:
    @deco
    def __init__(self, name):
        self.name = name

    def run(self):
        return functools.reduce(max, [1, 2])

    @staticmethod
    def helper():
        return 1
''',
    "comments": '''\
import json
# comment above decorators
# and a second one
@dataclass(frozen=True)
class Frozen:
    a: int = 1


class Holder:  # trailing header comment
    # comment between the colon and the first statement
    value = json.dumps({})

    def get(self):  # signature comment
        # body comment first
        return self.value


def spaced():

    # leading blank line and comment
    return json.loads("1")


@decorator
# comment between decorator and def mentions copyright
def between():
    return 2

if True:
    pass
# comment before else
else:
    pass
# license: trailing comment after the last statement
''',
    "decorated_only": '''\
import abc


class OnlyDecorated:
    """Its methods are all decorated."""

    @property
    def size(self):
        return abc.ABC

    @classmethod
    def make(cls):
        return cls()


class InitOnly:
    limit = 3

    def __init__(self, x):
        self.x = x

    @property
    def doubled(self):
        return self.x * 2


class InitAndMore:
    def __init__(self):
        self.items = []

    def add(self, item):
        self.items.append(item)
''',
    "nesting": '''\
import re


class Outer:
    kind = "outer"

    def __init__(self):
        self.inner = self.Inner()

    class Inner:
        tag = re.compile("x")

        def describe(self):
            return self.tag.pattern

        class Deepest:
            def leaf(self):
                return 0


def factory():
    class Local:
        def method(self):
            return re.escape("a")

    return Local


class Empty:
    pass
''',
    "compound": '''\
import sys

if sys.version_info >= (3, 8):
    def when_new():
        return "new"
else:
    def when_old():
        return "old"

try:
    import fast_json as json_impl

    def in_try():
        return json_impl
except ImportError:
    def in_except():
        return None
else:
    def in_else():
        return 1
finally:
    def in_finally():
        return 2

with open(__file__) as fh:
    def in_with():
        return fh

for i in range(2):
    def in_for():
        return i

while False:
    def in_while():
        pass


class Guarded:
    if True:
        def __init__(self):
            self.ok = True

    def other(self):
        return self.ok

match sys.argv:
    case [_, "run"]:
        def in_match():
            return 1
    case _:
        pass
''',
    "imports": '''\
from __future__ import annotations

import os.path as osp
import collections.abc
from . import sibling
from ..pkg import relative_name as rn
from typing import *
from itertools import chain, islice as take


def uses_alias(p):
    return osp.join(p, "x")


def uses_dotted(x):
    return isinstance(x, collections.abc.Mapping)


def uses_relative():
    return sibling, rn


def uses_local_import():
    import math
    from json import dumps as d
    return math.pi, d


def uses_star() -> List[int]:
    return list(take(chain([1], [2]), 1))
''',
    "module_vars": '''\
import pathlib
from decimal import Decimal

BASE: pathlib.Path = pathlib.Path("/tmp")
# comment above a variable
RATE = Decimal("0.5")
a = b = 3
counter: int
counter = 0


def reads_base():
    return BASE / "x"


def reads_rate(v):
    return v * RATE


def shadows():
    RATE = 2
    return RATE


def multi():
    return a + b


class User:
    def __init__(self):
        self.base = BASE

    def go(self):
        return counter


class Other:
    def __init__(self):
        self.rate = RATE
''',
    "async_unicode": '''\
# -*- coding: utf-8 -*-
"""\u00dcbersicht: \u00e4\u00f6\u00fc \u2014 \u4e2d\u6587 \U0001f600"""
import asyncio

GREETING = "h\u00e9llo w\u00f6rld \U0001f30d"


async def fetch(url):
    await asyncio.sleep(0)
    return GREETING + url


async def gather(*urls):
    async with asyncio.Lock():
        async for _ in aiter(urls):
            pass
    return await asyncio.gather(*(fetch(u) for u in urls))


def na\u00efve():
    return "\u00fcml\u00e4ut"
''',
    "copyright": '''\
#!/usr/bin/env python
#
# Copyright (c) 2020 The Authors.
# Licensed under the Apache License, Version 2.0.
#
# All Rights Reserved.

"""Module docstring after the header."""

import logging

log = logging.getLogger(__name__)


def info(msg):
    log.info(msg)
''',
    "tabs": "import os\n\n\nclass Tabbed:\n\tx = 1\n\n\tdef method(self):\n\t\tif self.x:\n"
    "\t\t\treturn os.sep\n\t\treturn None\n\n\ndef top():\n\treturn Tabbed().method()\n",
    "long_function": "import textwrap\n\n\ndef long_function(data):\n"
    + "".join(f"    value_{i} = textwrap.dedent(data[{i}]) + str({i} * {i})\n" for i in range(40))
    + "    return value_39\n\n\nclass Big:\n"
    + "".join(f"    field_{i} = {i}\n" for i in range(30)),
    "line_breaks": "import os\r\n\r\n\r\ndef crlf():\r\n    return os.sep\r\n\x0c\n# form feed above\n"
    "def after_form_feed():\n    return 1\n",
    "whitespace_only": "   \n\t\n  \n",
    "syntax_error": "def broken(:\n    return 1\n",
}


def _code_chunk_doc():
    """One doc with a Python, a Java and an unknown-language code item."""
    from docling_core_spark.model import doc as M
    from docling_core_spark.model.doc import Doc

    d = Doc(name="code_doc")
    d.add_heading("Code", level=1)
    d.add_code("import os\n\n\ndef f(x):\n    return os.sep + x\n", code_language="Python")
    d.add_text(M.TEXT, "between the listings")
    d.add_code("class A {\n  int f() { return 1; }\n}\n", code_language="Java")
    d.add_code("fn main() {\n    println!(\"hi\");\n}\n", code_language="Rust")
    d.add_code("   ", code_language="Python")
    return d


def code_chunk_cases() -> dict[str, str]:
    from docling_core_spark.functions.chunkers import hierarchical_chunks
    from docling_core_spark.functions.code_chunker import chunk_python_code
    from docling_core_spark.operators.doc_synth_ops import _chunker_for

    out = {}
    budgets = ((5000, 300), (24, 4))
    for lang in ("python", "java", "c", "ts", "js"):
        synth, chunker = _chunker_for(lang)
        for doc_id, text in CODE_DOCS:
            code = synth(doc_id, text)
            for max_tokens, min_size in budgets:
                out[f"{lang}/{doc_id}/{max_tokens}"] = _guarded(
                    lambda: list(chunker(code, max_tokens=max_tokens, min_chunk_size=min_size))
                )
    for name, code in PY_SOURCES.items():
        for max_tokens, min_size in budgets:
            out[f"python/{name}/{max_tokens}"] = _guarded(
                lambda: list(chunk_python_code(code, max_tokens=max_tokens, min_chunk_size=min_size))
            )
    for origin in (None, {"filename": "listing.md", "mimetype": "text/markdown"}):
        def chunks() -> list:
            doc = _code_chunk_doc()
            doc.origin = origin
            return list(hierarchical_chunks(doc, code_chunking=True))

        out[f"hierarchical/code_chunking/{'origin' if origin else 'no_origin'}"] = _guarded(chunks)
    return out


# ---------------------------------------------------------------------------
# Lock file
# ---------------------------------------------------------------------------


def default_sf_dir() -> Path:
    from tests.test_oracle_parity import SF_DIR

    return Path(SF_DIR)


def build_lock(sf_dir: Path) -> dict:
    return {
        "extract_columns": list(EXTRACT_COLUMNS),
        "extract": extract_cases(sf_dir),
        "serializers": serializer_cases(),
        "code_chunks": code_chunk_cases(),
    }


def diff_section(section: str, old: dict, new: dict, columns: list[str]) -> list[str]:
    """Human-readable list of the (case, column) entries that moved."""
    moved = []
    for key in sorted(set(old) | set(new)):
        a, b = old.get(key), new.get(key)
        if a == b:
            continue
        if a is None or b is None:
            moved.append(f"{section}/{key}: {'added' if a is None else 'missing'}")
        elif section == "extract":
            for url in sorted(set(a) | set(b)):
                da, db = a.get(url), b.get(url)
                if da == db:
                    continue
                if da is None or db is None:
                    moved.append(f"{section}/{key} {url}: {'added' if da is None else 'missing'}")
                    continue
                cols = [c for c, x, y in zip(columns, da.split(), db.split()) if x != y]
                moved.append(f"{section}/{key} {url}: {', '.join(cols)}")
        else:
            moved.append(f"{section}/{key}: {a} -> {b}")
    return moved


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--diff", action="store_true", help="print what moved; do not write")
    args = ap.parse_args()
    new = build_lock(default_sf_dir())
    if args.diff:
        old = json.loads(LOCK_PATH.read_text())
        moved = []
        for section in ("extract", "serializers", "code_chunks"):
            moved += diff_section(section, old[section], new[section], old["extract_columns"])
        print("\n".join(moved) if moved else "lock unchanged")
        return 1 if moved else 0
    LOCK_PATH.parent.mkdir(parents=True, exist_ok=True)
    LOCK_PATH.write_text(json.dumps(new, indent=1, sort_keys=True) + "\n")
    n = sum(len(v) for v in new["extract"].values()) + len(new["serializers"]) + len(new["code_chunks"])
    print(f"wrote {LOCK_PATH.relative_to(ROOT)}: {n} entries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
