"""DocTags serialization (reference transforms/serializer/doctags.py, tokens.py).

Emits the `<doctag>` token stream: per-item `<tag><loc_x0><loc_y0><loc_x1>
<loc_y1>content</tag>`, quantized locations (round(500*v) clamped [0,499]),
OTSL table tokens, picture classification/SMILES/chart tokens, list/inline
wrappers, `<page_break>` markers.  Target: byte parity with the reference GT
`.dt` fixtures.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from docling_core_spark.functions.geometry import is_topleft, to_top_left_tuple
from docling_core_spark.functions.serializers import (
    DocSerializer,
    MarkdownParams,
    SerResult,
    _res,
    _wrap,
    best_prediction,
    replace_page_breaks,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

# -- token tables (reference types/doc/tokens.py) ---------------------------

_TOKEN_BY_LABEL = {
    M.CAPTION: "caption",
    M.FOOTNOTE: "footnote",
    M.FORMULA: "formula",
    M.LIST_ITEM: "list_item",
    M.PAGE_FOOTER: "page_footer",
    M.PAGE_HEADER: "page_header",
    M.PICTURE: "picture",
    M.TABLE: "table",
    M.TEXT: "text",
    M.TITLE: "title",
    M.DOCUMENT_INDEX: "document_index",
    M.CODE: "code",
    M.CHECKBOX_SELECTED: "checkbox_selected",
    M.CHECKBOX_UNSELECTED: "checkbox_unselected",
    M.FORM: "form",
    M.KEY_VALUE_REGION: "key_value_region",
    M.PARAGRAPH: "paragraph",
    M.REFERENCE: "reference",
    M.CHART: "chart",
    M.HANDWRITTEN_TEXT: "handwritten_text",
}

_CHART_CLASSES = {
    "pie_chart",
    "bar_chart",
    "stacked_bar_chart",
    "line_chart",
    "flow_chart",
    "scatter_chart",
    "heatmap",
}

# code languages with non-trivial token casing (reference _CodeLanguageToken)
_CODE_LANG_TOKENS = {
    "Ada", "Awk", "Bash", "bc", "C", "C#", "C++", "CMake", "COBOL", "CSS",
    "Ceylon", "Clojure", "Crystal", "Cuda", "Cython", "D", "Dart", "dc",
    "Dockerfile", "Elixir", "Erlang", "FORTRAN", "Forth", "Go", "HTML",
    "Haskell", "Haxe", "Java", "JavaScript", "Julia", "Kotlin", "Lisp", "Lua",
    "Matlab", "MoonScript", "Nim", "OCaml", "ObjectiveC", "Octave", "PHP",
    "Pascal", "Perl", "Prolog", "Python", "Racket", "Ruby", "Rust", "SML",
    "SQL", "Scala", "Scheme", "Swift", "TypeScript", "unknown", "VisualBasic",
    "XML", "YAML",
}


def loc_token(val: float, rnorm: int = 500, self_closing: bool = False) -> str:
    """Quantized location token: round(rnorm*val) clamped [0, rnorm-1]."""
    v = round(rnorm * val)
    v = max(0, min(v, rnorm - 1))
    return f"<loc_{v}{'/' if self_closing else ''}>"


def to_bottom_left_tuple(bbox: dict, page_h: float) -> tuple:
    """Bbox as BOTTOMLEFT as_tuple — (l, b, r, t) per reference base.py:128."""
    if is_topleft(bbox):
        return (bbox["l"], page_h - bbox["b"], bbox["r"], page_h - bbox["t"])
    return (bbox["l"], bbox["b"], bbox["r"], bbox["t"])


def location_str(
    bbox_tuple: tuple, page_w: float, page_h: float, xsize: int = 500, ysize: int = 500,
    self_closing: bool = False,
) -> str:
    """Four quantized loc tokens for a bbox tuple in page units."""
    x0, y0, x1, y1 = bbox_tuple
    x0, x1 = x0 / page_w, x1 / page_w
    y0, y1 = y0 / page_h, y1 / page_h
    return (
        loc_token(min(x0, x1), xsize, self_closing)
        + loc_token(min(y0, y1), ysize, self_closing)
        + loc_token(max(x0, x1), xsize, self_closing)
        + loc_token(max(y0, y1), ysize, self_closing)
    )


@dataclass
class DocTagsParams(MarkdownParams):
    """DocTags serialization parameters (reference DocTagsParams).

    Unlike markdown, doctags default to ALL content layers (reference
    CommonParams._DEFAULT_LAYERS = set(ContentLayer)).
    """

    layers: frozenset = frozenset(M.CONTENT_LAYERS)
    xsize: int = 500
    ysize: int = 500
    add_location: bool = True
    add_caption: bool = True
    add_content: bool = True
    add_table_cell_location: bool = False
    add_table_cell_text: bool = True
    add_page_break: bool = True
    minified: bool = False
    do_self_closing: bool = False


class DocTagsSerializer(DocSerializer):
    """DocTags dispatch engine (shares traversal core with the markdown one)."""

    _FALLBACK_DELIM = "\n"
    _MISSING_TEXT = ""
    _MISSING_FORM = ""

    params: DocTagsParams

    def __init__(self, doc: Doc, params: Optional[DocTagsParams] = None):
        super().__init__(doc, params or DocTagsParams())

    # -- infrastructure overrides ------------------------------------------

    def _delim(self) -> str:
        return "" if self.params.minified else "\n"

    def _requires_page_break(self) -> bool:
        return self.params.add_page_break

    def serialize_meta(self, item: dict) -> SerResult:
        """DocTags has no meta serializer."""
        return _res()

    def post_process(self, text: str, escape_html=True, escape_underscores=True,
                     formatting=None, hyperlink=None) -> str:
        """No escaping, no markdown decoration in doctags."""
        return text

    def _page_dims(self, page_no: int) -> Optional[tuple]:
        page = self.doc.page(page_no)
        if not page:
            return None
        size = page.get("size") or {}
        return (size.get("width", 0.0), size.get("height", 0.0))

    def _location_tokens(self, item: dict) -> str:
        """Per-prov location tokens (reference node.py:143-169)."""
        p = self.params
        out = []
        for prov in item.get("prov", ()):
            dims = self._page_dims(prov.get("page_no"))
            if dims is None:
                continue
            page_w, page_h = dims
            tl = to_top_left_tuple(prov["bbox"], page_h)
            out.append(location_str(tl, page_w, page_h, p.xsize, p.ysize, p.do_self_closing))
        return "".join(out)

    # -- text items -----------------------------------------------------------

    def _serialize_text_item(self, item: dict, visited: set, is_inline_scope: bool) -> SerResult:
        p = self.params
        label = item.get("label")
        if label == M.SECTION_HEADER:
            wrap_tag = f"section_header_level_{item.get('level', 1)}"
        else:
            wrap_tag = _TOKEN_BY_LABEL.get(label, "text")
        if label == M.LIST_ITEM:
            wrap_tag = None  # the list serializer wraps list items

        parts: list[str] = []
        if p.add_location:
            loc = self._location_tokens(item)
            if loc:
                parts.append(loc)
        if p.add_content:
            child_group = self._inline_child(item)
            if child_group is not None:
                text_part = self.serialize(item=child_group, visited=visited).text
            else:
                text_part = item.get("text", "")
            if label == M.CODE:
                lang = item.get("code_language", "unknown")
                if p.do_self_closing:
                    lang_tok = f"<{lang}/>"
                else:
                    lang_tok = f"<_{lang}_>" if lang in _CODE_LANG_TOKENS else "<_unknown_>"
                text_part = f"{lang_tok}{text_part}"
            else:
                text_part = text_part.strip()
            if text_part:
                parts.append(text_part)
        if p.add_caption and "captions" in item:
            cap = self.serialize_captions(item)
            if cap.text:
                parts.append(cap.text)
        text = "".join(parts)
        if wrap_tag is not None:
            text = _wrap(text, wrap_tag)
        return _res(text, item)

    # -- captions ----------------------------------------------------------------

    def serialize_captions(self, item: dict) -> SerResult:
        p = self.params
        if not item.get("captions"):
            return _res()
        results: list[str] = []
        base = super().serialize_captions(item)
        if base.text and p.add_location:
            excluded = self.get_excluded_refs()
            for cap_ref in item["captions"]:
                if cap_ref["$ref"] not in excluded:
                    cap = self.doc.resolve(cap_ref["$ref"])
                    if M.is_doc_item(cap):
                        results.append(self._location_tokens(cap))
        if base.text and p.add_content:
            results.append(base.text)
        text = "".join(results)
        if text:
            text = _wrap(text, "caption")
        return SerResult(text, base.spans)

    # -- tables ----------------------------------------------------------------

    def _otsl(self, item: dict, visited: Optional[set]) -> str:
        """OTSL token stream (reference table.py:204-303)."""
        p = self.params
        data = item.get("data") or {}
        if not data.get("table_cells"):
            return ""
        grid = self._grid_c(data)
        nrows, ncols = data.get("num_rows", 0), data.get("num_cols", 0)
        page_no = item["prov"][0]["page_no"] if item.get("prov") else 0
        dims = self._page_dims(page_no)
        add_text = p.add_table_cell_text and p.add_content
        body: list[str] = []
        for i in range(nrows):
            for j in range(ncols):
                cell = grid[i][j]
                content = self._cell_text(cell, visited).strip()
                rowstart = cell.get("start_row_offset_idx", i)
                colstart = cell.get("start_col_offset_idx", j)
                rowspan = cell.get("row_span", 1)
                colspan = cell.get("col_span", 1)
                cell_loc = ""
                if cell.get("bbox") is not None and dims is not None:
                    page_w, page_h = dims
                    bl = to_bottom_left_tuple(cell["bbox"], page_h)
                    cell_loc = location_str(bl, page_w, page_h, p.xsize, p.ysize, p.do_self_closing)
                if rowstart == i and colstart == j:
                    if content:
                        if cell.get("column_header"):
                            body.append("<ched>")
                        elif cell.get("row_header"):
                            body.append("<rhed>")
                        elif cell.get("row_section"):
                            body.append("<srow>")
                        else:
                            body.append("<fcel>")
                        if p.add_table_cell_location:
                            body.append(cell_loc)
                        if add_text:
                            body.append(content)
                    else:
                        body.append("<ecel>")
                else:
                    add_cross = False
                    if rowstart != i:
                        if colspan == 1:
                            body.append("<ucel>")
                        else:
                            add_cross = True
                    if colstart != j:
                        if rowspan == 1:
                            body.append("<lcel>")
                        else:
                            add_cross = True
                    if add_cross:
                        body.append("<xcel>")
            body.append("<nl>")
        return "".join(body)

    def _serialize_table(self, item: dict, visited: set, nested: bool = False) -> SerResult:
        p = self.params
        parts: list[str] = []
        if item["self_ref"] not in self.get_excluded_refs():
            if p.add_location:
                parts.append(self._location_tokens(item))
            parts.append(self._otsl(item, visited))
        if p.add_caption:
            cap = self.serialize_captions(item)
            if cap.text:
                parts.append(cap.text)
        text = "".join(parts)
        if text:
            text = _wrap(text, "otsl")
        return _res(text, item)

    # -- pictures ------------------------------------------------------------------

    def _serialize_picture(self, item: dict, visited: set) -> SerResult:
        p = self.params
        parts: list[str] = []
        is_chart = False
        if item["self_ref"] not in self.get_excluded_refs():
            body = ""
            if p.add_location:
                body += self._location_tokens(item)
            meta = item.get("meta") or {}
            predicted_class = None
            cls = meta.get("classification")
            if cls and cls.get("predictions"):
                predicted_class = best_prediction(cls["predictions"]).get("class_name")
            if predicted_class:
                body += f"<{predicted_class}>"
                if predicted_class in _CHART_CLASSES:
                    is_chart = True
            smi = (meta.get("molecule") or {}).get("smi")
            if smi:
                body += _wrap(smi, "smiles")
            chart_data = (meta.get("tabular_chart") or {}).get("chart_data")
            if chart_data and chart_data.get("table_cells"):
                body += self._otsl({"data": chart_data, "prov": []}, visited)
            parts.append(body)
        if p.add_caption:
            cap = self.serialize_captions(item)
            if cap.text:
                parts.append(cap.text)
        text = "".join(parts)
        if text:
            text = _wrap(text, "chart" if is_chart else "picture")
        return _res(text, item)

    # -- groups --------------------------------------------------------------------

    def _serialize_list_group(self, item: dict, visited: set, list_level: int, is_inline_scope: bool) -> SerResult:
        parts = self.get_parts(
            item=item, list_level=list_level + 1, is_inline_scope=is_inline_scope, visited=visited
        )
        delim = self._delim()
        if not parts:
            return _res("", parts)
        text = delim.join(_wrap(part.text, "list_item") for part in parts)
        text = f"{text}{delim}"
        return _res(_wrap(text, "ordered_list" if self._is_enumerated(item) else "unordered_list"), parts)

    def _serialize_inline_group(self, item: dict, visited: set, list_level: int) -> SerResult:
        p = self.params
        parts: list[SerResult] = []
        if p.add_location:
            boxes = []
            last_prov = None
            span_items = []
            for it, _ in self.doc.iterate_items_cached(root=item):
                for prov in it.get("prov", ()):
                    boxes.append(prov)
                    last_prov = prov
                    span_items.append(it)
            if last_prov is not None:
                dims = self._page_dims(last_prov["page_no"])
                if dims:
                    page_w, page_h = dims
                    tl = [to_top_left_tuple(pr["bbox"], page_h) for pr in boxes]
                    enc = (
                        min(t[0] for t in tl),
                        min(t[1] for t in tl),
                        max(t[2] for t in tl),
                        max(t[3] for t in tl),
                    )
                    parts.append(
                        SerResult(
                            location_str(enc, page_w, page_h, p.xsize, p.ysize, p.do_self_closing),
                            span_items,
                        )
                    )
            # suppress children location serialization
            prev = p.add_location
            p.add_location = False
            try:
                parts.extend(self.get_parts(item=item, list_level=list_level, is_inline_scope=True, visited=visited))
            finally:
                p.add_location = prev
        else:
            parts.extend(self.get_parts(item=item, list_level=list_level, is_inline_scope=True, visited=visited))
        delim = self._delim()
        text = delim.join(x.text for x in parts if x.text)
        if text:
            text = _wrap(f"{text}{delim}", "inline")
        return _res(text, parts)

    # -- key-value items --------------------------------------------------------------

    def _serialize_key_value(self, item: dict) -> SerResult:
        p = self.params
        body = ""
        page_no = item["prov"][0]["page_no"] if item.get("prov") else 1
        if p.add_location:
            body += self._location_tokens(item)
        graph = item.get("graph") or {}
        source_to_targets: dict[int, list[int]] = {}
        for link in graph.get("links", ()):
            source_to_targets.setdefault(link["source_cell_id"], []).append(link["target_cell_id"])
        for cell in graph.get("cells", ()):
            cell_txt = ""
            prov = cell.get("prov")
            if prov is not None and self.doc.pages:
                dims = self._page_dims(page_no)
                if dims:
                    page_w, page_h = dims
                    tl = to_top_left_tuple(prov["bbox"], page_h)
                    cell_txt += location_str(tl, page_w, page_h, p.xsize, p.ysize)
            if p.add_content:
                cell_txt += cell.get("text", "").strip()
            for target in source_to_targets.get(cell.get("cell_id"), ()):
                cell_txt += f"<link_{target}>"
            body += _wrap(cell_txt, f"{cell.get('label')}_{cell.get('cell_id')}")
        if p.add_caption and item.get("captions"):
            cap = self.serialize_captions(item)
            if cap.text:
                body += cap.text
        return _res(_wrap(body, "key_value_region"), item)

    # -- document wrapper ------------------------------------------------------------------

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        delim = self._delim()
        text = delim.join(x.text for x in parts if x.text)
        if self.params.add_page_break:
            text = replace_page_breaks(text, "<page_break>")
        return _res(f"<doctag>{text}{delim}</doctag>", parts)


def export_to_doctags(
    doc: Doc,
    labels: Optional[set] = None,
    minified: bool = False,
    pages: Optional[set] = None,
    **overrides,
) -> str:
    """DocTags export with reference defaults (document.py:4698-4762)."""
    params = DocTagsParams(
        labels=frozenset(labels) if labels is not None else M.DOCUMENT_TOKENS_EXPORT_LABELS,
        minified=minified,
        pages=pages,
        **overrides,
    )
    return DocTagsSerializer(doc, params).serialize().text
