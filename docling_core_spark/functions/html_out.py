"""HTML serialization (reference transforms/serializer/html.py:94-1324).

Full-document HTML with head/css, single-column and split-page styles,
formula MathML (mini LaTeX converter for the common subset; <pre> fallback),
tables with row/colspans, figure/figcaption pictures, graph-data rendering.
Target: byte parity with the reference *.gt.html fixtures.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass
from typing import Optional

from docling_core_spark.functions.html_css import CSS_SINGLE_COLUMN, CSS_SPLIT_PAGE
from docling_core_spark.functions.serializers import (
    DocSerializer,
    MarkdownParams,
    SerResult,
    _PB_RE,
    _res,
    get_text_direction,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc


def tag_with_dir(html_tag: str, text: str, attrs: Optional[dict] = None) -> str:
    """Form an HTML element (reference utils.py:212-223)."""
    my_attrs = dict(attrs or {})
    d = my_attrs.get("dir")
    if d is not None and d != "ltr":
        my_attrs["dir"] = get_text_direction(text)
    pieces = [html_tag]
    if my_attrs:
        pieces.append(
            " ".join(
                f'{_html.escape(k, quote=False)}="{_html.escape(v, quote=False)}"'
                for k, v in my_attrs.items()
            )
        )
    return f"<{' '.join(pieces)}>{text}</{html_tag}>"


# ---------------------------------------------------------------------------
# Mini LaTeX -> MathML (latex2mathml-compatible output for the simple subset:
# identifiers, digits, + - = / ( ) , ^ and _ with single-token scripts).
# Anything else raises -> <pre> fallback, mirroring the reference's except path.
# ---------------------------------------------------------------------------

_MO_ENTITY = {
    "=": "&#x0003D;",
    "+": "&#x0002B;",
    "-": "&#x02212;",
    "(": "&#x00028;",
    ")": "&#x00029;",
    ",": "&#x0002C;",
    "/": "&#x0002F;",
    "*": "&#x0002A;",
    ".": "&#x0002E;",
    "<": "&#x0003C;",
    ">": "&#x0003E;",
}
_LATEX_TOKEN_RE = re.compile(r"[A-Za-z]|\d+(?:\.\d+)?|[=+\-(),/*.<>]|\^|_|\s+")


def latex_to_mathml(text: str, display: str) -> str:
    """Convert simple LaTeX to latex2mathml-shaped MathML; raises if unsupported."""
    pos = 0
    tokens: list[str] = []
    while pos < len(text):
        m = _LATEX_TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"unsupported latex at {pos}: {text[pos:pos + 10]!r}")
        tok = m.group(0)
        pos = m.end()
        if tok.isspace():
            continue
        tokens.append(tok)

    def node(tok: str) -> str:
        if tok.isdigit() or re.fullmatch(r"\d+(?:\.\d+)?", tok):
            return f"<mn>{tok}</mn>"
        if tok.isalpha():
            return f"<mi>{tok}</mi>"
        if tok in _MO_ENTITY:
            return f"<mo>{_MO_ENTITY[tok]}</mo>"
        raise ValueError(f"unsupported token {tok!r}")

    out: list[str] = []
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        if tok in ("^", "_"):
            raise ValueError("script without base")
        nxt = tokens[i + 1] if i + 1 < len(tokens) else None
        if nxt in ("^", "_"):
            script = tokens[i + 2] if i + 2 < len(tokens) else None
            if script is None or script in ("^", "_"):
                raise ValueError("dangling script")
            wrap = "msup" if nxt == "^" else "msub"
            out.append(f"<{wrap}>{node(tok)}{node(script)}</{wrap}>")
            i += 3
        else:
            out.append(node(tok))
            i += 1
    inner = "".join(out)
    return (
        f'<math xmlns="http://www.w3.org/1998/Math/MathML" display="{display}">'
        f"<mrow>{inner}</mrow>"
        f'<annotation encoding="TeX">{text}</annotation></math>'
    )


@dataclass
class HTMLParams(MarkdownParams):
    """HTML serialization parameters (reference HTMLParams)."""

    escape_underscores: bool = False  # HTML post-process never markdown-escapes
    escape_html: bool = False
    html_lang: str = "en"
    html_head: Optional[str] = None
    css_styles: Optional[str] = None
    add_document_metadata: bool = True
    prettify: bool = True
    formula_to_mathml: bool = True
    output_style: str = "single_column"  # or "split_page"
    show_original_list_item_marker: bool = True
    enable_chart_tables: bool = True


class HTMLSerializer(DocSerializer):
    """HTML dispatch engine sharing the traversal core."""

    _SERIALIZE_DELIM = "\n"
    _FALLBACK_DELIM = "\n"
    _MISSING_TEXT = "<!-- Unhandled item type -->"
    _ANNOTATION_DELIM = " "

    params: HTMLParams

    def __init__(self, doc: Doc, params: Optional[HTMLParams] = None):
        super().__init__(doc, params or HTMLParams())

    # -- hooks --------------------------------------------------------------

    def _requires_page_break(self) -> bool:
        return self.params.output_style == "split_page"

    def _item_wraps_meta(self, item: dict) -> bool:
        return M.is_picture_item(item)

    def _fmt_bold(self, t: str) -> str:
        return f"<strong>{t}</strong>"

    def _fmt_italic(self, t: str) -> str:
        return f"<em>{t}</em>"

    def _fmt_underline(self, t: str) -> str:
        return f"<u>{t}</u>"

    def _fmt_strikethrough(self, t: str) -> str:
        return f"<del>{t}</del>"

    def _fmt_subscript(self, t: str) -> str:
        return f"<sub>{t}</sub>"

    def _fmt_superscript(self, t: str) -> str:
        return f"<sup>{t}</sup>"

    def _fmt_hyperlink(self, t: str, url: str) -> str:
        return f'<a href="{url}">{t}</a>'

    # -- text ----------------------------------------------------------------

    def _serialize_text_item(self, item: dict, visited: set, is_inline_scope: bool) -> SerResult:
        p = self.params
        label = item.get("label")
        post_processed = False

        child_group = self._inline_child(item)
        has_inline_repr = child_group is not None
        if has_inline_repr:
            text = self.serialize(item=child_group, visited=visited).text
            post_processed = True
        else:
            text = item.get("text", "")
            if label not in (M.CODE, M.FORMULA):
                text = _html.escape(text, quote=False).replace("\n", "<br>")

        if label == M.TITLE:
            text = tag_with_dir("h1", text)
        elif label == M.SECTION_HEADER:
            text = tag_with_dir(f"h{min(item.get('level', 1) + 1, 6)}", text)
        elif label == M.FORMULA:
            text = self._process_formula(item, text, is_inline_scope)
        elif label == M.CODE:
            text = f"<code>{text}</code>" if is_inline_scope else f"<pre><code>{text}</code></pre>"
        elif label == M.LIST_ITEM:
            text_parts: list[str] = []
            if text:
                if has_inline_repr:
                    text = f"\n{text}\n"
                else:
                    text = self.post_process(
                        text=text, formatting=item.get("formatting"), hyperlink=item.get("hyperlink")
                    )
                    post_processed = True
                text_parts.append(text)
            nested = [r.text for r in self.get_parts(item=item, is_inline_scope=is_inline_scope, visited=visited)]
            text_parts.extend(nested)
            text = "\n".join(text_parts)
            if nested:
                text = f"\n{text}\n"
            marker = item.get("marker", "")
            attrs = (
                {"style": f"list-style-type: '{marker} ';"}
                if p.show_original_list_item_marker and marker
                else {}
            )
            text = tag_with_dir("li", text, attrs) if text else ""
        elif not is_inline_scope:
            text = tag_with_dir("p", text)

        if not post_processed:
            text = self.post_process(
                text=text, formatting=item.get("formatting"), hyperlink=item.get("hyperlink")
            )

        if not has_inline_repr and label != M.LIST_ITEM and item.get("children"):
            nested_text = "\n".join(
                r.text
                for r in self.get_parts(item=item, is_inline_scope=is_inline_scope, visited=visited)
                if r.text
            )
            if nested_text:
                text = f"{text}\n{nested_text}" if text else nested_text

        res_parts: list[SerResult] = []
        if text:
            res_parts.append(_res(text, item))
        if "captions" in item:
            cap = self.serialize_captions(item)
            if cap.text:
                res_parts.append(cap)
        return SerResult(text, _res("", res_parts).spans)

    def _process_formula(self, item: dict, text: str, is_inline_scope: bool) -> str:
        p = self.params
        if p.formula_to_mathml and text:
            try:
                mathml = latex_to_mathml(text, "inline" if is_inline_scope else "block")
                return mathml if is_inline_scope else f"<div>{mathml}</div>"
            except Exception:
                if text:
                    return f"<pre>{text}</pre>"
                return "<pre>Formula not decoded</pre>"
        if text and is_inline_scope:
            return f"<code>{text}</code>"
        elif text:
            return f"<pre>{text}</pre>"
        elif is_inline_scope:
            return '<span class="formula-not-decoded">Formula not decoded</span>'
        return '<div class="formula-not-decoded">Formula not decoded</div>'

    # -- captions -------------------------------------------------------------

    def serialize_captions(self, item: dict, tag: str = "figcaption") -> SerResult:
        p = self.params
        results: list[SerResult] = []
        excluded = self.get_excluded_refs()
        if M.CAPTION in p.labels:
            for cap_ref in item.get("captions", ()):
                cap = self.doc.resolve(cap_ref["$ref"])
                if M.is_text_item(cap) and cap["self_ref"] not in excluded:
                    text_cap = cap.get("text", "")
                    dir_str = ' dir="rtl"' if get_text_direction(text_cap) == "rtl" else ""
                    results.append(
                        _res(f'<div class="caption"{dir_str}>{_html.escape(text_cap)}</div>', cap)
                    )
        if (
            item["self_ref"] not in excluded
            and (M.is_picture_item(item) or M.is_table_item(item))
            and self._use_legacy_annotations(item)
        ):
            ann = self.serialize_annotations(item)
            if ann.text:
                results.append(ann)
        text = p.caption_delim.join(r.text for r in results)
        if text:
            text = f"<{tag}>{text}</{tag}>"
        return SerResult(text, _res("", results).spans)

    def _fmt_annotation(self, kind: str, text: str) -> str:
        dir_str = ' dir="rtl"' if get_text_direction(text) == "rtl" else ""
        return f'<div data-annotation-kind="{kind}"{dir_str}>{_html.escape(text)}</div>'

    # -- meta --------------------------------------------------------------------

    def _meta_field_text(self, meta: dict, name: str) -> Optional[str]:
        val = meta.get(name)
        if name == "language" and val is not None:
            return val.get("code")
        if name == "entities" and val is not None:
            bits = []
            for m in val.get("mentions", []):
                label, charspan, t = m.get("label"), m.get("charspan"), m.get("text", "")
                if label is not None and charspan:
                    bits.append(f"{t} ({label}, [{charspan[0]},{charspan[1]}])")
                elif label is not None:
                    bits.append(f"{t} ({label})")
                elif charspan:
                    bits.append(f"{t} ([{charspan[0]},{charspan[1]}])")
                else:
                    bits.append(t)
            return ", ".join(bits)
        return super()._meta_field_text(meta, name)

    def _serialize_meta_field(self, meta: dict, name: str) -> Optional[str]:
        val = meta.get(name)
        if val is None:
            return None
        if name == "tabular_chart":
            data = val.get("chart_data")
            table = {"data": data, "self_ref": "#/_tmp/0", "prov": []}
            txt = self._table_html(table, None).strip() if data else None
        elif name == "code":
            lang = (val.get("language") or "").lower()
            code_class = f' class="language-{_html.escape(lang)}"' if lang else ""
            txt = f'<pre class="docling-meta-code"><code{code_class}>{_html.escape(val.get("text", ""))}</code></pre>'
        else:
            txt = self._meta_field_text(meta, name)
            txt = _html.escape(txt, quote=False) if txt else None
        if not txt:
            return None
        ename = _html.escape(name, quote=True)
        return (
            f'<div class="docling-meta-field" data-meta-name="{ename}">'
            f'<span class="docling-meta-field-label">{ename}:</span> '
            f'<span class="docling-meta-field-value">{txt}</span>'
            f"</div>"
        )

    def _join_meta_fields(self, fields: list[str]) -> str:
        if not fields:
            return ""
        return f'<details class="docling-meta"><summary>Meta</summary>{"".join(fields)}</details>'

    # -- tables ---------------------------------------------------------------------

    def _table_html(self, item: dict, visited: Optional[set]) -> str:
        body = ""
        data = item.get("data") or {}
        for i, row in enumerate(self._grid_c(data)):
            body += "<tr>"
            for j, cell in enumerate(row):
                if cell.get("start_row_offset_idx", i) != i or cell.get("start_col_offset_idx", j) != j:
                    continue
                if cell.get("ref"):
                    ref = cell["ref"]
                    cref = ref["$ref"] if isinstance(ref, dict) else ref
                    content = self.serialize(item=self.doc.resolve(cref), visited=visited).text
                else:
                    content = _html.escape((cell.get("text") or "").strip())
                celltag = (
                    "th"
                    if cell.get("column_header") or cell.get("row_header") or cell.get("row_section")
                    else "td"
                )
                opening = celltag
                if cell.get("row_span", 1) > 1:
                    opening += f' rowspan="{cell["row_span"]}"'
                if cell.get("col_span", 1) > 1:
                    opening += f' colspan="{cell["col_span"]}"'
                if get_text_direction(content) == "rtl":
                    opening += ' dir="rtl"'
                body += f"<{opening}>{content}</{celltag}>"
            body += "</tr>"
        if body:
            body = f"<tbody>{body}</tbody>"
        return f"<table>{body}</table>" if body else ""

    def _serialize_table(self, item: dict, visited: set, nested: bool = False) -> SerResult:
        parts: list[SerResult] = []
        cap = self.serialize_captions(item, tag="caption")
        if cap.text:
            parts.append(cap)
        if item["self_ref"] not in self.get_excluded_refs():
            t = self._table_html(item, visited)
            if t:
                # unwrap: the reference builds "<table>{caption}{tbody}</table>"
                parts.append(_res(t[len("<table>"):-len("</table>")], item))
        text = "".join(r.text for r in parts)
        text = f"<table>{text}</table>" if text else ""
        return _res(text, parts)

    # -- pictures --------------------------------------------------------------------

    def _serialize_picture(self, item: dict, visited: set) -> SerResult:
        p = self.params
        parts: list[SerResult] = []
        cap = self.serialize_captions(item, tag="figcaption")
        if cap.text:
            parts.append(cap)
        img_text = ""
        if item["self_ref"] not in self.get_excluded_refs():
            uri = (item.get("image") or {}).get("uri")
            is_data = isinstance(uri, str) and uri.startswith("data:")
            if p.image_mode == "embedded" and is_data:
                img_text = f'<img src="{uri}">'
            elif p.image_mode == "referenced" and uri and not is_data:
                from urllib.parse import quote

                img_text = f'<img src="{quote(str(uri))}">'
        if img_text:
            parts.append(_res(img_text, item))
        if p.enable_chart_tables and self._use_legacy_annotations(item, kind="tabular_chart"):
            for ann in item.get("annotations", ()):
                if ann.get("kind") == "tabular_chart" and ann.get("chart_data"):
                    t = self._table_html({"data": ann["chart_data"], "self_ref": item["self_ref"], "prov": []}, None)
                    if t:
                        parts.append(_res(t, item))
                    break
        if item.get("meta"):
            meta_res = self.serialize_meta(item)
            if meta_res.text:
                parts.append(meta_res)
        text = "".join(r.text for r in parts)
        if text:
            text = f"<figure>{text}</figure>"
        return _res(text, parts)

    # -- graph data (key-value / form) --------------------------------------------------

    def _graph_html(self, item: dict, class_name: str) -> str:
        graph = item.get("graph") or {}
        cell_map = {c["cell_id"]: c for c in graph.get("cells", ())}
        child_links: dict[int, list[int]] = {}
        value_links: dict[int, list[int]] = {}
        parents: set[int] = set()
        for link in graph.get("links", ()):
            if link.get("source_cell_id") not in cell_map or link.get("target_cell_id") not in cell_map:
                continue
            if link.get("label") == "to_child":
                child_links.setdefault(link["source_cell_id"], []).append(link["target_cell_id"])
                parents.add(link["target_cell_id"])
            elif link.get("label") == "to_value":
                value_links.setdefault(link["source_cell_id"], []).append(link["target_cell_id"])
        root_ids = [cid for cid in cell_map if cid not in parents]
        parts = [f'<div class="{class_name}">']
        if root_ids:
            parts.append(f'<ul class="{class_name}">')
            for rid in root_ids:
                parts.append(self._render_cell_tree(rid, cell_map, child_links, value_links))
            parts.append("</ul>")
        else:
            parts.append(f'<dl class="{class_name}">')
            for key_id, value_ids in value_links.items():
                parts.append(f"<dt>{_html.escape(cell_map[key_id].get('text', ''))}</dt>")
                for vid in value_ids:
                    parts.append(f"<dd>{_html.escape(cell_map[vid].get('text', ''))}</dd>")
            parts.append("</dl>")
        parts.append("</div>")
        return "\n".join(parts)

    def _render_cell_tree(self, cell_id: int, cell_map: dict, child_links: dict, value_links: dict) -> str:
        cell_text = _html.escape(cell_map[cell_id].get("text", ""))
        if cell_id in value_links:
            values = [
                _html.escape(cell_map[vid].get("text", ""))
                for vid in value_links[cell_id]
                if vid in cell_map
            ]
            cell_text = f"<strong>{cell_text}</strong>: {', '.join(values)}"
        if child_links.get(cell_id):
            out = [f"<li>{cell_text}</li>", "<ul>"]
            for child in child_links[cell_id]:
                out.append(self._render_cell_tree(child, cell_map, child_links, value_links))
            out.append("</ul>")
            return "\n".join(out)
        if cell_id in value_links:
            return f"<li>{cell_text}</li>"
        return ""

    def _serialize_key_value(self, item: dict) -> SerResult:
        return self._serialize_graph_item(item, "key-value-region")

    def _serialize_form(self, item: dict) -> SerResult:
        return self._serialize_graph_item(item, "form-container")

    def _serialize_graph_item(self, item: dict, class_name: str) -> SerResult:
        parts: list[SerResult] = []
        if item["self_ref"] not in self.get_excluded_refs():
            t = self._graph_html(item, class_name)
            if t:
                parts.append(_res(t, item))
        cap = self.serialize_captions(item)
        if cap.text:
            parts.append(cap)
        return _res("\n".join(r.text for r in parts), parts)

    # -- groups --------------------------------------------------------------------------

    def _serialize_list_group(self, item: dict, visited: set, list_level: int, is_inline_scope: bool) -> SerResult:
        parts = self.get_parts(
            item=item, list_level=list_level + 1, is_inline_scope=is_inline_scope, visited=visited
        )
        text = "\n".join(x.text for x in parts if x.text)
        if text:
            tag = "ol" if self._is_enumerated(item) else "ul"
            text = f"<{tag}>\n{text}\n</{tag}>"
        return _res(text, parts)

    def _serialize_inline_group(self, item: dict, visited: set, list_level: int) -> SerResult:
        parts = self.get_parts(item=item, list_level=list_level, is_inline_scope=True, visited=visited)
        text = " ".join(x.text for x in parts if x.text)
        if text:
            text = f"<span class='inline-group'>{text}</span>"
        return _res(text, parts)

    # -- document scaffold ------------------------------------------------------------------

    def _generate_head(self) -> str:
        p = self.params
        if p.html_head is not None:
            return p.html_head
        parts = ["<head>", '<meta charset="UTF-8"/>']
        if p.add_document_metadata:
            if self.doc.name:
                parts.append(f"<title>{_html.escape(self.doc.name)}</title>")
            else:
                parts.append("<title>Docling Document</title>")
            parts.append('<meta name="generator" content="Docling HTML Serializer"/>')
        if p.css_styles:
            if p.css_styles.startswith("<style>") and p.css_styles.endswith("</style>"):
                parts.append(f"\n{p.css_styles}\n")
            else:
                parts.append(f"<style>\n{p.css_styles}\n</style>")
        elif p.output_style == "split_page":
            parts.append(CSS_SPLIT_PAGE)
        else:
            parts.append(CSS_SINGLE_COLUMN)
        parts.append("</head>")
        return "\n".join(parts) if p.prettify else "".join(parts)

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        html_parts = ["<!DOCTYPE html>", "<html>", self._generate_head(), "<body>"]
        content = "\n".join(x.text for x in parts if x.text)
        if self.params.output_style == "split_page":
            pages: dict[int, str] = {}
            prev_end = 0
            next_page = None
            for m in _PB_RE.finditer(content):
                prev_page, next_page = int(m.group(1)), int(m.group(2))
                pages[prev_page] = content[prev_end : m.start()]
                prev_end = m.end()
            if next_page is not None:
                pages[next_page] = content[prev_end:]
            else:
                applicable = sorted(
                    {
                        prov["page_no"]
                        for it, _ in self.doc.iterate_items_cached(
                            with_groups=True, included_content_layers=self.params.layers
                        )
                        for prov in it.get("prov", ())
                    }
                )
                if len(applicable) == 1:
                    pages[applicable[0]] = content
            html_parts.append("<table>")
            html_parts.append("<tbody>")
            for page_no, page in pages.items():
                html_parts.append("<tr>")
                html_parts.append("<td>")
                page_img = (self.doc.page(page_no) or {}).get("image") or {}
                uri = page_img.get("uri")
                if isinstance(uri, str) and uri.startswith("data:"):
                    html_parts.append(f'<figure><img src="{uri}"></figure>')
                else:
                    html_parts.append("<figure>no page-image found</figure>")
                html_parts.append("</td>")
                html_parts.append("<td>")
                html_parts.append(f"<div class='page'>\n{page}\n</div>")
                html_parts.append("</td>")
                html_parts.append("</tr>")
            html_parts.append("</tbody>")
            html_parts.append("</table>")
        else:
            html_parts.append(f"<div class='page'>\n{content}\n</div>")
        html_parts.extend(["</body>", "</html>"])
        return _res("\n".join(html_parts), parts)


def export_to_html(
    doc: Doc,
    labels: Optional[set] = None,
    layers: Optional[set] = None,
    page_no: Optional[int] = None,
    split_page_view: bool = False,
    **overrides,
) -> str:
    """HTML export with reference defaults (document.py:3967-4020)."""
    params = HTMLParams(
        labels=frozenset(labels) if labels is not None else M.DOCUMENT_TOKENS_EXPORT_LABELS,
        layers=frozenset(layers) if layers is not None else frozenset(M.DEFAULT_CONTENT_LAYERS),
        pages={page_no} if page_no is not None else None,
        output_style="split_page" if split_page_view else "single_column",
        **overrides,
    )
    return HTMLSerializer(doc, params).serialize().text
