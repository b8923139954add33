"""DocLang serializer (S5, serializer half).

Byte-parity target: the reference DocLang export
(docling-core transforms/serializer/doclang.py:131-2033 +
_doclang_utils.py, GT fixtures test/data/doc/*.gt.dclg.xml).

DocLang is an XML token stream: one element per document item
(heading/text/list/table/picture/...), an element head of self-closing
property tokens in XSD order (label, thread, href, layer, location x4 per
provenance, caption, description, summary, custom), OTSL cell tokens inside
tables, CDATA escaping for special characters, an explicit <content> wrapper
for whitespace-significant text, and minidom-pretty-printed output with
self-closing forms expanded for non-self-closing tokens.

Scope notes vs the reference:
- covers text/heading/list/ldiv/marker/code/formula/checkbox/handwriting/
  caption/footnote/page-break/table-OTSL/picture/inline-group/generic-group,
  multi-provenance threading of text items and tables, picture tabular-chart
  bodies, and field-kv markup (field_region/field_item/key/value/hint/
  field_heading incl. RichTableCell form tables);
- legacy key_value_items/form_items graphs serialize empty, as in the
  reference (DocLangKeyValueSerializer/DocLangFormSerializer are no-ops);
  run Doc.migrate_to_field_regions() first to serialize their content.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field, replace
from typing import Any, Optional
from xml.dom.minidom import parseString

from docling_core_spark.functions.geometry import to_top_left_tuple
from docling_core_spark.functions.serializers import (
    DocSerializer,
    MarkdownParams,
    SerResult,
    _PB_FMT,
    _res,
    _wrap,
    best_prediction,
    get_text_direction,
    replace_page_breaks,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

DOCLANG_NAMESPACE = "https://www.doclang.ai/ns/v0"
DOCLANG_VERSION = "0.7"
DFLT_RESOLUTION = 512

CONTENT_TYPES = frozenset(
    {
        "ref_caption",
        "ref_footnote",
        "text_code",
        "text_formula",
        "text_other",
        "table",
        "chart",
        "table_cell",
        "picture",
        "chemistry",
    }
)

_UNDEFINED = "undefined"
_OTHER = "other"

# non-self-closing tokens get their empty form expanded after pretty print
_SELF_CLOSING = {
    "page_break", "location", "layer", "label", "src", "href", "hour", "minute",
    "second", "centisecond", "br", "checkbox", "ldiv", "fcel", "ecel", "ched",
    "rhed", "corn", "srow", "lcel", "ucel", "xcel", "nl", "thread",
}
_ALL_TOKENS = _SELF_CLOSING | {
    "doclang", "head", "heading", "text", "caption", "description", "summary",
    "footnote", "page_header", "page_footer", "picture", "formula", "code",
    "table", "tabular", "field_region", "field_item", "key", "value",
    "field_heading", "hint", "list", "group", "bold", "italic", "underline",
    "strikethrough", "superscript", "subscript", "handwriting", "rtl", "xref",
    "custom", "index", "marker", "content",
}

# Docling code_language -> GitHub-Linguist key (reference _doclang_utils.py:933)
_CODE_LANGUAGE_TO_LINGUIST = {
    "Ada": "Ada", "Awk": "Awk", "Bash": "Shell", "C": "C", "C#": "C#",
    "C++": "C++", "CMake": "CMake", "COBOL": "COBOL", "CSS": "CSS",
    "Ceylon": "Ceylon", "Clojure": "Clojure", "Crystal": "Crystal",
    "Cuda": "Cuda", "Cython": "Cython", "D": "D", "Dart": "Dart",
    "Dockerfile": "Dockerfile", "DocLang": "XML", "Elixir": "Elixir",
    "Erlang": "Erlang", "FORTRAN": "Fortran", "Forth": "Forth", "Go": "Go",
    "HTML": "HTML", "Haskell": "Haskell", "Haxe": "Haxe", "Java": "Java",
    "JavaScript": "JavaScript", "JSON": "JSON", "Julia": "Julia",
    "Kotlin": "Kotlin", "Latex": "TeX", "Lisp": "Common Lisp", "Lua": "Lua",
    "Matlab": "MATLAB", "MoonScript": "MoonScript", "Nim": "Nim",
    "OCaml": "OCaml", "ObjectiveC": "Objective-C", "Octave": "MATLAB",
    "PHP": "PHP", "Pascal": "Pascal", "Perl": "Perl", "Prolog": "Prolog",
    "Python": "Python", "Racket": "Racket", "Ruby": "Ruby", "Rust": "Rust",
    "SML": "Standard ML", "SQL": "SQL", "Scala": "Scala", "Scheme": "Scheme",
    "Swift": "Swift", "TypeScript": "TypeScript",
    "VisualBasic": "Visual Basic .NET", "XML": "XML", "YAML": "YAML",
}

_CHART_CLASSES = {
    "pie_chart", "bar_chart", "stacked_bar_chart", "line_chart", "flow_chart",
    "scatter_chart", "heatmap",
}


@dataclass
class DocLangParams(MarkdownParams):
    """DocLang serialization parameters (reference doclang.py:216-272)."""

    layers: frozenset = frozenset(M.CONTENT_LAYERS)
    escape_underscores: bool = False
    escape_html: bool = False
    xsize: int = DFLT_RESOLUTION
    ysize: int = DFLT_RESOLUTION
    add_location: bool = True
    add_table_cell_location: bool = False
    add_referenced_caption: bool = True
    add_referenced_footnote: bool = True
    add_page_break: bool = True
    add_content: bool = True
    content_types: frozenset = CONTENT_TYPES
    layer_mode: str = "auto"  # always | auto
    pretty_indentation: Optional[str] = "  "
    preserve_empty_non_selfclosing: bool = True
    suppress_empty_elements: bool = False
    escape_mode: str = "auto"  # always | auto
    content_wrapping_mode: str = "auto"  # always | auto
    include_namespace: bool = False
    include_version: bool = True
    use_virtual_text: bool = True
    label_mode: str = "auto"  # always | auto
    interpret_code_unknown_as_other: bool = False
    # internal sentinel so the base emits page-break parts
    page_break_placeholder: Optional[str] = field(default="<page_break/>")


def _pretty(compact: str, indent: str) -> str:
    """Pretty-print the emitter's compact XML: fast direct printer
    (functions/xml_pretty.py, byte-equal by test) with the original minidom
    round trip as the fallback for anything outside its subset."""
    try:
        from docling_core_spark.functions.xml_pretty import pretty_xml

        return pretty_xml(compact, indent)
    except Exception:  # noqa: BLE001 — any parse surprise: exact slow path
        return parseString(compact).documentElement.toprettyxml(indent=indent)


def _attr_escape(value: str) -> str:
    return value.replace("&", "&amp;").replace('"', "&quot;")


def _quantize(value: int, resolution: int) -> int:
    if value < 0:
        return 0
    if value == resolution:
        return resolution - 1
    if value > resolution:
        return resolution - 1
    return value


def location_tokens_for_bbox(
    bbox: tuple[float, float, float, float], page_w: float, page_h: float, xres: int, yres: int
) -> str:
    """Four <location value="..."/> tokens for (x0, y0, x1, y1)."""
    x0 = min(bbox[0], bbox[2]) / page_w
    y0 = min(bbox[1], bbox[3]) / page_h
    x1 = max(bbox[0], bbox[2]) / page_w
    y1 = max(bbox[1], bbox[3]) / page_h
    vals = (
        _quantize(round(xres * x0), xres),
        _quantize(round(yres * y0), yres),
        _quantize(round(xres * x1), xres),
        _quantize(round(yres * y1), yres),
    )
    return "".join(f'<location value="{v}"/>' for v in vals)


class DocLangSerializer(DocSerializer):
    """DocLang document serializer over the dict model."""

    _SERIALIZE_DELIM = "\n"
    # legacy graph items serialize empty, as in the reference
    _MISSING_KEY_VALUE = ""
    _MISSING_FORM = ""

    def __init__(self, doc: Doc, params: Optional[DocLangParams] = None, **overrides: Any):
        if params is None:
            params = DocLangParams(**overrides)
        if params.pretty_indentation is None:
            # minimized serialization: no record delimiter either
            self._SERIALIZE_DELIM = ""
        super().__init__(doc, params)
        self._next_thread_id = 1
        self._thread_ids: dict[str, str] = {}
        self._suppressed_page_breaks: set[tuple[int, int]] = set()

    # -- small helpers -------------------------------------------------------

    @property
    def _delim(self) -> str:
        return "" if self.params.pretty_indentation is None else "\n"

    def allocate_thread_id(self, item: dict) -> str:
        sr = item["self_ref"]
        if sr not in self._thread_ids:
            self._thread_ids[sr] = str(self._next_thread_id)
            self._next_thread_id += 1
        return self._thread_ids[sr]

    def _page_size(self, page_no) -> tuple[float, float]:
        size = (self.doc.page(page_no) or {}).get("size") or {}
        return size.get("width", 1.0), size.get("height", 1.0)

    def _location_tokens(self, item: dict) -> str:
        prov = item.get("prov") or []
        if not prov:
            return ""
        p = self.params
        out = []
        for pr in prov:
            page_w, page_h = self._page_size(pr.get("page_no"))
            out.append(
                location_tokens_for_bbox(
                    to_top_left_tuple(pr["bbox"], page_h), page_w, page_h, p.xsize, p.ysize
                )
            )
        if len(out) > 1:
            raise ValueError(f"more than 1 location for item {item.get('self_ref')}")
        return "".join(out)

    def _escape_text(self, text: str) -> str:
        p = self.params
        do_wrap = p.content_wrapping_mode == "always" or (
            p.content_wrapping_mode == "auto" and (text != text.strip() or "\n" in text)
        )
        if p.escape_mode == "always" or (
            p.escape_mode == "auto" and any(c in text for c in ['"', "'", "&", "<", ">"])
        ):
            text = f"<![CDATA[{text}]]>"
        if do_wrap:
            text = _wrap(text, "content")
        return text

    def _layer_token(self, item: dict) -> str:
        p = self.params
        layer = M.content_layer(item)
        if p.layer_mode == "always" or (p.layer_mode == "auto" and layer != "body"):
            return f'<layer value="{layer}"/>'
        return ""

    def _element_label(self, raw_label: Optional[str]) -> Optional[str]:
        if self.params.label_mode == "always":
            return raw_label if raw_label is not None else _UNDEFINED
        if raw_label is None or raw_label == _UNDEFINED:
            return None
        return raw_label

    def _head_prefix(
        self,
        item: dict,
        label_value: Optional[str] = None,
        caption_text: Optional[str] = None,
        custom_text: Optional[str] = None,
        include_href: bool = True,
        include_item_meta_head: bool = True,
        thread_id: Optional[str] = None,
    ) -> str:
        """Element-head tokens in XSD order (reference doclang.py:329-379)."""
        p = self.params
        parts = []
        if label_value:
            parts.append(f'<label value="{_attr_escape(label_value)}"/>')
        if thread_id:
            parts.append(f'<thread thread_id="{thread_id}"/>')
        if include_href and item.get("hyperlink"):
            parts.append(f'<href uri="{_attr_escape(str(item["hyperlink"]))}"/>')
        if lt := self._layer_token(item):
            parts.append(lt)
        if p.add_location:
            if loc := self._location_tokens(item):
                parts.append(loc)
        if caption_text:
            parts.append(caption_text)
        if include_item_meta_head:
            meta = item.get("meta") or {}
            is_floating = M.ref_array(item["self_ref"]) in ("tables", "pictures") or item.get(
                "label"
            ) == M.CODE
            if is_floating and (desc := (meta.get("description") or {}).get("text")):
                if self._meta_name_allowed("description"):
                    parts.append(_wrap(self._escape_text(desc), "description"))
            if (summ := (meta.get("summary") or {}).get("text")) and self._meta_name_allowed(
                "summary"
            ):
                parts.append(_wrap(self._escape_text(summ), "summary"))
        if custom_text:
            parts.append(custom_text)
        return "".join(parts)

    # -- style hooks (formatting wraps) ---------------------------------------

    def _fmt_bold(self, t: str) -> str:
        return _wrap(t, "bold")

    def _fmt_italic(self, t: str) -> str:
        return _wrap(t, "italic")

    def _fmt_underline(self, t: str) -> str:
        return _wrap(t, "underline")

    def _fmt_strikethrough(self, t: str) -> str:
        return _wrap(t, "strikethrough")

    def _fmt_subscript(self, t: str) -> str:
        return _wrap(t, "subscript")

    def _fmt_superscript(self, t: str) -> str:
        return _wrap(t, "superscript")

    def _fmt_hyperlink(self, t: str, url: str) -> str:
        return t  # hyperlinks ride the element head as <href/>

    def post_process(self, text, escape_html=False, escape_underscores=False, formatting=None, hyperlink=None):
        res = super().post_process(
            text,
            escape_html=False,
            escape_underscores=False,
            formatting=formatting,
            hyperlink=hyperlink,
        )
        if self.params.include_formatting and get_text_direction(text) == "rtl":
            res = _wrap(res, "rtl")
        return res

    # -- captions / footnotes / meta -------------------------------------------

    def serialize_captions(self, item: dict) -> SerResult:
        """Referenced caption(s) as a <caption> head element (doclang.py:1790)."""
        cap_res = super().serialize_captions(item)
        results: list[str] = []
        if item.get("captions") and cap_res.text:
            excluded = self.get_excluded_refs()
            for cap in item.get("captions", ()):
                c = self.doc.resolve(cap["$ref"])
                if c["self_ref"] not in excluded:
                    if head := self._head_prefix(c, include_item_meta_head=False):
                        results.append(head)
            if "ref_caption" in self.params.content_types:
                results.append(self._escape_text(cap_res.text))
        text = "".join(results)
        if text:
            text = _wrap(text, "caption")
        return SerResult(text, list(cap_res.spans))

    def serialize_footnotes(self, item: dict) -> SerResult:
        """Referenced footnote(s) as <footnote> elements (doclang.py:1815)."""
        excluded = self.get_excluded_refs()
        parts = []
        spans = []
        for ref in item.get("footnotes", ()):
            ftn = self.doc.resolve(ref["$ref"])
            if ftn["self_ref"] in excluded or not M.is_text_item(ftn):
                continue
            head = self._head_prefix(ftn, include_item_meta_head=False)
            content = ""
            if ftn.get("text") and "ref_footnote" in self.params.content_types:
                content = self._escape_text(ftn["text"])
            if head or content:
                parts.append(_wrap(head + content, "footnote"))
                spans.append(_res("", ftn))
        return _res("".join(parts), spans)

    def serialize_meta(self, item: dict) -> SerResult:
        return _res()  # summaries/descriptions ride the element head instead

    # standard BaseMeta fields: summary/description/classification/tabular_chart
    # are emitted natively (or suppressed); the rest have no custom-head form
    _NATIVE_META_FIELDS = frozenset(
        {"summary", "description", "classification", "tabular_chart", "language",
         "entities", "keywords", "topics", "confidence", "created_by"}
    )

    def _meta_custom_head(self, meta: dict) -> str:
        """<custom> head element for molecule + namespaced custom meta fields
        (reference DocLangMetaSerializer, doclang.py:1027-1082)."""
        parts = []
        for key, val in meta.items():
            if not self._meta_name_allowed(key):
                continue
            if key == "molecule" and isinstance(val, dict) and val.get("smi"):
                parts.append(_wrap(self._escape_text(val["smi"]), "docling__smiles"))
            elif key not in self._NATIVE_META_FIELDS and key != "molecule":
                parts.append(_wrap(self._escape_text(str(val or "")), key))
        return _wrap("".join(parts), "custom") if parts else ""

    # -- text items -------------------------------------------------------------

    def _list_item_segment_sibling(self, child: dict) -> bool:
        return M.is_list_group(child) or M.is_picture_item(child)

    def _segment_sibling_cref(self, cref: str) -> bool:
        # ref-string classification avoids resolving non-candidates: only
        # "#/pictures/N" and list-labelled "#/groups/N" qualify (same
        # predicate as _list_item_segment_sibling, minus resolves for the
        # text/table majority)
        if cref.startswith("#/pictures/"):
            return True
        if cref.startswith("#/groups/"):
            return M.is_list_group(self.doc.resolve(cref))
        return False

    def _list_item_has_segment_siblings(self, item: dict) -> bool:
        for ref in item.get("children", ()):
            if self._segment_sibling_cref(ref["$ref"]):
                return True
        parent = self.doc.parent_of(item)
        if parent is not None and M.is_list_group(parent):
            seen_self = False
            my_sr = item["self_ref"]
            for ref in parent.get("children", ()):
                cref = ref["$ref"]
                if cref == my_sr:
                    seen_self = True
                    continue
                if (
                    seen_self
                    and cref.startswith("#/groups/")
                    and M.is_list_group(self.doc.resolve(cref))
                ):
                    return True
        return False

    def _first_child_is_inline(self, item: dict) -> bool:
        children = item.get("children") or []
        if not children:
            return False
        return M.is_inline_group(self.doc.resolve(children[0]["$ref"]))

    def _wrapper_for_text_item(self, item: dict, is_inline_scope: bool) -> Optional[str]:
        """Opening wrapper tag for the item, or None (doclang.py:820-880)."""
        label = item.get("label")
        p = self.params
        if label == M.TITLE:
            return "<heading>"
        if label == M.SECTION_HEADER:
            level = item.get("level", 1) + 1
            return f'<heading level="{level}">' if level != 1 else "<heading>"
        if label == M.LIST_ITEM:
            if item.get("text"):
                if p.use_virtual_text and not self._list_item_has_segment_siblings(item):
                    return None
                return "<text>"
            if not item.get("text") and item.get("prov") and item.get("children"):
                if self._first_child_is_inline(item):
                    return None
                return "<group>"
            return None
        if label == M.CODE:
            return "<code>"
        if label in (M.CHECKBOX_SELECTED, M.CHECKBOX_UNSELECTED):
            parent = self.doc.parent_of(item)
            if parent is not None and M.is_text_item(parent) and not parent.get("text"):
                return None
            return "<text>"
        if label == M.CAPTION:
            return "<text>"
        field_map = {
            "field_key": "key",
            "field_value": "value",
            "field_heading": "field_heading",
            "field_hint": "hint",
            "marker": "marker",
        }
        if label in field_map:
            if label == M.FIELD_VALUE:
                kind = item.get("kind") or "read_only"
                if kind != "read_only":
                    return f'<value class="{kind}">'
            elif label == M.FIELD_HEADING:
                level = item.get("level", 1)
                if level != 1:
                    return f'<field_heading level="{level}">'
            return f"<{field_map[label]}>"
        if label in ("empty_value", "handwritten_text", "paragraph", "reference", "grading_scale"):
            return "<text>"
        if label in _ALL_TOKENS:
            return f"<{label}>"
        raise ValueError(f"Unsupported DocLang token for label '{label}'")

    def _serialize_text_item(self, item: dict, visited: set, is_inline_scope: bool) -> SerResult:
        prov = item.get("prov") or []
        if len(prov) > 1 and item.get("label") != M.LIST_ITEM:
            # multi-provenance: per-fragment items linked by a thread id, with
            # page breaks between fragments on different pages
            thread_id = self.allocate_thread_id(item)
            frags = []
            for pr in prov:
                span = pr.get("charspan") or (0, len(item.get("orig") or ""))
                orig = (item.get("orig") or "")[span[0] : span[1]]
                frag = {**item, "prov": [{**pr, "charspan": [0, len(orig)]}], "text": orig, "orig": orig}
                frags.append(self._serialize_single_text(frag, visited, is_inline_scope, thread_id))
            out = []
            for i, frag_res in enumerate(frags):
                if i > 0 and prov[i - 1]["page_no"] != prov[i]["page_no"]:
                    self._suppressed_page_breaks.add((prov[i - 1]["page_no"], prov[i]["page_no"]))
                    out.append(_PB_FMT.format(prov[i - 1]["page_no"], prov[i]["page_no"]))
                out.append(frag_res.text)
            return _res("".join(out), item)
        return self._serialize_single_text(item, visited, is_inline_scope, None)

    def _serialize_single_text(
        self, item: dict, visited: set, is_inline_scope: bool, thread_id: Optional[str]
    ) -> SerResult:
        p = self.params
        label = item.get("label")
        wrap_open = self._wrapper_for_text_item(item, is_inline_scope)

        parts: list[str] = []
        ldiv_element = ""
        if label == M.LIST_ITEM:
            marker = item.get("marker")
            if marker:
                ldiv_element = _wrap(_wrap(self._escape_text(marker), "marker"), "ldiv")
            else:
                ldiv_element = "<ldiv/>"

        code_label = None
        if label == M.CODE:
            lang = item.get("code_language", "unknown")
            if lang == "unknown":
                raw = _OTHER if p.interpret_code_unknown_as_other else _UNDEFINED
            else:
                raw = _CODE_LANGUAGE_TO_LINGUIST.get(lang, _OTHER)
            code_label = self._element_label(raw)

        skip_location = (
            label == M.LIST_ITEM
            and not item.get("text")
            and item.get("prov")
            and item.get("children")
            and self._first_child_is_inline(item)
        )
        custom_head = self._meta_custom_head(item.get("meta") or {})
        include_href = not is_inline_scope
        if not skip_location:
            parts.append(
                self._head_prefix(
                    item,
                    label_value=code_label,
                    custom_text=custom_head or None,
                    include_href=include_href,
                    thread_id=thread_id,
                )
            )
        else:
            if code_label:
                parts.append(f'<label value="{_attr_escape(code_label)}"/>')
            if thread_id:
                parts.append(f'<thread thread_id="{thread_id}"/>')
            if include_href and item.get("hyperlink"):
                parts.append(f'<href uri="{_attr_escape(str(item["hyperlink"]))}"/>')
            if lt := self._layer_token(item):
                parts.append(lt)
            if custom_head:
                parts.append(custom_head)

        content_allowed = (
            (label == M.CODE and "text_code" in p.content_types)
            or (label == M.FORMULA and "text_formula" in p.content_types)
            or (label not in (M.CODE, M.FORMULA) and "text_other" in p.content_types)
        )
        text_part = ""
        if content_allowed:
            children = item.get("children") or []
            if children and not item.get("text"):
                first = self.doc.resolve(children[0]["$ref"])
                if M.is_inline_group(first):
                    text_part = self.serialize(item=first, visited=visited).text
                else:
                    sub_parts = []
                    for ref in children:
                        child = self.doc.resolve(ref["$ref"])
                        if label == M.LIST_ITEM and self._list_item_segment_sibling(child):
                            continue
                        sub_parts.append(self.serialize(item=child, visited=visited).text)
                    text_part = self._delim.join(sub_parts)
            else:
                text_part = self._escape_text(item.get("text") or "")
                text_part = self.post_process(
                    text_part, formatting=item.get("formatting"), hyperlink=None
                )
                if label == "handwritten_text":
                    text_part = _wrap(text_part, "handwriting")
                elif label in (M.CHECKBOX_SELECTED, M.CHECKBOX_UNSELECTED):
                    selected = "selected" if label == M.CHECKBOX_SELECTED else "unselected"
                    text_part = f'<checkbox class="{selected}"/>' + text_part
            if text_part:
                parts.append(text_part)

        # floating text items (e.g. code) may carry captions/footnotes
        if p.add_referenced_caption and "captions" in item:
            if cap := self.serialize_captions(item).text:
                parts.append(self._escape_text(cap))
        if p.add_referenced_footnote and "footnotes" in item:
            if ftn := self.serialize_footnotes(item).text:
                parts.append(self._escape_text(ftn))

        text_res = "".join(parts)
        if label == M.LIST_ITEM and p.suppress_empty_elements and not text_res:
            return _res("", item)

        if wrap_open is not None and not (
            is_inline_scope
            and label in (M.TEXT, "handwritten_text", M.CHECKBOX_SELECTED, M.CHECKBOX_UNSELECTED)
        ):
            if text_res or not p.suppress_empty_elements:
                close = "</" + re.match(r"<\s*([\w-]+)", wrap_open).group(1) + ">"
                text_res = f"{wrap_open}{text_res}{close}"
                # field markup must sit under field_item / field_region hosts
                # (reference doclang.py:1014-1018, _doclang_utils.py:60-81)
                if label == M.FIELD_HEADING:
                    text_res = self._wrap_in_field_region_if_needed(text_res, item)
                elif label in (M.FIELD_KEY, M.FIELD_VALUE):
                    text_res = self._wrap_field_kv_markup_if_needed(text_res, item)
        if ldiv_element:
            text_res = ldiv_element + text_res
        return _res(text_res, item)

    # -- lists -------------------------------------------------------------------

    def _serialize_list_group(self, item, visited, list_level, is_inline_scope):
        excluded = self.get_excluded_refs()
        segments: list[tuple[str, Optional[int]]] = []
        span_results: list[SerResult] = []

        def primary_page(it: dict) -> Optional[int]:
            prov = it.get("prov") or []
            return prov[0].get("page_no") if prov else None

        ordered = self._is_enumerated(item)
        for ref in item.get("children") or []:
            child = self.doc.resolve(ref["$ref"])
            sr = child["self_ref"]
            if M.is_list_group(child):
                if sr in visited or sr in excluded:
                    continue
                visited.add(sr)
                sub = self.serialize(item=child, list_level=list_level + 1,
                                     is_inline_scope=is_inline_scope, visited=visited)
                if sub.text:
                    segments.append((sub.text, None))
                span_results.append(sub)
                continue
            if child.get("label") != M.LIST_ITEM or sr in visited or sr in excluded:
                continue
            visited.add(sr)
            child_res = self.serialize(item=child, list_level=list_level + 1,
                                       is_inline_scope=is_inline_scope, visited=visited)
            span_results.append(child_res)
            if child_res.text:
                segments.append((child_res.text, primary_page(child)))
            for subref in child.get("children", ()):
                sub = self.doc.resolve(subref["$ref"])
                if not self._list_item_segment_sibling(sub):
                    continue
                if sub["self_ref"] in visited or sub["self_ref"] in excluded:
                    continue
                visited.add(sub["self_ref"])
                sub_res = self.serialize(item=sub, list_level=list_level + 1,
                                         is_inline_scope=is_inline_scope, visited=visited)
                if sub_res.text:
                    segments.append((sub_res.text, primary_page(sub)))
                span_results.append(sub_res)

        if not segments:
            return _res("", span_results)
        delim = self._delim
        list_open = '<list class="ordered">' if ordered else "<list>"

        spans_pages = any(
            segments[i][1] is not None
            and segments[i + 1][1] is not None
            and segments[i][1] != segments[i + 1][1]
            for i in range(len(segments) - 1)
        )
        if not spans_pages:
            body = delim.join(t for t, _ in segments if t) + delim
            return _res(f"{list_open}{body}</list>", span_results)

        # cross-page list: per-page blocks linked by a thread id
        thread_id = self.allocate_thread_id(item)
        threaded_open = list_open + f'<thread thread_id="{thread_id}"/>'
        out: list[str] = []
        block: list[str] = []
        current_page: Optional[int] = None
        for text, page_no in segments:
            if block and page_no is not None and current_page is not None and page_no != current_page:
                out.append(f"{threaded_open}{delim.join(block)}{delim}</list>")
                self._suppressed_page_breaks.add((current_page, page_no))
                out.append(_PB_FMT.format(current_page, page_no))
                block = []
            if text:
                block.append(text)
            if page_no is not None:
                current_page = page_no
        if block:
            out.append(f"{threaded_open}{delim.join(block)}{delim}</list>")
        return _res("".join(out), span_results)

    # -- inline groups --------------------------------------------------------------

    def _serialize_inline_group(self, item, visited, list_level):
        p = self.params
        parts: list[str] = []
        loc_emitted = False
        if p.add_location:
            parent = self.doc.parent_of(item)
            if parent is not None and parent.get("label") == M.LIST_ITEM and parent.get("prov"):
                parts.append(self._location_tokens(parent))
                loc_emitted = True
            else:
                boxes = []
                page_ctx = None
                for it, _ in self.doc.iterate_items_cached(root=item):
                    for pr in it.get("prov", ()):
                        page_w, page_h = self._page_size(pr.get("page_no"))
                        boxes.append(to_top_left_tuple(pr["bbox"], page_h))
                        page_ctx = (page_w, page_h)
                if boxes and page_ctx:
                    bbox = (
                        min(b[0] for b in boxes), min(b[1] for b in boxes),
                        max(b[2] for b in boxes), max(b[3] for b in boxes),
                    )
                    parts.append(
                        location_tokens_for_bbox(bbox, page_ctx[0], page_ctx[1], p.xsize, p.ysize)
                    )
                loc_emitted = True
        # children must not re-emit their own locations inside the inline scope
        saved = self.params
        if loc_emitted:
            self.params = replace(self.params, add_location=False)
        try:
            sub = self.get_parts(item=item, list_level=list_level,
                                 is_inline_scope=True, visited=visited)
        finally:
            self.params = saved
        delim = self._delim
        text = delim.join([x for x in parts + [s.text for s in sub] if x])
        if text:
            text = f"{text}{delim}"
        parent = self.doc.parent_of(item)
        if parent is None:
            should_wrap = True
        elif parent.get("label") == M.LIST_ITEM:
            should_wrap = not p.use_virtual_text or self._list_item_has_segment_siblings(parent)
        elif M.is_text_item(parent):
            should_wrap = False
        else:
            should_wrap = True
        if should_wrap and (text or not p.suppress_empty_elements):
            text = _wrap(text, "text")
        return _res(text, sub)

    # -- tables ------------------------------------------------------------------

    @staticmethod
    def _otsl_origin(cell: dict, i: int, j: int, row_start: int, col_start: int, has_content: bool) -> str:
        rowstart, colstart = cell["start_row_offset_idx"], cell["start_col_offset_idx"]
        cont_left = j == col_start and col_start > 0
        cont_up = rowstart < row_start and i == row_start
        if cont_left and cont_up:
            return "xcel"
        if cont_up:
            return "ucel"
        if cont_left:
            return "lcel"
        if has_content:
            if cell.get("column_header") and cell.get("row_header"):
                return "corn"
            if cell.get("column_header"):
                return "ched"
            if cell.get("row_header"):
                return "rhed"
            if cell.get("row_section"):
                return "srow"
            return "fcel"
        if cell.get("column_header") and cell.get("row_header"):
            return "corn"
        return "ecel"

    def _emit_otsl(
        self, item: dict, row_start=0, row_end=None, col_start=0, col_end=None
    ) -> str:
        p = self.params
        data = item.get("data") or {}
        if not data.get("table_cells"):
            return ""
        # built from table_cells, never a loaded ``grid``: the dumped grid
        # loses RichTableCell refs (the reference dumps plain TableCells)
        grid = self._grid_c(data)
        nrows, ncols = data.get("num_rows", 0), data.get("num_cols", 0)
        row_end = nrows if row_end is None else row_end
        col_end = ncols if col_end is None else col_end

        need_cell_loc = False
        page_w = page_h = 1.0
        if p.add_table_cell_location and item.get("prov"):
            page_no = item["prov"][0].get("page_no")
            page_w, page_h = self._page_size(page_no)
            need_cell_loc = page_w > 0 and page_h > 0 and bool(self.doc.page(page_no))

        parts: list[str] = []
        for i in range(row_start, row_end):
            for j in range(col_start, col_end):
                cell = grid[i][j]
                is_rich = bool(cell.get("ref"))
                if is_rich:
                    # RichTableCell: the cell body is the serialized referenced
                    # item (reference table_data.py:63-77, doclang.py:1392)
                    target = self.doc.resolve(cell["ref"]["$ref"])
                    content = self.serialize(item=target, visited=set()).text.strip()
                else:
                    content = (cell.get("text") or "").strip()
                rowstart, colstart = cell["start_row_offset_idx"], cell["start_col_offset_idx"]
                cell_loc = ""
                if need_cell_loc and cell.get("bbox"):
                    cell_loc = location_tokens_for_bbox(
                        to_top_left_tuple(cell["bbox"], page_h), page_w, page_h, p.xsize, p.ysize
                    )
                if rowstart == i and colstart == j:
                    origin = self._otsl_origin(cell, i, j, row_start, col_start, bool(content))
                    parts.append(f"<{origin}/>")
                    if content and origin != "ecel":
                        if cell_loc:
                            parts.append(cell_loc)
                        if "table_cell" in p.content_types:
                            if not is_rich:
                                content = self._escape_text(content)
                                if not p.use_virtual_text:
                                    content = _wrap(content, "text")
                            parts.append(content)
                elif rowstart != i and colstart != j:
                    parts.append("<xcel/>")
                elif rowstart != i:
                    parts.append("<ucel/>")
                else:
                    parts.append("<lcel/>")
            parts.append("<nl/>")
        return "".join(parts)

    def _serialize_single_table(
        self, item: dict, thread_id=None, include_caption_head=True,
        row_start=0, row_end=None, col_start=0, col_end=None,
    ) -> SerResult:
        p = self.params
        caption_head = ""
        if include_caption_head and p.add_referenced_caption and item.get("captions"):
            caption_head = self.serialize_captions(item).text
        host = "index" if item.get("label") == "document_index" else "table"
        inner = ""
        if "table" in p.content_types:
            inner = self._emit_otsl(item, row_start, row_end, col_start, col_end)
        head = self._head_prefix(item, caption_text=caption_head or None, thread_id=thread_id)
        table_text = _wrap(head + inner, host)
        footnote_text = ""
        if include_caption_head and p.add_referenced_footnote:
            footnote_text = self.serialize_footnotes(item).text
        if not (head or inner) and not footnote_text:
            if p.suppress_empty_elements:
                return _res("", item)
            return _res(f"<{host}></{host}>", item)
        if footnote_text:
            return _res(_wrap(table_text + footnote_text, "group"), item)
        return _res(table_text, item)

    def _serialize_table(self, item, visited, nested=False):
        self._mark_subtree_visited(item, visited)
        if item["self_ref"] in self.get_excluded_refs():
            return _res()
        prov = item.get("prov") or []
        if len(prov) > 1:
            thread_id = self.allocate_thread_id(item)
            data = item.get("data") or {}
            nrows, ncols = data.get("num_rows", 0), data.get("num_cols", 0)
            nprov = len(prov)
            same_page = len({pr["page_no"] for pr in prov}) == 1
            out = []
            for idp, pr in enumerate(prov):
                if same_page:
                    r0, r1 = 0, nrows
                    c0, c1 = idp * ncols // nprov, (idp + 1) * ncols // nprov
                else:
                    r0, r1 = idp * nrows // nprov, (idp + 1) * nrows // nprov
                    c0, c1 = 0, ncols
                tres = self._serialize_single_table(
                    {**item, "prov": [pr]}, thread_id=thread_id, include_caption_head=idp == 0,
                    row_start=r0, row_end=r1, col_start=c0, col_end=c1,
                )
                if idp > 0 and prov[idp - 1]["page_no"] != pr["page_no"]:
                    self._suppressed_page_breaks.add((prov[idp - 1]["page_no"], pr["page_no"]))
                    out.append(_PB_FMT.format(prov[idp - 1]["page_no"], pr["page_no"]))
                out.append(tres.text)
            return _res("".join(out), item)
        return self._serialize_single_table(item)

    # -- pictures -----------------------------------------------------------------

    def _serialize_picture(self, item, visited):
        # only the picture itself is pre-marked; body children are serialized
        # below and mark themselves, so group children keep their content
        # (reference _append_picture_body_children, doclang.py:1085-1107)
        visited.add(item["self_ref"])
        p = self.params
        if item["self_ref"] in self.get_excluded_refs():
            return _res()
        caption_head = ""
        if p.add_referenced_caption and item.get("captions"):
            caption_head = self.serialize_captions(item).text
        meta = item.get("meta") or {}
        classification = (meta.get("classification") or {}).get("predictions") or []
        main = best_prediction(classification)
        class_name = main.get("class_name") if main else None
        picture_label = self._element_label(
            _OTHER if class_name == "other" else class_name
        ) if class_name else self._element_label(None)

        is_chart = class_name in _CHART_CLASSES
        is_chem = bool(meta.get("molecule"))
        specific_match = (is_chart and "chart" in p.content_types) or (
            is_chem and "chemistry" in p.content_types
        )
        any_match = "picture" in p.content_types or specific_match

        custom_head = ""
        tabular_body = ""
        if any_match and meta:
            custom_head = self._meta_custom_head(meta)
            chart_data = (meta.get("tabular_chart") or {}).get("chart_data")
            if specific_match and chart_data and chart_data.get("table_cells"):
                saved = self.params
                self.params = replace(self.params, add_table_cell_location=False)
                try:
                    otsl = self._emit_otsl({"data": chart_data, "prov": []})
                finally:
                    self.params = saved
                tabular_body = _wrap(otsl, "tabular")

        body_parts: list[str] = []
        uri = (item.get("image") or {}).get("uri")
        if p.image_mode in ("referenced", "embedded") and uri:
            body_parts.append(f'<src uri="{_attr_escape(str(uri))}"/>')
        if tabular_body:
            body_parts.append(tabular_body)
        # semantic children inside the picture body
        caption_refs = {c["$ref"] for c in item.get("captions", ())}
        footnote_refs = {f["$ref"] for f in item.get("footnotes", ())}
        excluded = self.get_excluded_refs()
        for ref in item.get("children", ()):
            if ref["$ref"] in caption_refs or ref["$ref"] in footnote_refs:
                continue
            child = self.doc.resolve(ref["$ref"])
            if child["self_ref"] in excluded:
                continue
            child_res = self.serialize(item=child, visited=visited)
            if child_res.text:
                body_parts.append(child_res.text)

        head = self._head_prefix(
            item,
            label_value=picture_label,
            caption_text=caption_head or None,
            custom_text=custom_head or None,
            include_item_meta_head=any_match,
        )
        inner = head + "".join(body_parts)
        picture_open = '<picture class="chart">' if tabular_body else "<picture>"
        picture_text = f"{picture_open}{inner}</picture>"
        footnote_text = ""
        if p.add_referenced_footnote:
            footnote_text = self.serialize_footnotes(item).text
        if not inner and not footnote_text:
            if p.suppress_empty_elements:
                return _res("", item)
            return _res("<picture></picture>", item)
        if footnote_text:
            return _res(_wrap(picture_text + footnote_text, "group"), item)
        return _res(picture_text, item)

    # -- fallback / kv / form ---------------------------------------------------------

    def _has_field_ancestor(self, item: dict, array_name: str) -> bool:
        """True when the item sits under a field_items/field_regions node."""
        parent = self.doc.parent_of(item)
        while parent is not None:
            if M.ref_array(parent.get("self_ref", "")) == array_name:
                return True
            if parent.get("self_ref") == self.doc.body.get("self_ref"):
                return False
            parent = self.doc.parent_of(parent)
        return False

    def _wrap_in_field_region_if_needed(self, text: str, item: dict) -> str:
        if self._has_field_ancestor(item, "field_regions"):
            return text
        return _wrap(text, "field_region")

    def _wrap_field_kv_markup_if_needed(self, text: str, item: dict) -> str:
        """Nest key/value markup under field_item (and field_region when orphan)."""
        if self._has_field_ancestor(item, "field_items"):
            return text
        return self._wrap_in_field_region_if_needed(_wrap(text, "field_item"), item)

    def _serialize_fallback(self, item, visited):
        if M.is_group(item):
            parts = self.get_parts(item=item, visited=visited)
            return _res(self._delim.join(x.text for x in parts if x.text), parts)
        array = M.ref_array(item.get("self_ref", ""))
        if array in ("field_regions", "field_items"):
            # reference DocLangFallbackSerializer (doclang.py:1657-1669):
            # element head (layer/location) for field regions only, children
            # joined with the record delimiter, wrapped in the host token
            texts: list[str] = []
            if array == "field_regions" and (head := self._head_prefix(item)):
                texts.append(head)
            sub = self.get_parts(item=item, visited=visited)
            texts.extend(s.text for s in sub if s.text)
            tag = "field_region" if array == "field_regions" else "field_item"
            text = _wrap(self._delim.join(texts), tag)
            if array == "field_items":
                text = self._wrap_in_field_region_if_needed(text, item)
            return _res(text, sub)
        return _res()

    def _serialize_page_break(self, item: dict) -> SerResult:
        # a break already emitted inside a threaded item is dropped, once
        key = tuple(item["_pb"])
        if key in self._suppressed_page_breaks:
            self._suppressed_page_breaks.discard(key)
            return _res()
        return super()._serialize_page_break(item)

    # -- document assembly ----------------------------------------------------------

    def _requires_page_break(self) -> bool:
        return self.params.add_page_break

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        p = self.params
        delim = self._delim
        attrs = []
        if p.include_namespace:
            attrs.append(f'xmlns="{DOCLANG_NAMESPACE}"')
        if p.include_version:
            attrs.append(f'version="{DOCLANG_VERSION}"')
        open_token = "<doclang" + (" " + " ".join(attrs) if attrs else "") + ">"
        head = ""
        if p.xsize != DFLT_RESOLUTION or p.ysize != DFLT_RESOLUTION:
            head = _wrap(
                f'<default_resolution width="{p.xsize}" height="{p.ysize}"/>', "head"
            )
        text = delim.join(x.text for x in parts if x.text)
        if p.add_page_break:
            text = replace_page_breaks(text, "<page_break/>")
        text = f"{open_token}{head}{text}</doclang>"

        if not p.add_content:
            text = self._filter_out_all_content(text)

        if p.pretty_indentation is not None:
            text = _pretty(text, p.pretty_indentation)
            lines = text.split("\n")
            filtered = []
            inside_content = False
            for line in lines:
                if "<content>" in line or "<content " in line:
                    inside_content = True
                if "</content>" in line:
                    filtered.append(line)
                    inside_content = False
                    continue
                if inside_content or line.strip():
                    filtered.append(line)
            text = "\n".join(filtered)
            if p.preserve_empty_non_selfclosing:
                for tok in sorted(_ALL_TOKENS - _SELF_CLOSING):
                    text = re.sub(rf"<\s*{tok}(\s[^>]*)?/\s*>", rf"<{tok}\1></{tok}>", text)
        return _res(text, parts)

    @staticmethod
    def _filter_out_all_content(text: str) -> str:
        """add_content=False: drop <content> subtrees and all free text."""
        root = ET.fromstring(text)

        def strip(el: ET.Element) -> None:
            el.text = None
            to_remove = [c for c in el if c.tag == "content"]
            for c in to_remove:
                el.remove(c)
            for c in el:
                strip(c)
                c.tail = None

        strip(root)
        return ET.tostring(root, encoding="unicode", method="xml", short_empty_elements=True)


def export_to_doclang(doc: Doc, **overrides: Any) -> str:
    """Serialize a document to DocLang markup."""
    ser = DocLangSerializer(doc, **overrides)
    # add_content=False is implemented as XML post-filtering over a full
    # serialization (reference doclang.py:1876-1893)
    if not ser.params.add_content:
        full = replace(ser.params, add_content=True, content_types=CONTENT_TYPES)
        inner = DocLangSerializer(doc, params=replace(full, pretty_indentation=None))
        minimized = inner.serialize().text
        filtered = DocLangSerializer._filter_out_all_content(minimized)
        if ser.params.pretty_indentation is not None:
            out = _pretty(filtered, ser.params.pretty_indentation)
            out = "\n".join(line for line in out.split("\n") if line.strip())
            if ser.params.preserve_empty_non_selfclosing:
                for tok in sorted(_ALL_TOKENS - _SELF_CLOSING):
                    out = re.sub(rf"<\s*{tok}(\s[^>]*)?/\s*>", rf"<{tok}\1></{tok}>", out)
            return out
        return filtered
    return ser.serialize().text
