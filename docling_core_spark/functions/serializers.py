"""Markdown / plain-text serialization of dict-backed docs.

Re-implements (from observed behavior, not code) the reference serializer
stack — transforms/serializer/common.py + markdown.py + plain_text.py of
docling-core — over the plain-dict document model in
:mod:`docling_core_spark.model.doc`.  Target: byte-identical output vs the
reference GT fixtures (/root/reference/test/data/doc/*.gt.md, *.gt.txt).

Architecture differs deliberately: :class:`DocSerializer` is the one
dispatch engine (``serialize`` / ``get_parts``) for every format; this runs
per-row inside Arrow-batch pandas UDFs.  A format subclass overrides only:

- renderer hooks ``_serialize_<kind>`` (text item, table, picture, list and
  inline group, fallback, page break, key-value, form), the inline marks
  ``_fmt_*`` / ``post_process``, the caption, annotation and meta-field
  renderers, and the document wrapper ``serialize_doc``;
- per-format literals: ``_SERIALIZE_DELIM``, ``_FALLBACK_DELIM``,
  ``_ANNOTATION_DELIM`` and the ``_MISSING_*`` placeholders.

The key-value and form hooks run before meta handling and own the item's
whole output; the base ones add the item's meta like any other item.
Helpers shared by several formats are defined here once.
"""

from __future__ import annotations

import html as _html
import re
import sys
import textwrap
import unicodedata
from dataclasses import dataclass
from typing import Any, Iterator, Optional

from docling_core_spark.functions.mdtable import format_github_table
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

_PB_FMT = "#_#_DOCLING_DOC_PAGE_BREAK_{}_{}_#_#"
_PB_RE = re.compile(r"#_#_DOCLING_DOC_PAGE_BREAK_(\d+)_(\d+)_#_#")
_MD_IMG_URL_RE = re.compile(r"!\[.*?\]\((.*?)\)")
_UNDERSCORE_RE = re.compile(r"(?<!\\)_")
_ALNUM_RE = re.compile(r"[a-zA-Z0-9]")
_VALID_ENUM_MARKER_RE = re.compile(r"\d+\.")
_SEPARATOR_ROW_RE = re.compile(r"^\|(\s*:?-+:?\s*\|)+\s*$")


def replace_page_breaks(text: str, marker: str) -> str:
    """Substitute every page-break placeholder by ``marker``, literally."""
    return _PB_RE.sub(lambda _m: marker, text)


def get_text_direction(text: str) -> str:
    """LTR/RTL heuristic (reference types/doc/utils.py:226-234)."""
    if not text:
        return "ltr"
    if text.isascii():
        # no ASCII codepoint has bidirectional class R/AL — exact fast path
        # for the dominant web-text case (one C call vs one per character)
        return "ltr"
    rtl = {"R", "AL"}
    bidi = unicodedata.bidirectional
    # list-comp (one C-level pass) instead of a genexpr: generator frame
    # resumptions were a visible share of the mixed-script profile
    n_rtl = sum([bidi(c) in rtl for c in text])
    return "rtl" if bidi(text[0]) in rtl or n_rtl > len(text) / 2 else "ltr"


def best_prediction(preds: list) -> Optional[dict]:
    """Highest-confidence prediction (first on ties, ``None`` confidences
    skipped); the first prediction when none has a confidence."""
    best, best_conf = None, None
    for pr in preds:
        c = pr.get("confidence")
        if c is not None and (best_conf is None or c > best_conf):
            best, best_conf = pr, c
    return best if best is not None else (preds[0] if preds else None)


def _wrap(text: str, tag: str) -> str:
    return f"<{tag}>{text}</{tag}>"

# meta field declaration order per item family (reference common/meta.py:180-258,
# items/picture/meta.py:51-58); custom keys follow in insertion order.
_META_FIELD_ORDER = (
    "summary",
    "language",
    "entities",
    "keywords",
    "topics",
    "description",
    "classification",
    "molecule",
    "tabular_chart",
    "code",
)


@dataclass
class MarkdownParams:
    """Serialization parameters (reference MarkdownParams defaults)."""

    labels: frozenset = M.DOCUMENT_TOKENS_EXPORT_LABELS
    layers: frozenset = frozenset({"body"})
    pages: Optional[set] = None
    start_idx: int = 0
    stop_idx: int = sys.maxsize
    include_formatting: bool = True
    include_hyperlinks: bool = True
    caption_delim: str = " "
    image_placeholder: str = "<!-- image -->"
    image_mode: str = "placeholder"  # placeholder | embedded | referenced
    indent: int = 4
    wrap_width: Optional[int] = None
    page_break_placeholder: Optional[str] = None
    escape_underscores: bool = True
    escape_html: bool = True
    mark_meta: bool = False
    include_non_meta: bool = True
    include_annotations: bool = True
    mark_annotations: bool = False
    orig_list_item_marker_mode: str = "auto"  # never | always | auto
    ensure_valid_list_item_marker: bool = True
    format_code_blocks: bool = True
    compact_tables: bool = False
    traverse_pictures: bool = False
    allowed_meta_names: Optional[set] = None
    blocked_meta_names: frozenset = frozenset()
    # style hooks ("markdown" or "plain"); plain strips markers/decoration
    style: str = "markdown"
    # table mode: "github" (markdown) or "triplet" (chunking serializer)
    table_mode: str = "github"


PLAIN_TEXT_OVERRIDES = dict(
    escape_underscores=False,
    escape_html=False,
    image_placeholder="",
    format_code_blocks=False,
    style="plain",
)

CHUNKING_OVERRIDES = dict(
    image_placeholder="",
    escape_underscores=False,
    escape_html=False,
    table_mode="triplet",
)


_PB_LOOKAHEAD_GROUP_LABELS = (M.GROUP_LIST, M.GROUP_ORDERED_LIST, M.GROUP_INLINE)


class SerResult:
    """Serialization result: text + contributing items (span lineage)."""

    __slots__ = ("text", "spans", "pb_node")

    def __init__(self, text: str = "", spans: Optional[list] = None, pb_node: Optional[dict] = None):
        self.text = text
        self.spans = spans if spans is not None else []
        self.pb_node = pb_node


def _res(text: str = "", source: Any = None) -> SerResult:
    """Build a SerResult; source is an item dict or list of SerResults."""
    if source is None:
        return SerResult(text)
    if isinstance(source, dict):
        return SerResult(text, [source])
    spans: list = []
    seen: set = set()
    for r in source:
        for it in r.spans:
            sr = it["self_ref"]
            if sr not in seen:
                seen.add(sr)
                spans.append(it)
    return SerResult(text, spans)


class DocSerializer:
    """Dispatch engine serializing a Doc to markdown / plain text / chunk text."""

    _SERIALIZE_DELIM = "\n\n"
    _FALLBACK_DELIM = "\n\n"
    _MISSING_TEXT = "<!-- missing-text -->"
    _MISSING_KEY_VALUE = "<!-- missing-key-value-item -->"
    _MISSING_FORM = "<!-- missing-form-item -->"
    _ANNOTATION_DELIM = "\n\n"

    def __init__(self, doc: Doc, params: Optional[MarkdownParams] = None):
        self.doc = doc
        self._body = doc.body  # hoisted: serialize() checks identity per node
        self.params = params or MarkdownParams()
        self._captions_of: Optional[set] = None
        self._footnotes_of: Optional[set] = None
        self._excluded: Optional[set] = None

    # -- precomputed sets ------------------------------------------------

    def captions_of_some_item(self) -> set:
        """Refs of text items that serve as captions of floating items
        (also fills ``_footnotes_of``; params-independent, so shared by
        every serializer of a :meth:`Doc.read_scope`)."""
        if self._captions_of is None:
            self._captions_of, self._footnotes_of = self.doc.memoized(
                ("captions_footnotes",), self._collect_captions_footnotes
            )
        return self._captions_of

    def _collect_captions_footnotes(self) -> tuple[set, set]:
        caps: set = set()
        ftns: set = set()
        for item, _ in self.doc.iterate_items_cached(
            with_groups=True, traverse_pictures=True, included_content_layers=M.CONTENT_LAYERS
        ):
            for cap in item.get("captions", ()):
                caps.add(cap["$ref"])
            for ftn in item.get("footnotes", ()):
                ftns.add(ftn["$ref"])
        return caps, ftns

    def get_excluded_refs(self) -> set:
        """Refs excluded by label/layer/page/index-slice allowlists (shared
        by the serializers of a :meth:`Doc.read_scope` whose exclusion
        params are equal)."""
        if self._excluded is None:
            p = self.params
            key = (
                "excluded",
                frozenset(p.labels),
                frozenset(p.layers),
                tuple(sorted(p.pages)) if p.pages is not None else None,
                p.start_idx,
                p.stop_idx,
            )
            self._excluded = self.doc.memoized(key, self._collect_excluded)
        return self._excluded

    def _collect_excluded(self) -> set:
        p = self.params
        refs = set()
        for ix, (item, _) in enumerate(
            self._iter_pb(node=None, traverse_pictures=True, add_page_breaks=False)
        ):
            bad = ix < p.start_idx or ix >= p.stop_idx
            if not bad and M.is_doc_item(item):
                if item.get("label") not in p.labels or M.content_layer(item) not in p.layers:
                    bad = True
                elif p.pages is not None:
                    prov = item.get("prov") or []
                    if not prov or prov[0].get("page_no") not in p.pages:
                        bad = True
            if bad:
                refs.add(item["self_ref"])
        return refs

    # -- iteration with page breaks (reference common.py:82-137) ---------

    def _iter_pb(
        self,
        node: Optional[dict],
        traverse_pictures: bool,
        add_page_breaks: bool,
        _visited: Optional[set] = None,
        _state: Optional[dict] = None,
    ) -> "Iterator[tuple[dict, int]] | list[tuple[dict, int]]":
        if not add_page_breaks and _visited is None and _state is None:
            # no page-break interleaving: hand back the traversal list
            # itself (shared inside a read scope) — callers only iterate
            return self.doc.iterate_items_cached(
                root=node,
                with_groups=True,
                included_content_layers=self.params.layers,
                traverse_pictures=traverse_pictures,
            )
        return self._iter_pb_gen(
            node, traverse_pictures, add_page_breaks, _visited, _state
        )

    def _iter_pb_gen(
        self,
        node: Optional[dict],
        traverse_pictures: bool,
        add_page_breaks: bool,
        _visited: Optional[set] = None,
        _state: Optional[dict] = None,
    ) -> Iterator[tuple[dict, int]]:
        visited = _visited if _visited is not None else set()
        state = _state if _state is not None else {"prev": None, "i": 0}
        for item, lvl in self.doc.iterate_items_cached(
            root=node,
            with_groups=True,
            included_content_layers=self.params.layers,
            traverse_pictures=traverse_pictures,
        ):
            if add_page_breaks:
                # one ref_array parse instead of the is_list_group /
                # is_inline_group / is_doc_item predicate chain (same
                # switch rationale as serialize())
                sr_i = item["self_ref"]
                arr_i = M.ref_array(sr_i)
                is_grp = arr_i == "groups" or arr_i == M.BODY or arr_i == M.FURNITURE
                if (
                    is_grp
                    and item.get("label") in _PB_LOOKAHEAD_GROUP_LABELS
                    and sr_i not in visited
                ):
                    visited.add(sr_i)
                    for it, _ in self._iter_pb(
                        node=item,
                        traverse_pictures=traverse_pictures,
                        add_page_breaks=add_page_breaks,
                        _visited=visited,
                        _state=dict(state),  # look-ahead must not advance outer state
                    ):
                        if M.is_doc_item(it) and it.get("prov"):
                            page_no = it["prov"][0].get("page_no")
                            if state["prev"] is not None and page_no > state["prev"]:
                                yield self._pb_node(state["i"], state["prev"], page_no), lvl
                            break
                elif not is_grp and arr_i in M._DOC_ITEM_ARRAYS and item.get("prov"):
                    page_no = item["prov"][0].get("page_no")
                    if state["prev"] is None or page_no > state["prev"]:
                        if state["prev"] is not None:
                            yield self._pb_node(state["i"], state["prev"], page_no), lvl
                            state["i"] += 1
                        state["prev"] = page_no
            yield item, lvl

    @staticmethod
    def _pb_node(i: int, prev_page: int, next_page: int) -> dict:
        return {
            "self_ref": f"#/pb/{i}",
            "_pb": (prev_page, next_page),
            "children": [],
            "content_layer": "body",
        }

    # -- style hooks ------------------------------------------------------

    def _fmt_bold(self, t: str) -> str:
        return f"**{t}**" if self.params.style == "markdown" else t

    def _fmt_italic(self, t: str) -> str:
        return f"*{t}*" if self.params.style == "markdown" else t

    def _fmt_strikethrough(self, t: str) -> str:
        return f"~~{t}~~" if self.params.style == "markdown" else t

    def _fmt_hyperlink(self, t: str, url: str) -> str:
        return f"[{t}]({url})" if self.params.style == "markdown" else t

    def _fmt_heading(self, text: str, item: dict) -> str:
        if self.params.style == "plain":
            return text
        num_hashes = 1 if item.get("label") == M.TITLE else item.get("level", 1) + 1
        return f"{'#' * num_hashes} {text}"

    @staticmethod
    def _escape_underscores(text: str) -> str:
        """Escape underscores outside markdown image URLs (markdown.py:888-910)."""
        parts = []
        last = 0
        for m in _MD_IMG_URL_RE.finditer(text):
            parts.append(_UNDERSCORE_RE.sub(r"\\_", text[last : m.start()]))
            parts.append(m.group(0))
            last = m.end()
        if last < len(text):
            parts.append(_UNDERSCORE_RE.sub(r"\\_", text[last:]))
        return "".join(parts)

    def post_process(
        self,
        text: str,
        escape_html: bool = True,
        escape_underscores: bool = True,
        formatting: Optional[dict] = None,
        hyperlink: Optional[str] = None,
    ) -> str:
        """Escapes, then formatting marks, then hyperlink wrap."""
        p = self.params
        res = text
        if escape_underscores and p.escape_underscores and "_" in text:
            # guard: the regex walk only matters when an underscore exists
            res = self._escape_underscores(text)
        if escape_html and p.escape_html:
            res = _html.escape(res, quote=False)
        if p.include_formatting and formatting:
            if formatting.get("bold"):
                res = self._fmt_bold(res)
            if formatting.get("italic"):
                res = self._fmt_italic(res)
            if formatting.get("underline"):
                res = self._fmt_underline(res)
            if formatting.get("strikethrough"):
                res = self._fmt_strikethrough(res)
            script = formatting.get("script")
            if script == "sub":
                res = self._fmt_subscript(res)
            elif script == "super":
                res = self._fmt_superscript(res)
        if p.include_hyperlinks and hyperlink:
            res = self._fmt_hyperlink(res, hyperlink)
        return res

    def _fmt_underline(self, t: str) -> str:
        return t

    def _fmt_subscript(self, t: str) -> str:
        return t

    def _fmt_superscript(self, t: str) -> str:
        return t

    # -- captions / footnotes / annotations / meta ------------------------

    def serialize_captions(self, item: dict) -> SerResult:
        """Item captions joined by caption_delim, post-processed."""
        p = self.params
        if M.CAPTION not in p.labels:
            return _res()
        excluded = self.get_excluded_refs()
        results = []
        for cap in item.get("captions", ()):
            it = self.doc.resolve(cap["$ref"])
            if M.is_text_item(it) and it["self_ref"] not in excluded:
                results.append(_res(it.get("text", ""), it))
        text = p.caption_delim.join(r.text for r in results)
        text = self.post_process(text=text)
        out = _res(text, results)
        return out

    def serialize_annotations(self, item: dict) -> SerResult:
        """Legacy annotations (only when item has no meta)."""
        texts = [
            self._fmt_annotation(ann.get("kind"), t)
            for ann in item.get("annotations", ())
            if (t := self._annotation_text(ann))
        ]
        return _res(self._ANNOTATION_DELIM.join(texts), item)

    @staticmethod
    def _annotation_text(ann: dict) -> Optional[str]:
        kind = ann.get("kind")
        if kind == "classification":
            classes = ann.get("predicted_classes") or []
            return str(classes[0].get("class_name", "")).replace("_", " ") if classes else None
        if kind == "description":
            return ann.get("text")
        if kind == "molecule_data":
            return ann.get("smi")
        return None

    def _fmt_annotation(self, kind: str, text: str) -> str:
        if self.params.mark_annotations:
            return f'<!--<annotation kind="{kind}">-->{text}<!--<annotation/>-->'
        return text

    def _use_legacy_annotations(self, item: dict, kind: Optional[str] = None) -> bool:
        if item.get("meta"):
            return False
        if not self.params.include_annotations:
            return False
        anns = item.get("annotations") or []
        if kind is not None:
            anns = [a for a in anns if a.get("kind") == kind]
        return bool(anns)

    @staticmethod
    def _humanize(text: str, title: bool = False) -> str:
        tmp = text.replace("__", "_").replace("_", " ")
        return tmp.title() if title else tmp.capitalize()

    def _meta_field_text(self, meta: dict, name: str) -> Optional[str]:
        """Plain text of one meta field, or None."""
        val = meta.get(name)
        if val is None:
            return None
        if name == "summary" or name == "description":
            return val.get("text")
        if name in ("keywords", "topics"):
            return ", ".join(val.get("values", []))
        if name == "classification":
            main = best_prediction(val.get("predictions") or [])
            return self._humanize(main.get("class_name", "")) if main else None
        if name == "molecule":
            return val.get("smi")
        if name == "tabular_chart":
            data = val.get("chart_data")
            return (self._table_github_text(data).strip() or None) if data else None
        return str(val or "") or None

    def _serialize_meta_field(self, meta: dict, name: str) -> Optional[str]:
        txt = self._meta_field_text(meta, name)
        if not txt:
            return None
        return f"[{self._humanize(name, title=True)}] {txt}" if self.params.mark_meta else txt

    def _join_meta_fields(self, fields: list[str]) -> str:
        return "\n\n".join(fields)

    def _meta_name_allowed(self, name: str) -> bool:
        p = self.params
        return (p.allowed_meta_names is None or name in p.allowed_meta_names) and (
            name not in p.blocked_meta_names
        )

    def serialize_meta(self, item: dict) -> SerResult:
        """Meta fields in declaration order, then custom keys."""
        meta = item.get("meta")
        source = item if M.is_doc_item(item) else None
        if not meta or item["self_ref"] in self.get_excluded_refs():
            return _res("", source)
        keys = [k for k in _META_FIELD_ORDER if k in meta]
        keys += [k for k in meta if k not in _META_FIELD_ORDER]
        fields = [
            t for k in keys if self._meta_name_allowed(k) and (t := self._serialize_meta_field(meta, k))
        ]
        return _res(self._join_meta_fields(fields), source)

    # -- tables ------------------------------------------------------------

    def _grid_c(self, data: dict) -> list[list[dict]]:
        """:func:`M.table_grid`, built once per table in a :meth:`Doc.read_scope`.
        Keyed by the data dict's identity; the entry pins the dict so its id
        cannot be recycled while the scope lasts.  Callers never mutate the
        shared grid (cells are the original dicts)."""
        if not data:
            return []
        return self.doc.memoized(("grid", id(data)), lambda: (data, M.table_grid(data)))[1]

    def _cell_text(self, cell: dict, visited: Optional[set] = None) -> str:
        """Resolve a cell's text; RichTableCells flatten their subtree."""
        if "ref" in cell and cell.get("ref"):
            ref = cell["ref"]
            cref = ref["$ref"] if isinstance(ref, dict) else ref
            target = self.doc.resolve(cref)
            return self.serialize(item=target, visited=visited, _nested_in_table=True).text
        return cell.get("text") or ""

    def _table_github_text(self, data: dict, visited: Optional[set] = None) -> str:
        rows = []
        for row in self._grid_c(data):
            rows.append(
                [
                    self._cell_text(c, visited).replace("\n", " ").replace("|", "&#124;")
                    for c in row
                ]
            )
        if not rows:
            return ""
        return format_github_table(rows)

    def _collect_subtree_text(self, item: dict) -> str:
        """Flatten a subtree to space-joined text (nested-table cells)."""
        parts: list[str] = []
        if M.is_table_item(item):
            for row in self._grid_c(item["data"]):
                for cell in row:
                    if cell.get("text"):
                        parts.append(cell["text"])
            return " ".join(parts)
        if M.is_text_item(item) and item.get("text"):
            parts.append(item["text"])
        for child in self.doc.children_of(item):
            t = self._collect_subtree_text(child)
            if t:
                parts.append(t)
        return " ".join(parts)

    def _mark_subtree_visited(self, item: dict, visited: set) -> None:
        visited.add(item["self_ref"])
        for child in self.doc.children_of(item):
            self._mark_subtree_visited(child, visited)

    def _serialize_table(self, item: dict, visited: set, nested: bool = False) -> SerResult:
        if nested:
            self._mark_subtree_visited(item, visited)
            return _res(self._collect_subtree_text(item), item)
        parts: list[SerResult] = []
        cap = self.serialize_captions(item)
        if cap.text:
            parts.append(cap)
        if item["self_ref"] not in self.get_excluded_refs():
            if self._use_legacy_annotations(item):
                ann = self.serialize_annotations(item)
                if ann.text:
                    parts.append(ann)
            if self.params.table_mode == "triplet":
                table_text = self._table_triplet_text(item, visited)
            else:
                table_text = self._table_github_text(item.get("data") or {}, visited)
                if table_text and self.params.compact_tables:
                    table_text = self._compact_table(table_text)
            if table_text:
                parts.append(_res(table_text, item))
        return _res("\n\n".join(r.text for r in parts), parts)

    @staticmethod
    def _compact_table(table_text: str) -> str:
        """Strip column padding (markdown.py:469-506)."""
        out = []
        for i, line in enumerate(table_text.split("\n")):
            if not line:
                continue
            cells = line.split("|")[1:-1]
            if i == 1:
                comp = []
                for part in cells:
                    s = part.strip()
                    if s.startswith(":") and s.endswith(":"):
                        comp.append(":-:")
                    elif s.startswith(":"):
                        comp.append(":-")
                    elif s.endswith(":"):
                        comp.append("-:")
                    else:
                        comp.append("-")
            else:
                comp = [c.strip() for c in cells]
            out.append("| " + " | ".join(comp) + " |")
        return "\n".join(out)

    # triplet table serialization (chunking; hierarchical_chunker.py:46-146)

    def _table_dataframe(self, item: dict, visited: Optional[set]) -> tuple[list[str], list[list[str]]]:
        """(columns, body_rows) with multi-row headers dot-joined (table.py:95-136)."""
        data = item.get("data") or {}
        grid = self._grid_c(data)
        if data.get("num_rows", 0) == 0 or data.get("num_cols", 0) == 0:
            return [], []
        num_headers = 0
        for row in grid:
            if any(c.get("column_header") for c in row):
                num_headers += 1
            else:
                break
        columns: list[str] = []
        if num_headers > 0:
            columns = ["" for _ in range(data["num_cols"])]
            for i in range(num_headers):
                for j, cell in enumerate(grid[i]):
                    col_name = self._cell_text(cell, visited)
                    if columns[j] != "":
                        col_name = f".{col_name}"
                    columns[j] += col_name
        body = [[self._cell_text(c, visited) for c in row] for row in grid[num_headers:]]
        return columns, body

    def _table_triplet_text(self, item: dict, visited: set) -> str:
        # only rich (``ref``) cells touch ``visited``: copy it, and merge the
        # copy back below, only for tables that have one
        has_ref = any(c.get("ref") for c in (item.get("data") or {}).get("table_cells") or ())
        local_visited = set(visited) if has_ref else visited
        columns, body = self._table_dataframe(item, local_visited)
        ncols_eff = len(columns) if columns else (len(body[0]) if body else 0)
        table_text = ""
        if not body and columns:
            table_text = ". ".join(t for col in columns if (t := str(col).strip()))
        if body and ncols_eff >= 1:
            # pandas DataFrame(body, columns=None) → integer col labels
            cols = columns if columns else [str(j) for j in range(len(body[0]))]
            if ncols_eff == 1:
                col_name = str(body[0][0]).strip()
                values = [str(r[0]).strip() for r in body[1:]]
                if values:
                    table_text = ". ".join(f"{col_name} = {v}" for v in values)
                else:
                    table_text = col_name
            else:
                all_rows = [list(cols)] + [list(r) for r in body]
                row_hdr = [str(r[0]).strip() for r in all_rows]
                col_hdr = [str(c).strip() for c in all_rows[0]]
                parts = [
                    f"{row_hdr[i]}, {col_hdr[j]} = {str(all_rows[i][j]).strip()}"
                    for i in range(1, len(all_rows))
                    for j in range(1, len(col_hdr))
                ]
                table_text = ". ".join(parts)
            if not table_text:
                # last-resort flatten of the dataframe cells
                table_text = ". ".join(
                    t for r in body for v in r if (t := str(v).strip())
                )
        if table_text and has_ref:
            visited.update(local_visited)
        return table_text

    @staticmethod
    def get_header_and_body_lines(table_text: str) -> tuple[list[str], list[str]]:
        """Split serialized markdown table into header and body lines."""
        all_lines = table_text.splitlines(True)
        sep_idx = next(
            (i for i, l in enumerate(all_lines) if _SEPARATOR_ROW_RE.match(l.rstrip("\n"))), None
        )
        if sep_idx is None or sep_idx == 0:
            return [], all_lines
        return all_lines[sep_idx - 1 : sep_idx + 1], all_lines[sep_idx + 1 :]

    # -- text items ---------------------------------------------------------

    def _serialize_text_item(
        self, item: dict, visited: set, is_inline_scope: bool
    ) -> SerResult:
        p = self.params
        label = item.get("label")
        escape_html = True
        escape_underscores = True

        child_group = self._inline_child(item)
        has_inline_repr = child_group is not None
        if has_inline_repr:
            text = self.serialize(item=child_group, visited=visited).text
            processing_pending = False
        else:
            text = item.get("text", "")
            processing_pending = True

        if label == M.CHECKBOX_SELECTED:
            text = f"- [x] {text}"
        if label == M.CHECKBOX_UNSELECTED:
            text = f"- [ ] {text}"

        if label in (M.LIST_ITEM, M.TITLE, M.SECTION_HEADER):
            if not has_inline_repr:
                text = self.post_process(
                    text=text,
                    escape_html=escape_html,
                    escape_underscores=escape_underscores,
                    formatting=item.get("formatting"),
                    hyperlink=item.get("hyperlink"),
                )
                processing_pending = False
            if label == M.LIST_ITEM:
                text_part = self._list_item_text(item, text)
            else:
                text_part = self._fmt_heading(text, item)
        elif label == M.CODE:
            if p.format_code_blocks:
                bt = is_inline_scope or (p.include_hyperlinks and item.get("hyperlink"))
                text_part = f"`{text}`" if bt else f"```\n{text}\n```"
            else:
                text_part = text
            escape_html = False
            escape_underscores = False
        elif label == M.FORMULA:
            if text:
                text_part = f"${text}$" if is_inline_scope else f"$${text}$$"
            elif item.get("orig"):
                text_part = "<!-- formula-not-decoded -->"
            else:
                text_part = ""
            escape_html = False
            escape_underscores = False
        elif p.wrap_width:
            text_part = textwrap.fill(text, width=p.wrap_width)
        else:
            text_part = text

        if text_part and "captions" not in item:
            # single-part fast path (the overwhelming case): the final span
            # list is just [item], so skip both _res dedup passes and the
            # one-element join
            if processing_pending:
                text_part = self.post_process(
                    text=text_part,
                    escape_html=escape_html,
                    escape_underscores=escape_underscores,
                    formatting=item.get("formatting"),
                    hyperlink=item.get("hyperlink"),
                )
            return SerResult(text_part, [item])
        res_parts: list[SerResult] = []
        if text_part:
            res_parts.append(_res(text_part, item))
        if "captions" in item:  # floating text items (e.g. code) may hold captions
            cap = self.serialize_captions(item)
            if cap.text:
                res_parts.append(cap)
        out_text = (" " if is_inline_scope else "\n\n").join(r.text for r in res_parts)
        if processing_pending:
            out_text = self.post_process(
                text=out_text,
                escape_html=escape_html,
                escape_underscores=escape_underscores,
                formatting=item.get("formatting"),
                hyperlink=item.get("hyperlink"),
            )
        return _res(out_text, res_parts)

    def _inline_child(self, item: dict) -> Optional[dict]:
        """The inline group an empty-text item renders through, or None."""
        children = item.get("children") or []
        if item.get("text", "") != "" or len(children) != 1:
            return None
        child = self.doc.resolve(children[0]["$ref"])
        return child if M.is_inline_group(child) else None

    def _is_enumerated(self, group: dict) -> bool:
        """A list group is ordered when its first child is an enumerated item."""
        children = group.get("children") or []
        first = self.doc.resolve(children[0]["$ref"]) if children else None
        return bool(first and first.get("label") == M.LIST_ITEM and first.get("enumerated"))

    def _list_item_text(self, item: dict, text: str) -> str:
        """List-item marker logic (markdown.py:237-277)."""
        p = self.params
        marker = item.get("marker", "-")
        pieces: list[str] = []
        case_auto = p.orig_list_item_marker_mode == "auto" and bool(_ALNUM_RE.search(marker))
        case_already_valid = (
            p.ensure_valid_list_item_marker
            and p.orig_list_item_marker_mode != "never"
            and (marker in ("-", "*", "+") or bool(_VALID_ENUM_MARKER_RE.fullmatch(marker)))
        )
        if p.ensure_valid_list_item_marker and not case_already_valid:
            md_marker = "-"
            parent = self.doc.parent_of(item)
            if parent is not None and M.is_list_group(parent):
                if self._is_enumerated(parent) and (p.orig_list_item_marker_mode != "auto" or not marker):
                    pos = -1
                    for i, ch in enumerate(parent["children"]):
                        if self.doc.resolve(ch["$ref"]) is item:
                            pos = i
                            break
                    md_marker = f"{pos + 1}."
            pieces.append(md_marker)
        if marker and (p.orig_list_item_marker_mode == "always" or case_auto or case_already_valid):
            pieces.append(marker)
        pieces.append(text)
        return " ".join(pieces)

    # -- pictures -----------------------------------------------------------

    def _serialize_picture(self, item: dict, visited: set) -> SerResult:
        p = self.params
        parts: list[SerResult] = []
        cap = self.serialize_captions(item)
        if cap.text:
            parts.append(cap)
        if item["self_ref"] not in self.get_excluded_refs():
            if self._use_legacy_annotations(item):
                ann = self.serialize_annotations(item)
                if ann.text:
                    parts.append(ann)
            img_text = self._serialize_image_part(item)
            if img_text:
                parts.append(_res(img_text, item))
        # legacy tabular-chart annotation rendered as a markdown table
        if self._use_legacy_annotations(item, kind="tabular_chart"):
            for ann in item.get("annotations", ()):
                if ann.get("kind") == "tabular_chart" and ann.get("chart_data"):
                    t = self._table_github_text(ann["chart_data"])
                    if t:
                        parts.append(_res(t, item))
                    break
        return _res("\n\n".join(r.text for r in parts if r.text), parts)

    def _serialize_image_part(self, item: dict) -> str:
        """Image rendering per mode (markdown.py:651-694); no PIL here, so
        EMBEDDED without a data URI falls back to the reference's error
        comment."""
        p = self.params
        uri = (item.get("image") or {}).get("uri")
        is_data_uri = isinstance(uri, str) and uri.startswith("data:")
        if p.image_mode == "embedded":
            if is_data_uri:
                return f"![Image]({uri})"
            return (
                "<!-- 🖼️❌ Image not available. "
                "Please use `PdfPipelineOptions(generate_picture_images=True)` -->"
            )
        if p.image_mode == "referenced":
            if uri and not is_data_uri:
                return f"![Image]({uri})"
            return p.image_placeholder
        return p.image_placeholder

    # -- groups ---------------------------------------------------------------

    def _serialize_list_group(self, item: dict, visited: set, list_level: int, is_inline_scope: bool) -> SerResult:
        p = self.params
        parts = self.get_parts(
            item=item, list_level=list_level + 1, is_inline_scope=is_inline_scope, visited=visited
        )
        my_parts: list[SerResult] = []
        for part in parts:
            parent = self.doc.parent_of(part.spans[0]) if part.spans else None
            if my_parts and part.text and parent is not None and M.is_inline_group(parent):
                my_parts[-1].text = f"{my_parts[-1].text}{part.text}"
                my_parts[-1].spans.extend(part.spans)
            else:
                my_parts.append(part)
        indent_str = list_level * p.indent * " "
        text = "\n".join(
            (c.text if c.text and c.text[0] == " " else f"{indent_str}{c.text}") for c in my_parts
        )
        return _res(text, my_parts)

    def _serialize_inline_group(self, item: dict, visited: set, list_level: int) -> SerResult:
        parts = self.get_parts(item=item, list_level=list_level, is_inline_scope=True, visited=visited)
        return _res(" ".join(p.text for p in parts if p.text), parts)

    def _serialize_fallback(self, item: dict, visited: set) -> SerResult:
        if M.is_group(item):
            parts = self.get_parts(item=item, visited=visited)
            return _res(self._FALLBACK_DELIM.join(p.text for p in parts if p.text), parts)
        return _res(self._MISSING_TEXT, item if M.is_doc_item(item) else None)

    # -- key-value / form items and page breaks ---------------------------------

    def _serialize_key_value(self, item: dict) -> SerResult:
        """A key-value item, meta included (dispatched before meta handling)."""
        return self._serialize_unrendered(item, self._MISSING_KEY_VALUE)

    def _serialize_form(self, item: dict) -> SerResult:
        """A form item, meta included (dispatched before meta handling)."""
        return self._serialize_unrendered(item, self._MISSING_FORM)

    def _serialize_unrendered(self, item: dict, placeholder: str) -> SerResult:
        """Placeholder for an item the format cannot render, with the item's
        meta as for any other item."""
        meta_part = self._meta_part(item) if item.get("meta") else None
        if not self.params.include_non_meta:
            return meta_part if meta_part is not None else _res()
        part = _res() if item["self_ref"] in self.get_excluded_refs() else _res(placeholder, item)
        return part if meta_part is None else self._with_meta(part, meta_part)

    def _serialize_page_break(self, item: dict) -> SerResult:
        prev_p, next_p = item["_pb"]
        return SerResult(_PB_FMT.format(prev_p, next_p), [], pb_node=item)

    # -- meta beside the item ---------------------------------------------------

    def _meta_part(self, item: dict) -> Optional[SerResult]:
        """The item's meta as a part of its own, or None when it is empty or
        rendered inside the item."""
        if self._item_wraps_meta(item):
            return None
        cand = self.serialize_meta(item)
        return cand if cand.text else None

    def _with_meta(self, part: SerResult, meta_part: SerResult) -> SerResult:
        parts = [part, meta_part]
        out = _res(self._SERIALIZE_DELIM.join(p.text for p in parts if p.text), parts)
        out.pb_node = part.pb_node
        return out

    # -- main dispatch ----------------------------------------------------

    def serialize(
        self,
        item: Optional[dict] = None,
        list_level: int = 0,
        is_inline_scope: bool = False,
        visited: Optional[set] = None,
        _nested_in_table: bool = False,
    ) -> SerResult:
        """Serialize a node (document body when item is None)."""
        my_visited = visited if visited is not None else set()
        my_item = item if item is not None else self._body

        if my_item is self._body:
            delim = self._SERIALIZE_DELIM
            parts: list[SerResult] = []
            body_meta: Optional[SerResult] = None
            if my_item.get("meta"):
                cand = self.serialize_meta(my_item)
                if cand.text:
                    body_meta = cand
            if my_item["self_ref"] not in my_visited:
                my_visited.add(my_item["self_ref"])
                sub = self.get_parts(item=None, visited=my_visited)
                body_res = self.serialize_doc(sub)
                if body_res.text:
                    parts.append(body_res)
                if body_meta is not None:
                    parts.append(body_meta)
                return _res(delim.join(p.text for p in parts if p.text), parts)
            return _res()

        sr = my_item["self_ref"]
        my_visited.add(sr)

        # single ref_array switch: the node's array determines its kind, so
        # one parse replaces the is_list_group/is_inline_group/is_text_item/
        # ... predicate chain (each of which re-derived ref_array) — this is
        # the hottest dispatch in the row path, shared by all serializers
        arr = M.ref_array(sr)
        if arr == "key_value_items":
            return self._serialize_key_value(my_item)
        if arr == "form_items":
            return self._serialize_form(my_item)

        meta_part = self._meta_part(my_item) if my_item.get("meta") else None
        if not self.params.include_non_meta:
            # meta-only export (reference common.py:403-404): item bodies are
            # suppressed; descendants stay unvisited so the outer traversal
            # still surfaces their meta
            return meta_part if meta_part is not None else _res()

        if arr == "texts":
            caps = self._captions_of
            if caps is None:
                caps = self.captions_of_some_item()
            if sr in caps or sr in self._footnotes_of:
                return _res()
            exc = self._excluded
            if exc is None:
                exc = self.get_excluded_refs()
            if sr not in exc:
                part = self._serialize_text_item(my_item, my_visited, is_inline_scope)
            else:
                part = _res()
        elif arr == "groups" or arr == M.BODY or arr == M.FURNITURE:
            label = my_item.get("label")
            if label == M.GROUP_LIST or label == M.GROUP_ORDERED_LIST:
                part = self._serialize_list_group(my_item, my_visited, list_level, is_inline_scope)
            elif label == M.GROUP_INLINE:
                part = self._serialize_inline_group(my_item, my_visited, list_level)
            else:
                part = self._serialize_fallback(my_item, my_visited)
        elif arr == "tables":
            part = self._serialize_table(my_item, my_visited, nested=_nested_in_table)
        elif arr == "pictures":
            part = self._serialize_picture(my_item, my_visited)
        elif "_pb" in my_item:
            part = self._serialize_page_break(my_item)
        else:
            part = self._serialize_fallback(my_item, my_visited)

        # single-part fast path: `part` already carries deduped spans and its
        # own pb_node — re-wrapping through _res would only copy them
        return part if meta_part is None else self._with_meta(part, meta_part)

    def get_parts(
        self,
        item: Optional[dict] = None,
        list_level: int = 0,
        is_inline_scope: bool = False,
        visited: Optional[set] = None,
    ) -> list[SerResult]:
        """Serialize each unvisited node in the (sub)tree in reading order."""
        parts: list[SerResult] = []
        my_visited = visited if visited is not None else set()
        add_pb = self._requires_page_break()
        for node, _lvl in self._iter_pb(
            node=item, traverse_pictures=self.params.traverse_pictures, add_page_breaks=add_pb
        ):
            sr = node["self_ref"]
            if sr in my_visited:
                continue
            my_visited.add(sr)
            part = self.serialize(
                item=node, list_level=list_level, is_inline_scope=is_inline_scope, visited=my_visited
            )
            if part.text:
                parts.append(part)
        return parts

    def _requires_page_break(self) -> bool:
        return self.params.page_break_placeholder is not None

    def _item_wraps_meta(self, item: dict) -> bool:
        """Whether the item's own serializer renders meta internally."""
        return False

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        """Join parts and substitute page-break placeholders."""
        text = "\n\n".join(p.text for p in parts if p.text)
        if self.params.page_break_placeholder is not None:
            text = replace_page_breaks(text, self.params.page_break_placeholder)
        return _res(text, parts)


# ---------------------------------------------------------------------------
# Entry points (mirroring reference export_to_markdown / export_to_text)
# ---------------------------------------------------------------------------


def export_to_markdown(
    doc: Doc,
    labels: Optional[set] = None,
    layers: Optional[set] = None,
    page_no: Optional[int] = None,
    from_element: int = 0,
    to_element: int = sys.maxsize,
    **overrides: Any,
) -> str:
    """Markdown export with reference-default parameters (document.py:3657)."""
    params = MarkdownParams(
        labels=frozenset(labels) if labels is not None else M.DOCUMENT_TOKENS_EXPORT_LABELS,
        layers=frozenset(layers) if layers is not None else frozenset(M.DEFAULT_CONTENT_LAYERS),
        pages={page_no} if page_no is not None else None,
        start_idx=from_element,
        stop_idx=to_element,
        **overrides,
    )
    return DocSerializer(doc, params).serialize().text


def export_to_text(doc: Doc, **overrides: Any) -> str:
    """Plain-text export (reference export_to_text / PlainTextDocSerializer)."""
    merged = {**PLAIN_TEXT_OVERRIDES, **overrides}
    return export_to_markdown(doc, **merged)


class ExcelMarkdownSerializer(DocSerializer):
    """Markdown variant rendering SHEET groups as `##` headings
    (reference markdown_excel.py: worksheet names become headings)."""

    def _serialize_fallback(self, item: dict, visited: set) -> SerResult:
        if M.is_group(item) and item.get("label") == "sheet":
            parts = self.get_parts(item=item, visited=visited)
            content = "\n\n".join(p.text for p in parts if p.text)
            heading = f"## {item.get('name', '')}"
            return _res(f"{heading}\n\n{content}" if content else heading, parts)
        return super()._serialize_fallback(item, visited)


def export_to_markdown_excel(doc: Doc, **overrides: Any) -> str:
    """Excel-flavored markdown export (sheet groups as headings)."""
    params = MarkdownParams(
        labels=frozenset(overrides.pop("labels", M.DOCUMENT_TOKENS_EXPORT_LABELS)), **overrides
    )
    return ExcelMarkdownSerializer(doc, params).serialize().text


def export_to_element_tree(doc: Doc) -> str:
    """Indented debug tree (reference document.py:3471-3489)."""
    lines = []
    for ix, (item, level) in enumerate(
        doc.iterate_items(
            with_groups=True, traverse_pictures=True, included_content_layers=M.CONTENT_LAYERS
        )
    ):
        if M.is_group(item):
            lines.append(" " * level + f"{ix}: {item.get('label', 'unspecified')} with name={item.get('name', 'group')}")
        elif M.is_text_item(item):
            text = item.get("text", "")
            lines.append(" " * level + f"{ix}: {item.get('label')}: {text[: min(len(text), 100)]}")
        elif M.is_doc_item(item):
            lines.append(" " * level + f"{ix}: {item.get('label')}")
    return "\n".join(lines)
