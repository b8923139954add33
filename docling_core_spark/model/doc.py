"""Dict-backed DoclingDocument-equivalent model.

A document is a plain-dict tree matching the serialized JSON schema of the
reference (docling-core `DoclingDocument.export_to_dict()`, see
/root/reference/docling_core/types/doc/document.py:3578).  We deliberately do
NOT use pydantic here: inside Spark Arrow-batch UDFs every row is parsed and
walked in pure Python, and attribute-validation overhead would dominate.
Validation happens at the boundaries (tests, `--strict` runs).

Schema contract (per item-family array):
  texts/tables/pictures/groups/key_value_items/form_items: list[dict]
  body / furniture: group dicts with self_ref "#/body" / "#/furniture"
  refs: {"$ref": "#/texts/3"}  (JSON pointer, append-order assignment,
        cf. reference document.py:855-960, 1600-1601)
Reading order = pre-order DFS over ``children`` (reference
document.py:3235-3313).
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from functools import lru_cache
from typing import Any, Callable, Iterator, Optional

CURRENT_VERSION = "1.10.0"  # reference common/constants.py:7

# ---------------------------------------------------------------------------
# Label / layer constants (reference types/doc/labels.py, content_layer.py)
# ---------------------------------------------------------------------------

BODY = "body"
FURNITURE = "furniture"
CONTENT_LAYERS = {"body", "furniture", "background", "invisible", "notes"}
DEFAULT_CONTENT_LAYERS = {"body"}

# DocItemLabel values
CAPTION = "caption"
CHART = "chart"
FOOTNOTE = "footnote"
FORMULA = "formula"
LIST_ITEM = "list_item"
PAGE_FOOTER = "page_footer"
PAGE_HEADER = "page_header"
PICTURE = "picture"
SECTION_HEADER = "section_header"
TABLE = "table"
TEXT = "text"
TITLE = "title"
DOCUMENT_INDEX = "document_index"
CODE = "code"
CHECKBOX_SELECTED = "checkbox_selected"
CHECKBOX_UNSELECTED = "checkbox_unselected"
FORM = "form"
KEY_VALUE_REGION = "key_value_region"
PARAGRAPH = "paragraph"
REFERENCE = "reference"
HANDWRITTEN_TEXT = "handwritten_text"
EMPTY_VALUE = "empty_value"
FIELD_KEY = "field_key"
FIELD_VALUE = "field_value"
FIELD_HEADING = "field_heading"
FIELD_HINT = "field_hint"
MARKER = "marker"
GRADING_SCALE = "grading_scale"
FIELD_REGION = "field_region"
FIELD_ITEM = "field_item"

# GroupLabel values
GROUP_LIST = "list"
GROUP_ORDERED_LIST = "ordered_list"  # deprecated; patched to "list" on load
GROUP_INLINE = "inline"
GROUP_UNSPECIFIED = "unspecified"
GROUP_FORM_AREA = "form_area"

# Default export label allowlists (reference common/constants.py:10-45)
DEFAULT_EXPORT_LABELS = frozenset(
    {
        TITLE,
        DOCUMENT_INDEX,
        SECTION_HEADER,
        PARAGRAPH,
        TABLE,
        PICTURE,
        FORMULA,
        CHECKBOX_UNSELECTED,
        CHECKBOX_SELECTED,
        TEXT,
        LIST_ITEM,
        CODE,
        REFERENCE,
        PAGE_HEADER,
        PAGE_FOOTER,
        KEY_VALUE_REGION,
        EMPTY_VALUE,
        FIELD_KEY,
        FIELD_VALUE,
        FIELD_HEADING,
        FIELD_HINT,
        MARKER,
        HANDWRITTEN_TEXT,
    }
)
DOCUMENT_TOKENS_EXPORT_LABELS = DEFAULT_EXPORT_LABELS | {FOOTNOTE, CAPTION, FORM}

# Item-family arrays that hold DocItems (everything except groups)
_DOC_ITEM_ARRAYS = frozenset(
    {"texts", "tables", "pictures", "key_value_items", "form_items", "field_regions", "field_items"}
)
_GROUP_ARRAYS = frozenset({"groups"})
_ALL_ARRAYS = (
    "groups",
    "texts",
    "pictures",
    "tables",
    "key_value_items",
    "form_items",
    "field_regions",
    "field_items",
)


def _migrate_picture_annotations(item: dict) -> None:
    """Move legacy picture annotations into meta (reference picture.py:76-145)."""
    anns = item.get("annotations")
    if not anns:
        return
    meta = item.get("meta")
    for ann in anns:
        kind = ann.get("kind")
        if meta is None:
            meta = item["meta"] = {}
        if kind == "classification" and meta.get("classification") is None:
            meta["classification"] = {
                "predictions": [
                    {
                        "class_name": pred.get("class_name"),
                        "confidence": pred.get("confidence"),
                        "created_by": ann.get("provenance"),
                    }
                    for pred in ann.get("predicted_classes", ())
                ]
            }
        elif kind == "description" and meta.get("description") is None:
            meta["description"] = {"text": ann.get("text"), "created_by": ann.get("provenance")}
        elif kind == "molecule_data" and meta.get("molecule") is None:
            meta["molecule"] = {
                "smi": ann.get("smi"),
                "confidence": ann.get("confidence"),
                "created_by": ann.get("provenance"),
                "docling_legacy__segmentation": ann.get("segmentation"),
                "docling_legacy__class_name": ann.get("class_name"),
            }
        elif kind == "tabular_chart_data" and meta.get("tabular_chart") is None:
            meta["tabular_chart"] = {"title": ann.get("title"), "chart_data": ann.get("chart_data")}
        elif kind not in ("classification", "description", "molecule_data", "tabular_chart_data"):
            key = f"docling_legacy__{kind}"
            if key not in meta:
                meta[key] = ann.get("content") if kind == "misc" else ann


def _migrate_table_annotations(item: dict) -> None:
    """Move legacy table annotations into meta (reference table.py:51-85)."""
    anns = item.get("annotations")
    if not anns:
        return
    meta = item.get("meta")
    for ann in anns:
        kind = ann.get("kind")
        if meta is None:
            meta = item["meta"] = {}
        if kind == "description" and meta.get("description") is None:
            meta["description"] = {"text": ann.get("text"), "created_by": ann.get("provenance")}
        elif kind != "description":
            key = f"docling_legacy__{kind}"
            if key not in meta:
                meta[key] = ann.get("content") if kind == "misc" else ann


META_NAMESPACE_DELIMITER = "__"
META_LEGACY_NAMESPACE = "docling_legacy"


def create_meta_field_name(*, namespace: str, name: str) -> str:
    """Namespaced custom meta field key (reference common/meta.py:275-282)."""
    return f"{namespace}{META_NAMESPACE_DELIMITER}{name}"


def check_custom_meta_field(key: str) -> None:
    """Custom meta keys must be 'namespace__field_name'
    (reference common/meta.py:37-42)."""
    parts = key.split(META_NAMESPACE_DELIMITER, maxsplit=1)
    if len(parts) != 2 or (not parts[0]) or (not parts[1]):
        raise ValueError(
            "Custom meta field name must be in format 'namespace__field_name' "
            f"(e.g. 'my_corp__max_size'): {key}"
        )


def set_meta_custom_field(item: dict, *, namespace: str, name: str, value) -> str:
    """Set a namespaced custom field on an item's meta and return the key
    (reference common/meta.py:60-64); pydantic values are stored dumped."""
    key = create_meta_field_name(namespace=namespace, name=name)
    check_custom_meta_field(key)
    if hasattr(value, "model_dump"):
        value = value.model_dump(mode="json")
    meta = item.get("meta")
    if meta is None:
        meta = item["meta"] = {}
    meta[key] = value
    return key


def get_meta_custom_part(meta: Optional[dict]) -> dict:
    """The namespaced (custom) fields of a meta dict
    (reference common/meta.py:29-31 — pydantic extras; in the dict model the
    '__' delimiter is the marker, since standard names must not contain it)."""
    if not meta:
        return {}
    return {k: v for k, v in meta.items() if META_NAMESPACE_DELIMITER in k}


def parse_binary_hash(value) -> int:
    """uint64 binary hash parse (reference common/origin.py:48-60).

    Hex strings are converted and masked to 64 bits; ints pass through.
    The value may exceed 2^63-1, so it must NEVER ride a Spark LongType
    column — use binary_hash_column_value (string) in typed schemas.
    """
    if isinstance(value, str):
        try:
            return int(value, 16) & 0xFFFFFFFFFFFFFFFF
        except ValueError:
            raise ValueError(f"Invalid sha256 hexdigest: {value}") from None
    return value


def binary_hash_column_value(value) -> str:
    """Driver/typed-column-safe form of a uint64 binary hash (decimal string).

    Spark LongType is signed: a hash >= 2^63 silently corrupts (overflow or
    null on cast).  Project hashes as string (or decimal(20,0)) columns.
    """
    return str(parse_binary_hash(value))


def _round_export_floats(obj, coord_p: Optional[int], confid_p: Optional[int]) -> None:
    """Round coordinate/size and confidence floats in an export dict in place."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            if isinstance(v, float):
                if coord_p is not None and k in ("l", "t", "r", "b", "width", "height"):
                    obj[k] = round(v, coord_p)
                elif confid_p is not None and k == "confidence":
                    obj[k] = round(v, confid_p)
            else:
                _round_export_floats(v, coord_p, confid_p)
    elif isinstance(obj, list):
        for v in obj:
            _round_export_floats(v, coord_p, confid_p)


# TableCell pydantic defaults, in field order: the dump always carries them
_CELL_DEFAULTS = {
    "row_span": 1, "col_span": 1, "column_header": False, "row_header": False,
    "row_section": False, "fillable": False,
}


def table_grid(data: dict) -> list[list[dict]]:
    """Dense ``num_rows`` x ``num_cols`` grid of a table's cells (the
    reference's computed ``TableData.grid``, table_data.py:101-142).

    A spanning cell fills every slot it covers, as the same dict; a slot no
    cell covers gets an empty default cell.  Offsets past the table are
    clipped and missing offsets read as 0.  ``data`` is not changed."""
    num_rows = data.get("num_rows", 0)
    num_cols = data.get("num_cols", 0)
    grid: list[list[Any]] = [[None] * num_cols for _ in range(num_rows)]
    for cell in data.get("table_cells", ()):
        rows = range(min(cell.get("start_row_offset_idx", 0), num_rows),
                     min(cell.get("end_row_offset_idx", 0), num_rows))
        cols = range(min(cell.get("start_col_offset_idx", 0), num_cols),
                     min(cell.get("end_col_offset_idx", 0), num_cols))
        for i in rows:
            for j in cols:
                grid[i][j] = cell
    for i, row in enumerate(grid):
        for j, cell in enumerate(row):
            if cell is None:
                row[j] = {
                    "row_span": 1, "col_span": 1,
                    "start_row_offset_idx": i, "end_row_offset_idx": i + 1,
                    "start_col_offset_idx": j, "end_col_offset_idx": j + 1,
                    "text": "",
                    "column_header": False, "row_header": False, "row_section": False, "fillable": False,
                }
    return grid


def _dump_table_data(data: dict) -> dict:
    """A copy of ``data`` as the reference dumps it: cell defaults filled,
    ``orientation`` and the computed ``grid`` added.  Grid cells are plain
    TableCells: a RichTableCell's ``ref`` shows in ``table_cells`` only."""
    out = {**data}
    if "table_cells" in data:
        out["table_cells"] = [{**c, **_CELL_DEFAULTS, **c} for c in data["table_cells"]]
    out.setdefault("orientation", "rot_0")
    grid = table_grid(out)
    if any("ref" in c for c in out.get("table_cells", ())):
        grid = [[{k: v for k, v in c.items() if k != "ref"} for c in row] for row in grid]
    out["grid"] = grid
    return out


def _dump_table(tbl: dict) -> dict:
    out = {**tbl}
    out.setdefault("annotations", [])
    if tbl.get("data"):
        out["data"] = _dump_table_data(tbl["data"])
    return out


def _dump_picture(pic: dict) -> dict:
    """``pic``, or a copy whose chart data is dumped like table data."""
    meta = pic.get("meta") or {}
    tabular = meta.get("tabular_chart") or {}
    anns = pic.get("annotations") or ()
    if not tabular.get("chart_data") and not any(a.get("chart_data") for a in anns):
        return pic
    pic = {**pic}
    if tabular.get("chart_data"):
        chart = _dump_table_data(tabular["chart_data"])
        pic["meta"] = {**meta, "tabular_chart": {**tabular, "chart_data": chart}}
    if anns:
        pic["annotations"] = [
            {**a, "chart_data": _dump_table_data(a["chart_data"])} if a.get("chart_data") else a for a in anns
        ]
    return pic


def _dump_text(t: dict) -> dict:
    fmt = t.get("formatting")
    if fmt is None:
        return t
    # pydantic dump parity: Formatting always dumps all defaults
    return {
        **t,
        "formatting": {
            "bold": fmt.get("bold", False),
            "italic": fmt.get("italic", False),
            "underline": fmt.get("underline", False),
            "strikethrough": fmt.get("strikethrough", False),
            "script": fmt.get("script", "baseline"),
        },
    }


@lru_cache(maxsize=65536)
def ref_array(cref: str) -> str:
    """Array name of a `#/<array>/<idx>` or `#/<name>` pointer."""
    # hot path (called per node per dispatch, ~1k times per doc across the
    # serializer stack): refs repeat heavily, so an LRU on the string beats
    # re-parsing; bounded so a long-lived executor cannot grow it unboundedly
    end = cref.find("/", 2)
    return cref[2:] if end < 0 else cref[2:end]


def is_group(item: dict) -> bool:
    """Whether the node is a group (incl. body/furniture roots)."""
    arr = ref_array(item["self_ref"])
    return arr in _GROUP_ARRAYS or arr in (BODY, FURNITURE)


def is_doc_item(item: dict) -> bool:
    """Whether the node is a DocItem (has a label and provenance)."""
    return ref_array(item["self_ref"]) in _DOC_ITEM_ARRAYS


def is_text_item(item: dict) -> bool:
    """Whether the node lives in the texts array (TextItem subtree)."""
    return ref_array(item["self_ref"]) == "texts"


def is_table_item(item: dict) -> bool:
    """Whether the node is a TableItem."""
    return ref_array(item["self_ref"]) == "tables"


def is_picture_item(item: dict) -> bool:
    """Whether the node is a PictureItem."""
    return ref_array(item["self_ref"]) == "pictures"


def is_list_group(item: dict) -> bool:
    """ListGroup (incl. deprecated ordered_list)."""
    return is_group(item) and item.get("label") in (GROUP_LIST, GROUP_ORDERED_LIST)


def is_inline_group(item: dict) -> bool:
    """InlineGroup."""
    return is_group(item) and item.get("label") == GROUP_INLINE


def content_layer(item: dict) -> str:
    """Item's content layer; furniture root defaults to 'furniture'."""
    cl = item.get("content_layer")
    if cl is None:
        return FURNITURE if item["self_ref"] == "#/furniture" else BODY
    return cl


class Doc:
    """A DoclingDocument-equivalent: flat typed arrays + JSON-pointer tree.

    Mirrors the data model of the reference (document.py:174-213) but stores
    items as plain dicts for cheap JSON round-trips inside Arrow-batch UDFs.

    Read memos (traversal lists, caption and exclusion sets, table grids)
    exist only inside :meth:`read_scope`, which ``extract_row`` opens around
    its exports.  Outside a scope every read computes afresh, so no mutator,
    and no direct edit of an item dict, has to invalidate anything.
    """

    __slots__ = (
        "schema_name",
        "version",
        "name",
        "origin",
        "body",
        "furniture",
        "groups",
        "texts",
        "pictures",
        "tables",
        "key_value_items",
        "form_items",
        "field_regions",
        "field_items",
        "pages",
        "extra",
        "_memo",
    )

    def __init__(self, name: str = "document", origin: Optional[dict] = None) -> None:
        self.schema_name = "DoclingDocument"
        self.version = CURRENT_VERSION
        self.name = name
        self.origin = origin
        self.body: dict = {
            "self_ref": "#/body",
            "children": [],
            "content_layer": "body",
            "name": "_root_",
            "label": GROUP_UNSPECIFIED,
        }
        self.furniture: dict = {
            "self_ref": "#/furniture",
            "children": [],
            "content_layer": "furniture",
            "name": "_root_",
            "label": GROUP_UNSPECIFIED,
        }
        self.groups: list[dict] = []
        self.texts: list[dict] = []
        self.pictures: list[dict] = []
        self.tables: list[dict] = []
        self.key_value_items: list[dict] = []
        self.form_items: list[dict] = []
        self.field_regions: list[dict] = []
        self.field_items: list[dict] = []
        self.pages: dict = {}
        self.extra: dict = {}
        self._memo: Optional[dict] = None

    # ------------------------------------------------------------------
    # Ref resolution (reference common/reference.py:32-62)
    # ------------------------------------------------------------------

    def resolve(self, cref: str) -> dict:
        """Resolve a `#/<array>/<idx>` (or `#/body`) pointer to its item."""
        parts = cref.split("/")
        if len(parts) == 2:
            return getattr(self, parts[1])
        return getattr(self, parts[1])[int(parts[2])]

    def resolve_ref(self, ref: dict) -> dict:
        """Resolve a `{"$ref": ...}` dict."""
        return self.resolve(ref["$ref"])

    def children_of(self, item: dict) -> Iterator[dict]:
        """Resolved children, in order."""
        for ref in item.get("children", ()):
            yield self.resolve(ref["$ref"])

    def parent_of(self, item: dict) -> Optional[dict]:
        """Resolved parent, or None."""
        p = item.get("parent")
        return self.resolve(p["$ref"]) if p else None

    # ------------------------------------------------------------------
    # Builders (reference document.py:855-960 `_append_item` semantics:
    # append-order `#/texts/N` assignment, parent wiring)
    # ------------------------------------------------------------------

    def _attach(self, array_name: str, item: dict, parent: Optional[dict]) -> dict:
        arr = getattr(self, array_name)
        cref = f"#/{array_name}/{len(arr)}"
        item["self_ref"] = cref
        p = parent if parent is not None else self.body
        item["parent"] = {"$ref": p["self_ref"]}
        item.setdefault("children", [])
        item.setdefault("content_layer", content_layer(p) if p["self_ref"] != "#/body" else "body")
        arr.append(item)
        p.setdefault("children", []).append({"$ref": cref})
        return item

    def add_text(
        self,
        label: str,
        text: str,
        orig: Optional[str] = None,
        parent: Optional[dict] = None,
        prov: Optional[list] = None,
        formatting: Optional[dict] = None,
        hyperlink: Optional[str] = None,
        content_layer: Optional[str] = None,
    ) -> dict:
        """Append a text-family item (reference document.py:1491)."""
        item: dict[str, Any] = {
            "label": label,
            "prov": prov or [],
            "orig": orig if orig is not None else text,
            "text": text,
        }
        if formatting:
            item["formatting"] = formatting
        if hyperlink:
            item["hyperlink"] = hyperlink
        if content_layer:
            item["content_layer"] = content_layer
        return self._attach("texts", item, parent)

    def add_title(self, text: str, **kw: Any) -> dict:
        """Append a TitleItem (reference document.py:1743)."""
        return self.add_text(TITLE, text, **kw)

    def add_heading(self, text: str, level: int = 1, **kw: Any) -> dict:
        """Append a SectionHeaderItem (reference document.py:1884)."""
        item = self.add_text(SECTION_HEADER, text, **kw)
        item["level"] = level
        return item

    def add_list_item(
        self,
        text: str,
        enumerated: bool = False,
        marker: Optional[str] = None,
        parent: Optional[dict] = None,
        **kw: Any,
    ) -> dict:
        """Append a ListItem (reference document.py:1438-1480; marker or "")."""
        item = self.add_text(LIST_ITEM, text, parent=parent, **kw)
        item["enumerated"] = enumerated
        item["marker"] = marker or ""
        return item

    def add_code(self, text: str, code_language: Optional[str] = None, **kw: Any) -> dict:
        """Append a CodeItem (reference document.py:1787; the model's
        code_language default "unknown" always dumps)."""
        item = self.add_text(CODE, text, **kw)
        item["code_language"] = code_language if code_language else "unknown"
        item.setdefault("captions", [])
        item.setdefault("references", [])
        item.setdefault("footnotes", [])
        return item

    def add_formula(self, text: str, orig: Optional[str] = None, **kw: Any) -> dict:
        """Append a FormulaItem (reference document.py:1840)."""
        return self.add_text(FORMULA, text, orig=orig, **kw)

    def add_group(self, label: str = GROUP_UNSPECIFIED, name: str = "group", parent: Optional[dict] = None) -> dict:
        """Append a generic group (reference document.py:1392)."""
        return self._attach("groups", {"label": label, "name": name}, parent)

    def add_list_group(self, name: str = "group", parent: Optional[dict] = None) -> dict:
        """Append a ListGroup (reference document.py:1326; the pydantic
        GroupItem name default is "group")."""
        return self._attach("groups", {"label": GROUP_LIST, "name": name}, parent)

    def add_inline_group(self, name: str = "group", parent: Optional[dict] = None) -> dict:
        """Append an InlineGroup (reference document.py:1373)."""
        return self._attach("groups", {"label": GROUP_INLINE, "name": name}, parent)

    def add_table(
        self,
        data: dict,
        caption: Optional[dict] = None,
        parent: Optional[dict] = None,
        label: str = TABLE,
        prov: Optional[list] = None,
    ) -> dict:
        """Append a TableItem (reference document.py:1656)."""
        item: dict[str, Any] = {
            "label": label,
            "prov": prov or [],
            "captions": [],
            "references": [],
            "footnotes": [],
            "data": data,
        }
        out = self._attach("tables", item, parent)
        if caption is not None:
            out["captions"].append({"$ref": caption["self_ref"]})
        return out

    def add_picture(
        self,
        caption: Optional[dict] = None,
        parent: Optional[dict] = None,
        prov: Optional[list] = None,
        image: Optional[dict] = None,
    ) -> dict:
        """Append a PictureItem (reference document.py:1701)."""
        item: dict[str, Any] = {
            "label": PICTURE,
            "prov": prov or [],
            "captions": [],
            "references": [],
            "footnotes": [],
            "annotations": [],
        }
        if image is not None:
            item["image"] = image
        out = self._attach("pictures", item, parent)
        if caption is not None:
            out["captions"].append({"$ref": caption["self_ref"]})
        return out

    def add_key_values(self, graph: dict, prov: Optional[list] = None, parent: Optional[dict] = None) -> dict:
        """Append a KeyValueItem (reference document.py:1931)."""
        item: dict[str, Any] = {
            "label": KEY_VALUE_REGION,
            "prov": prov or [],
            "captions": [],
            "references": [],
            "footnotes": [],
            "graph": graph,
        }
        return self._attach("key_value_items", item, parent)

    def add_comment(
        self,
        text: str,
        prov: Optional[list] = None,
        parent: Optional[dict] = None,
        targets: Optional[list] = None,
    ) -> dict:
        """Add a comment text item in the notes layer and attach fine refs to
        its targets (reference document.py:1624-1654).  Each target is an
        item dict or an (item, (start, end)) span tuple."""
        item = self.add_text(TEXT, text, prov=prov, parent=parent, content_layer="notes")
        for target in targets or ():
            span = None
            if isinstance(target, tuple):
                target, span = target
            ref: dict[str, Any] = {"$ref": item["self_ref"]}
            if span is not None:
                ref["range"] = list(span)
            target.setdefault("comments", []).append(ref)
        return item

    def add_form(self, graph: dict, prov: Optional[list] = None, parent: Optional[dict] = None) -> dict:
        """Append a FormItem (reference document.py:1962)."""
        item: dict[str, Any] = {
            "label": "form",
            "prov": prov or [],
            "captions": [],
            "references": [],
            "footnotes": [],
            "graph": graph,
        }
        return self._attach("form_items", item, parent)

    def add_field_region(self, prov: Optional[list] = None, parent: Optional[dict] = None) -> dict:
        """Append a FieldRegionItem (reference document.py:1993)."""
        return self._attach("field_regions", {"label": FIELD_REGION, "prov": prov or []}, parent)

    def add_field_item(self, prov: Optional[list] = None, parent: Optional[dict] = None) -> dict:
        """Append a FieldItem (reference document.py:2071)."""
        return self._attach("field_items", {"label": FIELD_ITEM, "prov": prov or []}, parent)

    def add_field_key(self, text: str, **kw: Any) -> dict:
        """Append a field key text item (reference document.py:2093)."""
        return self.add_text(FIELD_KEY, text, **kw)

    def add_field_value(self, text: str, kind: str = "read_only", **kw: Any) -> dict:
        """Append a FieldValueItem (reference document.py:2126; kind is
        read_only | fillable and is always dumped)."""
        item = self.add_text(FIELD_VALUE, text, **kw)
        item["kind"] = kind
        return item

    def add_field_heading(self, text: str, level: int = 1, **kw: Any) -> dict:
        """Append a FieldHeadingItem (reference document.py:2021)."""
        item = self.add_text(FIELD_HEADING, text, **kw)
        item["level"] = level
        return item

    def add_field_hint(self, text: str, **kw: Any) -> dict:
        """Append a field hint text item (reference document.py:2177)."""
        return self.add_text(FIELD_HINT, text, **kw)

    def add_marker(self, text: str, **kw: Any) -> dict:
        """Append a marker text item (reference document.py:2209)."""
        return self.add_text(MARKER, text, **kw)

    def migrate_to_field_regions(self) -> None:
        """Convert legacy key_value_items / form_items graphs into
        field_regions + field_items (reference document.py:381-455, the
        graph-link path: one field_item per key cell, its TO_VALUE /
        TO_KEY-linked value cells in first-seen order; other link kinds are
        dropped; the new field_region replaces the graph item in place)."""
        from docling_core_spark.model.mutate import delete_items, insert_sibling

        # annotation case: a single key_value_items entry that is the LAST
        # item in full-document iteration (reference document.py:382-401)
        if len(self.key_value_items) == 1:
            last_is_kv = False
            found = False
            for item, _ in self.iterate_items(
                with_groups=True,
                traverse_pictures=True,
                included_content_layers=set(CONTENT_LAYERS),
            ):
                if found:
                    last_is_kv = False
                    break
                if item is self.key_value_items[0]:
                    found = True
                    last_is_kv = True
            if last_is_kv:
                from docling_core_spark.model.migrate_kv import (
                    migrate_annot_forms_to_field_regions,
                    post_migration_cleanup,
                )

                migrate_annot_forms_to_field_regions(self, self.key_value_items[0])
                post_migration_cleanup(self)
                self.normalize_references()
                return

        to_delete: list[dict] = []
        for item, _ in self.iterate_items():
            if ref_array(item.get("self_ref", "")) not in ("key_value_items", "form_items"):
                continue
            graph = item.get("graph") or {}
            cells = {c["cell_id"]: c for c in graph.get("cells", ())}
            to_delete.append(item)

            region: dict[str, Any] = {"label": FIELD_REGION, "prov": item.get("prov") or []}
            for passthrough in ("content_layer", "meta", "comments", "source"):
                if item.get(passthrough) is not None and passthrough in item:
                    region[passthrough] = item[passthrough]
            insert_sibling(self, region, "field_regions", item, after=True)

            seen: set[tuple[int, int]] = set()
            values_by_key: dict[int, list[int]] = {}
            for link in graph.get("links", ()):
                if link.get("label") == "to_value":
                    key_id, value_id = link["source_cell_id"], link["target_cell_id"]
                elif link.get("label") == "to_key":
                    key_id, value_id = link["target_cell_id"], link["source_cell_id"]
                else:
                    continue
                if (key_id, value_id) in seen:
                    continue
                seen.add((key_id, value_id))
                values_by_key.setdefault(key_id, []).append(value_id)

            for key_id, value_ids in values_by_key.items():
                fi = self.add_field_item(parent=region)
                key_cell = cells[key_id]
                self.add_field_key(
                    text=key_cell.get("text", ""),
                    parent=fi,
                    prov=[key_cell["prov"]] if key_cell.get("prov") else None,
                )
                for value_id in value_ids:
                    value_cell = cells[value_id]
                    self.add_field_value(
                        text=value_cell.get("text", ""),
                        parent=fi,
                        prov=[value_cell["prov"]] if value_cell.get("prov") else None,
                    )

        if to_delete:
            delete_items(self, to_delete)
        self.normalize_references()

    def normalize_references(self) -> None:
        """Re-index every array in reading order and compact refs in place
        (reference document.py:5412 _normalize_references)."""
        from docling_core_spark.model.transform import filter_pages

        rebuilt = filter_pages(self)
        self.body = rebuilt.body
        for array_name in (
            "groups", "texts", "pictures", "tables",
            "key_value_items", "form_items", "field_regions", "field_items",
        ):
            setattr(self, array_name, getattr(rebuilt, array_name))
        self.pages = rebuilt.pages

    def add_table_cell(self, table_item: dict, cell: dict) -> dict:
        """Append a (possibly rich) cell to a table (reference document.py:5494);
        rich cells must reference a child of the table."""
        ref = cell.get("ref")
        if ref:
            target = self.resolve(ref["$ref"] if isinstance(ref, dict) else ref)
            parent = (target.get("parent") or {}).get("$ref")
            if parent != table_item["self_ref"]:
                raise ValueError(
                    f"Trying to add cell with another parent {parent} to {table_item['self_ref']}"
                )
        table_item["data"].setdefault("table_cells", []).append(cell)
        return cell

    # ------------------------------------------------------------------
    # Positioned insertion (reference document.py:2290-2947)
    # ------------------------------------------------------------------

    def _insert(self, item: dict, array: str, sibling: dict, after: bool) -> dict:
        from docling_core_spark.model.mutate import insert_sibling

        return insert_sibling(self, item, array, sibling, after=after)

    def insert_list_group(self, sibling: dict, name: Optional[str] = None,
                          after: bool = True) -> dict:
        """Insert a ListGroup next to a sibling (reference document.py:2290)."""
        item = {"label": GROUP_LIST, "name": name if name is not None else "group"}
        return self._insert(item, "groups", sibling, after)

    def insert_inline_group(self, sibling: dict, name: Optional[str] = None,
                            after: bool = True) -> dict:
        """Insert an InlineGroup (reference document.py:2320)."""
        item = {"label": GROUP_INLINE, "name": name if name is not None else "group"}
        return self._insert(item, "groups", sibling, after)

    def insert_group(self, sibling: dict, label: Optional[str] = None,
                     name: Optional[str] = None, after: bool = True) -> dict:
        """Insert a group; list/ordered_list/inline labels delegate to the
        typed variants (reference document.py:2351)."""
        if label in (GROUP_LIST, GROUP_ORDERED_LIST):
            return self.insert_list_group(sibling, name=name, after=after)
        if label == GROUP_INLINE:
            return self.insert_inline_group(sibling, name=name, after=after)
        item = {"label": label if label is not None else GROUP_UNSPECIFIED,
                "name": name if name is not None else "group"}
        return self._insert(item, "groups", sibling, after)

    def insert_list_item(self, sibling: dict, text: str, enumerated: bool = False,
                         marker: Optional[str] = None, orig: Optional[str] = None,
                         after: bool = True) -> dict:
        """Insert a ListItem; a non-ListGroup insertion point grows a list
        group on the fly with a DeprecationWarning (reference document.py:2401)."""
        import warnings

        parent = self.parent_of(sibling)
        item: dict[str, Any] = {
            "label": LIST_ITEM,
            "prov": [],
            "orig": orig if orig is not None else text,
            "text": text,
            "enumerated": enumerated,
            "marker": marker or "",
        }
        if parent is not None and not is_list_group(parent):
            warnings.warn(
                "ListItem parent must be a ListGroup, creating one on the fly.",
                DeprecationWarning,
                stacklevel=2,
            )
            group = self.insert_list_group(sibling, after=after)
            return self._attach("texts", item, group)
        return self._insert(item, "texts", sibling, after)

    def insert_text(self, sibling: dict, label: str, text: str,
                    orig: Optional[str] = None, after: bool = True) -> dict:
        """Insert a text-family item; title/section_header/code/formula/
        list_item delegate to their typed forms (reference document.py:2474)."""
        if label == TITLE:
            return self.insert_title(sibling, text, orig=orig, after=after)
        if label == SECTION_HEADER:
            return self.insert_heading(sibling, text, orig=orig, after=after)
        if label == CODE:
            return self.insert_code(sibling, text, orig=orig, after=after)
        if label == FORMULA:
            return self.insert_formula(sibling, text, orig=orig, after=after)
        if label == LIST_ITEM:
            return self.insert_list_item(sibling, text, orig=orig, after=after)
        item = {"label": label, "prov": [], "orig": orig if orig is not None else text,
                "text": text}
        return self._insert(item, "texts", sibling, after)

    def insert_title(self, sibling: dict, text: str, orig: Optional[str] = None,
                     after: bool = True) -> dict:
        """Insert a TitleItem (reference document.py:2679)."""
        item = {"label": TITLE, "prov": [], "orig": orig if orig is not None else text,
                "text": text}
        return self._insert(item, "texts", sibling, after)

    def insert_heading(self, sibling: dict, text: str, level: int = 1,
                       orig: Optional[str] = None, after: bool = True) -> dict:
        """Insert a SectionHeaderItem (reference document.py:2834)."""
        item = {"label": SECTION_HEADER, "prov": [],
                "orig": orig if orig is not None else text, "text": text,
                "level": level}
        return self._insert(item, "texts", sibling, after)

    def insert_code(self, sibling: dict, text: str, code_language: Optional[str] = None,
                    orig: Optional[str] = None, after: bool = True) -> dict:
        """Insert a CodeItem (reference document.py:2728)."""
        item: dict[str, Any] = {
            "label": CODE, "prov": [], "orig": orig if orig is not None else text,
            "text": text, "captions": [], "references": [], "footnotes": [],
            "code_language": code_language if code_language else "unknown",
        }
        return self._insert(item, "texts", sibling, after)

    def insert_formula(self, sibling: dict, text: str, orig: Optional[str] = None,
                       after: bool = True) -> dict:
        """Insert a FormulaItem (reference document.py:2785)."""
        item = {"label": FORMULA, "prov": [], "orig": orig if orig is not None else text,
                "text": text}
        return self._insert(item, "texts", sibling, after)

    def insert_table(self, sibling: dict, data: dict, after: bool = True) -> dict:
        """Insert a TableItem (reference document.py:2587)."""
        item = {"label": TABLE, "prov": [], "captions": [], "references": [],
                "footnotes": [], "data": data}
        return self._insert(item, "tables", sibling, after)

    def insert_picture(self, sibling: dict, image: Optional[dict] = None,
                       after: bool = True) -> dict:
        """Insert a PictureItem (reference document.py:2634)."""
        item: dict[str, Any] = {"label": PICTURE, "prov": [], "captions": [],
                                "references": [], "footnotes": [], "annotations": []}
        if image is not None:
            item["image"] = image
        return self._insert(item, "pictures", sibling, after)

    def insert_key_values(self, sibling: dict, graph: dict, after: bool = True) -> dict:
        """Insert a KeyValueItem (reference document.py:2886)."""
        item = {"label": KEY_VALUE_REGION, "prov": [], "captions": [],
                "references": [], "footnotes": [], "graph": graph}
        return self._insert(item, "key_value_items", sibling, after)

    def insert_form(self, sibling: dict, graph: dict, after: bool = True) -> dict:
        """Insert a FormItem (reference document.py:2915)."""
        item = {"label": "form", "prov": [], "captions": [], "references": [],
                "footnotes": [], "graph": graph}
        return self._insert(item, "form_items", sibling, after)

    # ------------------------------------------------------------------
    # Bulk / range / cross-document operations (reference document.py:2948-3200)
    # ------------------------------------------------------------------

    def _append_item_copies(self, node_items: list[dict], parent: dict, src: "Doc") -> list[dict]:
        """Deep-copy items (with their subtrees, pre-order) from src into
        this document under parent; returns the new child refs.  Top-level
        refs are wired by _attach in order, matching the reference's
        append-then-link sequence."""
        import copy as _copy

        label_arrays = {
            GROUP_LIST: "groups", GROUP_ORDERED_LIST: "groups",
            GROUP_INLINE: "groups", GROUP_UNSPECIFIED: "groups",
            GROUP_FORM_AREA: "groups", TABLE: "tables",
            DOCUMENT_INDEX: "tables", PICTURE: "pictures",
            KEY_VALUE_REGION: "key_value_items", "form": "form_items",
            FIELD_REGION: "field_regions", FIELD_ITEM: "field_items",
        }
        refs = []
        for item in node_items:
            dup = _copy.deepcopy(item)
            kid_refs = dup.get("children") or []
            dup.pop("parent", None)
            dup["children"] = []
            # fresh items (no self_ref yet) land in the array their label implies
            sr = dup.pop("self_ref", None)
            array = ref_array(sr) if sr else label_arrays.get(item.get("label"), "texts")
            self._attach(array, dup, parent)
            kids = [src.resolve(r["$ref"]) for r in kid_refs]
            self._append_item_copies(kids, dup, src)
            refs.append({"$ref": dup["self_ref"]})
        return refs

    def add_node_items(self, node_items: list[dict], doc: "Doc",
                       parent: Optional[dict] = None) -> None:
        """Bulk-append copies of items (and subtrees) from doc under parent
        (reference document.py:3084)."""
        parent = parent if parent is not None else self.body
        if not is_list_group(parent):
            for item in node_items:
                if item.get("label") == LIST_ITEM:
                    raise ValueError("Cannot add ListItem into a non-ListGroup parent.")
        self._append_item_copies(node_items, parent, doc)

    def insert_node_items(self, sibling: dict, node_items: list[dict], doc: "Doc",
                          after: bool = True) -> None:
        """Bulk-insert copies of items at a sibling position
        (reference document.py:3117)."""
        parent = self.parent_of(sibling)
        if parent is None:
            raise ValueError("sibling has no parent")
        if not is_list_group(parent):
            for item in node_items:
                if item.get("label") == LIST_ITEM:
                    raise ValueError("Cannot insert ListItem into a non-ListGroup parent.")
        new_refs = self._append_item_copies(node_items, parent, doc)
        # _attach appended the refs at the end of parent.children; move them
        # to the sibling position, preserving order
        kids = parent["children"]
        del kids[len(kids) - len(new_refs):]
        idx = next(i for i, r in enumerate(kids) if r["$ref"] == sibling["self_ref"])
        pos = idx + (1 if after else 0)
        kids[pos:pos] = new_refs

    def add_document(self, doc: "Doc", parent: Optional[dict] = None) -> None:
        """Merge another document's body content under parent
        (reference document.py:3068)."""
        items = [doc.resolve(r["$ref"]) for r in doc.body.get("children", ())]
        self.add_node_items(items, doc, parent=parent)

    def insert_document(self, doc: "Doc", sibling: dict, after: bool = True) -> None:
        """Merge another document's body content at a sibling position
        (reference document.py:3050)."""
        items = [doc.resolve(r["$ref"]) for r in doc.body.get("children", ())]
        self.insert_node_items(sibling, items, doc, after=after)

    def _range_slice(self, start: dict, end: dict, start_inclusive: bool,
                     end_inclusive: bool) -> tuple[dict, list[dict]]:
        if start.get("parent") != end.get("parent"):
            raise ValueError("Start and end NodeItems must have the same parent")
        parent = self.parent_of(start) or self.body
        kids = parent.get("children", [])
        start_index = next(i for i, r in enumerate(kids) if r["$ref"] == start["self_ref"])
        end_index = next(i for i, r in enumerate(kids) if r["$ref"] == end["self_ref"])
        if start_index > end_index:
            raise ValueError(
                "Start NodeItem must come before or be the same as the end NodeItem"
            )
        refs = kids[start_index : end_index + 1]
        if not start_inclusive:
            refs = refs[1:]
        if not end_inclusive:
            refs = refs[:-1]
        return parent, list(refs)

    def delete_items_range(self, start: dict, end: dict, start_inclusive: bool = True,
                           end_inclusive: bool = True) -> None:
        """Delete a contiguous sibling range with subtrees
        (reference document.py:2948)."""
        from docling_core_spark.model.mutate import delete_items

        _, refs = self._range_slice(start, end, start_inclusive, end_inclusive)
        delete_items(self, [self.resolve(r["$ref"]) for r in refs])

    def extract_items_range(self, start: dict, end: dict, start_inclusive: bool = True,
                            end_inclusive: bool = True, delete: bool = False) -> "Doc":
        """Extract a contiguous sibling range into a new document
        (reference document.py:2994)."""
        _, refs = self._range_slice(start, end, start_inclusive, end_inclusive)
        new_doc = Doc(name=f"{self.name}- Extracted Range")
        new_doc.add_node_items([self.resolve(r["$ref"]) for r in refs], self)
        if delete:
            self.delete_items_range(start, end, start_inclusive, end_inclusive)
        return new_doc

    def add_page(self, page_no: int, width: float, height: float) -> dict:
        """Register a page (reference document.py:5049)."""
        page = {"size": {"width": width, "height": height}, "page_no": page_no}
        self.pages[str(page_no)] = page
        return page

    def page(self, page_no) -> Optional[dict]:
        """The page numbered ``page_no``, or None.  ``pages`` is keyed by
        str after JSON or :meth:`add_page`, by int in hand-built docs."""
        return self.pages.get(str(page_no)) or self.pages.get(page_no)

    # ------------------------------------------------------------------
    # Traversal (reference document.py:3235-3313)
    # ------------------------------------------------------------------

    def iterate_items(
        self,
        root: Optional[dict] = None,
        with_groups: bool = False,
        traverse_pictures: bool = False,
        page_nrs: Optional[set[int]] = None,
        included_content_layers: Optional[set[str]] = None,
    ) -> Iterator[tuple[dict, int]]:
        """Pre-order DFS in reading order, yielding (item, level).

        Semantics match reference iterate_items/_iterate_items_with_stack:
        groups only when with_groups; picture children skipped unless they are
        captions of the picture or traverse_pictures; page and layer filters
        apply to the *yield*, never prune the descent.
        """
        layers = included_content_layers if included_content_layers is not None else DEFAULT_CONTENT_LAYERS
        node = root if root is not None else self.body
        resolve = self.resolve

        # iterative pre-order DFS: recursive generators pay O(depth) per
        # yield through the `yield from` chain — this loop is the hottest
        # path of every serializer (profiled in the extract pipeline)
        stack: list[tuple[dict, int]] = [(node, 0)]
        group_arrays = _GROUP_ARRAYS | {BODY, FURNITURE}
        while stack:
            item, depth = stack.pop()
            arr = ref_array(item["self_ref"])
            grp = arr in group_arrays
            should_yield = (
                (not grp or with_groups)
                and (
                    grp
                    or page_nrs is None
                    or any(p.get("page_no") in page_nrs for p in item.get("prov", ()))
                )
                and content_layer(item) in layers
            )
            if should_yield:
                yield item, depth
            children = item.get("children", ())
            if not children:
                continue
            if not traverse_pictures and arr == "pictures":
                allowed = {r["$ref"] for r in item.get("captions", ())}
                kids = [resolve(r["$ref"]) for r in children if r["$ref"] in allowed]
            else:
                kids = [resolve(r["$ref"]) for r in children]
            next_depth = depth + 1
            for child in reversed(kids):
                stack.append((child, next_depth))

    @contextmanager
    def read_scope(self) -> Iterator["Doc"]:
        """Share read memos among the consumers run inside the block.

        Inside the scope, :meth:`memoized` keeps what it computes, so the
        formats and the chunker of one row walk the tree once per distinct
        (root, flags) and build each table grid once.  The doc must not be
        mutated inside the scope.  Outside one, every call computes afresh,
        so mutators need not know that memos exist.  A nested scope shares
        the outer scope's memos.
        """
        if self._memo is not None:
            yield self
            return
        self._memo = {}
        try:
            yield self
        finally:
            self._memo = None

    def memoized(self, key: tuple, compute: Callable[[], Any]) -> Any:
        """``compute()`` (never None), kept under ``key`` while a
        :meth:`read_scope` is open."""
        memo = self._memo
        if memo is None:
            return compute()
        out = memo.get(key)
        if out is None:
            out = memo[key] = compute()
        return out

    def iterate_items_cached(
        self,
        root: Optional[dict] = None,
        with_groups: bool = False,
        traverse_pictures: bool = False,
        included_content_layers: Optional[set[str]] = None,
    ) -> list[tuple[dict, int]]:
        """:meth:`iterate_items` as a list, for consumers that only read;
        shared per (root, flags, layers) inside a :meth:`read_scope`."""
        layers = frozenset(
            included_content_layers if included_content_layers is not None else DEFAULT_CONTENT_LAYERS
        )
        key = (
            "items",
            root["self_ref"] if root is not None else None,
            with_groups,
            traverse_pictures,
            layers,
        )
        return self.memoized(key, lambda: list(self.iterate_items(
            root=root,
            with_groups=with_groups,
            traverse_pictures=traverse_pictures,
            included_content_layers=layers,
        )))

    # ------------------------------------------------------------------
    # (De)serialization
    # ------------------------------------------------------------------

    @staticmethod
    def _normalize_refs(obj) -> None:
        """Accept RefItem dicts serialized by field name instead of alias.

        The reference RefItem declares ``cref: str = Field(alias="$ref")``
        with populate_by_name, so documents dumped without by_alias carry
        ``{"cref": ...}`` (e.g. the enriched-summary fixtures).  Normalize to
        the aliased form once at load; exports always use ``$ref``, matching
        the reference's by_alias dumps.
        """
        if isinstance(obj, dict):
            if "cref" in obj and "$ref" not in obj and isinstance(obj["cref"], str):
                obj["$ref"] = obj.pop("cref")
            for v in obj.values():
                if isinstance(v, (dict, list)):
                    Doc._normalize_refs(v)
        elif isinstance(obj, list):
            for v in obj:
                if isinstance(v, (dict, list)):
                    Doc._normalize_refs(v)

    @classmethod
    def from_dict(cls, d: dict) -> "Doc":
        """Build from a DoclingDocument JSON dict (schema version 1.x)."""
        cls._normalize_refs(d)
        # 1.0.0 docs predate content_layer: page headers/footers move to the
        # furniture layer on load (reference document.py:364-376), and the
        # document reports the current version after migration
        if d.get("version", "") == "1.0.0":
            for item in d.get("texts", ()):
                if item.get("label") in (PAGE_HEADER, PAGE_FOOTER):
                    item["content_layer"] = "furniture"
            d["version"] = CURRENT_VERSION
        doc = cls.__new__(cls)
        doc.schema_name = d.get("schema_name", "DoclingDocument")
        doc.version = d.get("version", CURRENT_VERSION)
        doc.name = d.get("name", "document")
        doc.origin = d.get("origin")
        if doc.origin and "binary_hash" in doc.origin:
            doc.origin["binary_hash"] = parse_binary_hash(doc.origin["binary_hash"])
        doc.body = d.get("body") or {"self_ref": "#/body", "children": [], "content_layer": "body"}
        doc.furniture = d.get("furniture") or {
            "self_ref": "#/furniture",
            "children": [],
            "content_layer": "furniture",
        }
        for arr in _ALL_ARRAYS:
            setattr(doc, arr, d.get(arr) or [])
        doc.pages = d.get("pages") or {}
        doc._memo = None
        doc.extra = {k: v for k, v in d.items() if k not in set(_ALL_ARRAYS) | {
            "schema_name", "version", "name", "origin", "body", "furniture", "pages"}}
        # patch deprecated ordered_list group label (reference group.py:33-37)
        for g in doc.groups:
            if g.get("label") == GROUP_ORDERED_LIST:
                g["label"] = GROUP_LIST
        # migrate deprecated `annotations` to `meta` (reference
        # picture.py:76-145, table.py:51-85): first instance of each kind
        for pic in doc.pictures:
            _migrate_picture_annotations(pic)
        for tbl in doc.tables:
            _migrate_table_annotations(tbl)
        doc._normalize_misplaced_list_items()
        return doc

    def _normalize_misplaced_list_items(self) -> None:
        """Wrap list items whose parent is not a ListGroup in on-the-fly list
        groups at load, consecutive items sharing one group (reference
        validate_misplaced_list_items, document.py:5188-5234; runs are
        processed in reverse, and items are re-added so their refs renumber)."""
        runs: list[list[dict]] = []
        prev: Optional[dict] = None
        for item, _ in self.iterate_items(
            traverse_pictures=True,
            included_content_layers=CONTENT_LAYERS,
            with_groups=True,
        ):
            if item.get("label") == LIST_ITEM:
                parent = self.parent_of(item)
                if parent is None or not is_list_group(parent):
                    prev_parent_is_body = prev is not None and (
                        prev.get("parent") is None
                        or self.parent_of(prev) is self.body
                    )
                    if (
                        runs
                        and prev is not None
                        and prev.get("label") == LIST_ITEM
                        and prev_parent_is_body
                    ):
                        runs[-1].append(item)
                    else:
                        runs.append([item])
            prev = item
        if not runs:
            return
        from docling_core_spark.model.mutate import delete_items, insert_sibling

        for run in reversed(runs):
            group = insert_sibling(
                self, {"label": GROUP_LIST, "name": "group"}, "groups", run[0], after=False
            )
            items = [dict(li) for li in run]
            delete_items(self, run)
            for li in items:
                self.add_list_item(
                    li.get("text", ""),
                    enumerated=li.get("enumerated", False),
                    marker=li.get("marker"),
                    orig=li.get("orig"),
                    prov=li["prov"][:1] if li.get("prov") else None,
                    parent=group,
                    content_layer=li.get("content_layer"),
                    formatting=li.get("formatting"),
                    hyperlink=li.get("hyperlink"),
                )

    @classmethod
    def from_json(cls, s: str | bytes) -> "Doc":
        """Parse from a DoclingDocument JSON string."""
        return cls.from_dict(json.loads(s))

    def to_dict(
        self,
        coord_precision: Optional[int] = None,
        confid_precision: Optional[int] = None,
    ) -> dict:
        """Export to a DoclingDocument-shaped dict (export_to_dict parity:
        by_alias, exclude_none -> we simply never store None fields).

        coord_precision rounds bbox coordinates and sizes, confid_precision
        rounds confidence fields — plain round(), like the reference's
        serialization-context field serializers (base.py:31-36).

        The doc is not changed: tables, texts with formatting and pictures
        with chart data are dumped as copies, every other item as the doc's
        own dict, so a caller that edits the result copies it first."""
        out: dict[str, Any] = {
            "schema_name": self.schema_name,
            "version": self.version,
            "name": self.name,
        }
        if self.origin is not None:
            out["origin"] = self.origin
        out["furniture"] = self.furniture
        out["body"] = self.body
        out["groups"] = self.groups
        out["texts"] = [_dump_text(t) for t in self.texts]
        out["pictures"] = [_dump_picture(p) for p in self.pictures]
        out["tables"] = [_dump_table(t) for t in self.tables]
        out["key_value_items"] = self.key_value_items
        out["form_items"] = self.form_items
        if self.field_regions:
            out["field_regions"] = self.field_regions
        if self.field_items:
            out["field_items"] = self.field_items
        out["pages"] = self.pages
        if coord_precision is not None or confid_precision is not None:
            import copy as _copy

            out = _copy.deepcopy(out)  # never mutate live model state
            _round_export_floats(out, coord_precision, confid_precision)
        return out

    def to_json(self) -> str:
        """Canonical JSON string."""
        return json.dumps(self.to_dict(), ensure_ascii=False)

    @classmethod
    def from_yaml(cls, s: str) -> "Doc":
        """Parse from a DoclingDocument YAML string (reference S3)."""
        import yaml

        return cls.from_dict(yaml.safe_load(s))

    def to_yaml(self) -> str:
        """YAML dump of the canonical dict (reference save_as_yaml)."""
        import yaml

        return yaml.safe_dump(self.to_dict(), allow_unicode=True, sort_keys=False)
