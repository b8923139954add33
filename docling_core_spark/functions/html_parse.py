"""HTML -> Doc parsing (main-content extraction).

Built from scratch on stdlib ``html.parser`` (no lxml/bs4 in the runtime).
docling-core itself has NO HTML parser (that lives in the sibling `docling`
repo) — this module is the "brand-new extraction pipeline" part of the build:
it turns Common-Crawl-style page HTML into the dict document model of
:mod:`docling_core_spark.model.doc`, which then flows through the serializers
and chunkers.

Frozen conventions (determinism contract — every Spark run and the
single-process oracle produce identical trees):

- reading order = document order of the HTML byte stream
- h1 -> TitleItem; h2..h6 -> SectionHeaderItem level 1..5
- p / blockquote / standalone text -> TextItem(label=text)
- ul/ol -> ListGroup; li -> ListItem (ol: enumerated, marker "N.")
- table -> TableItem (th -> column_header; rowspan/colspan honored)
- pre -> CodeItem
- img -> PictureItem; <figure>/<figcaption> -> picture + caption
- nav/header/footer/aside -> items on content_layer "furniture"
- script/style/template/noscript/iframe/svg/head(除 title) -> dropped
- inline tags (a b strong i em u s del sub sup span code br) are flattened
  into the enclosing block's text; a block wholly wrapped in <a href> gets a
  hyperlink; wholly-bold/italic blocks get formatting flags
- whitespace: runs collapsed to single space, blocks stripped
- provenance: page_no=1, charspan = [0, len(text)], bbox zeroed (web pages
  have no layout geometry)
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Optional

from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

_WS_RE = re.compile(r"\s+")

_DROP_TAGS = frozenset(
    {"script", "style", "template", "noscript", "iframe", "svg", "canvas", "object", "embed"}
)
_FURNITURE_TAGS = frozenset({"nav", "header", "footer", "aside"})
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_INLINE_TAGS = frozenset(
    {"a", "b", "strong", "i", "em", "u", "s", "del", "strike", "sub", "sup", "span", "code",
     "abbr", "cite", "q", "small", "mark", "time", "bdi", "bdo", "kbd", "samp", "var", "wbr",
     "font", "big", "tt"}
)
_BLOCK_CONTAINER_TAGS = frozenset(
    {"div", "section", "article", "main", "body", "html", "form", "fieldset", "details",
     "summary", "dl", "dt", "dd", "address", "center", "hgroup", "figure"}
)
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col", "embed",
     "param", "source", "track", "wbr"}
)


# Fast tag tokenization: the stdlib parse_starttag walks
# check_for_whole_start_tag + tagfind_tolerant + an attrfind_tolerant loop +
# unescape per tag (~10% of row time).  The overwhelming majority of crawl
# tags are trivially well-formed; one strict regex recognizes exactly those
# and anything else falls back to HTMLParser's tolerant machinery, so the
# fast path is parity-safe BY CONSTRUCTION: a match is unambiguous and its
# CPython interpretation is (lowered tag, [(lowered name, literal value)...])
# with no entity refs to unescape (the value class excludes '&').
_FAST_START_RE = re.compile(
    r'<([a-zA-Z][a-zA-Z0-9]*)'
    r'((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*=(?:"[^"<>&]*"|\'[^\'<>&]*\'))*)'
    r"\s*>"
)
_FAST_ATTR_RE = re.compile(r'([a-zA-Z_:][-a-zA-Z0-9_:.]*)=(?:"([^"]*)"|\'([^\']*)\')')


def _fast_attrs(raw: str) -> list:
    """(lowered name, unquoted value) pairs for a fast-path attr string.
    Single- and double-quoted values are equally unambiguous when the value
    class excludes & < > (no entity refs to unescape); the stdlib strips
    either quote style the same way."""
    return [
        (a.lower(), dq if dq else sq)
        for a, dq, sq in _FAST_ATTR_RE.findall(raw)
    ]
_FAST_END_RE = re.compile(r"</([a-zA-Z][a-zA-Z0-9]*)\s*>")


def _norm(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


def _prov(text: str) -> list[dict]:
    return [
        {
            "page_no": 1,
            "bbox": {"l": 0.0, "t": 0.0, "r": 0.0, "b": 0.0, "coord_origin": "TOPLEFT"},
            "charspan": [0, len(text)],
        }
    ]


class _Cell:
    __slots__ = ("text", "rowspan", "colspan", "is_header")

    def __init__(self) -> None:
        self.text: list[str] = []
        self.rowspan = 1
        self.colspan = 1
        self.is_header = False


class FastTagParserMixin:
    """HTMLParser speedups shared by every HTML consumer in the repo (the
    extract parser below and the boilerplate segmenter) so the two
    first-mile readers of a page can never drift apart on tag handling.

    - updatepos: ParserBase tracks (lineno, offset) by scanning every
      consumed segment for newlines — ~13% of parse time at sf0.1 —
      purely to serve getpos(), which these parsers never read.
    - parse_starttag/parse_endtag: strict-match fast path (see
      _FAST_START_RE): one regex + one attr findall replaces the stdlib's
      four-regex tolerant walk.  script/style defer to the stdlib path for
      cdata-mode setup; anything not strictly well-formed (self-closing,
      unquoted or entity-bearing attrs, bogus markup) falls back too, so
      the fast path is parity-safe by construction."""

    def updatepos(self, i: int, j: int) -> int:
        return j

    def parse_starttag(self, i: int) -> int:
        m = _FAST_START_RE.match(self.rawdata, i)
        if m is None:
            return super().parse_starttag(i)
        tag = m.group(1)
        tag = tag.lower() if not tag.islower() else tag
        if tag in self.CDATA_CONTENT_ELEMENTS:
            return super().parse_starttag(i)
        self.lasttag = tag
        raw_attrs = m.group(2)
        attrs = _fast_attrs(raw_attrs) if raw_attrs else []
        self.handle_starttag(tag, attrs)
        return m.end()

    def parse_endtag(self, i: int) -> int:
        if self.cdata_elem is not None:
            # inside <script>/<style>: the stdlib path owns cdata-mode exit
            return super().parse_endtag(i)
        m = _FAST_END_RE.match(self.rawdata, i)
        if m is None:
            return super().parse_endtag(i)
        tag = m.group(1)
        self.handle_endtag(tag.lower() if not tag.islower() else tag)
        return m.end()


class _DocHTMLParser(FastTagParserMixin, HTMLParser):
    """Streaming DOM walk building a Doc in document order."""

    def __init__(self, doc: Doc, main_content_only: bool = True):
        super().__init__(convert_charrefs=True)
        self.doc = doc
        self.main_content_only = main_content_only
        # element context
        self.drop_depth = 0
        self.furniture_depth = 0
        self.in_title = False
        self.title_text: list[str] = []
        # inline text accumulation for the current block
        self.block_tag: Optional[str] = None
        self.block_text: list[str] = []
        # open inline tag -> how many are open (only tags with >= 1 are
        # keys); only membership is ever read, so a count per tag stands in
        # for a stack that unclosed tags would grow without bound
        self.block_fmt_open: dict[str, int] = {}
        self.block_link: Optional[str] = None
        self.block_all_linked = True
        self.block_started_with_link = False
        # wholly-formatted-block detection: True until non-space text appears
        # outside the corresponding inline tag
        self.block_all_bold = True
        self.block_all_italic = True
        self.block_has_text = False
        # list nesting: stack of (group_item, ordered, item_counter)
        self.list_stack: list[list] = []
        # pending list item accumulation
        self.li_text: list[str] = []
        self.li_open = False
        # table state (stack-based: nested layout tables flatten into the
        # enclosing cell's text)
        self.table_rows: Optional[list[list[_Cell]]] = None
        self.cur_row: Optional[list[_Cell]] = None
        self.cur_cell: Optional[_Cell] = None
        self.table_caption: list[str] = []
        self.in_table_caption = False
        self.table_stack: list[tuple] = []
        # figure state
        self.figure_depth = 0
        self.figcaption_text: list[str] = []
        self.in_figcaption = False
        self.pending_imgs: list[dict] = []
        # pre/code
        self.in_pre = False
        self.pre_text: list[str] = []

    # -- helpers -----------------------------------------------------------

    def _layer(self) -> Optional[str]:
        return "furniture" if self.furniture_depth > 0 else None

    def _parent(self) -> Optional[dict]:
        if self.list_stack:
            return self.list_stack[-1][0]
        return None

    def _flush_block(self) -> None:
        """Emit the accumulated inline text as a block item."""
        if self.cur_cell is not None or self.in_pre:
            return
        text = _norm("".join(self.block_text))
        tag = self.block_tag
        self.block_text = []
        self.block_tag = None
        link = self.block_link if self.block_all_linked else None
        formatting = None
        if self.block_has_text and (self.block_all_bold or self.block_all_italic):
            formatting = {}
            if self.block_all_bold:
                formatting["bold"] = True
            if self.block_all_italic:
                formatting["italic"] = True
        self.block_link = None
        self.block_all_linked = True
        self.block_started_with_link = False
        self.block_all_bold = True
        self.block_all_italic = True
        self.block_has_text = False
        if not text:
            return
        if self.main_content_only and self.furniture_depth > 0:
            # boilerplate strip: drop nav/header/footer/aside content entirely
            return
        layer = self._layer()
        if self.in_table_caption:
            self.table_caption.append(text)
            return
        if self.in_figcaption:
            self.figcaption_text.append(text)
            return
        if self.li_open:
            self.li_text.append(text)
            return
        kw = dict(parent=self._parent(), prov=_prov(text), content_layer=layer)
        if link:
            kw["hyperlink"] = link
        if formatting:
            kw["formatting"] = formatting
        if tag == "h1":
            self.doc.add_title(text, **kw)
        elif tag in _HEADING_TAGS:
            self.doc.add_heading(text, level=int(tag[1]) - 1, **kw)
        else:
            self.doc.add_text(M.TEXT, text, **kw)

    def _flush_li(self) -> None:
        if not self.li_open:
            return
        text = _norm(" ".join(self.li_text))
        self.li_text = []
        self.li_open = False
        if not self.list_stack:
            return
        group, ordered, counter = self.list_stack[-1]
        if self.main_content_only and self.furniture_depth > 0:
            return
        if text:
            self.list_stack[-1][2] = counter + 1
            marker = f"{counter + 1}." if ordered else "-"
            self.doc.add_list_item(
                text,
                enumerated=ordered,
                marker=marker,
                parent=group,
                prov=_prov(text),
                content_layer=self._layer(),
            )

    # -- tag handlers --------------------------------------------------------

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if self.drop_depth > 0:
            if tag not in _VOID_TAGS:
                self.drop_depth += 1
            return
        if tag in _DROP_TAGS:
            # void drop tags (<embed>) never get an end tag: skip them without
            # entering drop mode, or everything after them would be dropped
            if tag not in _VOID_TAGS:
                self.drop_depth = 1
            return
        if tag in _FURNITURE_TAGS:
            self._flush_block()
            self.furniture_depth += 1
            return
        if tag == "title":
            self.in_title = True
            return
        if tag == "pre":
            self._flush_block()
            self.in_pre = True
            self.pre_text = []
            return
        if self.in_pre:
            return
        if tag in _HEADING_TAGS or tag == "p" or tag == "blockquote":
            self._flush_block()
            self._flush_li()
            self.block_tag = tag if tag in _HEADING_TAGS else None
            return
        if tag == "br":
            self.block_text.append(" ")
            return
        if tag == "hr":
            self._flush_block()
            return
        if tag in ("ul", "ol"):
            self._flush_block()
            if self.li_open:
                # nested list inside an open <li>: emit the li text first
                self._flush_li()
            parent = self._parent()
            if not (self.main_content_only and self.furniture_depth > 0):
                group = self.doc.add_list_group(parent=parent)
                if self.furniture_depth > 0:
                    group["content_layer"] = "furniture"
            else:
                group = None
            self.list_stack.append([group, tag == "ol", 0])
            return
        if tag == "li":
            self._flush_block()
            self._flush_li()
            self.li_open = True
            return
        if tag == "table":
            self._flush_block()
            if self.table_rows is not None:
                # nested table: park the outer state, flatten inner on close
                self.table_stack.append(
                    (self.table_rows, self.cur_row, self.cur_cell, self.table_caption, self.in_table_caption)
                )
            self.table_rows = []
            self.cur_row = None
            self.cur_cell = None
            self.table_caption = []
            self.in_table_caption = False
            return
        if self.table_rows is not None:
            if tag == "caption":
                self.in_table_caption = True
                return
            if tag == "tr":
                self.cur_row = []
                self.table_rows.append(self.cur_row)
                return
            if tag in ("td", "th"):
                if self.cur_row is None:
                    self.cur_row = []
                    self.table_rows.append(self.cur_row)
                cell = _Cell()
                cell.is_header = tag == "th"
                amap = dict(attrs)
                try:
                    cell.rowspan = max(1, int(amap.get("rowspan", 1)))
                except (TypeError, ValueError):
                    cell.rowspan = 1
                try:
                    cell.colspan = max(1, int(amap.get("colspan", 1)))
                except (TypeError, ValueError):
                    cell.colspan = 1
                self.cur_row.append(cell)
                self.cur_cell = cell
                return
            if tag in ("thead", "tbody", "tfoot", "colgroup", "col"):
                return
        if tag == "figure":
            self._flush_block()
            self.figure_depth += 1
            self.figcaption_text = []
            self.pending_imgs = []
            return
        if tag == "figcaption":
            self._flush_block()
            self.in_figcaption = True
            return
        if tag == "img":
            if self.main_content_only and self.furniture_depth > 0:
                return
            amap = dict(attrs)
            if self.cur_cell is not None:
                alt = _norm(amap.get("alt") or "")
                if alt:
                    self.cur_cell.text.append(alt)
                return
            pic = {"_alt": _norm(amap.get("alt") or "")}
            if self.figure_depth > 0:
                self.pending_imgs.append(pic)
            else:
                self._emit_picture(pic, caption=None)
            return
        if tag == "a":
            href = dict(attrs).get("href")
            if not self.block_text and not self.li_text:
                self.block_started_with_link = True
                self.block_link = href
            self.block_fmt_open["a"] = self.block_fmt_open.get("a", 0) + 1
            return
        if tag in _INLINE_TAGS:
            # void inline tags (<wbr>) never get an end tag: counting them
            # would leave them open and leak formatting into later blocks
            if tag not in _VOID_TAGS:
                self.block_fmt_open[tag] = self.block_fmt_open.get(tag, 0) + 1
            return
        if tag in _BLOCK_CONTAINER_TAGS:
            self._flush_block()
            return
        # unknown tags: treat as transparent containers

    def handle_endtag(self, tag: str) -> None:
        if self.drop_depth > 0:
            if tag not in _VOID_TAGS:
                self.drop_depth -= 1
            return
        if tag in _FURNITURE_TAGS:
            self._flush_block()
            self._flush_li()
            if self.furniture_depth > 0:
                self.furniture_depth -= 1
            return
        if tag == "title":
            self.in_title = False
            return
        if tag == "pre":
            self._emit_pre()
            return
        if self.in_pre:
            return
        if tag in _HEADING_TAGS or tag == "p" or tag == "blockquote":
            self._flush_block()
            return
        if tag in ("ul", "ol"):
            self._flush_block()
            self._flush_li()
            if self.list_stack:
                self.list_stack.pop()
            return
        if tag == "li":
            self._flush_block()
            self._flush_li()
            return
        if self.table_rows is not None:
            if tag == "caption":
                self.in_table_caption = False
                return
            if tag == "tr":
                self.cur_row = None
                return
            if tag in ("td", "th"):
                self.cur_cell = None
                return
            if tag == "table":
                if self.table_stack:
                    inner_rows = self.table_rows or []
                    flat = _norm(
                        " ".join("".join(c.text) for row in inner_rows for c in row)
                    )
                    (
                        self.table_rows,
                        self.cur_row,
                        self.cur_cell,
                        self.table_caption,
                        self.in_table_caption,
                    ) = self.table_stack.pop()
                    if self.cur_cell is not None and flat:
                        self.cur_cell.text.append(" " + flat + " ")
                else:
                    self._emit_table()
                return
        if tag == "figure":
            self._flush_block()
            self.in_figcaption = False
            self._emit_figure()
            if self.figure_depth > 0:
                self.figure_depth -= 1
            return
        if tag == "figcaption":
            self._flush_block()
            self.in_figcaption = False
            return
        if tag == "a" or tag in _INLINE_TAGS:
            # close a matching open tag only (not a blind pop): stray end
            # tags in malformed HTML must not strip an unrelated open format
            n = self.block_fmt_open.get(tag, 0)
            if n > 1:
                self.block_fmt_open[tag] = n - 1
            elif n == 1:
                del self.block_fmt_open[tag]
            return
        if tag in _BLOCK_CONTAINER_TAGS:
            self._flush_block()
            return

    def handle_data(self, data: str) -> None:
        if self.drop_depth > 0:
            return
        if self.in_title:
            self.title_text.append(data)
            return
        if self.in_pre:
            self.pre_text.append(data)
            return
        if self.cur_cell is not None:
            self.cur_cell.text.append(data)
            return
        if data and not data.isspace():
            self.block_has_text = True
            fmt = self.block_fmt_open
            if "a" not in fmt:
                # text outside any <a> means the block is not wholly hyperlinked
                self.block_all_linked = False
            if "b" not in fmt and "strong" not in fmt:
                self.block_all_bold = False
            if "i" not in fmt and "em" not in fmt:
                self.block_all_italic = False
        if self.li_open:
            self.li_text.append(data)
        else:
            self.block_text.append(data)

    # -- emitters -----------------------------------------------------------

    def _emit_pre(self) -> None:
        self.in_pre = False
        text = "".join(self.pre_text).strip("\n")
        self.pre_text = []
        if self.main_content_only and self.furniture_depth > 0:
            return
        if text:
            self.doc.add_code(text, parent=self._parent(), prov=_prov(text), content_layer=self._layer())

    def _emit_picture(self, pic: dict, caption: Optional[dict]) -> None:
        self.doc.add_picture(caption=caption, parent=self._parent(), prov=_prov(""))

    def _emit_figure(self) -> None:
        cap_text = _norm(" ".join(self.figcaption_text))
        self.figcaption_text = []
        if self.main_content_only and self.furniture_depth > 0:
            self.pending_imgs = []
            return
        caption_item = None
        if cap_text:
            caption_item = self.doc.add_text(M.CAPTION, cap_text, prov=_prov(cap_text), content_layer=self._layer())
            # caption items are wired to the picture, not the body tree
            # (add_text just appended it as body's last child):
            self.doc.body["children"].pop()
            caption_item["parent"] = None
        imgs = self.pending_imgs or [{}]
        self.pending_imgs = []
        for i, _pic in enumerate(imgs):
            pic_item = self.doc.add_picture(parent=self._parent(), prov=_prov(""))
            if caption_item is not None and i == 0:
                pic_item["captions"].append({"$ref": caption_item["self_ref"]})
                caption_item["parent"] = {"$ref": pic_item["self_ref"]}
                pic_item["children"].append({"$ref": caption_item["self_ref"]})

    def _emit_table(self) -> None:
        rows = self.table_rows or []
        self.table_rows = None
        self.cur_row = None
        self.cur_cell = None
        cap_text = _norm(" ".join(self.table_caption))
        self.table_caption = []
        if self.main_content_only and self.furniture_depth > 0:
            return
        if not rows:
            return
        # resolve row/colspans into offset-interval cells
        occupied: set[tuple[int, int]] = set()
        cells: list[dict] = []
        num_cols = 0
        r = 0
        for row in rows:
            c = 0
            for cell in row:
                while (r, c) in occupied:
                    c += 1
                text = _norm("".join(cell.text))
                cells.append(
                    {
                        "row_span": cell.rowspan,
                        "col_span": cell.colspan,
                        "start_row_offset_idx": r,
                        "end_row_offset_idx": r + cell.rowspan,
                        "start_col_offset_idx": c,
                        "end_col_offset_idx": c + cell.colspan,
                        "text": text,
                        "column_header": cell.is_header and r == 0,
                        "row_header": cell.is_header and r > 0 and c == 0,
                        "row_section": False,
                    }
                )
                for rr in range(r, r + cell.rowspan):
                    for cc in range(c, c + cell.colspan):
                        occupied.add((rr, cc))
                c += cell.colspan
            num_cols = max(num_cols, c)
            r += 1
        num_rows = max((cell["end_row_offset_idx"] for cell in cells), default=0)
        caption_item = None
        if cap_text:
            caption_item = self.doc.add_text(M.CAPTION, cap_text, prov=_prov(cap_text), content_layer=self._layer())
            self.doc.body["children"].pop()  # wired to the table below
        tbl = self.doc.add_table(
            data={"table_cells": cells, "num_rows": num_rows, "num_cols": num_cols},
            parent=self._parent(),
            prov=_prov(""),
        )
        if self.furniture_depth > 0:
            tbl["content_layer"] = "furniture"
        if caption_item is not None:
            tbl["captions"].append({"$ref": caption_item["self_ref"]})
            caption_item["parent"] = {"$ref": tbl["self_ref"]}
            tbl["children"].append({"$ref": caption_item["self_ref"]})

    def finish(self) -> None:
        """Flush any trailing open block."""
        self._flush_block()
        self._flush_li()
        if self.table_rows is not None:
            self._emit_table()
        if self.in_pre:
            self._emit_pre()


# WHATWG encoding-label -> python codec for the labels that matter on the
# open web; legacy single-byte western labels map to cp1252 per the spec
_CHARSET_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "us-ascii": "cp1252", "ascii": "cp1252", "latin-1": "cp1252",
    "latin1": "cp1252", "iso-8859-1": "cp1252", "iso8859-1": "cp1252",
    "l1": "cp1252", "windows-1252": "cp1252", "cp1252": "cp1252",
    "x-user-defined": "cp1252",
    "iso-8859-2": "iso8859-2", "iso-8859-5": "iso8859-5",
    "iso-8859-7": "iso8859-7", "iso-8859-9": "cp1254",
    "iso-8859-15": "iso8859-15",
    "windows-1250": "cp1250", "windows-1251": "cp1251",
    "windows-1253": "cp1253", "windows-1254": "cp1254",
    "windows-1256": "cp1256", "koi8-r": "koi8-r", "koi8-u": "koi8-u",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc-jp", "iso-2022-jp": "iso2022_jp",
    "gbk": "gbk", "gb2312": "gbk", "gb18030": "gb18030", "big5": "big5",
    "euc-kr": "euc-kr",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}

_META_TAG_RE = re.compile(rb"<meta\b([^>]*)>", re.IGNORECASE)
_ATTR_RE = re.compile(
    rb"""([a-zA-Z][a-zA-Z0-9_\-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s"'>]+)"""
)
_CONTENT_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)


def _meta_charset_label(head: bytes) -> Optional[str]:
    """The first meta-declared charset label, per the WHATWG prescan:
    a ``charset`` ATTRIBUTE, or the ``content`` attribute of an
    http-equiv=content-type meta — never 'charset=' text inside an
    unrelated attribute value (e.g. a description mentioning encodings)."""
    for m in _META_TAG_RE.finditer(head):
        attrs = {}
        for name, val in _ATTR_RE.findall(m.group(1)):
            v = val.strip(b"\"'")
            attrs.setdefault(name.lower(), v)
        if b"charset" in attrs:
            return attrs[b"charset"].decode("ascii", "replace").strip().lower()
        if (
            attrs.get(b"http-equiv", b"").lower() == b"content-type"
            and b"content" in attrs
        ):
            c = _CONTENT_CHARSET_RE.search(attrs[b"content"])
            if c:
                return c.group(1).decode("ascii", "replace").strip().lower()
    return None


def sniff_encoding(data: bytes) -> str:
    """WHATWG-style encoding sniff: BOM, then a <meta charset> /
    http-equiv content-type prescan of the first 1024 bytes, else utf-8.

    Returns a python codec name.  Unknown labels fall back to utf-8 —
    with errors="replace" downstream that is the web-scale total-function
    contract (a mislabeled page degrades, never fails a task)."""
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # python's utf-16 codec reads and strips the BOM
    label = _meta_charset_label(data[:1024])
    if label:
        codec = _CHARSET_LABELS.get(label, "utf-8")
        # WHATWG: a meta-declared UTF-16 is treated as UTF-8 — the meta tag
        # was readable as ASCII bytes, which proves the stream is not UTF-16
        if codec.startswith("utf-16"):
            return "utf-8"
        return codec
    return "utf-8"


def decode_html_bytes(data: bytes) -> str:
    """html:binary -> str via the sniffed encoding (total function)."""
    codec = sniff_encoding(bytes(data))
    try:
        return bytes(data).decode(codec, errors="replace")
    except (LookupError, ValueError):  # defensive: codec table drift
        return bytes(data).decode("utf-8", errors="replace")


def parse_html(html: str | bytes, name: str = "document", main_content_only: bool = True) -> Doc:
    """Parse page HTML into a Doc (main-content extraction).

    main_content_only=True drops nav/header/footer/aside subtrees entirely
    (boilerplate strip); False keeps them on the furniture content layer.
    Bytes input is decoded via the WHATWG-style charset sniff (BOM ->
    <meta charset> -> utf-8), errors replaced — the html:binary column of
    the input table decodes per page, never per corpus.
    """
    if isinstance(html, (bytes, bytearray)):
        html = decode_html_bytes(html)
    doc = Doc(name=name)
    parser = _DocHTMLParser(doc, main_content_only=main_content_only)
    try:
        parser.feed(html)
        parser.close()
    finally:
        parser.finish()
    if parser.title_text:
        title = _norm(" ".join(parser.title_text))
        if title:
            doc.name = title
    doc.add_page(1, 612.0, 792.0)
    return doc
