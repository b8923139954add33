"""Shared infrastructure for the code chunkers (C8).

The reference chunks Python/Java/C/JS/TS with tree-sitter
(reference code_chunking/_language_code_chunkers.py:416-989 _CodeChunker base,
_utils.py helpers); tree-sitter is not installable here, so this module
provides the minimal node surface those semantics need — a ``Node`` with
byte ranges / fields / named siblings, a ``Source`` byte-offset view, and a
C-family lexer — plus ``TreeChunker``, a faithful re-expression of the
reference base-class chunking pipeline over that surface, and
``CODE_CHUNKERS``, the one code_language -> chunker registry.  Per-language
parsers (code_chunker.py for Python on ast + tokenize, code_chunker_java.py,
code_chunker_c.py, code_chunker_jsts.py) build the declaration-level tree
and token classifications; byte parity is pinned by the reference
chunker_repo goldens.

Reference quirks preserved on purpose (encoded in the goldens):
- ``_build_imports`` always appends a trailing newline, so a chunk with no
  used imports still carries one blank line;
- JS/TS look for a body child of type "block" but the grammar names it
  "statement_block", so end_line_signature always equals end_line there;
- C docstrings concatenate consecutive preceding comments in *reverse*
  document order;
- the C function name comes from the declarator-of-declarator, so pointer
  return types leak the whole parameter list into part_name;
- orphan texts slice the unicode string with byte offsets.
"""

from __future__ import annotations

import hashlib
import importlib
from bisect import bisect_right
from typing import Any, Iterator, Optional

_SCHEMA_NAME = "docling_core.transforms.chunker.CodeDocMeta"
_VERSION = "1.0.0"
_DOC_ITEM_KEYS = ("self_ref", "parent", "children", "content_layer", "label", "prov")
_COPYRIGHT_WORDS = ("copyright", "license", "licensed under", "all rights reserved")

# code_language -> (module under docling_core_spark.functions, TreeChunker
# subclass), imported on first use (reference
# standard_code_chunking_strategy.py:29-35 _INNER_CHUNKERS_BY_LANG)
CODE_CHUNKERS = {
    "Python": ("code_chunker", "PythonChunker"),
    "TypeScript": ("code_chunker_jsts", "TsChunker"),
    "JavaScript": ("code_chunker_jsts", "JsChunker"),
    "C": ("code_chunker_c", "CChunker"),
    "Java": ("code_chunker_java", "JavaChunker"),
}


def chunker_class(language: Optional[str]) -> Optional[type]:
    """The TreeChunker subclass for a code_language, or None."""
    spec = CODE_CHUNKERS.get(language)
    if spec is None:
        return None
    module = importlib.import_module(f"docling_core_spark.functions.{spec[0]}")
    return getattr(module, spec[1])


def _sha(content: str) -> int:
    return int(hashlib.sha1(content.encode("utf-8")).hexdigest(), 16)


def code_meta(doc_item: Optional[dict], origin: Optional[dict], **fields: Any) -> dict:
    """CodeDocMeta of one chunk: schema, the projected doc item, the origin,
    then ``fields`` in order."""
    out = {"schema_name": _SCHEMA_NAME, "version": _VERSION}
    if doc_item is not None:
        out["doc_items"] = [{k: doc_item[k] for k in _DOC_ITEM_KEYS if k in doc_item}]
    if origin is not None:
        out["origin"] = origin
    out.update(fields)
    return out


# ---------------------------------------------------------------------------
# Source + Node
# ---------------------------------------------------------------------------


class Source:
    """Byte-offset view of a source file (tree-sitter points are byte-based)."""

    def __init__(self, code: str):
        self.code = code
        self.data = code.encode("utf-8")
        self.line_starts = [0]
        for i, b in enumerate(self.data):
            if b == 0x0A:
                self.line_starts.append(i + 1)

    def row_col(self, byte_off: int) -> tuple[int, int]:
        row = bisect_right(self.line_starts, byte_off) - 1
        return row, byte_off - self.line_starts[row]

    def text(self, start: int, end: int) -> str:
        return self.data[start:end].decode("utf-8")

    def to_str(self, start: int, end: int) -> str:
        """node text prefixed with start-column spaces, rstripped
        (reference _utils.py _to_str)."""
        _, col = self.row_col(start)
        return (" " * col + self.text(start, end)).rstrip()


class Node:
    """Declaration-level parse node mirroring the tree-sitter node surface."""

    __slots__ = ("type", "start", "end", "children", "parent", "index", "fields", "named")

    def __init__(self, type: str, start: int, end: int, named: bool = True):
        self.type = type
        self.start = start
        self.end = end
        self.children: list[Node] = []
        self.parent: Optional[Node] = None
        self.index = 0  # position in parent.children
        self.fields: dict[str, "Node"] = {}
        self.named = named

    def add(self, child: "Node", field: Optional[str] = None) -> "Node":
        child.parent = self
        child.index = len(self.children)
        self.children.append(child)
        if field:
            self.fields[field] = child
        return child

    def field(self, name: str) -> Optional["Node"]:
        return self.fields.get(name)

    @property
    def prev_sibling(self) -> Optional["Node"]:
        if self.parent is None or self.index == 0:
            return None
        return self.parent.children[self.index - 1]

    @property
    def prev_named_sibling(self) -> Optional["Node"]:
        n = self.prev_sibling
        while n is not None and not n.named:
            n = n.prev_sibling
        return n

    def walk(self) -> Iterator["Node"]:
        yield self
        for c in self.children:
            yield from c.walk()


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------


class Tok:
    __slots__ = ("kind", "start", "end", "text")

    def __init__(self, kind: str, start: int, end: int, text: str):
        self.kind = kind  # id num str comment block_comment punct regex
        self.start = start
        self.end = end
        self.text = text

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Tok({self.kind},{self.text!r})"


_ID_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_$")
_ID_CONT = _ID_START | set("0123456789")
# tokens after which a '/' starts a regex literal in JS/TS
_REGEX_PRECEDERS = {
    "(", ",", "=", ":", "[", "!", "&", "|", "?", "{", "}", ";", "+", "-",
    "*", "%", "<", ">", "^", "~", "=>", "...", "return", "typeof", "case",
    "in", "of", "instanceof", "new", "do", "else", "void", "delete", "throw",
    "&&", "||", "==", "===", "!=", "!==", ">=", "<=", "+=", "-=", "*=", "/=",
    "??", "?.",
}
_MULTI_PUNCT = (
    "===", "!==", "...", "**=", "<<=", ">>=", ">>>", "&&=", "||=", "??=",
    "=>", "->", "::", "==", "!=", "<=", ">=", "&&", "||", "++", "--",
    "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=", "<<", ">>", "??", "?.",
    "${",
)


def lex(code: str, *, js_regex: bool = False, templates: bool = False) -> list[Tok]:
    """Tokenize C-family source into identifiers / literals / comments /
    punctuation, preserving byte offsets.  Template literals (JS/TS) emit the
    literal fragments as 'str' tokens and the ``${...}`` interiors as real
    tokens so identifier usage inside interpolations is visible, as it is to
    tree-sitter."""
    data = code.encode("utf-8")
    n = len(data)
    toks: list[Tok] = []
    i = 0
    template_depth: list[int] = []  # brace depth at each open template

    def prev_significant() -> Optional[Tok]:
        for t in reversed(toks):
            if t.kind not in ("comment", "block_comment"):
                return t
        return None

    brace_depth = 0
    while i < n:
        b = data[i]
        ch = chr(b) if b < 128 else ""
        if ch in " \t\r\n\f\v":
            i += 1
            continue
        if ch == "/" and i + 1 < n:
            nxt = chr(data[i + 1])
            if nxt == "/":
                j = data.find(b"\n", i)
                j = n if j == -1 else j
                toks.append(Tok("comment", i, j, data[i:j].decode("utf-8")))
                i = j
                continue
            if nxt == "*":
                j = data.find(b"*/", i + 2)
                j = n if j == -1 else j + 2
                toks.append(Tok("block_comment", i, j, data[i:j].decode("utf-8")))
                i = j
                continue
            if js_regex:
                p = prev_significant()
                if p is None or (p.kind == "punct" and p.text in _REGEX_PRECEDERS) or (
                    p.kind == "id" and p.text in _REGEX_PRECEDERS
                ):
                    j = i + 1
                    in_class = False
                    while j < n:
                        cj = chr(data[j]) if data[j] < 128 else "?"
                        if cj == "\\":
                            j += 2
                            continue
                        if cj == "[":
                            in_class = True
                        elif cj == "]":
                            in_class = False
                        elif cj == "/" and not in_class:
                            j += 1
                            break
                        elif cj == "\n":
                            break
                        j += 1
                    while j < n and chr(data[j]) in "gimsuyd":
                        j += 1
                    toks.append(Tok("regex", i, j, data[i:j].decode("utf-8")))
                    i = j
                    continue
        if ch in "\"'":
            quote = b
            # Java text block / python-style triple quotes
            if data[i : i + 3] == bytes([quote, quote, quote]):
                j = data.find(bytes([quote] * 3), i + 3)
                j = n if j == -1 else j + 3
            else:
                j = i + 1
                while j < n:
                    if data[j] == 0x5C:  # backslash
                        j += 2
                        continue
                    if data[j] == quote or data[j] == 0x0A:
                        j += 1
                        break
                    j += 1
            toks.append(Tok("str", i, j, data[i:j].decode("utf-8", "replace")))
            i = j
            continue
        if templates and ch == "`":
            # template literal: fragments as str, ${ interiors as live tokens
            j = i + 1
            frag_start = i
            while j < n:
                cj = data[j]
                if cj == 0x5C:
                    j += 2
                    continue
                if cj == 0x60:  # closing backtick
                    j += 1
                    break
                if cj == 0x24 and j + 1 < n and data[j + 1] == 0x7B:  # ${
                    toks.append(
                        Tok("str", frag_start, j, data[frag_start:j].decode("utf-8", "replace"))
                    )
                    toks.append(Tok("punct", j, j + 2, "${"))
                    template_depth.append(brace_depth)
                    brace_depth += 1
                    i = j + 2
                    break
                j += 1
            else:
                j = n
            if template_depth and i == (toks[-1].end if toks else 0) and toks and toks[-1].text == "${":
                continue  # resume main loop inside interpolation
            toks.append(Tok("str", frag_start, j, data[frag_start:j].decode("utf-8", "replace")))
            i = j
            continue
        if ch == "}" and templates and template_depth and brace_depth - 1 == template_depth[-1]:
            # end of ${...}: re-enter template fragment scanning
            toks.append(Tok("punct", i, i + 1, "}"))
            brace_depth -= 1
            template_depth.pop()
            j = i + 1
            frag_start = j
            while j < n:
                cj = data[j]
                if cj == 0x5C:
                    j += 2
                    continue
                if cj == 0x60:
                    j += 1
                    break
                if cj == 0x24 and j + 1 < n and data[j + 1] == 0x7B:
                    toks.append(
                        Tok("str", frag_start, j, data[frag_start:j].decode("utf-8", "replace"))
                    )
                    toks.append(Tok("punct", j, j + 2, "${"))
                    template_depth.append(brace_depth)
                    brace_depth += 1
                    frag_start = -1
                    i = j + 2
                    break
                j += 1
            else:
                j = n
            if frag_start == -1:
                continue
            toks.append(Tok("str", frag_start, j, data[frag_start:j].decode("utf-8", "replace")))
            i = j
            continue
        if ch in _ID_START or b >= 128:
            j = i + 1
            while j < n and (chr(data[j]) in _ID_CONT if data[j] < 128 else True):
                j += 1
            toks.append(Tok("id", i, j, data[i:j].decode("utf-8")))
            i = j
            continue
        if ch.isdigit() or (ch == "." and i + 1 < n and chr(data[i + 1]).isdigit()):
            j = i + 1
            while j < n and (chr(data[j]) in _ID_CONT or chr(data[j]) in ".+-" and chr(data[j - 1]) in "eEpP"):
                j += 1
            toks.append(Tok("num", i, j, data[i:j].decode("utf-8")))
            i = j
            continue
        # punctuation (multi-char first)
        for m in _MULTI_PUNCT:
            if data[i : i + len(m)] == m.encode():
                toks.append(Tok("punct", i, i + len(m), m))
                i += len(m)
                break
        else:
            if ch == "{":
                brace_depth += 1
            elif ch == "}":
                brace_depth -= 1
            toks.append(Tok("punct", i, i + 1, ch))
            i += 1
    return toks


def skip_balanced(toks: list[Tok], i: int, open_: str, close: str) -> int:
    """Index just past the bracket pair opening at toks[i].

    For brace pairs, template-interpolation openers ("${") count as "{" —
    the lexer emits their closers as plain "}"."""
    depth = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "punct":
            if t.text == open_ or (open_ == "{" and t.text == "${"):
                depth += 1
            elif t.text == close:
                depth -= 1
                if depth == 0:
                    return i + 1
            elif open_ == "<" and t.text in (">>", ">>>"):
                depth -= len(t.text)
                if depth <= 0:
                    return i + 1
        i += 1
    return i


def merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    if not ranges:
        return []
    merged: list[tuple[int, int]] = []
    for start, end in sorted(ranges):
        if not merged or start > merged[-1][1]:
            merged.append((start, end))
        else:
            merged[-1] = (merged[-1][0], max(merged[-1][1], end))
    return merged


def find_gaps(ranges: list[tuple[int, int]], total: int) -> list[tuple[int, int]]:
    gaps = []
    last_end = 0
    for start, end in merge_ranges(ranges):
        if last_end < start:
            gaps.append((last_end, start))
        last_end = end
    if last_end < total:
        gaps.append((last_end, total))
    return gaps


def _split_large_chunk(
    chunk: dict,
    tokenizer,
    max_tokens: int,
    min_chunk_size: int,
    prefix: str = "\n\t",
    suffix: str = "",
) -> Iterator[dict]:
    """Oversize fallback (reference _ChunkSizeProcessor; Python prefix '\\n\\t'
    with empty suffix, brace languages ' {' with '\\n}')."""
    if chunk["meta"]["chunk_type"] in ("function", "method"):
        lines = chunk["text"].split("\n")
        signature_line = ""
        body_start = 0
        for i, line in enumerate(lines):
            if line.strip():
                signature_line = line
                body_start = i + 1
                break
        body_lines = lines[body_start:]
        if not signature_line or not body_lines:
            yield chunk
            return
        if body_lines and body_lines[-1].strip() == "}":
            body_lines = body_lines[:-1]
        pieces = []
        current = [f"{signature_line}{prefix}"]
        size = 0
        for line in body_lines:
            line_tokens = tokenizer.count_tokens(line)
            if size + line_tokens > max_tokens and len(current) > 1:
                pieces.append("".join(current) + suffix)
                current = [f"{signature_line}{prefix}"]
                size = 0
            current.append(line)
            size += line_tokens
        if current:
            pieces.append("".join(current) + suffix)
        if len(pieces) > 1:
            last = pieces.pop()
            if tokenizer.count_tokens(last) < min_chunk_size:
                # QUIRK: the reference rstrip/lstrips with *char sets*
                stripped = pieces[-1].rstrip(suffix) if suffix else pieces[-1]
                pieces[-1] = stripped + "\n" + last.lstrip(signature_line + prefix)
            else:
                pieces.append(last)
        for i, text in enumerate(pieces):
            if not text.strip():
                continue
            new_meta = dict(chunk["meta"])
            if len(pieces) > 1:
                new_meta["part_name"] = f"{chunk['meta']['part_name']}_part_{i + 1}"
            yield {"text": text, "meta": new_meta}
    else:
        lines = chunk["text"].split("\n")
        current: list[str] = []
        size = 0
        number = 1
        for line in lines:
            line_tokens = tokenizer.count_tokens(line)
            if size + line_tokens > max_tokens and current:
                text = "\n".join(current)
                if tokenizer.count_tokens(text) >= min_chunk_size:
                    new_meta = dict(chunk["meta"])
                    new_meta["part_name"] = f"{chunk['meta'].get('part_name')}_part_{number}"
                    yield {"text": text, "meta": new_meta}
                    number += 1
                current = [line]
                size = line_tokens
            else:
                current.append(line)
                size += line_tokens
        if current:
            text = "\n".join(current)
            if tokenizer.count_tokens(text) >= min_chunk_size:
                new_meta = dict(chunk["meta"])
                new_meta["part_name"] = f"{chunk['meta'].get('part_name')}_part_{number}"
                yield {"text": text, "meta": new_meta}


# ---------------------------------------------------------------------------
# Generic chunker (reference _CodeChunker semantics over Node)
# ---------------------------------------------------------------------------


class TreeChunker:
    """Language-agnostic chunking pipeline.

    Subclasses supply ``parse`` (tree + counted identifier tokens) and the
    import/variable/name hooks; this class re-expresses the reference
    pipeline: copyright marking, function collection with the parent-type
    stop, per-function import/context assembly, method-less class chunks,
    orphan preamble, and token-budget splitting."""

    function_definition_types: tuple = ()
    class_definition_types: tuple = ()
    constructor_name: str = ""
    decorator_type: str = ""
    function_body_type: str = "block"
    docs_types: tuple = ("comment", "block_comment")
    expression_types: tuple = ()
    chunk_prefix: str = " {"
    chunk_suffix: str = "\n}"
    class_body_field: str = "body"
    name_field: str = "name"
    source_type: type = Source

    def __init__(self, code: str):
        self.src = self.source_type(code)
        self.root = self.parse(code)
        # list[(name, start_byte)] of identifier tokens that tree-sitter
        # would type as one of the language's counted identifier kinds
        self.idents: list[tuple[str, int]] = self.collect_idents()
        self._ident_starts = [s for _, s in self.idents]
        self._class_contexts: dict[Node, tuple[str, str]] = {}

    @classmethod
    def chunk_code(
        cls,
        code: str,
        *,
        doc_item: Optional[dict] = None,
        origin: Optional[dict] = None,
        tokenizer: Optional[Any] = None,
        max_tokens: int = 5000,
        min_chunk_size: int = 300,
    ) -> Iterator[dict]:
        """Chunk one source file; yields CodeChunk-shaped dicts (nothing for
        a blank file)."""
        if not code.strip():
            return
        yield from cls(code).chunk(
            doc_item=doc_item,
            origin=origin,
            tokenizer=tokenizer,
            max_tokens=max_tokens,
            min_chunk_size=min_chunk_size,
        )

    # -- language hooks -------------------------------------------------------

    def parse(self, code: str) -> Node:
        raise NotImplementedError

    def collect_idents(self) -> list[tuple[str, int]]:
        raise NotImplementedError

    def get_imports(self) -> dict[str, Node]:
        return {}

    def get_module_variables(self) -> dict[str, Node]:
        return {}

    def function_name(self, node: Node) -> Optional[str]:
        name = node.field(self.name_field)
        return self.src.text(name.start, name.end) if name is not None else None

    def file_prefix(self) -> tuple[str, list[tuple[int, int]]]:
        return "", []

    def find_used_variables(self, func: Node) -> set:
        return set()

    def variable_text(self, var_node: Node) -> str:
        """Text of a used module-variable definition (C macros: node only)."""
        return self.src.to_str(var_node.start, var_node.end)

    # -- shared helpers -------------------------------------------------------

    def to_str(self, node: Node) -> str:
        return self.src.to_str(node.start, node.end)

    def idents_in(self, start: int, end: int, skip: frozenset = frozenset()) -> set[str]:
        """Identifiers starting in [start, end), except those at ``skip``."""
        lo = bisect_right(self._ident_starts, start - 1)
        out = set()
        for i in range(lo, len(self.idents)):
            name, pos = self.idents[i]
            if pos >= end:
                break
            if pos not in skip:
                out.add(name)
        return out

    def is_docstring(self, node: Node) -> bool:
        return node.type in self.docs_types

    def get_docstring(self, node: Node) -> str:
        sib = node.prev_named_sibling
        if sib is not None and sib.type in self.docs_types:
            return self.src.text(sib.start, sib.end)
        return ""

    def comment_anchor(self, node: Node) -> Node:
        """The node whose preceding sibling comments belong to ``node``."""
        return node

    def top_level_comments(self) -> list[tuple[int, int]]:
        """Byte ranges of the top-level comments (a copyright notice among
        them is never orphaned)."""
        return [(n.start, n.end) for n in self.root.children if n.type in self.docs_types]

    def preceding_comment_ranges(self, node: Node) -> list[tuple[int, int]]:
        """Ranges of consecutive preceding same-level comments + the node."""
        ranges = []
        cur = self.comment_anchor(node).prev_sibling
        while cur is not None and cur.type in self.docs_types:
            ranges.append((cur.start, cur.end))
            cur = cur.prev_sibling
        ranges.append((node.start, node.end))
        return ranges

    def node_with_comments(self, node: Node) -> str:
        parts: list[str] = []
        cur = self.comment_anchor(node).prev_sibling
        while cur is not None and cur.type in self.docs_types:
            parts.insert(0, self.to_str(cur))
            cur = cur.prev_sibling
        if parts:
            return "".join(parts) + "\n" + self.to_str(node)
        return self.to_str(node)

    # -- collection ------------------------------------------------------------

    def is_constructor(self, node: Node) -> bool:
        if node is None or node.type not in self.function_definition_types:
            return False
        name = node.field(self.name_field)
        if name is None:
            return False
        return self.src.text(name.start, name.end) == self.constructor_name

    def is_collectable(self, node: Node) -> bool:
        name = self.function_name(node)
        if not name:
            return False
        return name != self.constructor_name

    def _is_only_function_in_class(self, ctor: Node) -> bool:
        cls = ctor.parent
        while cls is not None and cls.type not in self.class_definition_types:
            cls = cls.parent
        if cls is None:
            return False
        body = cls.field(self.class_body_field)
        if body is None:
            return False
        return not any(
            c.type in self.function_definition_types and c is not ctor
            for c in body.children
        )

    def all_functions(self, node: Node, parent_type: str) -> list[Node]:
        if node is None or parent_type in self.function_definition_types:
            return []
        nodes = []
        if node.type in self.function_definition_types:
            if self.is_collectable(node):
                nodes.append(node)
            elif self.is_constructor(node) and self._is_only_function_in_class(node):
                nodes.append(node)
        for child in node.children:
            nodes.extend(self.all_functions(child, node.type))
        return nodes

    def classes_no_methods(self, node: Node, parent_type: str) -> list[Node]:
        def has_methods(cls: Node) -> bool:
            return any(
                c.type in self.function_definition_types
                or any(g.type in self.function_definition_types for g in c.children)
                for c in cls.children
            )

        if node is None or parent_type in self.class_definition_types:
            return []
        nodes = []
        if node.type in self.class_definition_types and not has_methods(node):
            nodes.append(node)
        for child in node.children:
            nodes.extend(self.classes_no_methods(child, node.type))
        return nodes

    # -- imports ---------------------------------------------------------------

    def glob_imports(self, imports: dict[str, Node]) -> tuple[set, set]:
        """Names of the imports that go into every chunk (a ``*`` in the
        name), and their texts; computed once per file."""
        names = {name for name in imports if "*" in name}
        return names, {self.node_with_comments(imports[name]) for name in names}

    def build_imports(
        self, imports: dict[str, Node], globs: tuple[set, set], func: Node, context: str
    ) -> str:
        used = {
            n for n in self.idents_in(func.start, func.end) if n in imports
        }
        if context:
            for name in imports:
                if name in context:
                    used.add(name)
        set_imports = set(globs[1])
        for u in used:
            set_imports.add(self.node_with_comments(imports[u]))
        return "\n".join(sorted(set_imports)) + "\n"

    def used_import_names(
        self,
        imports: dict[str, Node],
        globs: tuple[set, set],
        func: Node,
        context: str = "",
        module_variables: Optional[dict[str, Node]] = None,
    ) -> set:
        used = {n for n in self.idents_in(func.start, func.end) if n in imports}
        if context:
            for name in imports:
                if name in context:
                    used.add(name)
        if module_variables:
            for var_name in self.find_used_variables(func):
                if var_name in module_variables:
                    var_node = module_variables[var_name]
                    used |= {
                        n
                        for n in self.idents_in(var_node.start, var_node.end)
                        if n in imports
                    }
        return used | globs[0]

    # -- context ---------------------------------------------------------------

    def build_function(self, node: Node) -> str:
        if node.parent is not None and node.parent.type == self.decorator_type:
            node = node.parent
        return self.to_str(node)

    def function_signature_end(self, node: Node) -> int:
        body = next(
            (c for c in node.children if c.type == self.function_body_type), None
        )
        return body.start if body is not None else node.end

    def build_class_context(self, cls: Node) -> tuple[str, str]:
        class_indent = self.src.row_col(cls.start)[1]
        start_byte = cls.start
        if cls.parent is not None and cls.parent.type == self.decorator_type:
            start_byte = cls.parent.start
            class_indent = self.src.row_col(start_byte)[1]
        body = cls.field(self.class_body_field)
        if body is None:
            return "", ""
        header_text = self.src.text(start_byte, body.start).rstrip()
        header = f"{' ' * class_indent}{header_text}\n"
        docstring = self.get_docstring(cls)
        header_with_doc = (
            f"{header}{' ' * (class_indent + 4)}{docstring}\n" if docstring else header
        )
        fields = [
            self.to_str(c)
            for c in body.children
            if c.type in self.expression_types and not self.is_docstring(c)
        ]
        fields_text = "\n".join(fields)
        ctor = self.find_constructor(body)
        if ctor is not None:
            ctor_doc = self.get_docstring(ctor)
            ctor_text = self.build_function(ctor)
            ctor_text_no_doc = ctor_text.replace(ctor_doc, "") if ctor_doc else ctor_text
        else:
            ctor_text = ctor_text_no_doc = ""
        with_doc = f"{header_with_doc}\n{fields_text}\n{ctor_text}".strip()
        without_doc = f"{header}\n{fields_text}\n{ctor_text_no_doc}".strip()
        return with_doc, without_doc

    def find_constructor(self, body: Node) -> Optional[Node]:
        for child in body.children:
            definition = child.field("definition")
            if self.is_constructor(child) or (
                child.type == self.decorator_type
                and definition is not None
                and self.is_constructor(definition)
            ):
                return child
        return None

    def class_context(self, cls: Node) -> tuple[str, str]:
        """build_class_context, computed once per class: every method of a
        class reads the same context."""
        ctx = self._class_contexts.get(cls)
        if ctx is None:
            ctx = self._class_contexts[cls] = self.build_class_context(cls)
        return ctx

    def build_additional_context(self, func: Node) -> tuple[str, str]:
        context = ""
        context_no_doc = ""
        node = func
        while node.parent is not None:
            if node.type in self.class_definition_types:
                with_doc, without_doc = self.class_context(node)
                context = f"{with_doc}\n{context}"
                context_no_doc = f"{without_doc}\n{context_no_doc}"
            node = node.parent
        return context, context_no_doc

    def class_member_ranges(self, cls: Node) -> list[tuple[int, int]]:
        return []

    # -- pipeline ----------------------------------------------------------------

    def chunk(
        self,
        *,
        doc_item: Optional[dict] = None,
        origin: Optional[dict] = None,
        tokenizer: Optional[Any] = None,
        max_tokens: int = 5000,
        min_chunk_size: int = 300,
    ) -> Iterator[dict]:
        src = self.src
        code = src.code
        imports = self.get_imports()
        globs = self.glob_imports(imports)
        module_vars = self.get_module_variables()
        prefix, prefix_range = self.file_prefix()
        used_ranges: list[tuple[int, int]] = []

        def meta(**kw) -> dict:
            return code_meta(doc_item, origin, **kw)

        # copyright comments at top level are never orphaned
        for start, end in self.top_level_comments():
            text = self.src.text(start, end).lower()
            if any(w in text for w in _COPYRIGHT_WORDS):
                used_ranges.append((start, end))

        all_chunks: list[dict] = []

        for func in self.all_functions(self.root, ""):
            docstring = self.get_docstring(func)
            context, context_no_doc = self.build_additional_context(func)
            imports_text = self.build_imports(imports, globs, func, context_no_doc)
            start_row = src.row_col(func.start)[0]
            end_row = src.row_col(func.end)[0]
            sig_row = src.row_col(self.function_signature_end(func))[0]
            name = self.function_name(func) or "unknown_function"

            chunk_ranges: list[tuple[int, int]] = [(func.start, func.end)]
            if imports_text:
                for imp_name in sorted(
                    self.used_import_names(imports, globs, func, context_no_doc, module_vars)
                ):
                    if imp_name in imports:
                        chunk_ranges.extend(
                            self.preceding_comment_ranges(imports[imp_name])
                        )
            if prefix:
                chunk_ranges.extend(prefix_range)
            if context:
                cur = func
                while cur.parent is not None:
                    if cur.parent.type in self.class_definition_types:
                        chunk_ranges.append((cur.parent.start, cur.parent.end))
                        chunk_ranges.extend(self.class_member_ranges(cur.parent))
                        break
                    cur = cur.parent

            module_variable_definitions = ""
            if module_vars:
                for var_name in sorted(self.find_used_variables(func)):
                    if var_name in module_vars:
                        var_node = module_vars[var_name]
                        chunk_ranges.extend(self.preceding_comment_ranges(var_node))
                        module_variable_definitions += self.variable_text(var_node) + "\n"

            function_content = self.build_function(func)
            function_no_doc = (
                function_content.replace(docstring, "") if docstring else function_content
            )
            content = (
                f"{prefix}{imports_text}{module_variable_definitions}"
                f"{context_no_doc}{function_no_doc}"
            )
            all_chunks.append(
                {
                    "text": content,
                    "meta": meta(
                        part_name=name,
                        docstring=docstring,
                        sha256=_sha(content),
                        start_line=start_row,
                        end_line=end_row,
                        end_line_signature=sig_row,
                        chunk_type="function",
                    ),
                }
            )
            used_ranges.extend(chunk_ranges)

        # constructors that were not chunked still claim their module variables
        if module_vars:
            for node in self.root.walk():
                if (
                    node.type in self.function_definition_types
                    and self.is_constructor(node)
                    and not self._is_only_function_in_class(node)
                ):
                    for var_name in self.find_used_variables(node):
                        if var_name in module_vars:
                            v = module_vars[var_name]
                            used_ranges.append((v.start, v.end))

        for cls in self.classes_no_methods(self.root, ""):
            docstring = self.get_docstring(cls)
            class_text = self.node_with_comments(cls)
            imports_text = self.build_imports(imports, globs, cls, class_text)
            start_row = src.row_col(cls.start)[0]
            end_row = src.row_col(cls.end)[0]
            name = self.function_name(cls) or "unknown_class"

            chunk_ranges = self.preceding_comment_ranges(cls)
            if imports_text:
                for imp_name in sorted(
                    self.used_import_names(imports, globs, cls, class_text, None)
                ):
                    if imp_name in imports:
                        chunk_ranges.extend(
                            self.preceding_comment_ranges(imports[imp_name])
                        )
            if prefix:
                chunk_ranges.extend(prefix_range)

            class_no_doc = class_text.replace(docstring, "") if docstring else class_text
            content = f"{prefix}{imports_text}{class_no_doc}"
            all_chunks.append(
                {
                    "text": content,
                    "meta": meta(
                        part_name=name,
                        docstring=docstring,
                        sha256=_sha(content),
                        start_line=start_row,
                        end_line=end_row,
                        end_line_signature=end_row,
                        chunk_type="class",
                    ),
                }
            )
            used_ranges.extend(chunk_ranges)

        # preamble from orphan gaps
        # QUIRK: the reference slices the unicode string with byte offsets
        gaps = find_gaps(used_ranges, len(code))
        orphan_pieces = []
        for start, end in gaps:
            text = code[start:end].strip()
            if text:
                orphan_pieces.append((text, start, end))
        if orphan_pieces:
            merged = "\n\n".join(p[0] for p in orphan_pieces)
            first_start, last_end = orphan_pieces[0][1], orphan_pieces[-1][2]
            start_line = code[:first_start].count("\n") + 1
            if 0 < last_end <= len(code):
                end_line = code[:last_end].count("\n") + 1
                if last_end < len(code) and code[last_end - 1] == "\n":
                    end_line -= 1
            else:
                end_line = start_line
            all_chunks.append(
                {
                    "text": merged,
                    "meta": meta(
                        sha256=_sha(merged),
                        start_line=start_line,
                        end_line=end_line,
                        chunk_type="preamble",
                    ),
                }
            )

        if tokenizer is None:
            from docling_core_spark.functions.chunkers import RegexTokenizer

            tokenizer = RegexTokenizer(max_tokens)
        for chunk in all_chunks:
            if tokenizer.count_tokens(chunk["text"]) <= max_tokens:
                yield chunk
            else:
                yield from _split_large_chunk(
                    chunk,
                    tokenizer,
                    max_tokens,
                    min_chunk_size,
                    prefix=self.chunk_prefix,
                    suffix=self.chunk_suffix,
                )
