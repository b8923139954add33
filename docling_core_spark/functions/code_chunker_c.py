"""C code chunker (C8) on a hand-rolled declaration parser.

Re-expresses the reference ``_CFunctionChunker``
(code_chunking/_language_code_chunkers.py:1200-1339) without tree-sitter:
a token/byte-level parser builds the declaration tree (preprocessor
directives and conditional containers, declarations with nested
declarators, typedefs, struct specifiers, function definitions, comments)
and code_tree.TreeChunker runs the shared pipeline.  Byte parity is pinned
by test/data/chunker_repo/C/repo_out_chunks.json.

Reference quirks preserved on purpose (the golden encodes them):
- the function name comes from the declarator-of-declarator, so pointer
  return types put the whole parameter list into part_name;
- a global ``type *var = init;`` is keyed "*var", and any key containing
  '*' acts as a glob import included in every chunk;
- object-like macros are BOTH imports (with preceding comments) and module
  variables (bare), so a used macro's text appears twice in a chunk;
- docstrings concatenate consecutive preceding comments in reverse
  document order;
- trailing same-line comments are siblings and become the *next*
  declaration's "preceding comment".
"""

from __future__ import annotations

from typing import Optional

from docling_core_spark.functions.code_tree import (
    Node,
    TreeChunker,
    lex,
    skip_balanced,
)

_C_KEYWORDS = frozenset(
    """auto break case char const continue default do double else enum extern
    float for goto if inline int long register restrict return short signed
    sizeof static struct switch typedef union unsigned void volatile while
    _Bool _Complex _Atomic _Alignas _Alignof _Generic _Noreturn _Static_assert
    _Thread_local""".split()
)

# tree-sitter-c lexes these as primitive_type, not identifier
_C_PRIMITIVES = frozenset(
    """bool size_t ssize_t ptrdiff_t intptr_t uintptr_t charptr_t intmax_t
    uintmax_t wchar_t char8_t char16_t char32_t max_align_t
    int8_t int16_t int32_t int64_t uint8_t uint16_t uint32_t uint64_t
    int_fast8_t int_fast16_t int_fast32_t int_fast64_t
    int_least8_t int_least16_t int_least32_t int_least64_t
    uint_fast8_t uint_fast16_t uint_fast32_t uint_fast64_t
    uint_least8_t uint_least16_t uint_least32_t uint_least64_t""".split()
)

_TAG_KEYWORDS = ("struct", "union", "enum")


class CChunker(TreeChunker):
    """Reference _CFunctionChunker semantics (knobs at
    _language_code_chunkers.py:1200-1221)."""

    function_definition_types = ("function_definition",)
    class_definition_types = ("",)
    constructor_name = ""
    decorator_type = "__no_decorator__"
    function_body_type = "compound_statement"
    docs_types = ("comment", "block_comment")
    chunk_prefix = " {"
    chunk_suffix = "\n}"
    struct_types = ("struct_specifier", "preproc_def", "preproc_function_def")

    # -- parsing ---------------------------------------------------------------

    def parse(self, code: str) -> Node:
        self.toks = lex(code)
        self._directive_spans: list[tuple[int, int, str]] = []  # for ident rules
        root = Node("translation_unit", 0, len(self.src.data))
        self._parse_items(root, 0, len(self.toks), in_cond=False)
        return root

    def _line_start(self, tok) -> bool:
        data = self.src.data
        i = tok.start - 1
        while i >= 0 and data[i] in (0x20, 0x09):
            i -= 1
        return i < 0 or data[i] == 0x0A

    def _directive_end(self, start: int) -> int:
        """Byte just past the directive line (incl. newline), honouring
        backslash continuations."""
        data = self.src.data
        i = start
        while True:
            j = data.find(b"\n", i)
            if j == -1:
                return len(data)
            k = j - 1
            if k >= 0 and data[k] == 0x0D:
                k -= 1
            if k >= 0 and data[k] == 0x5C:  # backslash continuation
                i = j + 1
                continue
            return j + 1

    def _tok_at_or_after(self, i: int, byte: int) -> int:
        while i < len(self.toks) and self.toks[i].start < byte:
            i += 1
        return i

    def _parse_items(self, parent: Node, i: int, hi: int, in_cond: bool) -> int:
        toks = self.toks
        while i < hi:
            t = toks[i]
            if t.kind == "comment":
                parent.add(Node("comment", t.start, t.end))
                i += 1
                continue
            if t.kind == "block_comment":
                parent.add(Node("block_comment", t.start, t.end))
                i += 1
                continue
            if t.kind == "punct" and t.text == "#" and self._line_start(t):
                kw = toks[i + 1].text if i + 1 < hi else ""
                if in_cond and kw in ("endif", "else", "elif"):
                    return i
                i = self._parse_directive(parent, i, hi)
                continue
            if t.kind == "punct" and t.text in (";", "}", ")"):
                i += 1
                continue
            i = self._parse_declaration(parent, i, hi)
        return i

    def _parse_directive(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        start = toks[i].start
        kw = toks[i + 1].text if i + 1 < hi else ""
        end_byte = self._directive_end(start)

        if kw in ("if", "ifdef", "ifndef"):
            typ = "preproc_if" if kw == "if" else "preproc_ifdef"
            node = parent.add(Node(typ, start, end_byte))
            node.add(Node("preproc_line", start, end_byte, named=False))
            self._directive_spans.append((start, end_byte, kw))
            j = self._tok_at_or_after(i, end_byte)
            while True:
                j = self._parse_items(node, j, hi, in_cond=True)
                if j >= hi:
                    # unterminated conditional: close at the last token
                    node.end = toks[hi - 1].end if hi else end_byte
                    return j
                sub_kw = toks[j + 1].text if j + 1 < hi else ""
                sub_end = self._directive_end(toks[j].start)
                self._directive_spans.append((toks[j].start, sub_end, sub_kw))
                if sub_kw == "endif":
                    node.end = toks[j + 1].end
                    node.add(Node("preproc_line", toks[j].start, toks[j + 1].end, named=False))
                    return self._tok_at_or_after(j, toks[j + 1].end)
                node.add(Node("preproc_line", toks[j].start, sub_end, named=False))
                j = self._tok_at_or_after(j, sub_end)

        self._directive_spans.append((start, end_byte, kw))
        if kw == "define":
            name_i = i + 2
            if name_i < hi and toks[name_i].kind == "id":
                name_tok = toks[name_i]
                func_like = (
                    name_tok.end < len(self.src.data)
                    and self.src.data[name_tok.end] == 0x28  # '(' with no space
                )
                typ = "preproc_function_def" if func_like else "preproc_def"
                node = parent.add(Node(typ, start, end_byte))
                node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
            else:
                parent.add(Node("preproc_call", start, end_byte))
        elif kw == "include":
            parent.add(Node("preproc_include", start, end_byte))
        else:
            parent.add(Node("preproc_call", start, end_byte))
        return self._tok_at_or_after(i, end_byte)

    def _parse_declaration(self, parent: Node, i: int, hi: int) -> int:
        """One top-level declaration / typedef / function definition."""
        toks = self.toks
        start_tok = i
        is_typedef = toks[i].kind == "id" and toks[i].text == "typedef"
        struct_refs: list[tuple[int, int, int]] = []  # (kw_idx, name_idx, end_idx)
        func_group: Optional[tuple[int, int]] = None  # (name_idx, close_idx)
        eq_idx: Optional[int] = None
        body_open: Optional[int] = None

        j = i
        while j < hi:
            t = toks[j]
            if t.kind in ("comment", "block_comment"):
                j += 1
                continue
            if t.kind == "punct" and t.text == "#" and self._line_start(t):
                # conditional line inside a declaration: skip the line
                end_byte = self._directive_end(t.start)
                self._directive_spans.append((t.start, end_byte, self.toks[j + 1].text if j + 1 < hi else ""))
                j = self._tok_at_or_after(j, end_byte)
                continue
            if t.kind == "id" and t.text in _TAG_KEYWORDS:
                name_idx = -1
                k = j + 1
                if k < hi and toks[k].kind == "id" and toks[k].text not in _C_KEYWORDS:
                    name_idx = k
                    k += 1
                if k < hi and toks[k].kind == "punct" and toks[k].text == "{":
                    k = skip_balanced(toks, k, "{", "}")
                if t.text == "struct" and name_idx >= 0:
                    struct_refs.append((j, name_idx, k - 1))
                j = k
                continue
            if t.kind == "punct":
                if t.text == "(":
                    prev = self._prev_significant(j, start_tok)
                    if (
                        eq_idx is None
                        and func_group is None
                        and prev is not None
                        and toks[prev].kind == "id"
                        and toks[prev].text not in _C_KEYWORDS
                        and toks[prev].text not in _C_PRIMITIVES
                    ):
                        close = skip_balanced(toks, j, "(", ")")
                        func_group = (prev, close - 1)
                        j = close
                        continue
                    j = skip_balanced(toks, j, "(", ")")
                    continue
                if t.text == "[":
                    j = skip_balanced(toks, j, "[", "]")
                    continue
                if t.text == "{":
                    if eq_idx is not None:
                        j = skip_balanced(toks, j, "{", "}")
                        continue
                    prev = self._prev_significant(j, start_tok)
                    if func_group is not None and prev is not None and toks[prev].text == ")":
                        body_open = j
                        break
                    j = skip_balanced(toks, j, "{", "}")
                    continue
                if t.text == "=":
                    eq_idx = j
                    j += 1
                    continue
                if t.text == ";":
                    break
            j += 1
        if j >= hi:
            j = hi - 1

        start = toks[start_tok].start
        if body_open is not None:
            close = skip_balanced(toks, body_open, "{", "}")
            node = parent.add(Node("function_definition", start, toks[close - 1].end))
            self._add_struct_children(node, struct_refs)
            decl = self._build_declarator(node, func_group, None, body_open)
            if decl is not None:
                node.fields["declarator"] = decl
            node.add(
                Node("compound_statement", toks[body_open].start, toks[close - 1].end)
            )
            return close

        end_tok = toks[min(j, hi - 1)]
        if is_typedef:
            node = parent.add(Node("type_definition", start, end_tok.end))
            if struct_refs:
                kw_i, name_i, end_i = struct_refs[0]
                spec = self._add_struct_children(node, struct_refs)[0]
                node.fields["type"] = spec
            elif start_tok + 1 < hi:
                # leading type tokens after 'typedef'
                k = start_tok + 1
                t_start = k
                while k < hi and (
                    (toks[k].kind == "id" and (toks[k].text in _C_KEYWORDS or toks[k].text in _C_PRIMITIVES))
                    or (toks[k].kind == "id" and k == t_start)
                ):
                    k += 1
                t_end = min(max(k - 1, t_start), hi - 1)
                node.fields["type"] = node.add(
                    Node("primitive_type", toks[t_start].start, toks[t_end].end)
                )
            return j + 1

        node = parent.add(Node("declaration", start, end_tok.end))
        self._add_struct_children(node, struct_refs)
        decl = self._build_declarator(node, func_group, eq_idx, j)
        if decl is not None:
            node.fields["declarator"] = decl
        return j + 1

    def _prev_significant(self, j: int, lo: int) -> Optional[int]:
        k = j - 1
        while k >= lo:
            if self.toks[k].kind not in ("comment", "block_comment"):
                return k
            k -= 1
        return None

    def _add_struct_children(
        self, node: Node, refs: list[tuple[int, int, int]]
    ) -> list[Node]:
        toks = self.toks
        out = []
        for kw_i, name_i, end_i in refs:
            spec = node.add(
                Node("struct_specifier", toks[kw_i].start, toks[end_i].end)
            )
            spec.add(Node("identifier", toks[name_i].start, toks[name_i].end), field="name")
            out.append(spec)
        return out

    def _build_declarator(
        self,
        owner: Node,
        func_group: Optional[tuple[int, int]],
        eq_idx: Optional[int],
        end_idx: int,
    ) -> Optional[Node]:
        """Declarator chain: identifier, array/function wrap, pointer wraps,
        init_declarator wrap — mirroring the tree-sitter nesting the
        reference unwraps one level of."""
        toks = self.toks

        def pointer_wrap(inner: Node, name_idx: int) -> Node:
            stars = []
            k = name_idx - 1
            while k >= 0 and toks[k].kind == "punct" and toks[k].text == "*":
                stars.append(k)
                k -= 1
            for s in stars:  # nearest star innermost
                wrap = Node("pointer_declarator", toks[s].start, inner.end)
                wrap.add(inner, field="declarator")
                inner = wrap
            return inner

        if func_group is not None:
            name_i, close_i = func_group
            ident = Node("identifier", toks[name_i].start, toks[name_i].end)
            fd = Node("function_declarator", toks[name_i].start, toks[close_i].end)
            fd.add(ident, field="declarator")
            return pointer_wrap(fd, name_i)

        # plain / array / init declarator: identifier before '=' or ';'
        stop = eq_idx if eq_idx is not None else end_idx
        k = stop - 1
        while k >= 0 and self.toks[k].kind in ("comment", "block_comment"):
            k -= 1
        arr_end = None
        while k >= 0 and toks[k].kind == "punct" and toks[k].text == "]":
            # walk back over one or more [..] groups
            depth = 0
            if arr_end is None:
                arr_end = k
            while k >= 0:
                if toks[k].kind == "punct":
                    if toks[k].text == "]":
                        depth += 1
                    elif toks[k].text == "[":
                        depth -= 1
                        if depth == 0:
                            break
                k -= 1
            k -= 1
        if k < 0 or toks[k].kind != "id" or toks[k].text in _C_KEYWORDS:
            return None
        name_i = k
        ident = Node("identifier", toks[name_i].start, toks[name_i].end)
        inner: Node = ident
        if arr_end is not None:
            ad = Node("array_declarator", toks[name_i].start, toks[arr_end].end)
            ad.add(ident, field="declarator")
            inner = ad
        inner = pointer_wrap(inner, name_i)
        if eq_idx is not None:
            val_end = end_idx - 1
            while val_end > eq_idx and toks[val_end].kind in ("comment", "block_comment"):
                val_end -= 1
            init = Node("init_declarator", inner.start, toks[val_end].end)
            init.add(inner, field="declarator")
            return init
        return inner

    # -- identifier classification ----------------------------------------------

    def collect_idents(self) -> list[tuple[str, int]]:
        toks = self.toks
        directive_spans = sorted((s, e, k) for s, e, k in self._directive_spans)
        di = 0
        out: list[tuple[str, int]] = []
        for idx, t in enumerate(toks):
            if t.kind != "id" or t.text in _C_KEYWORDS or t.text in _C_PRIMITIVES:
                continue
            while di < len(directive_spans) and directive_spans[di][1] <= t.start:
                di += 1
            if di < len(directive_spans) and directive_spans[di][0] <= t.start:
                # inside a directive line
                d_start, d_end, d_kw = directive_spans[di]
                if d_kw == "include":
                    continue
                if d_kw == "define":
                    # only the macro name and its parameter list count;
                    # the replacement text is an opaque preproc_arg
                    k = self._first_id_in(d_start)
                    if k is None:
                        continue
                    if idx == k:
                        out.append((t.text, t.start))
                    elif (
                        self.src.data[toks[k].end : toks[k].end + 1] == b"("
                        and t.start < self._params_end(k)
                    ):
                        out.append((t.text, t.start))
                    continue
                if d_kw in ("if", "elif", "ifdef", "ifndef", "undef"):
                    if t.text != "defined":
                        out.append((t.text, t.start))
                    continue
                continue
            prev = toks[idx - 1] if idx > 0 else None
            nxt = toks[idx + 1] if idx + 1 < len(toks) else None
            if prev is not None and prev.kind == "punct" and prev.text in (".", "->"):
                continue  # field_identifier
            if prev is not None and prev.kind == "id" and prev.text in _TAG_KEYWORDS:
                continue  # struct/union/enum tag -> type_identifier
            if prev is not None and prev.kind == "id" and prev.text == "goto":
                continue  # statement_identifier
            if nxt is not None and (
                (nxt.kind == "id" and nxt.text not in _C_KEYWORDS)
                or (
                    nxt.kind == "punct"
                    and nxt.text == "*"
                    and idx + 2 < len(toks)
                    and (
                        toks[idx + 2].kind == "id"
                        or toks[idx + 2].text in (")", "*", ",")
                    )
                    and (
                        prev is None
                        or (prev.kind == "punct" and prev.text in ("(", ",", ";", "{", "}"))
                        or (prev.kind == "id" and prev.text in _C_KEYWORDS)
                    )
                )
            ):
                # type position -> type_identifier
                continue
            out.append((t.text, t.start))
        return out

    def _first_id_in(self, d_start: int) -> Optional[int]:
        from bisect import bisect_left

        starts = getattr(self, "_tok_starts", None)
        if starts is None:
            starts = self._tok_starts = [t.start for t in self.toks]
        i = bisect_left(starts, d_start)
        # skip '#' and the directive keyword
        while i < len(self.toks) and self.toks[i].kind != "id":
            i += 1
        i += 1  # past 'define'
        while i < len(self.toks) and self.toks[i].kind != "id":
            i += 1
        return i if i < len(self.toks) else None

    def _params_end(self, name_idx: int) -> int:
        close = skip_balanced(self.toks, name_idx + 1, "(", ")")
        return self.toks[close - 1].end if close - 1 < len(self.toks) else self.toks[-1].end

    # -- language hooks ------------------------------------------------------------

    def is_collectable(self, node: Node) -> bool:
        return True  # reference _is_collectable_function returns True for C

    def is_constructor(self, node: Node) -> bool:
        return False

    def function_name(self, node: Node) -> Optional[str]:
        declarator = node.field("declarator")
        if declarator is not None:
            inner = declarator.field("declarator")
            if inner is not None:
                return self.src.text(inner.start, inner.end)
        return None

    def get_docstring(self, node: Node) -> str:
        docstring = ""
        cur = node.prev_named_sibling
        if cur is None or cur.type not in self.docs_types:
            return ""
        while cur is not None and cur.type in self.docs_types:
            docstring += self.src.text(cur.start, cur.end)
            cur = cur.prev_named_sibling
        return docstring

    def get_imports(self) -> dict[str, Node]:
        structs: dict[str, Node] = {}

        def clean(name_text: str) -> str:
            for ch in ("[", "("):
                if ch in name_text:
                    name_text = name_text.split(ch)[0]
            return name_text.strip()

        def visit(node: Node) -> None:
            if node.type in self.struct_types and node.field("name") is not None:
                nm = clean(self.src.text(node.field("name").start, node.field("name").end))
                if nm:
                    structs[nm] = node
            elif node.type == "declaration":
                d = node.field("declarator")
                if d is not None and d.field("declarator") is not None:
                    name = d.field("declarator")
                else:
                    name = d
                if name is not None:
                    nm = clean(self.src.text(name.start, name.end))
                    if nm:
                        structs[nm] = node
            elif node.type == "type_definition":
                t = node.field("type")
                if t is not None and t.field("name") is not None:
                    name = t.field("name")
                else:
                    name = t
                if name is not None:
                    nm = clean(self.src.text(name.start, name.end))
                    if nm:
                        structs[nm] = node
            if node.type not in ("compound_statement", "block"):
                for child in node.children:
                    visit(child)

        for child in self.root.children:
            visit(child)
        return structs

    def get_module_variables(self) -> dict[str, Node]:
        macros = {}
        for child in self.root.children:
            if child.type == "preproc_def":
                name = child.field("name")
                if name is not None:
                    macros[self.src.text(name.start, name.end)] = child
        return macros

    def find_used_variables(self, func: Node) -> set:
        body = next(
            (c for c in func.children if c.type == "compound_statement"), None
        )
        lo, hi = (body.start, body.end) if body is not None else (func.start, func.end)
        return self.idents_in(lo, hi)


def chunk_c_code(code: str, **kwargs):
    """Chunk one C source file; see TreeChunker.chunk_code."""
    return CChunker.chunk_code(code, **kwargs)
