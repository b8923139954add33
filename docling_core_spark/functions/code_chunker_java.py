"""Java code chunker (C8) on a hand-rolled declaration parser.

Re-expresses the reference ``_JavaFunctionChunker``
(code_chunking/_language_code_chunkers.py:1342-1533) without tree-sitter:
a token-level parser builds the declaration tree (package / import / class /
interface / enum / record / field / method / constructor / static
initializer / comments) and code_tree.TreeChunker runs the shared pipeline.
Byte parity is pinned by test/data/chunker_repo/Java/repo_out_chunks.json.

Deviations (documented, outside golden coverage): method bodies are opaque
(local and anonymous classes inside them are not descended into), so a
method of an anonymous inner class is not emitted as its own chunk.
"""

from __future__ import annotations

from docling_core_spark.functions.code_tree import (
    Node,
    TreeChunker,
    lex,
    skip_balanced,
)

_JAVA_KEYWORDS = frozenset(
    """abstract assert boolean break byte case catch char class const continue
    default do double else enum extends final finally float for goto if
    implements import instanceof int interface long native new package private
    protected public record return sealed short static strictfp super switch
    synchronized this throw throws transient try var void volatile while yield
    true false null permits module open opens exports requires provides uses to
    transitive with non""".split()
)

_MODIFIERS = frozenset(
    """public private protected static final abstract sealed native
    synchronized transient volatile strictfp default""".split()
)

_TYPE_KEYWORDS = {
    "class": "class_declaration",
    "interface": "interface_declaration",
    "enum": "enum_declaration",
    "record": "record_declaration",
}


class JavaChunker(TreeChunker):
    """Reference _JavaFunctionChunker semantics (type/field knobs at
    _language_code_chunkers.py:1342-1394)."""

    function_definition_types = (
        "method_declaration",
        "constructor_declaration",
        "static_initializer",
    )
    class_definition_types = ("class_declaration", "interface_declaration")
    object_declarations = (
        "class_declaration",
        "record_declaration",
        "enum_declaration",
        "interface_declaration",
    )
    class_header_inner_types = ("field_declaration", "static_initializer", "block")
    enum_inner_types = (
        "field_declaration",
        "method_declaration",
        "block",
        "constructor_declaration",
        "compact_constructor_declaration",
    )
    constructor_name = "<init>"
    decorator_type = "annotation"
    function_body_type = "block"
    docs_types = ("block_comment", "comment")
    chunk_prefix = " {"
    chunk_suffix = "\n}"

    # -- parsing ---------------------------------------------------------------

    def parse(self, code: str) -> Node:
        self.toks = lex(code)
        self.import_names: dict[str, Node] = {}
        root = Node("program", 0, len(code.encode("utf-8")))
        self._parse_members(root, 0, len(self.toks), container="top")
        return root

    def collect_idents(self) -> list[tuple[str, int]]:
        return [
            (t.text, t.start)
            for t in self.toks
            if t.kind == "id" and t.text not in _JAVA_KEYWORDS
        ]

    def _tok_text(self, i: int) -> str:
        return self.toks[i].text if i < len(self.toks) else ""

    def _skip_annotation(self, i: int) -> int:
        """i at '@': consume @Name(.Dotted)? and optional (...) args."""
        i += 1  # '@'
        while (
            i < len(self.toks)
            and self.toks[i].kind == "id"
            and self._tok_text(i + 1) == "."
        ):
            i += 2
        if i < len(self.toks) and self.toks[i].kind == "id":
            i += 1
        if self._tok_text(i) == "(":
            i = skip_balanced(self.toks, i, "(", ")")
        return max(i, 1)

    def _parse_members(self, parent: Node, lo: int, hi: int, container: str) -> None:
        toks = self.toks
        i = lo
        while i < hi:
            t = toks[i]
            if t.kind in ("comment", "block_comment"):
                typ = "block_comment" if t.kind == "block_comment" else "line_comment"
                parent.add(Node(typ, t.start, t.end))
                i += 1
                continue
            if t.kind == "punct" and t.text in (";", ",", "}"):
                i += 1
                continue
            i = self._parse_declaration(parent, i, hi, container)

    def _parse_declaration(self, parent: Node, i: int, hi: int, container: str) -> int:
        toks = self.toks
        decl_start_tok = i
        has_static = False
        # modifiers + annotations
        while i < hi:
            t = toks[i]
            if t.kind == "punct" and t.text == "@" and self._tok_text(i + 1) != "interface":
                i = self._skip_annotation(i)
            elif t.kind == "id" and t.text in _MODIFIERS:
                has_static = has_static or t.text == "static"
                i += 1
            elif t.kind == "id" and t.text == "non" and self._tok_text(i + 1) == "-":
                i += 3  # non-sealed
            else:
                break
        if i >= hi:
            return hi
        start = toks[decl_start_tok].start
        t = toks[i]

        if t.text == "package":
            j = self._scan_to(i, hi, ";")
            parent.add(Node("package_declaration", start, toks[j].end))
            return j + 1

        if t.text == "import":
            j = self._scan_to(i, hi, ";")
            node = Node("import_declaration", start, toks[j].end)
            parent.add(node)
            path = [x for x in toks[i + 1 : j] if not (x.kind == "id" and x.text == "static")]
            if path and path[-1].text == "*":
                name = self.to_str(node)
            elif path:
                name = path[-1].text
            else:
                name = ""
            if name:
                self.import_names[name] = node
            return j + 1

        if t.kind == "punct" and t.text == "@" and self._tok_text(i + 1) == "interface":
            # annotation type declaration: opaque span through its body
            j = self._scan_to_body(i + 2, hi)
            if j < hi and toks[j].text == "{":
                end = skip_balanced(toks, j, "{", "}")
                parent.add(Node("annotation_type_declaration", start, toks[end - 1].end))
                return end
            return i + 2

        if t.kind == "id" and t.text in _TYPE_KEYWORDS:
            return self._parse_type_declaration(parent, decl_start_tok, i, hi)

        if t.kind == "punct" and t.text == "{":
            end = skip_balanced(toks, i, "{", "}")
            typ = "static_initializer" if has_static else "block"
            node = Node(typ, start, toks[end - 1].end)
            parent.add(node)
            node.add(Node("block", toks[i].start, toks[end - 1].end))
            return end

        # member: method / constructor / field
        j = i
        if toks[j].kind == "punct" and toks[j].text == "<":
            j = skip_balanced(toks, j, "<", ">")
        is_ctor = (
            j < hi
            and toks[j].kind == "id"
            and toks[j].text not in _JAVA_KEYWORDS
            and self._tok_text(j + 1) == "("
        )
        # find first of ( = ; { at bracket depth 0
        k = i
        first = None
        depth = 0
        while k < hi:
            tk = toks[k]
            if tk.kind == "punct":
                if tk.text in ("(", "=", ";", "{") and depth == 0:
                    first = tk.text
                    break
                if tk.text == "<":
                    depth += 1
                elif tk.text == ">":
                    depth -= 1
                elif tk.text in (">>", ">>>"):
                    depth -= len(tk.text)
            k += 1
        if first == "(":
            name_tok = toks[k - 1]
            after = skip_balanced(toks, k, "(", ")")
            # throws clause / annotations up to body or ';'
            while after < hi and not (
                toks[after].kind == "punct" and toks[after].text in ("{", ";")
            ):
                if toks[after].text == "(":
                    after = skip_balanced(toks, after, "(", ")")
                else:
                    after += 1
            typ = "constructor_declaration" if is_ctor else "method_declaration"
            if after < hi and toks[after].text == "{":
                end = skip_balanced(toks, after, "{", "}")
                node = Node(typ, start, toks[end - 1].end)
                parent.add(node)
                node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
                node.add(Node("block", toks[after].start, toks[end - 1].end))
                return end
            node = Node(typ, start, toks[after].end if after < hi else toks[hi - 1].end)
            parent.add(node)
            node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
            return after + 1
        # field / constant: consume through ';' skipping balanced groups
        k = i
        while k < hi:
            tk = toks[k]
            if tk.kind == "punct":
                if tk.text == ";":
                    break
                if tk.text == "{":
                    k = skip_balanced(toks, k, "{", "}")
                    continue
                if tk.text == "(":
                    k = skip_balanced(toks, k, "(", ")")
                    continue
            k += 1
        end_tok = toks[min(k, hi - 1)]
        typ = "constant_declaration" if container == "interface" else "field_declaration"
        parent.add(Node(typ, start, end_tok.end))
        return k + 1

    def _scan_to(self, i: int, hi: int, punct: str) -> int:
        while i < hi and not (self.toks[i].kind == "punct" and self.toks[i].text == punct):
            i += 1
        return min(i, hi - 1)

    def _scan_to_body(self, i: int, hi: int) -> int:
        depth = 0
        while i < hi:
            t = self.toks[i]
            if t.kind == "punct":
                if t.text == "{" and depth == 0:
                    return i
                if t.text == "<":
                    depth += 1
                elif t.text == ">":
                    depth -= 1
                elif t.text in (">>", ">>>"):
                    depth -= len(t.text)
                elif t.text == "(":
                    i = skip_balanced(self.toks, i, "(", ")")
                    continue
            i += 1
        return hi

    def _parse_type_declaration(self, parent: Node, decl_start_tok: int, kw: int, hi: int) -> int:
        toks = self.toks
        typ = _TYPE_KEYWORDS[toks[kw].text]
        start = toks[decl_start_tok].start
        name_i = kw + 1
        body_i = self._scan_to_body(name_i, hi)
        if body_i >= hi or toks[body_i].text != "{":
            # body-less (e.g. `record R(...) implements X;` is invalid; bail)
            node = Node(typ, start, toks[min(body_i, hi - 1)].end)
            parent.add(node)
            if name_i < hi and toks[name_i].kind == "id":
                node.add(Node("identifier", toks[name_i].start, toks[name_i].end), field="name")
            return body_i + 1
        end = skip_balanced(toks, body_i, "{", "}")
        node = Node(typ, start, toks[end - 1].end)
        parent.add(node)
        if toks[name_i].kind == "id":
            node.add(Node("identifier", toks[name_i].start, toks[name_i].end), field="name")
        if typ == "enum_declaration":
            body = node.add(
                Node("enum_body", toks[body_i].start, toks[end - 1].end), field="body"
            )
            self._parse_enum_body(body, body_i + 1, end - 1)
        else:
            body_type = "interface_body" if typ == "interface_declaration" else "class_body"
            body = node.add(
                Node(body_type, toks[body_i].start, toks[end - 1].end), field="body"
            )
            container = "interface" if typ == "interface_declaration" else "class"
            self._parse_members(body, body_i + 1, end - 1, container)
        return end

    def _parse_enum_body(self, body: Node, lo: int, hi: int) -> None:
        toks = self.toks
        i = lo
        while i < hi:
            t = toks[i]
            if t.kind in ("comment", "block_comment"):
                typ = "block_comment" if t.kind == "block_comment" else "line_comment"
                body.add(Node(typ, t.start, t.end))
                i += 1
                continue
            if t.kind == "punct" and t.text == ",":
                i += 1
                continue
            if t.kind == "punct" and t.text == ";":
                # remaining members form enum_body_declarations
                if i + 1 < hi:
                    decls = body.add(
                        Node("enum_body_declarations", toks[i].start, toks[hi - 1].end)
                    )
                    self._parse_members(decls, i + 1, hi, container="class")
                return
            # enum constant: annotations, name, optional (...) and {...}
            start_tok = i
            while t.kind == "punct" and t.text == "@":
                i = self._skip_annotation(i)
                t = toks[i]
            name_tok = i
            i += 1
            if i < hi and self._tok_text(i) == "(":
                i = skip_balanced(toks, i, "(", ")")
            if i < hi and self._tok_text(i) == "{":
                i = skip_balanced(toks, i, "{", "}")
            const = body.add(Node("enum_constant", toks[start_tok].start, toks[i - 1].end))
            const.add(
                Node("identifier", toks[name_tok].start, toks[name_tok].end), field="name"
            )

    # -- language hooks ----------------------------------------------------------

    def get_imports(self) -> dict[str, Node]:
        return self.import_names

    def file_prefix(self) -> tuple[str, list[tuple[int, int]]]:
        prefix = ""
        ranges = []
        for child in self.root.children:
            if child.type == "package_declaration":
                prefix = self.to_str(child).strip() + "\n"
                ranges.append((child.start, child.end))
        return prefix, ranges

    def build_additional_context(self, func: Node) -> tuple[str, str]:
        context: list[str] = []
        context_no_doc: list[str] = []
        node = func
        while node.parent is not None:
            if node.type in self.object_declarations:
                with_doc, without_doc = self.class_context(node)
                context.insert(0, with_doc)
                context_no_doc.insert(0, without_doc)
            node = node.parent
        return "".join(context).rstrip(), "".join(context_no_doc).rstrip()

    def build_class_context(self, node: Node) -> tuple[str, str]:
        body = node.field(self.class_body_field)
        if body is None:
            text = self.to_str(node)
            return text, text
        indent = self.src.row_col(node.start)[1]
        sig = self.src.text(node.start, body.start).rstrip()
        header = (" " * indent) + sig + " {"
        doc = self.get_docstring(node)
        header_with_doc = f"{header}{' ' * (indent + 4)}{doc}" if doc else header

        inner_parts: list[str] = []
        if node.type == "enum_declaration":
            constants = [
                self.to_str(c) for c in body.children if c.type == "enum_constant"
            ]
            inner_parts.append((",".join(constants) + ";") if constants else "")
            decl = next(
                (c for c in body.children if c.type == "enum_body_declarations"), None
            )
            if decl is not None:
                inner_parts.append(
                    "".join(
                        self.to_str(c)
                        for c in decl.children
                        if c.type in self.enum_inner_types
                    )
                )
        elif node.type == "interface_declaration":
            constants = [
                self.to_str(c) for c in body.children if c.type == "constant_declaration"
            ]
            methods = [
                self.to_str(c)
                for c in body.children
                if c.type in self.function_definition_types
            ]
            inner_parts.extend(["".join(constants), "".join(methods)])
        else:
            inner_parts.extend(
                self.to_str(c)
                for c in body.children
                if c.type in self.class_header_inner_types
            )
        ctor = self.find_constructor(body)
        if ctor is not None:
            inner_parts.append(self.build_function(ctor))

        inner = "".join(p for p in inner_parts if p.strip())
        close = (" " * indent) + "}"
        with_doc = "\n\n".join(x for x in [header_with_doc, inner] if x).rstrip() + close
        without_doc = "\n\n".join(x for x in [header, inner] if x).rstrip() + close
        return with_doc, without_doc

    def class_member_ranges(self, cls: Node) -> list[tuple[int, int]]:
        parent = cls.parent
        if parent is None:
            return []
        return [
            (c.start, c.end)
            for c in parent.children
            if c.type in ("field_declaration", "constant_declaration")
        ]


def chunk_java_code(code: str, **kwargs):
    """Chunk one Java source file; see TreeChunker.chunk_code."""
    return JavaChunker.chunk_code(code, **kwargs)
