"""JavaScript / TypeScript code chunkers (C8) on a hand-rolled parser.

Re-expresses the reference ``_TypeScriptFunctionChunker`` /
``_JavaScriptFunctionChunker``
(code_chunking/_language_code_chunkers.py:1118-1197) without tree-sitter:
a statement-level parser builds the declaration tree (imports, exports,
lexical declarations with require detection, function/class declarations,
class bodies with decorators as sibling nodes) and code_tree.TreeChunker
runs the shared pipeline.  Byte parity is pinned by the
chunker_repo/JavaScript and chunker_repo/TypeScript goldens.

Reference quirks preserved on purpose (the goldens encode them):
- ``export_statement`` is itself a "function type", so exported functions
  are never collected (the parent-type stop skips their children);
- the configured function body type is "block" but the grammar produces
  "statement_block", so end_line_signature always equals end_line;
- decorators are siblings of class members, so a decorated method's
  docstring lookup hits the decorator and returns "";
- named-import specifiers register the *original* name (`v4 as uuidv4`
  registers "v4").

Deviations (outside golden coverage): expression statements and function
bodies are opaque, so object-literal shorthand methods and named function
expressions inside them are not collected as chunks.
"""

from __future__ import annotations

from typing import Optional

from docling_core_spark.functions.code_tree import (
    Node,
    TreeChunker,
    lex,
    skip_balanced,
)

_JS_KEYWORDS = frozenset(
    """break case catch class const continue debugger default delete do else
    enum export extends finally for function if import in instanceof new
    return super switch this throw try typeof var void while with yield let
    static await async true false null""".split()
)

_MODIFIERS = frozenset(
    """public private protected static readonly abstract override async
    declare accessor""".split()
)

# '{' after one of these starts an object literal, not a block
_OBJECT_PRECEDERS = {
    "(", ",", "=", ":", "[", "!", "&", "|", "?", ";", "=>", "return",
    "typeof", "in", "of", "${", "...", "&&", "||", "??",
}


class TsChunker(TreeChunker):
    """Reference _TypeScriptFunctionChunker semantics (knobs at
    _language_code_chunkers.py:1118-1146)."""

    function_definition_types = (
        "function_declaration",
        "arrow_function",
        "method_definition",
        "function_expression",
        "generator_function",
        "generator_function_declaration",
        "export_statement",
    )
    class_definition_types = ("class_declaration",)
    constructor_name = "constructor"
    decorator_type = "decorator"
    function_body_type = "block"  # QUIRK: real bodies are statement_block
    docs_types = ("comment",)
    expression_types = ("expression_statement",)
    chunk_prefix = " {"
    chunk_suffix = "\n}"

    # -- parsing ---------------------------------------------------------------

    def parse(self, code: str) -> Node:
        self.toks = lex(code, js_regex=True, templates=True)
        self.import_names: dict[str, Node] = {}
        root = Node("program", 0, len(self.src.data))
        self._parse_statements(root, 0, len(self.toks), ctx="program")
        return root

    def _t(self, i: int) -> str:
        return self.toks[i].text if 0 <= i < len(self.toks) else ""

    def _parse_statements(self, parent: Node, i: int, hi: int, ctx: str) -> int:
        toks = self.toks
        while i < hi:
            t = toks[i]
            if t.kind in ("comment", "block_comment"):
                parent.add(Node("comment", t.start, t.end))
                i += 1
                continue
            if t.kind == "punct" and t.text in (";", ","):
                i += 1
                continue
            if t.kind == "punct" and t.text == "}":
                return i
            if ctx == "class_body":
                i = self._parse_class_member(parent, i, hi)
                continue
            i = self._parse_statement(parent, i, hi)
        return i

    def _skip_decorator(self, parent: Node, i: int, hi: int) -> int:
        """'@' at toks[i]: emit a decorator sibling node and return next."""
        start = self.toks[i].start
        j = i + 1
        while self._t(j + 1) == "." and self.toks[j].kind == "id":
            j += 2
        if j < hi and self.toks[j].kind == "id":
            j += 1
        if self._t(j) == "(":
            j = skip_balanced(self.toks, j, "(", ")")
        parent.add(Node("decorator", start, self.toks[j - 1].end))
        return j

    # -- statements ----------------------------------------------------------------

    def _parse_statement(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        t = toks[i]
        text = t.text

        if t.kind == "punct" and text == "@":
            return self._skip_decorator(parent, i, hi)

        if t.kind == "id":
            if text == "import" and self._t(i + 1) != "(":
                return self._parse_import(parent, i, hi)
            if text == "export":
                return self._parse_export(parent, i, hi)
            if text in ("const", "let", "var") and self.toks[i + 1].kind == "id":
                return self._parse_var_declaration(parent, i, hi, kw=text)
            if text == "async" and self._t(i + 1) == "function":
                return self._parse_function(parent, i, hi, kw_at=i + 1, start_at=i)
            if text == "function":
                return self._parse_function(parent, i, hi, kw_at=i, start_at=i)
            if text == "class" or (
                text == "abstract" and self._t(i + 1) == "class"
            ):
                return self._parse_class(parent, i, hi)
            if text in ("interface", "namespace", "module") and self.toks[i + 1].kind == "id":
                return self._parse_braced_opaque(parent, i, hi, f"{text}_declaration")
            if text == "enum" or (text == "declare" and self._t(i + 1) == "enum"):
                return self._parse_braced_opaque(parent, i, hi, "enum_declaration")
            if text == "type" and self.toks[i + 1].kind == "id":
                # type alias: consume to ';'
                j = self._consume_expression(i, hi)
                parent.add(Node("type_alias_declaration", t.start, toks[min(j, hi) - 1].end))
                return j

        # opaque expression statement
        j = self._consume_expression(i, hi)
        parent.add(Node("expression_statement", t.start, toks[min(j, hi) - 1].end))
        return j

    def _consume_expression(self, i: int, hi: int) -> int:
        """Consume tokens through the terminating ';' at depth 0 (or before a
        closing '}' of the enclosing block)."""
        toks = self.toks
        j = i
        while j < hi:
            t = toks[j]
            if t.kind == "punct":
                if t.text == ";":
                    return j + 1
                if t.text in ("(", "[", "{", "${"):
                    j = skip_balanced(toks, j, "{" if t.text == "${" else t.text,
                                      {"(": ")", "[": "]", "{": "}", "${": "}"}[t.text])
                    continue
                if t.text == "}":
                    return j  # enclosing block closes
            j += 1
        return j

    def _parse_import(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        j = self._consume_expression(i, hi)
        node = parent.add(Node("import_statement", toks[i].start, toks[j - 1].end))
        # identifiers per the reference import_clause logic
        k = i + 1
        if self._t(k) == "type":
            k += 1
        names: list[str] = []
        while k < j:
            t = toks[k]
            if t.kind == "str":
                break
            if t.kind == "id" and t.text == "from":
                break
            if t.kind == "punct" and t.text == "{":
                close = skip_balanced(toks, k, "{", "}")
                m = k + 1
                while m < close - 1:
                    if toks[m].kind == "id" and toks[m].text not in ("as", "type"):
                        names.append(toks[m].text)
                        # skip over 'as alias'
                        if self._t(m + 1) == "as":
                            m += 3
                            continue
                    m += 1
                k = close
                continue
            if t.kind == "punct" and t.text == "*":
                if self._t(k + 1) == "as" and toks[k + 2].kind == "id":
                    names.append(toks[k + 2].text)
                    k += 3
                    continue
            if t.kind == "id" and t.text not in ("as",):
                names.append(t.text)
            k += 1
        for name in names:
            self.import_names[name] = node
        return j

    def _parse_export(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        node = parent.add(Node("export_statement", toks[i].start, toks[i].end))
        j = i + 1
        if self._t(j) == "default":
            j += 1
        if self._t(j) == "type":
            j += 1
        t = self.toks[j] if j < hi else None
        if t is not None and (
            t.kind == "id"
            and t.text in ("function", "async", "class", "abstract", "const", "let",
                           "var", "interface", "enum", "namespace", "type")
        ):
            j = self._parse_statement(node, j, hi)
            node.end = node.children[-1].end if node.children else toks[j - 1].end
            return j
        j = self._consume_expression(j, hi)
        node.end = toks[j - 1].end
        return j

    def _parse_var_declaration(self, parent: Node, i: int, hi: int, kw: str) -> int:
        toks = self.toks
        typ = "lexical_declaration" if kw in ("const", "let") else "variable_declaration"
        j = self._consume_expression(i, hi)
        node = parent.add(Node(typ, toks[i].start, toks[j - 1].end))
        # declarators: name [: type] [= value] (, ...)*; detect require/import
        k = i + 1
        while k < j and toks[k].kind == "id":
            name_tok = toks[k]
            decl = node.add(Node("variable_declarator", name_tok.start, name_tok.end))
            decl.add(Node("identifier", name_tok.start, name_tok.end), field="name")
            is_import = False
            m = k + 1
            depth_end = j
            while m < depth_end:
                t = toks[m]
                if t.kind == "punct":
                    if t.text in ("(", "[", "{", "${"):
                        m = skip_balanced(toks, m, "{" if t.text == "${" else t.text,
                                          {"(": ")", "[": "]", "{": "}", "${": "}"}[t.text])
                        continue
                    if t.text == "," or t.text == ";":
                        break
                if t.kind == "id" and t.text == "require" and self._t(m + 1) == "(":
                    is_import = True
                if t.kind == "id" and t.text == "import" and self._t(m + 1) == "(":
                    is_import = True
                m += 1
            decl.end = toks[m - 1].end if m > k + 1 else name_tok.end
            if is_import and typ == "lexical_declaration":
                self.import_names[name_tok.text] = node
            k = m + 1 if m < depth_end and toks[m].text == "," else depth_end
        return j

    def _parse_function(self, parent: Node, i: int, hi: int, kw_at: int, start_at: int) -> int:
        toks = self.toks
        j = kw_at + 1
        generator = False
        if self._t(j) == "*":
            generator = True
            j += 1
        name_tok = None
        if j < hi and toks[j].kind == "id":
            name_tok = toks[j]
            j += 1
        if self._t(j) == "<":
            j = skip_balanced(toks, j, "<", ">")
        if self._t(j) == "(":
            j = skip_balanced(toks, j, "(", ")")
        # return type annotation up to '{'
        while j < hi and not (toks[j].kind == "punct" and toks[j].text in ("{", ";")):
            if toks[j].text == "(":
                j = skip_balanced(toks, j, "(", ")")
            elif toks[j].text == "<":
                j = skip_balanced(toks, j, "<", ">")
            else:
                j += 1
        typ = "generator_function_declaration" if generator else "function_declaration"
        if j < hi and toks[j].text == "{":
            end = skip_balanced(toks, j, "{", "}")
            node = parent.add(Node(typ, toks[start_at].start, toks[end - 1].end))
            if name_tok is not None:
                node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
            node.add(Node("statement_block", toks[j].start, toks[end - 1].end))
            return end
        node = parent.add(Node(typ, toks[start_at].start, toks[min(j, hi - 1)].end))
        if name_tok is not None:
            node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
        return j + 1

    def _parse_class(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        j = i
        if self._t(j) == "abstract":
            j += 1
        j += 1  # 'class'
        name_tok = None
        if j < hi and toks[j].kind == "id":
            name_tok = toks[j]
            j += 1
        # heritage / type params up to '{'
        while j < hi and not (toks[j].kind == "punct" and toks[j].text == "{"):
            if toks[j].text == "<":
                j = skip_balanced(toks, j, "<", ">")
            elif toks[j].text == "(":
                j = skip_balanced(toks, j, "(", ")")
            else:
                j += 1
        if j >= hi:
            return hi
        end = skip_balanced(toks, j, "{", "}")
        node = parent.add(Node("class_declaration", toks[i].start, toks[end - 1].end))
        if name_tok is not None:
            node.add(Node("identifier", name_tok.start, name_tok.end), field="name")
        body = node.add(
            Node("class_body", toks[j].start, toks[end - 1].end), field="body"
        )
        self._parse_statements(body, j + 1, end - 1, ctx="class_body")
        return end

    def _parse_class_member(self, parent: Node, i: int, hi: int) -> int:
        toks = self.toks
        t = toks[i]
        if t.kind == "punct" and t.text == "@":
            return self._skip_decorator(parent, i, hi)
        start_at = i
        j = i
        # modifiers (incl. get/set/* when followed by a name)
        while j < hi and toks[j].kind == "id" and (
            toks[j].text in _MODIFIERS
            or (toks[j].text in ("get", "set") and toks[j + 1].kind == "id" if j + 1 < hi else False)
        ):
            j += 1
        if self._t(j) == "*":
            j += 1
        if j >= hi:
            return hi
        name_tok = None
        if toks[j].kind in ("id", "str"):
            name_tok = toks[j]
            j += 1
        elif self._t(j) == "[":  # computed name
            close = skip_balanced(toks, j, "[", "]")
            name_tok = None
            j = close
        if self._t(j) == "?" or self._t(j) == "!":
            j += 1
        if self._t(j) == "<":
            j = skip_balanced(toks, j, "<", ">")
        if self._t(j) == "(":
            j = skip_balanced(toks, j, "(", ")")
            # return type to '{' or ';'
            while j < hi and not (toks[j].kind == "punct" and toks[j].text in ("{", ";")):
                if toks[j].text == "<":
                    j = skip_balanced(toks, j, "<", ">")
                elif toks[j].text == "(":
                    j = skip_balanced(toks, j, "(", ")")
                else:
                    j += 1
            if j < hi and toks[j].text == "{":
                end = skip_balanced(toks, j, "{", "}")
                node = parent.add(
                    Node("method_definition", toks[start_at].start, toks[end - 1].end)
                )
                if name_tok is not None:
                    node.add(
                        Node("property_identifier", name_tok.start, name_tok.end),
                        field="name",
                    )
                node.add(Node("statement_block", toks[j].start, toks[end - 1].end))
                return end
            node = parent.add(
                Node("method_signature", toks[start_at].start, toks[min(j, hi - 1)].end)
            )
            if name_tok is not None:
                node.add(
                    Node("property_identifier", name_tok.start, name_tok.end),
                    field="name",
                )
            return j + 1
        # field: consume to ';' at depth 0
        j = self._consume_expression(j, hi)
        node = parent.add(
            Node("public_field_definition", toks[start_at].start, toks[min(j, hi) - 1].end)
        )
        if name_tok is not None:
            node.add(
                Node("property_identifier", name_tok.start, name_tok.end), field="name"
            )
        return j

    def _parse_braced_opaque(self, parent: Node, i: int, hi: int, typ: str) -> int:
        toks = self.toks
        j = i
        while j < hi and not (toks[j].kind == "punct" and toks[j].text in ("{", ";")):
            if toks[j].text == "<":
                j = skip_balanced(toks, j, "<", ">")
            else:
                j += 1
        if j < hi and toks[j].text == "{":
            end = skip_balanced(toks, j, "{", "}")
            parent.add(Node(typ, toks[i].start, toks[end - 1].end))
            return end
        parent.add(Node(typ, toks[i].start, toks[min(j, hi - 1)].end))
        return j + 1

    # -- identifier classification -------------------------------------------------

    def collect_idents(self) -> list[tuple[str, int]]:
        """identifier + type_identifier tokens; property identifiers (after
        '.'/'?.'), object-literal keys and shorthand members are skipped, as
        tree-sitter types them property_identifier / shorthand variants."""
        toks = self.toks
        out: list[tuple[str, int]] = []
        # brace kind stack: True = object literal
        stack: list[bool] = []
        prev_sig: Optional[str] = None
        for idx, t in enumerate(toks):
            if t.kind in ("comment", "block_comment", "str", "regex", "num"):
                continue
            if t.kind == "punct":
                if t.text in ("{", "${"):
                    stack.append(
                        t.text == "{" and prev_sig is not None and prev_sig in _OBJECT_PRECEDERS
                    )
                elif t.text == "}":
                    if stack:
                        stack.pop()
                prev_sig = t.text
                continue
            if t.kind == "id":
                if t.text in _JS_KEYWORDS:
                    prev_sig = t.text
                    continue
                nxt = toks[idx + 1] if idx + 1 < len(toks) else None
                in_object = bool(stack and stack[-1])
                if prev_sig in (".", "?."):
                    prev_sig = t.text
                    continue  # property_identifier
                if in_object and nxt is not None and nxt.kind == "punct" and nxt.text in (":", ",", "}", "("):
                    # object key / shorthand / object method name
                    prev_sig = t.text
                    continue
                out.append((t.text, t.start))
                prev_sig = t.text
        return out

    # -- language hooks --------------------------------------------------------------

    def get_imports(self) -> dict[str, Node]:
        return self.import_names


class JsChunker(TsChunker):
    """Reference _JavaScriptFunctionChunker == the TS chunker with the JS
    grammar (_language_code_chunkers.py:1195-1197)."""


def chunk_ts_code(code: str, **kwargs):
    """Chunk one TypeScript source file; see TreeChunker.chunk_code."""
    return TsChunker.chunk_code(code, **kwargs)


def chunk_js_code(code: str, **kwargs):
    """Chunk one JavaScript source file; see TreeChunker.chunk_code."""
    return JsChunker.chunk_code(code, **kwargs)
