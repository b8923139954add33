"""Python code chunker (C8) on stdlib ast + tokenize.

Re-expresses the reference ``_PythonFunctionChunker``
(code_chunking/_language_code_chunkers.py:416-1116 _CodeChunker +
_PythonFunctionChunker, standard_code_chunking_strategy.py:30-94) without
tree-sitter, which is not installable here: ``parse`` builds the
code_tree.Node tree from ast (statements) and tokenize (comments and
identifier tokens), with byte offsets mirroring tree-sitter node ranges, and
code_tree.TreeChunker runs the shared pipeline.

The tree has one node per statement at every depth, and one comment node
per comment in the gap between two statements of a block (or before the
first statement of the module).  A decorated function or class sits in a
``decorated_definition`` node that starts at its first ``@``.  Each body is
a ``block`` node that starts at its first statement: tree-sitter attaches
comments after a block-opening ``:`` outside the block, so they are no
node's siblings (nor are comments between decorators, before an ``else:``,
or after the last statement; no hook reads them).

Per code file it emits, in this order:
- one FUNCTION chunk per collectable function (named functions and methods;
  __init__ only when it is the only undecorated function of its class), with
  the used imports (with their preceding comments, deduped and sorted), the
  used module-variable definitions, the enclosing class context (header +
  field statements + constructor), and the function body itself;
- one CLASS chunk per class without undecorated methods (preceding comments
  included);
- one PREAMBLE chunk merging all byte ranges not claimed above.

Reference behavior quirks preserved on purpose (the golden
test/data/chunker_repo/Python/repo_out_chunks.json encodes them):
- docstrings always resolve to "" for Python (the reference looks up the
  body by node *type* name where a *field* name is needed), so chunk
  docstring metadata is empty and nothing is stripped from content;
- function/class line metadata is 0-based (tree-sitter rows) while preamble
  line metadata is 1-based;
- top-level decorators are not marked used, so they reappear in preamble;
- multiple preceding comments concatenate without separators;
- orphan texts slice the unicode string with byte offsets;
- decorated methods do not count as methods for the "class without methods"
  check, and imports can be range-claimed without being textually included
  (variable-definition imports).

Hooks that differ from the generic pipeline, each to keep this chunker's
established output:
- ``comment_anchor``: the comments above a decorated class's decorators are
  its own (the generic pipeline would see the decorator as its previous
  sibling);
- ``top_level_comments``: every comment outside the ast range of all
  top-level statements, so one between a top-level decorator and its
  ``def`` counts too;
- ``_is_only_function_in_class``: ``__init__`` must sit directly in the
  class body, not in an ``if`` inside it;
- ``Source`` lines end at ``\\n``, ``\\r\\n`` or ``\\r`` only, as ast's and
  tokenize's lines do (a form feed does not end one).

Deviation: ``match`` statements are opaque, as they always were for
function and class collection; a ``def __init__`` inside a ``case`` no
longer claims module variables, and an import inside a ``case`` no longer
raises when a chunk uses it.
"""

from __future__ import annotations

import ast
import io
import keyword
import tokenize
from bisect import bisect_right
from itertools import accumulate
from typing import Optional

from docling_core_spark.functions.code_tree import Node, Source, TreeChunker

_FUNC_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef)
_NODE_TYPES = {
    ast.FunctionDef: "function_definition",
    ast.AsyncFunctionDef: "function_definition",
    ast.ClassDef: "class_definition",
    ast.Assign: "expression_statement",
    ast.AnnAssign: "expression_statement",
    ast.AugAssign: "expression_statement",
    ast.Expr: "expression_statement",
}


class _PySource(Source):
    """Byte-offset view whose lines end at ``\\n``, ``\\r\\n`` or ``\\r``, as
    ast's and tokenize's do, mapping ast (byte column) and tokenize
    (character column) positions to bytes."""

    def __init__(self, code: str):
        self.code = code
        self.data = code.encode("utf-8")
        self.lines = [""] + io.StringIO(code, newline="").readlines()  # 1-indexed
        self.line_starts = [0]
        for ln in self.lines[1:]:
            self.line_starts.append(self.line_starts[-1] + len(ln.encode("utf-8")))

    def pos(self, lineno: int, col_offset: int) -> int:
        return self.line_starts[lineno - 1] + col_offset

    def tok_pos(self, pos: tuple[int, int]) -> int:
        row, col = pos
        return self.line_starts[row - 1] + len(self.lines[row][:col].encode("utf-8"))

    def ext_start(self, stmt: ast.stmt) -> int:
        """Statement start incl. the '@' of a leading decorator (tree-sitter
        decorated_definition start)."""
        decs = getattr(stmt, "decorator_list", None)
        if decs:
            start = self.pos(decs[0].lineno, decs[0].col_offset)
            at = self.data.rfind(b"@", self.line_starts[decs[0].lineno - 1], start)
            return at if at != -1 else start
        return self.pos(stmt.lineno, stmt.col_offset)

    def end(self, node: ast.AST) -> int:
        return self.pos(node.end_lineno, node.end_col_offset)


def _sub_bodies(stmt: ast.stmt) -> list[list[ast.stmt]]:
    out = []
    for field in ("body", "orelse", "finalbody"):
        val = getattr(stmt, field, None)
        if isinstance(val, list) and val and isinstance(val[0], ast.stmt):
            out.append(val)
    for handler in getattr(stmt, "handlers", []) or []:
        out.append(handler.body)
    return out


class PythonChunker(TreeChunker):
    """Reference _PythonFunctionChunker semantics over an ast-built tree."""

    function_definition_types = ("function_definition",)
    class_definition_types = ("class_definition",)
    constructor_name = "__init__"
    decorator_type = "decorated_definition"
    docs_types = ("comment",)
    expression_types = ("expression_statement",)
    chunk_prefix = "\n\t"
    chunk_suffix = ""
    source_type = _PySource

    # -- parsing ---------------------------------------------------------------

    def parse(self, code: str) -> Node:
        src = self.src
        self.comments: list[tuple[int, int]] = []
        self.names: list[tuple[str, int]] = []  # non-keyword NAME tokens
        try:
            for tok in tokenize.generate_tokens(io.StringIO(code, newline="").readline):
                if tok.type == tokenize.COMMENT:
                    self.comments.append((src.tok_pos(tok.start), src.tok_pos(tok.end)))
                elif tok.type == tokenize.NAME and not keyword.iskeyword(tok.string):
                    self.names.append((tok.string, src.tok_pos(tok.start)))
        except tokenize.TokenError:
            pass
        self._comment_starts = [s for s, _ in self.comments]
        self.tree = ast.parse(code)
        self._nodes: dict[int, Node] = {}  # id(ast statement) -> Node
        self._def_names: dict[Node, str] = {}  # function/class node -> name
        self._string_exprs: set[Node] = set()
        root = Node("module", 0, len(src.data))
        self._add_block(root, self.tree.body, 0)
        self._import_stmts: list[ast.stmt] = []
        assigned = []  # direct left sides of plain assignments: never reads
        for n in ast.walk(self.tree):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                self._import_stmts.append(n)
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                assigned += [src.pos(t.lineno, t.col_offset) for t in targets if isinstance(t, ast.Name)]
        self._assigned = frozenset(assigned)
        return root

    def _add_block(self, parent: Node, body: list[ast.stmt], prev_end: int) -> None:
        """Add the statements of ``body``, each after the comments in the
        gap since the previous statement ends (``prev_end`` for the first)."""
        for stmt in body:
            start = self.src.ext_start(stmt)
            lo = bisect_right(self._comment_starts, prev_end - 1)
            for c_start, c_end in self.comments[lo:]:
                if c_start >= start:
                    break
                parent.add(Node("comment", c_start, c_end))
            parent.add(self._stmt_node(stmt, start))
            prev_end = self.src.end(stmt)

    def _stmt_node(self, stmt: ast.stmt, ext_start: int) -> Node:
        src = self.src
        start, end = src.pos(stmt.lineno, stmt.col_offset), src.end(stmt)
        node = Node(_NODE_TYPES.get(type(stmt), type(stmt).__name__), start, end)
        self._nodes[id(stmt)] = node
        if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant) \
                and isinstance(stmt.value.value, str):
            self._string_exprs.add(node)
        if isinstance(stmt, (ast.ClassDef, *_FUNC_TYPES)):
            self._def_names[node] = stmt.name
        for i, sub in enumerate(_sub_bodies(stmt)):
            block = node.add(Node("block", src.ext_start(sub[0]), end), "body" if i == 0 else None)
            self._add_block(block, sub, block.start)
        if ext_start != start:
            wrapper = Node(self.decorator_type, ext_start, end)
            wrapper.add(node, field="definition")
            return wrapper
        return node

    def collect_idents(self) -> list[tuple[str, int]]:
        return self.names

    # -- language hooks ----------------------------------------------------------

    def get_imports(self) -> dict[str, Node]:
        """name -> import statement, in document order (reference
        _PythonFunctionChunker._get_imports)."""
        imports: dict[str, Node] = {}
        for stmt in sorted(self._import_stmts, key=lambda n: (n.lineno, n.col_offset)):
            node = self._nodes.get(id(stmt))
            if node is None:  # inside a match case: not in the tree
                node = Node("import", self.src.pos(stmt.lineno, stmt.col_offset), self.src.end(stmt))
            names = []
            # absolute module paths appear as a dotted_name child in the
            # tree-sitter grammar; relative prefixes and __future__ do not
            if isinstance(stmt, ast.ImportFrom) and not stmt.level and stmt.module \
                    and stmt.module != "__future__":
                names.append(stmt.module)
            for alias in stmt.names:
                if alias.name == "*":
                    continue
                if alias.asname:
                    names.append(alias.asname)
                names.append(alias.name)
            for name in names:
                imports[name] = node
        return imports

    def get_module_variables(self) -> dict[str, Node]:
        variables: dict[str, Node] = {}
        for stmt in self.tree.body:
            target = None
            if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
                target = stmt.targets[0]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                target = stmt.target
            if target is not None:
                variables[target.id] = self._nodes[id(stmt)]
        return variables

    def find_used_variables(self, func: Node) -> set:
        # the reference _find_used_variables scans the body block only
        return self.idents_in(func.field("body").start, func.end, skip=self._assigned)

    def function_name(self, node: Node) -> Optional[str]:
        return self._def_names.get(node)

    def is_constructor(self, node: Node) -> bool:
        return node.type in self.function_definition_types and self._def_names[node] == "__init__"

    def get_docstring(self, node: Node) -> str:
        return ""

    def is_docstring(self, node: Node) -> bool:
        return node in self._string_exprs

    def comment_anchor(self, node: Node) -> Node:
        if node.parent is not None and node.parent.type == self.decorator_type:
            return node.parent
        return node

    def top_level_comments(self) -> list[tuple[int, int]]:
        ranges = sorted((self.src.pos(s.lineno, s.col_offset), self.src.end(s)) for s in self.tree.body)
        starts = [s for s, _ in ranges]
        reach = list(accumulate((e for _, e in ranges), max))
        out = []
        for c_start, c_end in self.comments:
            i = bisect_right(starts, c_start) - 1
            if i < 0 or c_start >= reach[i]:  # inside no top-level statement
                out.append((c_start, c_end))
        return out

    def _is_only_function_in_class(self, ctor: Node) -> bool:
        block = self.comment_anchor(ctor).parent
        if block.parent is None or block.parent.type not in self.class_definition_types:
            return False
        return super()._is_only_function_in_class(ctor)


def chunk_python_code(code: str, **kwargs):
    """Chunk one Python source file; see TreeChunker.chunk_code."""
    return PythonChunker.chunk_code(code, **kwargs)
