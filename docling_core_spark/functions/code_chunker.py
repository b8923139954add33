"""Python code chunker (C8, Python subset) on stdlib ast + tokenize.

Reimplements the reference's tree-sitter code chunking pipeline for Python
(reference code_chunking/_language_code_chunkers.py:416-1116 _CodeChunker +
_PythonFunctionChunker, standard_code_chunking_strategy.py:30-94) without
tree-sitter, which is not installable here: ast supplies the node structure,
tokenize supplies comments and identifier tokens, and byte offsets mirror
tree-sitter node ranges.

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
"""

from __future__ import annotations

import ast
import io
import keyword
import tokenize
from bisect import bisect_right
from typing import Any, Iterator, Optional  # noqa: F401

from docling_core_spark.functions.code_tree import (
    _COPYRIGHT_WORDS,
    _SCHEMA_NAME,
    _VERSION,
    _sha,
    _split_large_chunk,
    find_gaps,
)

_FUNC_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Source:
    """Byte-offset view of a Python source file with comments and tokens."""

    def __init__(self, code: str):
        self.code = code
        self.data = code.encode("utf-8")
        lines = code.splitlines(keepends=True)
        self.line_starts = [0]
        for ln in lines:
            self.line_starts.append(self.line_starts[-1] + len(ln.encode("utf-8")))
        self._char_lines = [""] + lines  # 1-indexed

        self.comments: list[tuple[int, int]] = []  # byte ranges
        self.names: list[tuple[str, int]] = []  # (identifier, start byte)
        try:
            for tok in tokenize.generate_tokens(io.StringIO(code).readline):
                if tok.type == tokenize.COMMENT:
                    self.comments.append(
                        (self._tok_byte(tok.start), self._tok_byte(tok.end))
                    )
                elif tok.type == tokenize.NAME and not keyword.iskeyword(tok.string):
                    self.names.append((tok.string, self._tok_byte(tok.start)))
        except tokenize.TokenError:
            pass
        self._name_starts = [s for _, s in self.names]
        self._comment_starts = [s for s, _ in self.comments]

    def _tok_byte(self, pos: tuple[int, int]) -> int:
        row, col = pos
        return self.line_starts[row - 1] + len(self._char_lines[row][:col].encode("utf-8"))

    def pos(self, lineno: int, col_offset: int) -> int:
        # ast col_offset is a utf-8 byte offset within the line
        return self.line_starts[lineno - 1] + col_offset

    def node_range(self, node: ast.AST) -> tuple[int, int]:
        return (
            self.pos(node.lineno, node.col_offset),
            self.pos(node.end_lineno, node.end_col_offset),
        )

    def ext_start(self, stmt: ast.stmt) -> int:
        """Statement start incl. the '@' of a leading decorator (tree-sitter
        decorated_definition start)."""
        decs = getattr(stmt, "decorator_list", None)
        if decs:
            start = self.pos(decs[0].lineno, decs[0].col_offset)
            at = self.data.rfind(b"@", self.line_starts[decs[0].lineno - 1], start)
            return at if at != -1 else start
        return self.pos(stmt.lineno, stmt.col_offset)

    def row_col(self, byte_off: int) -> tuple[int, int]:
        """0-based (row, byte column) of a byte offset (tree-sitter point)."""
        row = bisect_right(self.line_starts, byte_off) - 1
        return row, byte_off - self.line_starts[row]

    def to_str(self, start: int, end: int) -> str:
        """tree-sitter _to_str: node text prefixed with its start-column
        indent, rstripped (reference _utils.py:_to_str)."""
        _, col = self.row_col(start)
        return (" " * col + self.data[start:end].decode("utf-8")).rstrip()

    def names_in(self, start: int, end: int) -> list[tuple[str, int]]:
        lo = bisect_right(self._name_starts, start - 1)
        out = []
        for i in range(lo, len(self.names)):
            if self.names[i][1] >= end:
                break
            out.append(self.names[i])
        return out

    def comments_in(self, start: int, end: int) -> list[tuple[int, int]]:
        lo = bisect_right(self._comment_starts, start - 1)
        out = []
        for i in range(lo, len(self.comments)):
            if self.comments[i][0] >= end:
                break
            out.append(self.comments[i])
        return out

    def block_start(self, header_node: ast.stmt, body: list[ast.stmt]) -> int:
        """Start byte of a class/function body block: the first body element.

        Comments between the block-opening colon and the first statement are
        tree-sitter extras attached OUTSIDE the block (verified against the
        reference golden end_line_signature values), so they neither shift
        the block start nor become siblings of the first statement."""
        return self.ext_start(body[0])


class _PyChunker:
    def __init__(self, code: str):
        self.src = _Source(code)
        self.tree = ast.parse(code)
        # block map: statement id -> (body list, index, enclosing class or None)
        self.prev_end: dict[int, int] = {}
        self.enclosing_class: dict[int, Optional[ast.ClassDef]] = {}
        self._index_blocks(self.tree.body, 0, None)

    # -- structure indexing ---------------------------------------------------

    def _index_blocks(self, body: list[ast.stmt], block_start: int, cls) -> None:
        prev = block_start
        for stmt in body:
            self.prev_end[id(stmt)] = prev
            self.enclosing_class[id(stmt)] = cls
            prev = self.src.node_range(stmt)[1]
            inner_cls = stmt if isinstance(stmt, ast.ClassDef) else cls
            for sub in self._sub_bodies(stmt):
                if sub:
                    sub_start = (
                        self.src.block_start(stmt, sub)
                        if isinstance(stmt, (ast.ClassDef, *_FUNC_TYPES))
                        else self.src.ext_start(sub[0])
                    )
                    self._index_blocks(sub, sub_start, inner_cls)

    @staticmethod
    def _sub_bodies(stmt: ast.stmt) -> list[list[ast.stmt]]:
        out = []
        for field in ("body", "orelse", "finalbody"):
            val = getattr(stmt, field, None)
            if isinstance(val, list) and val and isinstance(val[0], ast.stmt):
                out.append(val)
        for handler in getattr(stmt, "handlers", []) or []:
            out.append(handler.body)
        return out

    # -- comments as siblings ---------------------------------------------------

    def _preceding_comment_ranges(self, stmt: ast.stmt) -> list[tuple[int, int]]:
        return self.src.comments_in(self.prev_end[id(stmt)], self.src.ext_start(stmt))

    def _with_comments_text(self, stmt: ast.stmt, start: int, end: int) -> str:
        """reference _get_node_with_comments: preceding comment texts
        concatenated (no separator), then newline, then the node text."""
        comments = self._preceding_comment_ranges(stmt)
        node_text = self.src.to_str(start, end)
        if comments:
            return "".join(self.src.to_str(s, e) for s, e in comments) + "\n" + node_text
        return node_text

    def _with_comments_ranges(self, stmt: ast.stmt, start: int, end: int) -> list[tuple[int, int]]:
        return self._preceding_comment_ranges(stmt) + [(start, end)]

    # -- imports ---------------------------------------------------------------

    def imports(self) -> dict[str, ast.stmt]:
        """name -> import statement, in document order (reference
        _PythonFunctionChunker._get_imports)."""
        nodes = [
            n for n in ast.walk(self.tree) if isinstance(n, (ast.Import, ast.ImportFrom))
        ]
        nodes.sort(key=lambda n: (n.lineno, n.col_offset))
        imports: dict[str, ast.stmt] = {}
        for node in nodes:
            names = []
            if isinstance(node, ast.ImportFrom):
                # absolute module paths appear as a dotted_name child in the
                # tree-sitter grammar; relative prefixes and __future__ do not
                if not node.level and node.module and node.module != "__future__":
                    names.append(node.module)
            for alias in node.names:
                if alias.name == "*":
                    continue
                if alias.asname:
                    names.append(alias.asname)
                names.append(alias.name)
            for name in names:
                imports[name] = node
        return imports

    def _identifiers_in_node(self, start: int, end: int) -> set[str]:
        return {name for name, _ in self.src.names_in(start, end)}

    def _build_imports(self, imports: dict[str, ast.stmt], node_range: tuple[int, int],
                       additional_context: str) -> str:
        used = {
            name for name in self._identifiers_in_node(*node_range) if name in imports
        }
        if additional_context:
            for name in imports:
                if name in additional_context:
                    used.add(name)
        set_imports = set()
        for name in used:
            stmt = imports[name]
            set_imports.add(self._with_comments_text(stmt, *self.src.node_range(stmt)))
        return "\n".join(sorted(set_imports)) + "\n"

    def _used_import_names(self, imports: dict[str, ast.stmt], node_range: tuple[int, int],
                           additional_context: str,
                           module_variables: Optional[dict[str, ast.stmt]],
                           body_range: Optional[tuple[int, int]] = None) -> set[str]:
        used = {
            name for name in self._identifiers_in_node(*node_range) if name in imports
        }
        if additional_context:
            for name in imports:
                if name in additional_context:
                    used.add(name)
        if module_variables:
            # variable usage scans the function BODY only (reference
            # _find_used_variables resolves the body block)
            for var_name in self._used_variables_of_range(body_range or node_range):
                if var_name in module_variables:
                    var_range = self.src.node_range(module_variables[var_name])
                    used |= {
                        n for n in self._identifiers_in_node(*var_range) if n in imports
                    }
        return used

    # -- module variables --------------------------------------------------------

    def module_variables(self) -> dict[str, ast.stmt]:
        variables: dict[str, ast.stmt] = {}
        for stmt in self.tree.body:
            target = None
            if isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
                target = stmt.targets[0]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                target = stmt.target
            if target is not None:
                variables[target.id] = stmt
        return variables

    def _assignment_left_positions(self, root: ast.AST) -> set[int]:
        """Byte positions of identifiers that are direct left sides of plain
        assignments (excluded from used-variable detection)."""
        out = set()
        for n in ast.walk(root):
            targets = []
            if isinstance(n, ast.Assign):
                targets = n.targets
            elif isinstance(n, ast.AnnAssign):
                targets = [n.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out.add(self.src.pos(t.lineno, t.col_offset))
        return out

    def _function_body_range(self, func: ast.stmt) -> tuple[int, int]:
        start = self.src.block_start(func, func.body)
        return start, self.src.node_range(func)[1]

    def _used_variables_of(self, func: ast.stmt) -> set[str]:
        return self._used_variables_of_range(self._function_body_range(func), func)

    def _used_variables_of_range(self, rng: tuple[int, int],
                                 root: Optional[ast.AST] = None) -> set[str]:
        excluded = self._assignment_left_positions(root if root is not None else self.tree)
        return {
            name
            for name, pos in self.src.names_in(*rng)
            if pos not in excluded
        }

    # -- function / class collection ---------------------------------------------

    def collect_functions(self) -> list[ast.stmt]:
        out: list[ast.stmt] = []

        def walk(stmts: list[ast.stmt]):
            for stmt in stmts:
                if isinstance(stmt, _FUNC_TYPES):
                    if stmt.name != "__init__":
                        out.append(stmt)
                    elif self._is_only_function_in_class(stmt):
                        out.append(stmt)
                    continue  # never descend into function bodies
                for sub in self._sub_bodies(stmt):
                    walk(sub)

        walk(self.tree.body)
        return out

    def _is_only_function_in_class(self, ctor: ast.stmt) -> bool:
        cls = self.enclosing_class.get(id(ctor))
        if cls is None or ctor not in cls.body:
            return False
        return not any(
            isinstance(s, _FUNC_TYPES) and not s.decorator_list and s is not ctor
            for s in cls.body
        )

    def collect_empty_classes(self) -> list[ast.ClassDef]:
        out: list[ast.ClassDef] = []

        def has_methods(cls: ast.ClassDef) -> bool:
            # decorated methods are decorated_definition nodes in tree-sitter
            # and deliberately don't count (reference _get_classes_no_methods)
            return any(
                isinstance(s, _FUNC_TYPES) and not s.decorator_list for s in cls.body
            )

        def walk(stmts: list[ast.stmt]):
            for stmt in stmts:
                if isinstance(stmt, ast.ClassDef):
                    if not has_methods(stmt):
                        out.append(stmt)
                    continue  # never descend into class bodies
                for sub in self._sub_bodies(stmt):
                    walk(sub)

        walk(self.tree.body)
        return out

    # -- content building -----------------------------------------------------------

    def _build_function_text(self, func: ast.stmt) -> tuple[str, tuple[int, int]]:
        """Function text incl. decorators; also the bare node range."""
        node_range = self.src.node_range(func)
        start = self.src.ext_start(func)
        return self.src.to_str(start, node_range[1]), node_range

    def _find_constructor(self, cls: ast.ClassDef) -> Optional[ast.stmt]:
        for s in cls.body:
            if isinstance(s, _FUNC_TYPES) and s.name == "__init__":
                return s
        return None

    def _class_context(self, cls: ast.ClassDef) -> str:
        """reference _build_class_context (docstrings resolve to "" for
        Python, so with/without variants coincide)."""
        _, class_col = self.src.row_col(self.src.pos(cls.lineno, cls.col_offset))
        start_byte = self.src.ext_start(cls)
        _, start_col = self.src.row_col(start_byte)
        body_start = self.src.block_start(cls, cls.body)
        header_text = self.src.data[start_byte:body_start].decode("utf-8").rstrip()
        header = f"{' ' * start_col}{header_text}\n"

        fields = []
        for child in cls.body:
            if isinstance(child, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.Expr)):
                if isinstance(child, ast.Expr) and isinstance(child.value, ast.Constant) \
                        and isinstance(child.value.value, str):
                    continue  # docstring expression statements are excluded
                fields.append(self.src.to_str(*self.src.node_range(child)))
        fields_text = "\n".join(fields)

        ctor = self._find_constructor(cls)
        ctor_text = self._build_function_text(ctor)[0] if ctor is not None else ""
        return f"{header}\n{fields_text}\n{ctor_text}".strip()

    def _additional_context(self, func: ast.stmt) -> str:
        parts = ""
        cls = self.enclosing_class.get(id(func))
        while cls is not None:
            parts = f"{self._class_context(cls)}\n{parts}"
            cls = self.enclosing_class.get(id(cls))
        return parts


def chunk_python_code(
    code: str,
    *,
    doc_item: Optional[dict] = None,
    origin: Optional[dict] = None,
    tokenizer: Optional[Any] = None,
    max_tokens: int = 5000,
    min_chunk_size: int = 300,
) -> Iterator[dict]:
    """Chunk one Python source file; yields CodeChunk-shaped dicts
    (reference _CodeChunker.chunk)."""
    if not code.strip():
        return
    ck = _PyChunker(code)
    src = ck.src
    imports = ck.imports()
    module_vars = ck.module_variables()
    used_ranges: list[tuple[int, int]] = []

    item_proj = None
    if doc_item is not None:
        item_proj = {
            k: doc_item[k]
            for k in ("self_ref", "parent", "children", "content_layer", "label", "prov")
            if k in doc_item
        }

    def meta(**kw) -> dict:
        out = {"schema_name": _SCHEMA_NAME, "version": _VERSION}
        if item_proj is not None:
            out["doc_items"] = [item_proj]
        if origin is not None:
            out["origin"] = origin
        out.update(kw)
        return out

    # copyright comments at module level are never orphaned
    stmt_ranges = [src.node_range(s) for s in ck.tree.body]
    for c_start, c_end in src.comments:
        if any(s <= c_start < e for s, e in stmt_ranges):
            continue
        text = src.data[c_start:c_end].decode("utf-8").lower()
        if any(w in text for w in _COPYRIGHT_WORDS):
            used_ranges.append((c_start, c_end))

    all_chunks: list[dict] = []

    # -- function chunks ------------------------------------------------------
    for func in ck.collect_functions():
        additional_context = ck._additional_context(func)
        func_text, node_range = ck._build_function_text(func)
        imports_text = ck._build_imports(imports, node_range, additional_context)
        start_row, _ = src.row_col(node_range[0])
        end_row, _ = src.row_col(node_range[1] - 1) if node_range[1] else (start_row, 0)
        sig_row, _ = src.row_col(src.block_start(func, func.body))

        chunk_ranges = [node_range]
        if imports_text:
            for name in sorted(
                ck._used_import_names(
                    imports, node_range, additional_context, module_vars,
                    body_range=ck._function_body_range(func),
                )
            ):
                if name in imports:
                    stmt = imports[name]
                    chunk_ranges.extend(
                        ck._with_comments_ranges(stmt, *src.node_range(stmt))
                    )
        if additional_context:
            cls = ck.enclosing_class.get(id(func))
            if cls is not None:
                chunk_ranges.append(src.node_range(cls))

        module_variable_definitions = ""
        for var_name in sorted(ck._used_variables_of(func)):
            if var_name in module_vars:
                stmt = module_vars[var_name]
                chunk_ranges.extend(ck._with_comments_ranges(stmt, *src.node_range(stmt)))
                module_variable_definitions += src.to_str(*src.node_range(stmt)) + "\n"

        content = (
            f"{imports_text}{module_variable_definitions}{additional_context}{func_text}"
        )
        all_chunks.append(
            {
                "text": content,
                "meta": meta(
                    part_name=func.name,
                    docstring="",
                    sha256=_sha(content),
                    start_line=start_row,
                    end_line=end_row,
                    end_line_signature=sig_row,
                    chunk_type="function",
                ),
            }
        )
        used_ranges.extend(chunk_ranges)

    # constructors that are not chunked still claim their module variables
    for func in (
        n for n in ast.walk(ck.tree)
        if isinstance(n, _FUNC_TYPES) and n.name == "__init__"
    ):
        if module_vars and not ck._is_only_function_in_class(func):
            for var_name in ck._used_variables_of(func):
                if var_name in module_vars:
                    used_ranges.append(src.node_range(module_vars[var_name]))

    # -- class chunks (classes without undecorated methods) -----------------------
    for cls in ck.collect_empty_classes():
        node_range = src.node_range(cls)
        class_text = ck._with_comments_text(cls, *node_range)
        imports_text = ck._build_imports(imports, node_range, class_text)
        # the substring context check also applies to imports used in ranges
        used_names = ck._used_import_names(imports, node_range, class_text, None)
        start_row, _ = src.row_col(node_range[0])
        end_row, _ = src.row_col(node_range[1] - 1)

        chunk_ranges = ck._with_comments_ranges(cls, *node_range)
        for name in sorted(used_names):
            stmt = imports[name]
            chunk_ranges.extend(ck._with_comments_ranges(stmt, *src.node_range(stmt)))

        content = f"{imports_text}{class_text}"
        all_chunks.append(
            {
                "text": content,
                "meta": meta(
                    part_name=cls.name,
                    docstring="",
                    sha256=_sha(content),
                    start_line=start_row,
                    end_line=end_row,
                    end_line_signature=end_row,
                    chunk_type="class",
                ),
            }
        )
        used_ranges.extend(chunk_ranges)

    # -- preamble (orphan ranges) ----------------------------------------------
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

    # -- size processing ---------------------------------------------------------
    if tokenizer is None:
        from docling_core_spark.functions.chunkers import RegexTokenizer

        tokenizer = RegexTokenizer(max_tokens)
    for chunk in all_chunks:
        if tokenizer.count_tokens(chunk["text"]) <= max_tokens:
            yield chunk
        else:
            yield from _split_large_chunk(chunk, tokenizer, max_tokens, min_chunk_size)
