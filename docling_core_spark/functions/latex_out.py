"""LaTeX serialization (reference transforms/serializer/latex.py).

Document scaffold with preamble, section/itemize/enumerate/tabular/figure
environments, LaTeX escaping, title relocation with \\maketitle.
Target: byte parity with *.gt.tex fixtures.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from docling_core_spark.functions.serializers import (
    DocSerializer,
    MarkdownParams,
    SerResult,
    _res,
    replace_page_breaks,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

_DEFAULT_PACKAGES = [
    r"\usepackage[utf8]{inputenc} % allow utf-8 input",
    r"\usepackage[T1]{fontenc}    % use 8-bit T1 fonts",
    r"\usepackage{hyperref}       % hyperlinks",
    r"\usepackage{url}            % simple URL typesetting",
    r"\usepackage{booktabs}       % professional-quality tables",
    r"\usepackage{amsfonts}       % blackboard math symbols",
    r"\usepackage{nicefrac}       % compact symbols for 1/2, etc.",
    r"\usepackage{microtype}      % microtypography",
    r"\usepackage{xcolor}         % colors",
    r"\usepackage{graphicx}       % graphics",
    r"\usepackage[normalem]{ulem} % strikethrough",
]

_LATEX_REPL = {
    "\\": r"\textbackslash{}",
    "{": r"\{",
    "}": r"\}",
    "#": r"\#",
    "$": r"\$",
    "%": r"\%",
    "&": r"\&",
    "_": r"\_",
    "~": r"\textasciitilde{}",
    "^": r"\textasciicircum{}",
}


def escape_latex(text: str) -> str:
    """Escape LaTeX special characters (not for math/verbatim contexts)."""
    if not text:
        return text
    return "".join(_LATEX_REPL.get(ch, ch) for ch in text)


@dataclass
class LaTeXParams(MarkdownParams):
    """LaTeX serialization parameters (reference LaTeXParams)."""

    image_placeholder: str = "% image"
    indent: int = 2
    page_break_command: Optional[str] = None
    escape_latex: bool = True
    document_class: str = r"\documentclass[11pt,a4paper]{article}"
    packages: list = field(default_factory=lambda: list(_DEFAULT_PACKAGES))
    # markdown escaping off; LaTeX escaping happens in post_process
    escape_underscores: bool = False
    escape_html: bool = False


class LaTeXSerializer(DocSerializer):
    """LaTeX dispatch engine sharing the traversal core."""

    _SERIALIZE_DELIM = "\n"
    _MISSING_TEXT = "% missing-text"
    _MISSING_KEY_VALUE = "% missing-key-value-item"
    _MISSING_FORM = "% missing-form-item"
    _ANNOTATION_DELIM = "\n"

    params: LaTeXParams

    def __init__(self, doc: Doc, params: Optional[LaTeXParams] = None):
        super().__init__(doc, params or LaTeXParams())

    def _requires_page_break(self) -> bool:
        return self.params.page_break_command is not None

    def serialize_meta(self, item: dict) -> SerResult:
        return _res()

    # -- style hooks -----------------------------------------------------------

    def _fmt_bold(self, t: str) -> str:
        return f"\\textbf{{{t}}}"

    def _fmt_italic(self, t: str) -> str:
        return f"\\textit{{{t}}}"

    def _fmt_underline(self, t: str) -> str:
        return f"\\underline{{{t}}}"

    def _fmt_strikethrough(self, t: str) -> str:
        return f"\\sout{{{t}}}"

    def _fmt_subscript(self, t: str) -> str:
        return f"$_{{{t}}}$"

    def _fmt_superscript(self, t: str) -> str:
        return f"$^{{{t}}}$"

    def _fmt_hyperlink(self, t: str, url: str) -> str:
        return f"\\href{{{escape_latex(str(url))}}}{{{t}}}"

    def post_process(self, text, escape_html=True, escape_underscores=True, formatting=None, hyperlink=None):
        """LaTeX escaping, then formatting/hyperlink wraps."""
        res = escape_latex(text) if self.params.escape_latex else text
        return super().post_process(
            res, escape_html=False, escape_underscores=False, formatting=formatting, hyperlink=hyperlink
        )

    # -- annotations --------------------------------------------------------------

    def _fmt_annotation(self, kind: str, text: str) -> str:
        lines = text.splitlines() or [text]
        if len(lines) <= 1:
            return f"% annotation[{kind}]: {text}"
        return "\n".join([f"% annotation[{kind}]: {lines[0]}"] + [f"% {ln}" for ln in lines[1:]])

    # -- text ----------------------------------------------------------------------

    def _serialize_text_item(self, item: dict, visited: set, is_inline_scope: bool) -> SerResult:
        label = item.get("label")
        child_group = self._inline_child(item)
        if child_group is not None:
            # the reference passthrough serializes the inline group WITHOUT
            # threading `visited` (latex.py:152), so the group is serialized
            # again by the enclosing traversal — construct_doc.gt.tex encodes
            # that duplication for list items; replicate faithfully
            text = self.serialize(item=child_group, visited=set(), is_inline_scope=True).text
            needs_pp = False
        else:
            text = item.get("text", "")
            needs_pp = True

        def pp(t: str) -> str:
            return self.post_process(t, formatting=item.get("formatting"), hyperlink=item.get("hyperlink"))

        if label == M.LIST_ITEM:
            text_part = f"\\item {pp(text) if needs_pp else text}"
        elif label == M.TITLE:
            text_part = f"\\title{{{pp(text) if needs_pp else text}}}"
        elif label == M.SECTION_HEADER:
            lvl = item.get("level", 1)
            if lvl <= 0 or lvl >= 4:
                raise ValueError("LaTeX serializer: SectionHeaderItem.level must be in [1, 3]")
            cmd = {1: "section", 2: "subsection", 3: "subsubsection"}[lvl]
            text_part = f"\\{cmd}{{{pp(text) if needs_pp else text}}}"
        elif label == M.CODE:
            if is_inline_scope:
                text_part = f"\\texttt{{{text.replace('#', chr(92) + chr(92) + '#')}}}"
            else:
                text_part = f"\\begin{{verbatim}}\n{text}\n\\end{{verbatim}}"
        elif label == M.FORMULA:
            if text:
                text_part = f"${text}$" if is_inline_scope else f"$${text}$$"
            elif item.get("orig"):
                text_part = "% formula-not-decoded"
            else:
                text_part = ""
        else:
            text_part = pp(text) if needs_pp else text

        parts: list[SerResult] = []
        if text_part:
            parts.append(_res(text_part, item))
        if "captions" in item:
            cap = self.serialize_captions(item)
            if cap.text:
                parts.append(cap)
        return _res((" " if is_inline_scope else "\n\n").join(p.text for p in parts), parts)

    # -- tables ------------------------------------------------------------------------

    def _serialize_table(self, item: dict, visited: set, nested: bool = False) -> SerResult:
        p = self.params
        parts: list[SerResult] = []
        body_rows: list[list[str]] = []
        if item["self_ref"] not in self.get_excluded_refs():
            if p.include_annotations:
                ann = self.serialize_annotations(item)
                if ann.text:
                    parts.append(ann)
            for row in self._grid_c(item.get("data") or {}):
                body_row = []
                for cell in row:
                    if cell.get("ref"):
                        ref = cell["ref"]
                        cref = ref["$ref"] if isinstance(ref, dict) else ref
                        cell_text = self.serialize(item=self.doc.resolve(cref), visited=visited).text
                    else:
                        t = cell.get("text") or ""
                        cell_text = escape_latex(t) if p.escape_latex else t
                    body_row.append(cell_text.replace("\n", " "))
                body_rows.append(body_row)
        table_text = ""
        if body_rows:
            ncols = max(len(r) for r in body_rows)
            colspec = "|" + "|".join(["l"] * ncols) + "|"
            lines = [f"\\begin{{tabular}}{{{colspec}}}", "\\hline"]
            for row in body_rows:
                lines.append(" & ".join(row) + r" \\ \hline")
            lines.append("\\end{tabular}")
            table_text = "\n".join(lines)
        cap_text = self.serialize_captions(item).text
        if table_text or cap_text:
            content = ["\\begin{table}[h]"]
            if cap_text:
                content.append(f"\\caption{{{cap_text}}}")
            if table_text:
                content.append(table_text)
            content.append("\\end{table}")
            parts.append(_res("\n".join(content), item))
        return _res("\n\n".join(r.text for r in parts if r.text), parts)

    # -- pictures -----------------------------------------------------------------------

    def _serialize_picture(self, item: dict, visited: set) -> SerResult:
        p = self.params
        parts: list[SerResult] = []
        if item["self_ref"] not in self.get_excluded_refs():
            fig = ["\\begin{figure}[h]"]
            uri = (item.get("image") or {}).get("uri")
            is_data = isinstance(uri, str) and uri.startswith("data:")
            if p.image_mode == "referenced" and uri and not is_data:
                fig.append(f"\\includegraphics[width=\\linewidth]{{{uri}}}")
            elif p.image_mode == "embedded":
                fig.append("% embedded image not supported in LaTeX serializer")
            else:
                fig.append(p.image_placeholder)
            cap = self.serialize_captions(item)
            if cap.text:
                fig.append(f"\\caption{{{cap.text}}}")
            if p.include_annotations:
                ann = self.serialize_annotations(item)
                if ann.text:
                    fig.append(ann.text)
            fig.append("\\end{figure}")
            parts.append(_res("\n".join(fig), item))
        for ann in item.get("annotations", ()):
            if ann.get("kind") == "tabular_chart" and ann.get("chart_data") and self.params.table_mode != "off":
                t = self._serialize_table({"self_ref": item["self_ref"], "data": ann["chart_data"], "prov": []}, visited)
                if t.text:
                    parts.append(t)
                break
        return _res("\n\n".join(r.text for r in parts if r.text), parts)

    # -- groups --------------------------------------------------------------------------

    def _serialize_list_group(self, item: dict, visited: set, list_level: int, is_inline_scope: bool) -> SerResult:
        p = self.params
        parts = self.get_parts(
            item=item, list_level=list_level + 1, is_inline_scope=is_inline_scope, visited=visited
        )
        env = "enumerate" if self._is_enumerated(item) else "itemize"
        indent = " " * (list_level * p.indent)
        content = "\n".join(x.text for x in parts if x.text)
        text = f"{indent}\\begin{{{env}}}\n{content}\n{indent}\\end{{{env}}}" if content else ""
        return _res(text, parts)

    def _serialize_unrendered(self, item: dict, placeholder: str) -> SerResult:
        # no meta in LaTeX, and the placeholder stays in a meta-only export
        return _res() if item["self_ref"] in self.get_excluded_refs() else _res(placeholder, item)

    # -- document scaffold ------------------------------------------------------------------

    def serialize_doc(self, parts: list[SerResult]) -> SerResult:
        p = self.params
        body_text = "\n\n".join(x.text for x in parts if x.text)
        if p.page_break_command is not None:
            body_text = replace_page_breaks(body_text, p.page_break_command)
        title_cmd, body_text, needs_maketitle = self._post_process_title(body_text)
        preamble: list[str] = []
        if p.document_class:
            preamble.append(p.document_class)
            preamble.append("")
        for pkg in p.packages:
            line = pkg.strip()
            if not line:
                continue
            preamble.append(line if line.startswith("\\") else f"\\usepackage{{{line}}}")
        if title_cmd:
            preamble.append(title_cmd)
        header = "\n".join(preamble + ["", "\\begin{document}"]) if preamble else "\\begin{document}"
        footer = "\\end{document}"
        body_parts = []
        if needs_maketitle:
            body_parts.append("\\maketitle")
        if body_text:
            body_parts.append(body_text)
        body_block = "\n\n".join(body_parts)
        full = f"{header}\n\n{body_block}\n\n{footer}" if body_block else f"{header}\n\n{footer}"
        return _res(full, parts)

    @staticmethod
    def _post_process_title(body_text: str):
        pattern = re.compile(r"\\title\s*\{([^{}]*)\}", re.DOTALL)
        first = pattern.search(body_text)
        if not first:
            return None, body_text, False
        title_cmd = f"\\title{{{first.group(1)}}}"
        new_body = pattern.sub("", body_text)
        new_body = re.sub(r"\n{3,}", "\n\n", new_body).strip()
        return title_cmd, new_body, True


def export_to_latex(doc: Doc, **overrides) -> str:
    """LaTeX export with reference defaults."""
    params = LaTeXParams(
        labels=frozenset(overrides.pop("labels", M.DOCUMENT_TOKENS_EXPORT_LABELS)),
        **overrides,
    )
    return LaTeXSerializer(doc, params).serialize().text
