"""Python code chunker golden parity (reference test_code_chunker.py:138-176,
Python repo spec with StandardCodeChunkingStrategy(max_tokens=5000))."""

from __future__ import annotations

import hashlib
import json

from docling_core_spark.functions.chunkers import hierarchical_chunks
from docling_core_spark.functions.code_chunker import chunk_python_code
from docling_core_spark.model.doc import Doc, parse_binary_hash

from .conftest import require_ref_data

_REPO_URL = "https://github.com/docling-project/docling"
_COMMIT = "abc123def456"


def _repo_docs():
    base = require_ref_data().parent / "data" / "chunker_repo" / "repos" / "docling"
    out = []
    for f in sorted(base.iterdir()):
        content = f.read_text(encoding="utf-8")
        origin = {
            "mimetype": "text/plain",
            "binary_hash": parse_binary_hash(
                hashlib.sha256(content.encode("utf-8")).hexdigest()
            ),
            "filename": f.name,
            "uri": f"{_REPO_URL}/blob/{_COMMIT}/{f.name}",
        }
        out.append((f.name, content, origin))
    return out


def _golden():
    p = require_ref_data().parent / "data" / "chunker_repo" / "Python" / "repo_out_chunks.json"
    return json.loads(p.read_text())["root"]


_DOC_ITEM = {
    "self_ref": "#/texts/0",
    "parent": {"$ref": "#/body"},
    "children": [],
    "content_layer": "body",
    "label": "code",
    "prov": [],
}


def test_python_repo_golden_parity():
    acts = []
    for _, content, origin in _repo_docs():
        acts.extend(chunk_python_code(content, doc_item=_DOC_ITEM, origin=origin))
    assert acts == _golden()


def test_hierarchical_chunker_code_strategy_hook():
    """Code items route through the Python chunker when code_chunking is on
    (reference hierarchical_chunker.py:249-256)."""
    name, content, origin = _repo_docs()[0]
    doc = Doc(name=name)
    doc.origin = origin
    doc.add_code(content, code_language="Python")
    chunks = list(hierarchical_chunks(doc, code_chunking=True))
    exp = [c for c in _golden() if c["meta"]["origin"]["filename"] == name]
    assert [c["text"] for c in chunks] == [c["text"] for c in exp]
    assert [c["meta"]["chunk_type"] for c in chunks] == [
        c["meta"]["chunk_type"] for c in exp
    ]
    # languages without an inner chunker fall back to one code_block chunk
    # (reference standard_code_chunking_strategy.py:85-94); since round 4
    # all five reference languages have inner chunkers, so only unmapped
    # labels hit the fallback
    doc2 = Doc(name="x")
    doc2.add_code("int main() { return 0; }", code_language="Rust")
    fallback = list(hierarchical_chunks(doc2, code_chunking=True))
    assert len(fallback) == 1
    assert fallback[0]["meta"]["chunk_type"] == "code_block"
    assert fallback[0]["meta"]["start_line"] == 1
    assert fallback[0]["text"] == "int main() { return 0; }"


def _chunk_texts(code: str) -> dict:
    chunks = chunk_python_code(code, doc_item={"self_ref": "#/texts/0"}, origin={"filename": "f.py"})
    return {c["meta"].get("part_name", c["meta"]["chunk_type"]): c["text"] for c in chunks}


def test_form_feed_line_does_not_shift_offsets():
    """ast and tokenize end lines only at \\n, \\r\\n and \\r; a form feed is
    part of its line, so every offset after one stays on its character."""
    code = (
        "import os\r\n\r\n\r\ndef crlf():\r\n    return os.sep\r\n\x0c\n# form feed above\n"
        "def after_form_feed():\n    return 1\n"
    )
    got = _chunk_texts(code)
    assert got["after_form_feed"].lstrip("\n") == "def after_form_feed():\n    return 1"
    assert got["preamble"] == "# form feed above"
    assert got == _chunk_texts(code.replace("\x0c", ""))


def test_lone_carriage_returns_end_lines():
    code = (
        "import os\n\n# helper\ndef f():\n    # inside\n    return os.sep  # sep\n\n\n"
        "class A:\n    def g(self):\n        return f()\n"
    )
    got = _chunk_texts(code.replace("\n", "\r"))
    assert {k: v.replace("\r", "\n") for k, v in got.items()} == _chunk_texts(code)
