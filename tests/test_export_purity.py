"""No export writes into the doc it reads.

Each output-lock variant (every serializer, both chunkers and ``to_json``)
runs on a fresh copy of each lock corpus doc; afterwards the doc must equal
a deep snapshot taken before the export.  ``extract_row`` runs all of them
in one ``Doc.read_scope``, whose shared memos rely on this.
"""

from __future__ import annotations

import copy
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import make_output_lock as lock  # noqa: E402

from docling_core_spark.functions.doclang_out import export_to_doclang  # noqa: E402

VARIANTS = lock.variants()


def _state(doc) -> dict:
    return copy.deepcopy({k: getattr(doc, k) for k in type(doc).__slots__ if k != "_memo"})


@pytest.mark.parametrize("variant", sorted(VARIANTS))
@pytest.mark.parametrize("name", sorted(lock.CORPUS))
def test_export_leaves_doc_unchanged(name, variant):
    doc = lock.CORPUS[name]()
    before = _state(doc)
    lock._guarded(lambda: VARIANTS[variant](doc))  # an export that raises must not write either
    assert _state(doc) == before


@pytest.mark.parametrize("name", ["threaded", "kitchen"])
def test_doclang_export_twice_is_equal(name):
    doc = lock.CORPUS[name]()
    assert export_to_doclang(doc) == export_to_doclang(doc)
