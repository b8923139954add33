"""Behaviour lock: every serializer and chunker output is unchanged.

``tests/data/output_lock.json`` holds a sha256 prefix per output (see
``scripts/make_output_lock.py`` for the inputs).  A failure lists each
(case, column) that moved.  A deliberate output change is re-pinned with
``python scripts/make_output_lock.py`` after ``--diff`` shows that only the
intended entries moved.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import make_output_lock as lock  # noqa: E402

LOCKED = json.loads(lock.LOCK_PATH.read_text())


def _assert_unchanged(section: str, actual: dict) -> None:
    moved = lock.diff_section(section, LOCKED[section], actual, LOCKED["extract_columns"])
    assert not moved, f"{len(moved)} locked outputs moved:\n" + "\n".join(moved[:200])


def test_extract_outputs_locked():
    _assert_unchanged("extract", lock.extract_cases(lock.default_sf_dir()))


def test_serializer_outputs_locked():
    _assert_unchanged("serializers", lock.serializer_cases())


def test_code_chunk_outputs_locked():
    _assert_unchanged("code_chunks", lock.code_chunk_cases())
