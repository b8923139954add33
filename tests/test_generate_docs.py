"""Doc-gen shim: schema export matches the emitter and the reference's
committed docs/DoclingDocument.json byte conventions."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from .conftest import require_ref_data


def test_generate_collection_jsonschema(tmp_path):
    from docling_core_spark.model.generate_docs import (
        generate_collection_jsonschema,
        prepare_directory,
    )
    from docling_core_spark.model.schema import document_json_schema

    prepare_directory(str(tmp_path / "docs"))
    [out] = generate_collection_jsonschema(str(tmp_path / "docs"))
    assert out.name == "DoclingDocument.json"
    assert json.loads(out.read_text()) == document_json_schema()


def test_prepare_directory_clean(tmp_path):
    from docling_core_spark.model.generate_docs import prepare_directory

    target = tmp_path / "docs"
    (target / "sub").mkdir(parents=True)
    (target / "stale.json").write_text("{}")
    (target / "sub" / "deep.txt").write_text("x")
    prepare_directory(str(target), clean=True)
    assert list(target.iterdir()) == []
    # without clean, existing content stays
    (target / "keep.json").write_text("{}")
    prepare_directory(str(target), clean=False)
    assert (target / "keep.json").exists()


def test_cli_entrypoint(tmp_path):
    require_ref_data()
    out = subprocess.run(
        [sys.executable, "-m", "docling_core_spark.model.generate_docs",
         str(tmp_path / "cli_docs"), "--clean"],
        capture_output=True,
        text=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.returncode == 0, out.stderr
    produced = json.loads((tmp_path / "cli_docs" / "DoclingDocument.json").read_text())
    # same deep content as the reference's committed schema doc
    ref = json.loads(
        open("/root/reference/docs/DoclingDocument.json", encoding="utf-8").read()
    )
    assert produced == ref
