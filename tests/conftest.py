"""Shared test fixtures.

The reference repo (docling-project/docling-core, read-only at
/root/reference) provides ground-truth fixture files under test/data/.  We
read them in place — they are DATA (the spec of what to compute), never code.
Tests touching them are skipped when the reference checkout is absent.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

REF_DATA = Path("/root/reference/test/data")


def require_ref_data() -> Path:
    if not REF_DATA.is_dir():
        pytest.skip("reference GT fixtures not available", allow_module_level=True)
    return REF_DATA


def load_gt(relpath: str) -> str:
    """Read a ground-truth text file from the reference fixture corpus."""
    return (require_ref_data() / relpath).read_text(encoding="utf-8")


def load_doc_json(relpath: str) -> dict:
    p = require_ref_data() / relpath
    text = p.read_text(encoding="utf-8")
    if relpath.endswith((".yaml", ".yml", ".yaml.gt", ".yml.gt")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)


@pytest.fixture(scope="session")
def spark():
    """Local SparkSession shared by all Spark tests."""
    from docling_core_spark.session import get_spark

    s = get_spark(app_name="docling-core-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
