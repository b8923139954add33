"""DocLang archive (.dclx) save/load (reference test_doclang_archive.py)."""

from __future__ import annotations

import base64
import copy
import json
import zipfile
from pathlib import Path

import pytest

from docling_core_spark.model.doc import Doc
from docling_core_spark.sources.doclang_archive import (
    _image_size,
    _safe_extract,
    load_from_doclang_archive,
    save_as_doclang_archive,
)

from .conftest import require_ref_data


def _archive_dir() -> Path:
    return require_ref_data() / "doc" / "doclang_archive"


def _strip_uris(data):
    if isinstance(data, dict):
        return {k: _strip_uris(v) for k, v in data.items() if k != "uri"}
    if isinstance(data, list):
        return [_strip_uris(x) for x in data]
    return data


def test_load_from_doclang_archive(tmp_path):
    loaded = load_from_doclang_archive(
        _archive_dir() / "load" / "two_pages.dclx",
        artifacts_dir=tmp_path / "two_pages_artifacts",
    )
    expected = json.loads((_archive_dir() / "load" / "two_pages.gt.json").read_text())
    got = loaded.to_dict()
    got["version"] = expected["version"]
    assert _strip_uris(got) == _strip_uris(expected)

    assert len(loaded.pages) == 2
    assert loaded.pictures[0]["image"] is not None
    for page_no in ("1", "2"):
        assert loaded.pages[page_no]["image"] is not None


def test_save_as_doclang_archive(tmp_path):
    doc = Doc.from_dict(
        json.loads((_archive_dir() / "save" / "two_pages.json").read_text())
    )
    dclx = tmp_path / "two_pages.dclx"
    save_as_doclang_archive(doc, dclx)
    assert dclx.is_file()
    with zipfile.ZipFile(dclx) as archive:
        names = archive.namelist()
        assert "document.xml" in names
        assert "pages/1.png" in names
        assert "pages/2.png" in names
        assert any(n.startswith("assets/") for n in names)
        xml = archive.read("document.xml").decode("utf-8")
        assert "base64" not in xml
        assert 'uri="assets/' in xml


def test_doclang_archive_roundtrip(tmp_path):
    doc = Doc.from_dict(
        json.loads((_archive_dir() / "save" / "two_pages.json").read_text())
    )
    dclx = tmp_path / "two_pages.dclx"
    save_as_doclang_archive(doc, dclx)
    loaded = load_from_doclang_archive(dclx, artifacts_dir=tmp_path / "a1")
    assert len(loaded.pages) == 2
    assert len(loaded.pictures) == len(doc.pictures)
    assert loaded.pictures[0]["image"]["size"] == doc.pictures[0]["image"]["size"]

    roundtrip = tmp_path / "two_pages_rt.dclx"
    save_as_doclang_archive(loaded, roundtrip)
    with zipfile.ZipFile(roundtrip) as archive:
        assert "pages/1.png" in archive.namelist()
        assert "pages/2.png" in archive.namelist()
    reloaded = load_from_doclang_archive(roundtrip, artifacts_dir=tmp_path / "a2")
    assert len(reloaded.pages) == 2
    assert reloaded.pictures[0]["image"] is not None


def _write_zip(path: Path, members: dict[str, bytes]) -> None:
    with zipfile.ZipFile(path, "w") as archive:
        for name, data in members.items():
            archive.writestr(name, data)


def test_safe_extract_rejects_oversize_member(tmp_path):
    p = tmp_path / "big.dclx"
    _write_zip(p, {"document.xml": b"A" * 4096})
    with pytest.raises(ValueError, match="too large"):
        _safe_extract(p, tmp_path / "out", max_member_size=128, max_total_size=1 << 20)


def test_safe_extract_rejects_oversize_total(tmp_path):
    p = tmp_path / "total.dclx"
    _write_zip(p, {f"f{i}.png": b"A" * 1000 for i in range(10)})
    with pytest.raises(ValueError, match="total cap"):
        _safe_extract(p, tmp_path / "out", max_member_size=1 << 20, max_total_size=5000)


def test_safe_extract_rejects_zip_slip(tmp_path):
    p = tmp_path / "slip.dclx"
    _write_zip(p, {"../evil.txt": b"x"})
    with pytest.raises(ValueError, match="Unsafe archive member"):
        _safe_extract(p, tmp_path / "out", 1 << 20, 1 << 20)


def test_image_size_headers():
    png = bytes.fromhex("89504e470d0a1a0a0000000d49484452") + (173).to_bytes(4, "big") + (178).to_bytes(4, "big")
    assert _image_size(png) == (173, 178)
    assert _image_size(b"\x00not an image") is None


def test_save_leaves_callers_doc_unchanged(tmp_path):
    png = bytes.fromhex("89504e470d0a1a0a0000000d49484452") + (2).to_bytes(4, "big") * 2
    uri = "data:image/png;base64," + base64.b64encode(png).decode("ascii")
    doc = Doc("pics")
    doc.add_page(1, 100.0, 100.0)["image"] = {"mimetype": "image/png", "uri": uri}
    doc.add_picture(image={"mimetype": "image/png", "size": {"width": 2, "height": 2}, "uri": uri})
    before = copy.deepcopy(doc.to_dict())
    save_as_doclang_archive(doc, tmp_path / "pics.dclx")
    with zipfile.ZipFile(tmp_path / "pics.dclx") as archive:
        assert any(n.startswith("assets/image_000000_") for n in archive.namelist())
        assert "pages/1.png" in archive.namelist()
    assert doc.pictures[0]["image"]["uri"] == uri
    assert doc.to_dict() == before
