"""DocLang OPC archive (.dclx) save/load (reference document.py:4786-4950 +
test_doclang_archive.py).

A .dclx is a zip package: ``[Content_Types].xml`` + ``_rels/.rels`` (OPC
boilerplate), ``document.xml`` (the DocLang markup with referenced image
URIs), ``assets/`` (picture images) and ``pages/<no>.png`` (page rasters).
The reference shells out to the external ``doclang.pack`` helper and PIL;
neither is installable here, so packing writes the same structure with
stdlib zipfile and image dimensions come from PNG/JPEG headers instead of a
decode (`_image_size`).  Load applies the same safety rails as the
reference: zip-slip rejection and per-member/total size caps.
"""

from __future__ import annotations

import base64
import hashlib
import posixpath
import struct
import zipfile
from pathlib import Path
from typing import Optional, Union

from docling_core_spark.model.doc import Doc

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
  <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
  <Default Extension="png" ContentType="image/png"/>
  <Default Extension="jpg" ContentType="image/jpeg"/>
  <Default Extension="jpeg" ContentType="image/jpeg"/>
  <Default Extension="webp" ContentType="image/webp"/>
  <Override PartName="/document.xml" ContentType="application/vnd.doclang.document+xml"/>
</Types>
"""

_RELS = """<?xml version="1.0" encoding="UTF-8"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1"
    Type="http://doclang.ai/ns/package/2026/relationships/document"
    Target="document.xml"/>
</Relationships>
"""

_MIME_EXT = {"image/png": "png", "image/jpeg": "jpg", "image/webp": "webp"}


def _image_size(data: bytes) -> Optional[tuple[int, int]]:
    """(width, height) from a PNG IHDR or JPEG SOF header, else None."""
    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = struct.unpack(">II", data[16:24])
        return int(w), int(h)
    if data[:2] == b"\xff\xd8":  # JPEG: scan for a SOF marker
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return int(w), int(h)
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            i += 2 + seg_len
    return None


def _decode_data_uri(uri: str) -> tuple[str, bytes]:
    head, _, payload = uri.partition(",")
    mimetype = head[5:].split(";")[0] or "image/png"
    return mimetype, base64.b64decode(payload)


def _image_bytes(image: dict) -> Optional[tuple[str, bytes]]:
    """(mimetype, bytes) of an image ref: embedded data URI or local file
    (the latter appears after an archive load round trip)."""
    uri = str((image or {}).get("uri") or "")
    if uri.startswith("data:"):
        return _decode_data_uri(uri)
    if uri and "://" not in uri:
        p = Path(uri)
        if p.is_file():
            return image.get("mimetype") or "image/png", p.read_bytes()
    return None


def save_as_doclang_archive(doc: Doc, filename: Union[str, Path]) -> None:
    """Pack a document into a .dclx: embedded data-URI images move to
    assets/ (content-addressed names, like the reference externalization)
    and page rasters to pages/<no>.<ext>; document.xml references them."""
    from docling_core_spark.functions.doclang_out import export_to_doclang

    filename = Path(filename)
    assets: dict[str, bytes] = {}
    doc = Doc.from_json(doc.to_json())  # private deep copy; rewrites stay local

    for idx, pic in enumerate(doc.pictures):
        image = pic.get("image")
        resolved = _image_bytes(image) if image else None
        if resolved is None:
            continue
        mimetype, data = resolved
        ext = _MIME_EXT.get(mimetype, "png")
        name = f"assets/image_{idx:06d}_{hashlib.sha256(data).hexdigest()}.{ext}"
        assets[name] = data
        image["uri"] = name

    pages: dict[str, bytes] = {}
    for page_no, page in doc.pages.items():
        resolved = _image_bytes(page.get("image") or {})
        if resolved is not None:
            mimetype, data = resolved
            ext = _MIME_EXT.get(mimetype, "png")
            pages[f"pages/{page_no}.{ext}"] = data

    markup = export_to_doclang(doc, image_mode="referenced")
    with zipfile.ZipFile(filename, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("document.xml", markup + "\n")
        for name, data in sorted(assets.items()):
            zf.writestr(name, data)
        for name, data in sorted(pages.items()):
            zf.writestr(name, data)


def _safe_extract(
    archive: Path, out_dir: Path, max_member_size: int, max_total_size: int
) -> None:
    """Extract with zip-slip rejection and decompressed-size caps
    (reference utils/file safe_extract_zip_archive behavior)."""
    total = 0
    with zipfile.ZipFile(archive) as zf:
        for info in zf.infolist():
            name = info.filename
            if "\\" in name:
                # reference validate_archive_relative_path rejects backslashed
                # member names outright (Windows-created zips can smuggle
                # ".." inside a backslash path that posix splitting misses)
                raise ValueError(f"Unsafe archive member path: {name!r}")
            norm = posixpath.normpath(name)
            if norm.startswith(("/", "../")) or ".." in norm.split("/"):
                raise ValueError(f"Unsafe archive member path: {name!r}")
            if info.file_size > max_member_size:
                raise ValueError(
                    f"Archive member too large: {name!r} ({info.file_size} bytes)"
                )
            total += info.file_size
            if total > max_total_size:
                raise ValueError("Archive decompressed size exceeds the total cap")
        out_dir.mkdir(parents=True, exist_ok=True)
        zf.extractall(out_dir)


def load_from_doclang_archive(
    filename: Union[str, Path],
    artifacts_dir: Optional[Path] = None,
    max_member_size: int = 512 * 1024 * 1024,
    max_total_size: int = 2 * 1024 * 1024 * 1024,
) -> Doc:
    """Load a .dclx archive: extract safely, deserialize document.xml with
    relative src URIs resolved against the extraction root, and restore
    ``pages/<no>.<ext>`` rasters as page image refs (dpi 72, size from the
    image header)."""
    from docling_core_spark.functions.doclang_load import load_from_doclang

    filename = Path(filename)
    out_dir = (
        Path(artifacts_dir)
        if artifacts_dir is not None
        else filename.parent / f"{filename.stem}_artifacts"
    )
    _safe_extract(filename, out_dir, max_member_size, max_total_size)

    document_xml = out_dir / "document.xml"
    if not document_xml.is_file():
        raise ValueError(f"DocLang archive missing document.xml: {filename}")

    doc = load_from_doclang(
        document_xml.read_text(encoding="utf-8"), media_root=out_dir
    )
    doc.name = filename.stem

    pages_dir = out_dir / "pages"
    if pages_dir.is_dir():
        for page_file in sorted(pages_dir.iterdir()):
            if not page_file.is_file() or not page_file.stem.isdigit():
                continue
            page = doc.pages.get(page_file.stem) or doc.pages.get(int(page_file.stem))
            if page is None:
                continue
            data = page_file.read_bytes()
            size = _image_size(data)
            if size is None:
                continue
            mimetype = {
                ".png": "image/png", ".jpg": "image/jpeg", ".jpeg": "image/jpeg",
                ".webp": "image/webp",
            }.get(page_file.suffix.lower(), "image/png")
            page["image"] = {
                "mimetype": mimetype,
                "dpi": 72,
                "size": {"width": float(size[0]), "height": float(size[1])},
                "uri": str(page_file.resolve()),
            }
    return doc
