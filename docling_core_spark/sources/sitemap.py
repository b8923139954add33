"""Sitemap ingestion: sitemap.xml / sitemap index -> crawl-frontier rows.

The step BEFORE the crawl: sitemaps (sitemaps.org protocol, the public
spec) enumerate a host's URLs with optional lastmod/changefreq/priority.
This source parses them into frontier rows that feed the URL-level
curation stages (textstats.url_filter, robots_filter) — completing the
first mile: sitemap -> frontier -> fetch (WARC) -> extract (HTML/PDF).

- ``parse_sitemap(data)``: stdlib ElementTree over <urlset> /
  <sitemapindex> (namespace-agnostic local-name matching), per-entry
  tolerance (a malformed entry is skipped, a malformed file yields zero
  rows), gzip members (.xml.gz) transparently decompressed.
- ``sitemap_urls_df(spark, path)``: binaryFile -> mapInPandas, one row
  per <url>/<sitemap> entry: (sitemap, kind, loc, lastmod, changefreq,
  priority).  Files are the parallel unit (sitemaps cap at 50k entries /
  50 MB by spec, so one file per task is the right granularity — no
  range splits needed, unlike WARC/PDF).

Oracle: single-process-expected (the same parser, no Spark).
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator

__all__ = [
    "parse_sitemap",
    "build_sitemap",
    "demo_sitemap_dir",
    "sitemap_urls_df",
]


# sitemaps.org caps a sitemap at 50 MB uncompressed / 50k entries — the
# natural inflation bound (hostile bombs yield zero rows, never an OOM)
_MAX_SITEMAP_BYTES = 50 << 20


def _local(tag: str) -> str:
    """Namespace-agnostic local name ('{ns}loc' -> 'loc')."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(data: bytes) -> list[dict]:
    """Sitemap bytes -> entry dicts (kind: 'url' | 'sitemap').

    Total function: a file that is not XML (or not a sitemap) yields [];
    a malformed ENTRY is skipped, the rest of the file parses.  Gzip
    (.xml.gz) is decompressed transparently."""
    import xml.etree.ElementTree as ET
    import zlib

    if data[:2] == b"\x1f\x8b":
        # BOUNDED inflate (the warc.py contract): the sitemaps spec caps a
        # file at 50 MB uncompressed — a decompression bomb must yield
        # zero rows, never an OOM-killed task.  EOFError (truncated
        # member) and zlib.error (corrupt body) are total-function cases
        # alongside BadGzipFile/OSError.
        try:
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
            data = d.decompress(data, _MAX_SITEMAP_BYTES + 1)
            if len(data) > _MAX_SITEMAP_BYTES:
                return []
        except (OSError, EOFError, zlib.error):
            return []
    if len(data) > _MAX_SITEMAP_BYTES:
        return []
    try:
        root = ET.parse(io.BytesIO(data)).getroot()
    except ET.ParseError:
        return []
    root_kind = _local(root.tag)
    if root_kind == "urlset":
        entry_tag, kind = "url", "url"
    elif root_kind == "sitemapindex":
        entry_tag, kind = "sitemap", "sitemap"
    else:
        return []
    out = []
    for entry in root:
        if _local(entry.tag) != entry_tag:
            continue
        fields: dict = {"loc": None, "lastmod": None,
                        "changefreq": None, "priority": None}
        for child in entry:
            name = _local(child.tag)
            if name in fields and child.text is not None:
                fields[name] = child.text.strip()
        if not fields["loc"]:
            continue  # entry without a loc is meaningless — skip it
        try:
            prio = float(fields["priority"]) if fields["priority"] else None
        except ValueError:
            prio = None
        out.append(
            {
                "kind": kind,
                "loc": fields["loc"],
                "lastmod": fields["lastmod"],
                "changefreq": fields["changefreq"],
                "priority": prio,
            }
        )
    return out


# ---------------------------------------------------------------------------
# writer (fixture generator) + demo corpus
# ---------------------------------------------------------------------------

_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def build_sitemap(entries: list[dict], index: bool = False,
                  gz: bool = False) -> bytes:
    """Deterministic sitemap writer for fixtures (NOT a general emitter)."""
    from xml.sax.saxutils import escape

    tag = "sitemapindex" if index else "urlset"
    entry_tag = "sitemap" if index else "url"
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f'<{tag} xmlns="{_NS}">\n',
    ]
    for e in entries:
        parts.append(f"  <{entry_tag}>\n")
        parts.append(f"    <loc>{escape(str(e['loc']))}</loc>\n")
        for k in ("lastmod", "changefreq", "priority"):
            if e.get(k) is not None:
                parts.append(f"    <{k}>{escape(str(e[k]))}</{k}>\n")
        parts.append(f"  </{entry_tag}>\n")
    parts.append(f"</{tag}>\n")
    raw = "".join(parts).encode("utf-8")
    if gz:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(raw)
        return buf.getvalue()
    return raw


def demo_sitemap_dir(sf_dir: str, n_files: int = 4) -> str:
    """Deterministic sitemap corpus from the sf documents table (digest-
    keyed under tempdir): per-host urlsets (one gzipped) plus one sitemap
    index referencing them; both engines parse the same files."""
    import hashlib
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    key = hashlib.sha256(f"sitemapdemo1:{sf_dir}:{n_files}".encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"sitemap_demo_{sf_name}_{key}")
    marker = os.path.join(out_dir, "_complete")
    if os.path.exists(marker):
        return out_dir
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = sorted(int(r["doc_id"]) for r in tbl.to_pylist())
    tmp = out_dir + f".tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    names = []
    for i in range(n_files):
        entries = [
            {
                "loc": f"https://site{i}.example.com/p/{d}",
                # deterministic optional fields: every 3rd has lastmod,
                # every 5th a priority, every 7th a changefreq
                "lastmod": f"2024-01-{(d % 28) + 1:02d}" if d % 3 == 0 else None,
                "priority": round((d % 10) / 10.0, 1) if d % 5 == 0 else None,
                "changefreq": "weekly" if d % 7 == 0 else None,
            }
            for d in ids
            if d % n_files == i
        ]
        gz = i == 1  # one gzipped member exercises the decompress path
        name = f"sitemap-{i:02d}.xml" + (".gz" if gz else "")
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(build_sitemap(entries, gz=gz))
        names.append(name)
    with open(os.path.join(tmp, "index.xml"), "wb") as f:
        f.write(
            build_sitemap(
                [
                    {"loc": f"https://cdn.example.com/{n}", "lastmod": "2024-02-01"}
                    for n in names
                ],
                index=True,
            )
        )
    with open(os.path.join(tmp, "_complete"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, out_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_SCHEMA = (
    "sitemap string, kind string, loc string, lastmod string, "
    "changefreq string, priority double"
)


def sitemap_urls_df(spark, path: str):
    """Sitemap files -> frontier rows (sitemap, kind, loc, lastmod,
    changefreq, priority).  binaryFile -> mapInPandas; hostile files are
    file-level isolated (zero rows)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                fname = str(p).rsplit("/", 1)[-1]
                try:
                    entries = parse_sitemap(bytes(content))
                except Exception:  # noqa: BLE001 — file-level isolation
                    entries = []
                for e in entries:
                    rows.append({"sitemap": fname, **e})
            yield pd.DataFrame(
                rows,
                columns=[
                    "sitemap", "kind", "loc", "lastmod", "changefreq", "priority",
                ],
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(run, schema=_SCHEMA)
