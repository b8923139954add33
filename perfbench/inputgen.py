"""Seeded input tables for the extraction benchmark.

Every table goes through the program's own page synthesizer
(``sources.web_pages.synth_rows`` / ``synth_html``); only the document text
feeding it is generated here, with the same shape as the repository's
synthetic ``documents`` table (10-100 words from a 30-word vocabulary,
five languages).  Nothing is read from outside the checkout.

The seed chooses the words of every page.  Everything that decides how
much work a page is and where Spark places it is fixed across seeds: doc
ids (and so ``synth_html``'s page structure), languages (and so urls, which
``split_skew`` hashes), word counts, jumbo sizes and positions.  Two seeds
therefore give different pages of the same shape, and a run's work does not
depend on its seed.

- ``crawl``: ``N_PAGES`` pages whose doc ids start at a multiple of 101, so
  ``synth_html`` turns exactly ``N_PAGES / 101`` of them into mega-pages
  (``<main>`` repeated 50x) and as many into each degenerate kind.
- ``jumbo``: the first ``N_JUMBO_BASE`` of those pages (4 mega-pages) plus
  ``len(JUMBO_TARGETS)`` jumbo pages, fewer than the four cores the
  benchmark is sized for.  A jumbo is built the way ``synth_html`` builds a
  mega-page, by repeating ``<main>``, until it reaches its target size; the
  targets straddle ``split_skew``'s 1 MB ``jumbo_bytes`` so both routes run.

Tables are written once per seed as parquet and reused by later runs.
"""

from __future__ import annotations

import os
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

N_PAGES = 1010
# The jumbo table keeps fewer normal pages: run_pipeline's wall is ~2 s of
# orchestration per bucket whatever the page count, so more pages would only
# lengthen the gate.
N_JUMBO_BASE = 404
# Bytes per jumbo page; 1 MB is split_skew's default jumbo_bytes.
JUMBO_TARGETS = (450_000, 750_000, 1_050_000)
JUMBO_BYTES = 1_000_000
LAYOUT_SEED = 0
FIRST_ID = 101 * 1000

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
TABLES = ("crawl", "jumbo")


def _documents(layout: random.Random, words: random.Random, ids: list[int]):
    """(ids, texts, langs): languages and word counts from ``layout``, words from ``words``."""
    counts = [layout.randint(10, 100) for _ in ids]
    langs = layout.choices(LANGS, weights=LANG_WEIGHTS, k=len(ids))
    texts = [" ".join(words.choice(VOCAB) for _ in range(n)) for n in counts]
    return ids, texts, langs


def _jumbo_html(page: str, target: int) -> str:
    """Repeat ``page``'s ``<main>`` block until the page reaches ``target`` bytes."""
    mid = page.index("<main>")
    end = page.index("</main>") + len("</main>")
    block = page[mid:end]
    block_bytes = len(block.encode())
    reps = max(1, round((target - len(page.encode()) + block_bytes) / block_bytes))
    return page[:mid] + block * reps + page[end:]


def build_rows(seed: int) -> dict[str, list[dict]]:
    """Rows of every table for ``seed`` (pure function of the seed)."""
    from docling_core_spark.sources.web_pages import synth_rows

    layout, words = random.Random(LAYOUT_SEED), random.Random(seed)
    crawl = list(synth_rows(*_documents(layout, words, [FIRST_ID + i for i in range(N_PAGES)])))

    # doc ids off the mega/degenerate residues (0, 97, 98 mod 101)
    jumbo_ids = [FIRST_ID + 101 * (N_PAGES // 101 + k + 1) + 7 for k in range(len(JUMBO_TARGETS))]
    jumbo = crawl[:N_JUMBO_BASE]
    for row, target in zip(synth_rows(*_documents(layout, words, jumbo_ids)), JUMBO_TARGETS):
        jitter = 1 + layout.uniform(-0.03, 0.03)
        row["html"] = _jumbo_html(row["html"].decode("utf-8"), int(target * jitter)).encode("utf-8")
        row["url"] = row["url"].replace("example.org/", "example.org/jumbo/")
        jumbo.insert(layout.randrange(len(jumbo) + 1), row)
    return {"crawl": crawl, "jumbo": jumbo}


def write_table(rows: list[dict], path: Path) -> None:
    """Write ``rows`` to ``path`` atomically, byte-for-byte reproducibly."""
    tmp = path.with_name(f".{path.name}.{os.getpid()}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMA), tmp, compression="zstd")
    os.replace(tmp, path)


def ensure_tables(data_dir: Path, seed: int) -> dict[str, Path]:
    """Paths of every table for ``seed``, generating the missing ones."""
    out = Path(data_dir) / f"seed{seed}"
    paths = {name: out / f"{name}.parquet" for name in TABLES}
    if not all(p.is_file() for p in paths.values()):
        out.mkdir(parents=True, exist_ok=True)
        for name, rows in build_rows(seed).items():
            write_table(rows, paths[name])
    return paths
