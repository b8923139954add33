"""Correctness gate of the extraction benchmark, run outside the timed window.

Two checks:

- digests: for a seeded sample of urls that always holds every mega-page,
  jumbo page and degenerate page, the sha256 of every output column the
  program produced must equal that of the in-process ``extract_row`` output
  for the same page and flags;
- pipeline invariants: a ``run_pipeline`` summary must show every bucket
  completed and none skipped (a reused output dir skips them all), one doc
  per input row, and a chunk count equal to the sum of ``size(chunks)``.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc

# Every extract output column except parse_us, which is a timing.
COLUMNS = (
    "url",
    "lang",
    "doc_json",
    "markdown",
    "plain_text",
    "html_out",
    "doctags",
    "doclang",
    "chunks",
    "n_texts",
    "n_tables",
    "n_pictures",
    "n_groups",
    "html_bytes",
    "error",
)
SAMPLE_SIZE = 40
# Pages at least this big are mega-pages or jumbos; below EDGE_BYTES they are
# the degenerate kinds (empty, furniture only).  Both are always sampled.
BIG_BYTES = 20_000
EDGE_BYTES = 1_000


@dataclass
class GateResult:
    attempted: int
    failed_urls: set = field(default_factory=set)
    problems: list = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.failed_urls)

    @property
    def correct(self) -> bool:
        return not self.failed_urls and not self.problems


def digest(value) -> str:
    blob = json.dumps(value, sort_keys=True, ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def sample_urls(sizes: dict[str, int], seed: int) -> list[str]:
    """Seeded sample of ``sizes`` (url -> html bytes) plus every big and edge page."""
    always = sorted(u for u, n in sizes.items() if n >= BIG_BYTES or n < EDGE_BYTES)
    rest = sorted(u for u in sizes if u not in set(always))
    rng = random.Random(seed * 7919 + 1)
    return always + rng.sample(rest, min(SAMPLE_SIZE, len(rest)))


def reference_row(url: str, html: bytes, lang: str, flags: dict) -> dict:
    from docling_core_spark.operators.extract import extract_row

    return extract_row(url, html, lang, **flags)


def reference_rows(pages: list[tuple[str, bytes, str]], flags: dict, workers: int) -> dict[str, dict]:
    """In-process ``extract_row`` output for each (url, html, lang), computed
    in ``workers`` spawned processes, biggest pages first."""
    from concurrent.futures import ProcessPoolExecutor
    from multiprocessing import get_context

    pages = sorted(pages, key=lambda p: -len(p[1] or b""))
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        futures = {url: pool.submit(reference_row, url, html, lang, flags) for url, html, lang in pages}
        return {url: f.result() for url, f in futures.items()}


def check_rows(result: GateResult, got: dict[str, dict], want: dict[str, dict]) -> None:
    """Record every sampled url whose output differs from the reference."""
    for url, ref in want.items():
        row = got.get(url)
        if row is None:
            result.failed_urls.add(url)
            result.problems.append(f"{url}: missing from the output")
            continue
        bad = [c for c in COLUMNS if digest(row.get(c)) != digest(ref.get(c))]
        if bad:
            result.failed_urls.add(url)
            result.problems.append(f"{url}: digest mismatch in {', '.join(bad)}")


def check_errors(result: GateResult, errors: dict[str, str]) -> None:
    """Record rows whose ``error`` column is set (url -> error)."""
    for url, err in errors.items():
        result.failed_urls.add(url)
        result.problems.append(f"{url}: error row: {err}")


def check_pipeline(result: GateResult, summary: dict, n_input: int, sum_chunk_sizes: int) -> None:
    """Invariants of one fresh ``run_pipeline`` summary."""
    if summary.get("completed") != summary.get("n_buckets") or summary.get("skipped") != 0:
        result.problems.append(
            f"pipeline completed {summary.get('completed')} of {summary.get('n_buckets')} "
            f"buckets and skipped {summary.get('skipped')}: the output dir was not fresh"
        )
    if summary.get("docs") != n_input:
        result.problems.append(f"pipeline wrote {summary.get('docs')} docs for {n_input} input rows")
    if summary.get("chunks") != sum_chunk_sizes:
        result.problems.append(
            f"pipeline counted {summary.get('chunks')} chunks, docs hold {sum_chunk_sizes}"
        )


def check_output(out: pa.Table, inputs: pa.Table, flags: dict, seed: int, workers: int) -> GateResult:
    """Gate one run's output table against its input table (both pyarrow):
    digests on the seeded sample, error rows and row count of the whole output."""
    result = GateResult(attempted=inputs.num_rows)
    rows = {r["url"]: r for r in inputs.select(["url", "html", "lang"]).to_pylist()}
    sample = sample_urls({u: len(r["html"] or b"") for u, r in rows.items()}, seed)
    want = reference_rows([(u, rows[u]["html"], rows[u]["lang"]) for u in sample], flags, workers)
    got_tbl = out.filter(pc.is_in(out["url"], value_set=pa.array(sample)))
    check_rows(result, {r["url"]: r for r in got_tbl.to_pylist()}, want)
    errors = out.filter(pc.is_valid(out["error"])).select(["url", "error"]).to_pylist()
    check_errors(result, {r["url"]: r["error"] for r in errors})
    if out.num_rows != inputs.num_rows or set(out["url"].to_pylist()) != set(rows):
        result.problems.append(f"output has {out.num_rows} rows for {inputs.num_rows} input pages")
    return result
