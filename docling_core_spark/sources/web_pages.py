"""Deterministic synthetic Common-Crawl-style web_pages table.

Input shape per BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

HTML is synthesized deterministically (seeded per doc_id) from the driver's
``documents`` table text, covering the extraction feature matrix: title,
h1-h6, paragraphs, nested ul/ol, tables with col/rowspans and headers,
pre/code, blockquote, figure+img+figcaption, inline formatting, furniture
(nav/header/footer), non-ASCII, underscores and angle brackets in prose.

Skew: ~1% of pages are mega-pages (body repeated 50x) to exercise the
skew-handling path; a few degenerate rows (empty html, furniture-only,
table-only) are injected deterministically.
"""

from __future__ import annotations

import datetime
import random
from typing import Iterator

import pandas as pd

_EXTRA_VOCAB = [
    "naïve",
    "café",
    "Zürich",
    "東京",
    "données",
    "snake_case_name",
    "a<b",
    "x>y",
    "5*3",
    "100%",
]


def synth_html(doc_id: int, text: str, lang: str) -> str:
    """Deterministic page HTML for a document row (seed = doc_id)."""
    rng = random.Random(doc_id * 2654435761 % (2**32))
    words = (text.split() or ["lorem"]) + _EXTRA_VOCAB

    def w(n: int) -> str:
        return " ".join(rng.choice(words) for _ in range(n))

    mod = doc_id % 101
    if mod == 97:
        return ""  # degenerate: empty page
    if mod == 98:  # furniture-only page
        return (
            "<html><head><title>furniture only</title></head><body>"
            "<nav><ul><li>Home</li><li>About</li></ul></nav>"
            "<footer><p>© example.org</p></footer></body></html>"
        )

    parts = [
        "<html><head><title>",
        f"Page {doc_id} — {w(3)}",
        '</title><style>body{color:black}</style><script>var x=1;</script></head><body>',
        f"<nav><ul><li><a href='/home'>Home</a></li><li><a href='/about'>About</a></li></ul></nav>",
        f"<header><p>Site header {doc_id}</p></header>",
        "<main>",
        f"<h1>{w(4)}</h1>",
    ]
    n_sections = 2 + rng.randint(0, 3)
    for s in range(n_sections):
        parts.append(f"<h2>{w(3)}</h2>")
        for _ in range(1 + rng.randint(0, 2)):
            parts.append(f"<p>{w(12 + rng.randint(0, 25))}</p>")
        kind = rng.randint(0, 9)
        if kind < 3:
            items = "".join(f"<li>{w(4)}</li>" for _ in range(3 + rng.randint(0, 4)))
            nested = f"<ul><li>{w(3)}<ol><li>{w(2)}</li><li>{w(2)}</li></ol></li>{items}</ul>"
            parts.append(nested)
        elif kind < 5:
            rows = []
            ncols = 2 + rng.randint(0, 3)
            rows.append("<tr>" + "".join(f"<th>{w(1)}</th>" for _ in range(ncols)) + "</tr>")
            for r in range(2 + rng.randint(0, 5)):
                if r == 0 and rng.random() < 0.3:
                    rows.append(
                        f"<tr><td colspan='2'>{w(2)}</td>"
                        + "".join(f"<td>{rng.randint(0, 999)}</td>" for _ in range(ncols - 2))
                        + "</tr>"
                    )
                else:
                    rows.append(
                        "<tr>" + "".join(f"<td>{rng.randint(0, 999)}</td>" for _ in range(ncols)) + "</tr>"
                    )
            parts.append(f"<table><caption>Table {s}: {w(3)}</caption>" + "".join(rows) + "</table>")
        elif kind < 6:
            parts.append(f"<pre>def f_{doc_id}(x):\n    return x * {s}</pre>")
        elif kind < 7:
            parts.append(f"<blockquote>{w(10)}</blockquote>")
        elif kind < 8:
            parts.append(f"<figure><img src='/img/{doc_id}_{s}.png' alt='{w(2)}'/>" f"<figcaption>Figure {s}: {w(4)}</figcaption></figure>")
        else:
            parts.append(f"<p>Inline <b>{w(1)}</b> and <i>{w(1)}</i> plus <a href='https://example.org/{doc_id}'>{w(2)}</a>.</p>")
    parts.append("</main>")
    parts.append(f"<footer><p>Footer — contact admin@example.org</p></footer>")
    parts.append("</body></html>")
    body = "".join(parts)
    if mod == 0 and doc_id > 0:  # ~1% mega-pages: repeat main content 50x
        mid = body.index("<main>")
        end = body.index("</main>") + len("</main>")
        body = body[:mid] + body[mid:end] * 50 + body[end:]
    return body


def synth_rows(doc_ids: list[int], texts: list[str], langs: list[str]) -> Iterator[dict]:
    """Generate web_pages rows for given documents."""
    epoch = datetime.datetime(2024, 1, 1)
    for doc_id, text, lang in zip(doc_ids, texts, langs):
        yield {
            "url": f"https://example.org/{lang}/{doc_id}",
            "warc_ts": epoch + datetime.timedelta(seconds=int(doc_id) * 61 % 31536000),
            "html": synth_html(int(doc_id), text or "", lang or "en").encode("utf-8"),
            "text": text or "",
            "lang": lang or "en",
        }


def web_pages_df(spark, sf_dir: str):
    """Spark DataFrame of synthetic web pages derived from documents.parquet.

    Deterministic per doc_id — every run (any parallelism) yields identical
    rows, which is what makes the two-cluster-size scaling benchmark and the
    single-process oracle comparable.
    """
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )

    # documents.parquet is a single small file -> one scan split; spread the
    # synthesis across the cluster before the generator stage
    n_part = spark.sparkContext.defaultParallelism * 2
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang")
        .repartition(n_part, "doc_id")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = list(synth_rows(pdf["doc_id"].tolist(), pdf["text"].tolist(), pdf["lang"].tolist()))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.mapInPandas(gen, schema=schema)
