"""DOM-heuristic main-content extraction (jusText-style block scoring).

The north-star extraction pipeline names "DOM heuristics" beside the tag
baseline: the HTML path already strips furniture by TAG (nav/header/footer/
aside, functions/html_parse.py main_content_only); this module adds the
CONTENT-based classifier for pages whose boilerplate is not semantically
tagged — the common case on the open web.

Algorithm (jusText, Pomikálek 2011 — "Removing boilerplate and duplicate
content from web corpora"; constants re-derived for this corpus, simplified
context rule, no code copied):

1. Segment the DOM into paragraphs at block-tag boundaries (p/div/h*/li/
   td/...), accumulating per paragraph: normalized text, characters inside
   <a> links, stopword count.
2. Context-free classification per paragraph:
   - copyright mark (©) ................................ bad
   - link_density > max_link_density ................... bad
   - shorter than length_low: any link chars ? bad : short
   - stopword density >= stopwords_high:
       longer than length_high ? good : neargood
   - stopword density >= stopwords_low ................. neargood
   - otherwise ......................................... bad
3. Context pass: each short/neargood paragraph takes its class from the
   nearest context-free good/bad neighbours — good+good -> good, bad+bad
   -> bad, mixed -> good for neargood, bad for short (simplified from the
   reference revision; deterministic single left-to-right + right-to-left
   scan, no iteration).
4. Headings (h1-h6) classified bad are rescued to good when a good
   paragraph follows within `heading_distance` paragraphs (headings are
   short by nature; jusText's NO_HEADINGS=off behavior).

Everything is a pure function of the HTML string, shared verbatim by the
Spark UDF and the single-process oracle.  Scale shape: map-only
``mapInArrow`` over the pages table — no shuffle, no state; composes in
front of the quality/dedup stages exactly like text_clean.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterator

from docling_core_spark.functions.html_parse import FastTagParserMixin

__all__ = [
    "Paragraph",
    "segment_paragraphs",
    "classify_paragraphs",
    "main_content",
    "main_content_df",
    "main_content_sql_rows",
]

# block-level boundaries (public HTML5 flow-content list, as in jusText)
BLOCK_TAGS = frozenset(
    """address article aside blockquote body br caption center col colgroup
    dd div dl dt fieldset figure figcaption footer form h1 h2 h3 h4 h5 h6
    header hr legend li main menu nav ol optgroup option p pre section
    select table td textarea tfoot th thead tr ul""".split()
)
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template", "title"))
_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))

# ~120-entry English function-word list (classic public IR stoplist core);
# densities below are calibrated for THIS list's coverage
STOPWORDS = frozenset(
    """a about above after again all also am an and any are as at be because
    been before being below between both but by can could did do does doing
    down during each few for from further had has have having he her here
    hers him his how i if in into is it its just me more most my no nor not
    now of off on once only or other our out over own same she should so
    some such than that the their them then there these they this those
    through to too under until up very was we were what when where which
    while who whom why will with would you your""".split()
)

_WS_RE = re.compile(r"\s+")
_WORD_RE = re.compile(r"[a-zA-Z]+")

# thresholds (re-derived on the synthetic corpus; the published jusText
# defaults assume a ~600-word stoplist and 70/200-char bounds)
MAX_LINK_DENSITY = 0.2
LENGTH_LOW = 40
LENGTH_HIGH = 120
STOPWORDS_LOW = 0.12
STOPWORDS_HIGH = 0.20
HEADING_DISTANCE = 3


class Paragraph:
    """One DOM block: text plus the counters the classifier needs."""

    __slots__ = ("text", "link_chars", "is_heading", "cf_class", "final_class")

    def __init__(self, text: str, link_chars: int, is_heading: bool) -> None:
        self.text = text
        self.link_chars = link_chars
        self.is_heading = is_heading
        self.cf_class = ""  # context-free: good/bad/short/neargood
        self.final_class = ""  # good/bad

    @property
    def link_density(self) -> float:
        return self.link_chars / len(self.text) if self.text else 0.0

    @property
    def stop_density(self) -> float:
        words = _WORD_RE.findall(self.text.lower())
        if not words:
            return 0.0
        return sum(1 for w in words if w in STOPWORDS) / len(words)


class _Segmenter(FastTagParserMixin, HTMLParser):
    """DOM walk -> paragraph list (block-tag boundaries, link-char counts).

    Inherits the parity-safe html_parse fast-tag mixin (one shared
    implementation for both first-mile HTML consumers): updatepos skips
    the line-counting scan getpos() would need, and strictly well-formed
    tags tokenize with one regex — anything else falls back to HTMLParser,
    so the fast path cannot change behavior by construction."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.paragraphs: list[Paragraph] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._link_depth = 0
        self._skip_depth = 0
        self._heading_depth = 0
        # <head> content is metadata, but </head>/<head> are omittable in
        # HTML5 — track it as a FLAG cleared by <body> or any flow block,
        # never as a depth (a stuck depth would silently skip whole pages)
        self._in_head = False

    def _flush(self) -> None:
        if not self._buf:
            # nothing accumulated since the last boundary (the common case:
            # adjacent block tags) — link_chars is necessarily 0 too, since
            # it only accumulates alongside a buffer append
            return
        text = _WS_RE.sub(" ", "".join(self._buf)).strip()
        if text:
            self.paragraphs.append(
                Paragraph(text, min(self._link_chars, len(text)),
                          self._heading_depth > 0)
            )
        self._buf = []
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "head":
            self._in_head = True
            return
        if tag in BLOCK_TAGS:
            if self._in_head and tag != "html":
                self._in_head = False  # flow content implies </head>
            self._flush()
            if tag in _HEADING_TAGS:
                self._heading_depth += 1
        elif tag == "a":
            self._link_depth += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "head":
            self._in_head = False
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in _HEADING_TAGS:
                self._heading_depth = max(0, self._heading_depth - 1)
        elif tag == "a":
            self._link_depth = max(0, self._link_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth or self._in_head:
            return
        self._buf.append(data)
        if self._link_depth:
            self._link_chars += len(_WS_RE.sub(" ", data).strip())


def segment_paragraphs(html: str) -> list[Paragraph]:
    """HTML -> DOM-block paragraphs (total function: hostile markup yields
    whatever blocks were accumulated; html.parser never raises)."""
    seg = _Segmenter()
    try:
        seg.feed(html)
        seg.close()
    except Exception:  # noqa: BLE001 — per-row isolation, same contract
        pass  # as extract_pages: keep the paragraphs parsed so far
    seg._flush()
    return seg.paragraphs


def classify_paragraphs(
    paragraphs: list[Paragraph],
    max_link_density: float = MAX_LINK_DENSITY,
    length_low: int = LENGTH_LOW,
    length_high: int = LENGTH_HIGH,
    stopwords_low: float = STOPWORDS_LOW,
    stopwords_high: float = STOPWORDS_HIGH,
    heading_distance: int = HEADING_DISTANCE,
) -> list[Paragraph]:
    """Assign cf_class then final_class to every paragraph (in place)."""
    # 1) context-free
    for p in paragraphs:
        length = len(p.text)
        if "©" in p.text:  # the © mark only — "(c)" false-positives on
            p.cf_class = "bad"  # legal/list numbering like "section 12(c)"
        elif p.link_density > max_link_density:
            p.cf_class = "bad"
        elif length < length_low:
            p.cf_class = "bad" if p.link_chars > 0 else "short"
        else:
            # with both stopword gates open (the word-salad demo config)
            # the density can never matter — skip the per-word regex work
            sd = p.stop_density if stopwords_high > 0 or stopwords_low > 0 else 1.0
            if sd >= stopwords_high:
                p.cf_class = "good" if length > length_high else "neargood"
            elif sd >= stopwords_low:
                p.cf_class = "neargood"
            else:
                p.cf_class = "bad"

    # 2) context pass: nearest context-free good/bad neighbour each side
    n = len(paragraphs)
    prev_cls = ["bad"] * n
    cur = "bad"
    for i, p in enumerate(paragraphs):
        prev_cls[i] = cur
        if p.cf_class in ("good", "bad"):
            cur = p.cf_class
    next_cls = ["bad"] * n
    cur = "bad"
    for i in range(n - 1, -1, -1):
        next_cls[i] = cur
        if paragraphs[i].cf_class in ("good", "bad"):
            cur = paragraphs[i].cf_class
    for i, p in enumerate(paragraphs):
        if p.cf_class in ("good", "bad"):
            p.final_class = p.cf_class
        elif prev_cls[i] == "good" and next_cls[i] == "good":
            p.final_class = "good"
        elif prev_cls[i] == "bad" and next_cls[i] == "bad":
            p.final_class = "bad"
        else:  # mixed context: neargood leans content, short leans chrome
            p.final_class = "good" if p.cf_class == "neargood" else "bad"

    # 3) heading rescue: a bad/short heading followed by a good paragraph
    #    within heading_distance becomes good
    for i, p in enumerate(paragraphs):
        if not p.is_heading or p.final_class == "good" or p.link_chars:
            continue
        for j in range(i + 1, min(n, i + 1 + heading_distance)):
            if paragraphs[j].final_class == "good":
                p.final_class = "good"
                break
    return paragraphs


def main_content(html: str, **thresholds) -> dict:
    """HTML -> {main_text, n_paragraphs, n_good, n_chars_good, n_chars}.

    ``main_text`` joins good paragraphs with newlines, in DOM order."""
    paras = classify_paragraphs(segment_paragraphs(html), **thresholds)
    good = [p for p in paras if p.final_class == "good"]
    return {
        "main_text": "\n".join(p.text for p in good),
        "n_paragraphs": len(paras),
        "n_good": len(good),
        "n_chars": sum(len(p.text) for p in paras),
        "n_chars_good": sum(len(p.text) for p in good),
    }


def main_content_sql_rows(rows: Iterator[tuple], **thresholds) -> Iterator[dict]:
    """(url, html) tuples -> result dicts; the single-process oracle twin
    and the UDF share this exact loop."""
    from docling_core_spark.functions.html_parse import decode_html_bytes

    for url, html in rows:
        if isinstance(html, (bytes, bytearray, memoryview)):
            # same charset sniff as the extract path — the two first-mile
            # consumers of html:binary must agree on the page text
            html = decode_html_bytes(bytes(html))
        r = main_content(html or "", **thresholds)
        r["url"] = url
        yield r


_SCHEMA = (
    "url string, n_paragraphs int, n_good int, n_chars int, "
    "n_chars_good int, main_text string"
)


def main_content_df(pages, html_col: str = "html", url_col: str = "url", **thresholds):
    """DOM-heuristic boilerplate removal over the pages table.

    Map-only ``mapInArrow`` (one fused stage, no shuffle): scales as a
    pure per-row transform; the scan prunes to (url, html) only.
    ``thresholds`` override the module constants — the synthetic corpus is
    stopword-sparse word salad, so its demo query opens the stopword gates
    and discriminates on link density + length + context (the round-5
    min_stopword_hits precedent); real-web runs keep the defaults."""
    from docling_core_spark.operators.arrow_out import capped_batches, max_bytes_per_batch

    max_bytes = max_bytes_per_batch(pages.sparkSession)

    def run(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        schema = pa.schema(
            [
                ("url", pa.string()),
                ("n_paragraphs", pa.int32()),
                ("n_good", pa.int32()),
                ("n_chars", pa.int32()),
                ("n_chars_good", pa.int32()),
                ("main_text", pa.string()),
            ]
        )
        # columns in through to_pylist(), out from Arrow buffers: no pandas
        # in the worker (operators/arrow_out.py)
        for rb in batches:
            rows = main_content_sql_rows(
                zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()), **thresholds
            )
            yield from capped_batches(schema, rows, max_bytes)

    return pages.select(url_col, html_col).mapInArrow(run, schema=_SCHEMA)
