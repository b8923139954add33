"""Hierarchical and hybrid chunkers over dict-backed docs.

Re-expresses the reference chunker stack (docling-core
transforms/chunker/hierarchical_chunker.py:170-294 and
hybrid_chunker.py:55-394) over :mod:`docling_core_spark.model.doc`.

Chunks are plain dicts: ``{"text", "doc_items", "headings", "origin"}`` where
``doc_items`` holds the contributing item dicts (span lineage).  Inside Spark
these run per document row in an Arrow-batch UDF and are exploded into a
chunk table (url, chunk_idx, text, headings, doc_item_refs, n_tokens).

Deviation ledger (vs reference, both due to unavailable third-party deps):
- tokenizer: deterministic regex tokenizer instead of HuggingFace
  all-MiniLM-L6-v2 (transformers not installed); pluggable — any object with
  ``count_tokens(text) -> int`` and ``get_max_tokens() -> int`` works.
- plain-text splitting: deterministic recursive splitter instead of
  ``semchunk`` (not installed); same contract (segments each within the token
  budget), not byte-identical segmentation.

The table path is NOT a deviation: LineBasedTokenChunker below ports the
reference line_chunker.py exactly (binary-searched token-limit split with
word-boundary snap, repeated header prefix, overflow-prefix handling), so
with a token-count-compatible tokenizer the table segmentation is
byte-identical.
"""

from __future__ import annotations

import re
from dataclasses import replace
from typing import Any, Iterator, Optional

from docling_core_spark.functions.code_tree import _sha, chunker_class, code_meta
from docling_core_spark.functions.serializers import (
    CHUNKING_OVERRIDES,
    DocSerializer,
    MarkdownParams,
)
from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

# ---------------------------------------------------------------------------
# Tokenizers
# ---------------------------------------------------------------------------

# GPT2-style coarse token pattern: words, numbers, punctuation runs.
_TOKEN_RE = re.compile(r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-zÀ-￿]+| ?\d+| ?[^\sA-Za-z\d]+|\s+")


class RegexTokenizer:
    """Deterministic BPE-ish tokenizer (whitespace+punctuation regex).

    Counts are memoized: the hybrid chunker's window growth and semchunk's
    budget binary search re-count the same strings repeatedly (semchunk
    itself memoizes its token counter for the same reason).  The memo is
    bounded so a long-lived executor cannot grow it without limit."""

    _MEMO_MAX = 65536

    def __init__(self, max_tokens: int = 512):
        self.max_tokens = max_tokens
        self._memo: dict[str, int] = {}

    def count_tokens(self, text: str) -> int:
        """Number of coarse tokens in text."""
        n = self._memo.get(text)
        if n is None:
            # findall runs fully in C; the genexpr-over-finditer form paid a
            # python frame resume per token (the #1 tottime line in the
            # doctags+chunk profile)
            n = len(_TOKEN_RE.findall(text))
            if len(self._memo) >= self._MEMO_MAX:
                self._memo.clear()
            self._memo[text] = n
        return n

    def get_max_tokens(self) -> int:
        """Chunk capacity in tokens."""
        return self.max_tokens


# ---------------------------------------------------------------------------
# Hierarchical chunker (reference hierarchical_chunker.py:170-294)
# ---------------------------------------------------------------------------


def _chunking_serializer(doc: Doc) -> DocSerializer:
    return DocSerializer(doc, MarkdownParams(**CHUNKING_OVERRIDES))


def hierarchical_chunks(
    doc: Doc,
    serializer: Optional[DocSerializer] = None,
    always_emit_headings: bool = False,
    code_chunking: bool = False,
) -> Iterator[dict]:
    """Single-pass layout chunker.

    Maintains a heading-by-level state machine (Title = level 0,
    SectionHeader = its level; a new heading pops all levels >= its own),
    serializes each ListGroup / InlineGroup / DocItem via the chunking
    serializer (markdown + triplet tables, no escaping), and yields one chunk
    per serialized item with the active heading path as metadata.
    """
    ser = serializer if serializer is not None else _chunking_serializer(doc)
    heading_by_level: dict[int, dict] = {}
    heading_emitted: set[str] = set()
    visited: set[str] = set()
    excluded = ser.get_excluded_refs()
    captions_of = ser.captions_of_some_item()

    def _emit_headings_chunk() -> Optional[dict]:
        keys = sorted(heading_by_level)
        if not keys:
            return None
        leaf_ref = heading_by_level[keys[-1]]["self_ref"]
        if leaf_ref in heading_emitted:
            return None
        heading_emitted.add(leaf_ref)
        return {
            "text": "",
            "doc_items": [heading_by_level[k] for k in keys],
            "headings": [heading_by_level[k].get("text", "") for k in keys],
            "origin": doc.origin,
        }

    for item, _level in doc.iterate_items_cached(with_groups=True, traverse_pictures=ser.params.traverse_pictures):
        sr = item["self_ref"]
        if sr in excluded:
            continue
        label = item.get("label")
        if M.is_text_item(item) and label in (M.TITLE, M.SECTION_HEADER):
            level = item.get("level", 1) if label == M.SECTION_HEADER else 0
            sorted_keys = sorted(heading_by_level)
            keys_to_del = [k for k in sorted_keys if k >= level]
            if keys_to_del and always_emit_headings:
                c = _emit_headings_chunk()
                if c is not None:
                    yield c
            for k in keys_to_del:
                heading_by_level.pop(k, None)
            heading_by_level[level] = item
            continue
        if (M.is_list_group(item) or M.is_inline_group(item) or M.is_doc_item(item)) and sr not in visited:
            if code_chunking and label == M.CODE and (item.get("text") or "").strip():
                # reference hierarchical_chunker.py:249-256 delegates code
                # items to the code chunking strategy; languages without an
                # inner chunker fall back to one code_block chunk
                # (standard_code_chunking_strategy.py:85-94)
                visited.add(sr)
                code_text = item["text"]
                inner = chunker_class(item.get("code_language"))
                if inner is not None:
                    yield from inner.chunk_code(code_text, doc_item=item, origin=doc.origin)
                else:
                    meta = code_meta(
                        item,
                        doc.origin or None,
                        sha256=_sha(code_text),
                        start_line=1,
                        end_line=len(code_text.splitlines()),
                        chunk_type="code_block",
                    )
                    yield {"text": code_text, "meta": meta}
                continue
            ser_res = ser.serialize(item=item, visited=visited)
        else:
            continue
        if not ser_res.text:
            continue
        doc_items = list(ser_res.spans)
        if doc_items:
            sorted_keys = sorted(heading_by_level)
            headings = [heading_by_level[k].get("text", "") for k in sorted_keys] or None
            chunk = {
                "text": ser_res.text,
                "doc_items": doc_items,
                "headings": headings,
                "origin": doc.origin,
            }
            if always_emit_headings and headings:
                heading_emitted.add(heading_by_level[sorted_keys[-1]]["self_ref"])
            yield chunk

    if always_emit_headings:
        c = _emit_headings_chunk()
        if c is not None:
            yield c


def page_chunks(doc: Doc) -> Iterator[dict]:
    """One chunk per page (reference page_chunker.py:18-61)."""
    if doc.pages:
        for page_no in sorted(int(k) for k in doc.pages):
            ser = DocSerializer(
                doc, MarkdownParams(**CHUNKING_OVERRIDES, pages={page_no})
            )
            res = ser.serialize()
            if res.text:
                yield {
                    "text": res.text,
                    "doc_items": list(res.spans),
                    "headings": None,
                    "origin": doc.origin,
                    "page_no": page_no,
                }
    else:
        res = _chunking_serializer(doc).serialize()
        if res.text:
            yield {
                "text": res.text,
                "doc_items": list(res.spans),
                "headings": None,
                "origin": doc.origin,
                "page_no": None,
            }


def profile_doc(doc: Doc, bitmap_coverage_threshold: float = 0.05) -> dict:
    """Per-document stats (reference profiler doc_profiler.py:223-284)."""
    label_counts = {M.SECTION_HEADER: 0, M.LIST_ITEM: 0, M.CODE: 0, M.FORMULA: 0}
    for t in doc.texts:
        lbl = t.get("label")
        if lbl in label_counts:
            label_counts[lbl] += 1
    num_pictures_for_ocr = 0
    for pic in doc.pictures:
        prov = (pic.get("prov") or [None])[0]
        if not prov:
            continue
        bbox = prov.get("bbox") or {}
        area = abs(bbox.get("r", 0) - bbox.get("l", 0)) * abs(bbox.get("b", 0) - bbox.get("t", 0))
        page = doc.page(prov.get("page_no"))
        if page:
            size = page.get("size") or {}
            page_area = size.get("width", 0) * size.get("height", 0)
            if page_area > 0 and area / page_area >= bitmap_coverage_threshold:
                num_pictures_for_ocr += 1
    return {
        "name": doc.name,
        "num_pages": len(doc.pages),
        "num_tables": len(doc.tables),
        "num_pictures": len(doc.pictures),
        "num_texts": len(doc.texts),
        "num_key_value_items": len(doc.key_value_items),
        "num_form_items": len(doc.form_items),
        "num_section_headers": label_counts[M.SECTION_HEADER],
        "num_list_items": label_counts[M.LIST_ITEM],
        "num_code_items": label_counts[M.CODE],
        "num_formulas": label_counts[M.FORMULA],
        "origin_mimetype": (doc.origin or {}).get("mimetype"),
        "num_pictures_for_ocr": num_pictures_for_ocr,
    }


def expand_chunk_tree(chunk: dict, doc: Doc, serializer: Optional[DocSerializer] = None) -> dict:
    """TreeChunkExpander (reference chunk_expander.py:16-105): re-serialize the
    complete top-level (body-child) items containing the chunk's items."""
    ser = serializer if serializer is not None else _chunking_serializer(doc)
    tops: dict[str, dict] = {}
    for it in chunk["doc_items"]:
        top = it
        while top.get("parent") and top["parent"]["$ref"] != "#/body":
            top = doc.resolve(top["parent"]["$ref"])
        tops[top["self_ref"]] = top
    ordered = [r["$ref"] for r in doc.body.get("children", ()) if r["$ref"] in tops]
    if not ordered:
        return chunk
    content = ""
    all_items: list[dict] = []
    for cref in ordered:
        res = ser.serialize(item=tops[cref])
        content += res.text + "\n"
        all_items.extend(res.spans)
    if not content.strip():
        return chunk
    return {**chunk, "text": content, "doc_items": all_items}


def expand_chunk_page(chunk: dict, doc: Doc, params: Optional[MarkdownParams] = None) -> dict:
    """PageChunkExpander (reference chunk_expander.py:108-166): re-serialize
    the whole pages the chunk's items span."""
    page_ids = {p["page_no"] for it in chunk["doc_items"] for p in it.get("prov", ())}
    if not doc.pages or not page_ids:
        return chunk
    base = params or MarkdownParams(**CHUNKING_OVERRIDES)
    ser = DocSerializer(doc, replace(base, pages=set(page_ids)))
    res = ser.serialize()
    return {**chunk, "text": res.text, "doc_items": list(res.spans)}


def contextualize(chunk: dict, delim: str = "\n") -> str:
    """Embedding-targeted chunk text: heading path + text (chunker/base.py:67-87)."""
    items = []
    if chunk.get("headings"):
        items.append(delim.join(chunk["headings"]))
    if chunk.get("captions"):
        items.append(delim.join(chunk["captions"]))
    items.append(chunk["text"])
    return delim.join(items)


# ---------------------------------------------------------------------------
# Line-based token chunker (reference line_chunker.py:20-340)
# ---------------------------------------------------------------------------


class LineBasedTokenChunker:
    """Token-aware chunker that preserves line boundaries.

    Faithful port of the reference semantics: lines stay intact unless a
    single line exceeds the budget on its own; every chunk starts with the
    repeated ``prefix`` (e.g. table header rows); an over-budget prefix is
    split into standalone leading chunks; ``omit_prefix_on_overflow`` trades
    prefix consistency for line integrity; oversized lines are split by a
    binary-searched token limit with a word-boundary snap.
    """

    def __init__(self, tokenizer, prefix: str = "", omit_prefix_on_overflow: bool = False):
        self.tokenizer = tokenizer
        self.prefix = prefix
        self.omit_prefix_on_overflow = omit_prefix_on_overflow
        token_count = tokenizer.count_tokens(prefix) if prefix else 0
        if prefix and token_count >= self.max_tokens:
            # prefix cannot ride along: emit it as standalone leading chunks
            self.prefix_chunks = LineBasedTokenChunker(tokenizer).chunk_text([prefix])
            self.prefix_len = 0
        else:
            self.prefix_chunks = [prefix] if prefix else []
            self.prefix_len = token_count

    @property
    def max_tokens(self) -> int:
        """Chunk capacity as reported by the tokenizer."""
        return self.tokenizer.get_max_tokens()

    def split_by_token_limit(
        self, text: str, token_limit: int, prefer_word_boundary: bool = True
    ) -> tuple[str, str]:
        """Split text into (head, tail): head holds at most token_limit tokens.

        Binary search over character indices minimizes count_tokens calls;
        with prefer_word_boundary the head snaps back to the last space when
        one exists (reference line_chunker.py:284-340).
        """
        count = self.tokenizer.count_tokens
        if token_limit <= 0 or not text:
            return "", text
        if count(text) <= token_limit:
            return text, ""
        lo, hi = 0, len(text)
        best_idx = None
        while lo <= hi:
            mid = (lo + hi) // 2
            if count(text[:mid]) <= token_limit:
                best_idx = mid
                lo = mid + 1
            else:
                hi = mid - 1
        if best_idx is None or best_idx <= 0:
            return "", text
        if prefer_word_boundary:
            last_space = text[:best_idx].rfind(" ")
            if last_space > 0:
                best_idx = last_space
        return text[:best_idx], text[best_idx:]

    def chunk_text(self, lines: list[str]) -> list[str]:
        """Pack lines (with their terminators) into prefixed token-bounded chunks."""
        count = self.tokenizer.count_tokens
        chunks: list[str] = []

        if self.prefix_chunks and self.prefix_len == 0:
            chunks.extend(self.prefix_chunks)
            current, current_len = "", 0
        elif self.omit_prefix_on_overflow and self.prefix_len > 0 and lines:
            if count(lines[0]) + self.prefix_len > self.max_tokens:
                # first line would overflow with the prefix: keep the prefix
                # visible as a standalone chunk, then go prefix-less
                chunks.append(self.prefix)
                current, current_len = "", 0
            else:
                current, current_len = self.prefix, self.prefix_len
        else:
            current, current_len = self.prefix, self.prefix_len

        for line in lines:
            remaining = line
            while True:
                line_tokens = count(remaining)
                available = self.max_tokens - current_len

                if line_tokens <= available:
                    current += remaining
                    current_len += line_tokens
                    break

                if line_tokens + self.prefix_len <= self.max_tokens:
                    # fits a fresh (prefixed) chunk: flush and retry there
                    chunks.append(current)
                    if self.prefix_len > 0:
                        current, current_len = self.prefix, self.prefix_len
                    else:
                        current, current_len = "", 0
                    continue

                if (
                    self.omit_prefix_on_overflow
                    and line_tokens <= self.max_tokens
                    and self.prefix_len > 0
                ):
                    # dropping the prefix lets the line stay intact
                    if current and current != self.prefix:
                        chunks.append(current)
                    current, current_len = "", 0
                    continue

                # too large even alone: split off what fits right here
                take, remaining = self.split_by_token_limit(remaining, available)
                if not take:
                    # zero-progress guard: force a one-character split
                    if remaining:
                        take, remaining = remaining[0], remaining[1:]
                    else:
                        break
                current += "\n" + take
                current_len += count(take)
                chunks.append(current)
                if self.prefix_len > 0 and not self.omit_prefix_on_overflow:
                    current, current_len = self.prefix, self.prefix_len
                else:
                    current, current_len = "", 0

        if current and (self.prefix_len == 0 or current != self.prefix):
            chunks.append(current)
        return chunks


# ---------------------------------------------------------------------------
# Hybrid chunker (reference hybrid_chunker.py:55-394)
# ---------------------------------------------------------------------------


class _CappedTokenizer:
    """Tokenizer view whose get_max_tokens reports an explicit cap."""

    def __init__(self, inner, max_tokens: int):
        self._inner = inner
        self._max = max_tokens

    def count_tokens(self, text: str) -> int:
        return self._inner.count_tokens(text)

    def get_max_tokens(self) -> int:
        return self._max


class HybridChunker:
    """Token-aware refinement on top of hierarchical chunking.

    Pipeline: hierarchical chunks -> split oversized chunks by doc items
    (greedy window growth) -> split remaining oversized text (line-based with
    repeated table headers for tables, recursive text splitting otherwise) ->
    merge undersized peers sharing the same headings.
    """

    def __init__(
        self,
        tokenizer: Optional[Any] = None,
        max_tokens: Optional[int] = None,
        repeat_table_header: bool = True,
        merge_peers: bool = True,
        always_emit_headings: bool = False,
        omit_header_on_overflow: bool = False,
        delim: str = "\n",
        serializer_overrides: Optional[dict] = None,
    ):
        self.tokenizer = tokenizer if tokenizer is not None else RegexTokenizer(max_tokens or 512)
        self._max_tokens_override = max_tokens
        self.repeat_table_header = repeat_table_header
        self.merge_peers = merge_peers
        self.always_emit_headings = always_emit_headings
        self.omit_header_on_overflow = omit_header_on_overflow
        self.delim = delim
        # reference serializer_provider equivalent: e.g. table_mode="github"
        # switches to markdown tables, activating real header repetition
        self.serializer_overrides = serializer_overrides

    @property
    def max_tokens(self) -> int:
        """Chunk capacity."""
        if self._max_tokens_override is not None:
            return self._max_tokens_override
        return self.tokenizer.get_max_tokens()

    # -- token accounting --------------------------------------------------

    def _count_chunk_tokens(self, chunk: dict) -> int:
        return self.tokenizer.count_tokens(contextualize(chunk, self.delim))

    def _chunk_overhead(self, chunk: dict) -> int:
        total = self._count_chunk_tokens(chunk)
        text_len = self.tokenizer.count_tokens(chunk["text"]) if chunk["text"] else 0
        return total - text_len

    # -- stage 1: split by doc items ----------------------------------------

    def _window_chunk(self, chunk: dict, ser: DocSerializer, start: int, end: int) -> dict:
        items = chunk["doc_items"][start : end + 1]
        if len(chunk["doc_items"]) == 1:
            text = chunk["text"]
        else:
            # per-item serialization memo: greedy window growth would
            # otherwise re-serialize every item O(window^2) times
            cache = self._item_text_cache
            texts = []
            for it in items:
                if it.get("label") in (M.TITLE, M.SECTION_HEADER):
                    continue
                sr = it["self_ref"]
                t = cache.get(sr)
                if t is None:
                    t = ser.serialize(item=it).text
                    cache[sr] = t
                if t:
                    texts.append(t)
            text = self.delim.join(texts)
        return {**chunk, "text": text, "doc_items": items}

    def _split_by_doc_items(self, chunk: dict, ser: DocSerializer) -> list[dict]:
        chunks = []
        window_start = 0
        window_end = 0
        num_items = len(chunk["doc_items"])
        while window_end < num_items:
            new_chunk = self._window_chunk(chunk, ser, window_start, window_end)
            if self._count_chunk_tokens(new_chunk) <= self.max_tokens:
                if window_end < num_items - 1:
                    window_end += 1
                    continue
                window_end = num_items
            elif window_start == window_end:
                window_end += 1
                window_start = window_end
            else:
                new_chunk = self._window_chunk(chunk, ser, window_start, window_end - 1)
                window_start = window_end
            chunks.append(new_chunk)
        return chunks

    # -- stage 2: plain-text splitting ---------------------------------------

    def _split_using_plain_text(self, chunk: dict, ser: DocSerializer) -> list[dict]:
        total = self._count_chunk_tokens(chunk)
        if total <= self.max_tokens:
            return [chunk]
        overhead = self._chunk_overhead(chunk)
        available = self.max_tokens - overhead
        if available <= 0:
            bare = {**chunk, "headings": None, "captions": None}
            return self._split_using_plain_text(bare, ser)
        items = chunk["doc_items"]
        if self.repeat_table_header and len(items) == 1 and M.is_table_item(items[0]):
            header_lines, body_lines = DocSerializer.get_header_and_body_lines(chunk["text"])
            if header_lines:
                header_start = chunk["text"].find(header_lines[0])
                preamble = chunk["text"][:header_start] if header_start > 0 else ""
            else:
                preamble = ""
            full_prefix = preamble + "".join(header_lines)
            # token-capped tokenizer view: the line chunker reads the budget
            # from get_max_tokens, which may be overridden on this chunker
            line_chunker = LineBasedTokenChunker(
                _CappedTokenizer(self.tokenizer, self.max_tokens),
                prefix=full_prefix,
                omit_prefix_on_overflow=self.omit_header_on_overflow,
            )
            segments = line_chunker.chunk_text(body_lines)
            if preamble:
                segments = segments[:1] + [s[len(preamble):] for s in segments[1:]]
        else:
            # reference hybrid_chunker.py:320-326: semchunk.chunkerify(
            # tokenizer, chunk_size=available)(text)
            from docling_core_spark.functions.semchunk import semchunk_split

            segments = semchunk_split(
                chunk["text"], available, self.tokenizer.count_tokens
            )
        return [{**chunk, "text": s} for s in segments]

    # -- stage 3: merge peers -------------------------------------------------

    def _merge_peers(self, chunks: list[dict]) -> list[dict]:
        out: list[dict] = []
        window_start = 0
        window_end = 0
        n = len(chunks)
        current_headings = None
        first_chunk = None
        new_chunk = None
        while window_end < n:
            chunk = chunks[window_end]
            headings = chunk.get("headings")
            ready = False
            if window_start == window_end:
                current_headings = headings
                window_end += 1
                first_chunk = chunk
            else:
                window = chunks[window_start : window_end + 1]
                candidate = {
                    **chunk,
                    "text": self.delim.join(c["text"] for c in window),
                    "doc_items": [it for c in window for it in c["doc_items"]],
                    "headings": current_headings,
                }
                if headings == current_headings and self._count_chunk_tokens(candidate) <= self.max_tokens:
                    window_end += 1
                    new_chunk = candidate
                else:
                    ready = True
            if ready or window_end == n:
                if window_start + 1 == window_end:
                    out.append(first_chunk)
                else:
                    out.append(new_chunk)
                window_start = window_end
        return out

    # -- entry ------------------------------------------------------------------

    def chunk(self, doc: Doc) -> list[dict]:
        """Chunk a document (hybrid pipeline)."""
        self._item_text_cache: dict[str, str] = {}
        if self.serializer_overrides is not None:
            ser = DocSerializer(
                doc, MarkdownParams(**{**CHUNKING_OVERRIDES, **self.serializer_overrides})
            )
        else:
            ser = _chunking_serializer(doc)
        res = list(hierarchical_chunks(doc, serializer=ser, always_emit_headings=self.always_emit_headings))
        res = [x for c in res for x in self._split_by_doc_items(c, ser)]
        res = [x for c in res for x in self._split_using_plain_text(c, ser)]
        if self.merge_peers:
            res = self._merge_peers(res)
        return res
