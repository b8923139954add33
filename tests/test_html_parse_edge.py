"""Regression tests for malformed/edge-case HTML (round-2 ADVICE findings)."""

from __future__ import annotations

from docling_core_spark.functions.html_parse import parse_html
from docling_core_spark.functions.serializers import export_to_markdown


def _texts(doc):
    return [t["text"] for t in doc.texts]


def test_void_drop_tag_does_not_swallow_rest_of_page():
    """<embed> is void: it must not enter drop mode (no end tag ever comes)."""
    doc = parse_html(b"<p>before</p><embed src=x><p>after</p>")
    assert _texts(doc) == ["before", "after"]


def test_nonvoid_drop_tag_still_drops_its_subtree():
    doc = parse_html(b"<p>before</p><iframe><p>hidden</p></iframe><p>after</p>")
    assert _texts(doc) == ["before", "after"]


def test_void_inline_tag_does_not_leak_formatting():
    """<wbr> is void: pushing it onto the format stack desyncs later pops."""
    doc = parse_html(b"<p><b>bo<wbr>ld</b></p><p>plain text</p>")
    texts = doc.texts
    assert [t["text"] for t in texts] == ["bold", "plain text"]
    fmt = texts[1].get("formatting") or {}
    assert not fmt.get("bold"), "plain paragraph wrongly marked bold"
    fmt0 = texts[0].get("formatting") or {}
    assert fmt0.get("bold"), "bold paragraph lost its formatting"


def test_stray_inline_end_tag_does_not_strip_other_format():
    """</i> without a matching open must not pop an unrelated <b>."""
    doc = parse_html(b"<p><b>bold</i> still bold</b></p>")
    fmt = doc.texts[0].get("formatting") or {}
    assert fmt.get("bold")


def test_markdown_after_embed_unaffected():
    md = export_to_markdown(parse_html(b"<h1>T</h1><embed src=x><p>body</p>"))
    assert "body" in md


def _flags(doc):
    return [(t["text"], t.get("formatting"), t.get("hyperlink")) for t in doc.texts]


def _unclosed_bold_page(n: int) -> bytes:
    return b"<p>lead " + b"x <b>" * n + b"y</p><p>next</p><p><a href=u>link</a></p><p><i>it</i> <b>b</b></p>"


def test_many_unclosed_inline_tags_keep_flags():
    """3,000 never-closed <b>: the open count leaks into later blocks, as it
    always has; text before the first <b> keeps the first block unbolded."""
    flags = _flags(parse_html(_unclosed_bold_page(3000)))
    assert flags[0][1:] == (None, None)
    assert flags[1:] == [
        ("next", {"bold": True}, None),
        ("link", {"bold": True}, "u"),
        ("it b", {"bold": True}, None),
    ]


def test_stray_end_tag_runs_keep_flags():
    doc = parse_html(
        b"<p><b>bold</span></a></b></b></b> plain</p>"
        b"<p><a href=h><b>all</b></span></a></b></a></p>"
        + b"</span></a></b>" * 500
        + b"<p><i>ital</i></p><p>after</p>"
    )
    assert _flags(doc) == [
        ("bold plain", None, None),
        ("all", {"bold": True}, "h"),
        ("ital", {"italic": True}, None),
        ("after", None, None),
    ]


def test_parse_time_linear_in_unclosed_tags():
    """4x the unclosed tags must cost < 8x the time (best of 3 each); a
    parser that rescans the open tags per text run costs ~16x."""
    import time

    def best(html: bytes) -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            parse_html(html)
            runs.append(time.perf_counter() - t0)
        return min(runs)

    t1 = best(_unclosed_bold_page(3000))
    t4 = best(_unclosed_bold_page(12000))
    assert t4 < 8 * t1, (t1, t4)
