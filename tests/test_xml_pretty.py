"""The fast DocLang pretty printer must be byte-equal to the minidom round
trip it replaces (parseString(x).documentElement.toprettyxml(indent))."""

from __future__ import annotations

import glob
from dataclasses import replace
from xml.dom.minidom import parseString

import pytest

from docling_core_spark.functions.xml_pretty import pretty_xml

from .conftest import require_ref_data


def _minidom(compact: str, indent: str) -> str:
    return parseString(compact).documentElement.toprettyxml(indent=indent)


EDGE_CASES = [
    "<a/>",
    "<a></a>",
    "<a b=\"1\" c=\"x&amp;y\"/>",
    "<a><b/><c/></a>",
    "<a>text only</a>",
    "<a><![CDATA[raw <> & \" ']]></a>",
    "<a>pre<![CDATA[mid]]>post</a>",
    "<a><b>inner</b>tail text</a>",
    "<a>  spaced  </a>",
    "<a><b/>text<b/></a>",
    "<a att=\"with &quot;quote&quot; and &amp;\"><b x=\"1\">t</b></a>",
    "<a>multi\nline\ntext</a>",
    "<a><b><c><d>deep</d></c></b></a>",
    "<a><![CDATA[]]></a>",
    "<a>&lt;escaped&gt; &amp; &quot;entities&quot; &apos; &#65; &#x42;</a>",
    "<doclang xmlns=\"http://x\" version=\"1\"><head/><text>hi</text></doclang>",
]


@pytest.mark.parametrize("case", EDGE_CASES)
def test_edge_cases_match_minidom(case):
    for indent in ("  ", "\t", "    "):
        assert pretty_xml(case, indent) == _minidom(case, indent), case


def _random_tree_strategy():
    from hypothesis import strategies as st

    tag = st.sampled_from(["a", "b", "cc", "text", "content", "ldiv"])
    attr_val = st.text(
        alphabet="ab &<>\"'\t\n;xé0", min_size=0, max_size=8
    ).map(lambda v: v.replace("&", "&amp;").replace('"', "&quot;").replace("<", "&lt;"))
    attrs = st.dictionaries(
        st.sampled_from(["x", "y", "loc"]), attr_val, max_size=2
    ).map(lambda d: list(d.items()))
    plain_text = st.text(alphabet="ab ;xé0\n.", min_size=1, max_size=10)
    cdata = st.text(alphabet="ab<>&\"' xé\n", min_size=0, max_size=10).filter(
        lambda s: "]]>" not in s
    )

    inner = st.recursive(
        st.one_of(st.tuples(st.just("t"), plain_text), st.tuples(st.just("c"), cdata)),
        lambda ch: st.tuples(st.just("e"), st.tuples(tag, attrs, st.lists(ch, max_size=3))),
        max_leaves=12,
    )

    def render(t):
        kind, payload = t
        if kind == "t":
            return payload
        if kind == "c":
            return f"<![CDATA[{payload}]]>"
        tg, ats, kids = payload
        a = "".join(f' {k}="{v}"' for k, v in ats)
        body = "".join(render(k) for k in kids)
        return f"<{tg}{a}>{body}</{tg}>" if kids else f"<{tg}{a}/>"

    return st.tuples(tag, attrs, st.lists(inner, max_size=4)).map(
        lambda root: render(("e", root))
    )


def test_fuzz_random_trees_match_minidom():
    from hypothesis import given, settings

    @given(_random_tree_strategy())
    @settings(max_examples=300, deadline=None)
    def check(compact):
        assert pretty_xml(compact, "  ") == _minidom(compact, "  "), compact

    check()


def test_unsupported_inputs_raise():
    for bad in ("<a><!-- c --></a>", "<a><?pi x?></a>", "<a>", "text", "<a></b>"):
        with pytest.raises(ValueError):
            pretty_xml(bad, "  ")


def _compact_doclang(doc):
    from docling_core_spark.functions.doclang_out import DocLangSerializer

    ser = DocLangSerializer(doc)
    return DocLangSerializer(
        doc, params=replace(ser.params, pretty_indentation=None)
    ).serialize().text


def test_reference_fixture_docs_match_minidom():
    require_ref_data()
    from docling_core_spark.model.doc import Doc

    checked = 0
    for path in sorted(glob.glob("/root/reference/test/data/doc/*.json")):
        try:
            doc = Doc.from_json(open(path, encoding="utf-8").read())
            compact = _compact_doclang(doc)
        except Exception:
            continue  # non-document fixtures / docs default params reject
        assert pretty_xml(compact, "  ") == _minidom(compact, "  "), path
        checked += 1
    assert checked >= 10


def test_synthetic_corpus_matches_minidom():
    import pyarrow.parquet as pq

    from docling_core_spark.functions.html_parse import parse_html
    from docling_core_spark.sources.web_pages import synth_rows

    docs = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text", "lang"]
    ).to_pylist()
    pages = list(
        synth_rows(
            [r["doc_id"] for r in docs],
            [r["text"] for r in docs],
            [r["lang"] for r in docs],
        )
    )
    for p in pages:
        compact = _compact_doclang(parse_html(p["html"].decode("utf-8")))
        assert pretty_xml(compact, "  ") == _minidom(compact, "  "), p["url"]


def test_truncated_markup_raises_valueerror():
    """The documented ValueError contract holds for direct callers even on a
    bare trailing '<' (previously an IndexError) and unterminated CDATA."""
    import pytest

    from docling_core_spark.functions.xml_pretty import pretty_xml

    for bad in ("<", "<doc>x</doc><", "<doc><![CDATA[unterminated</doc>"):
        with pytest.raises(ValueError):
            pretty_xml(bad, "  ")
