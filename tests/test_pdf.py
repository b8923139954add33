"""PDF first-mile source tests (sources/pdf.py).

Round-trip proofs (writer -> parser), both xref framings, hostile-input
isolation, page-range split parity, and the Spark mapInPandas surface —
the same contract battery as tests/test_warc.py."""

from __future__ import annotations

import os

import pytest

from docling_core_spark.sources.pdf import (
    PdfError,
    _Lexer,
    _page_rows,
    build_pdf,
    demo_pdf_dir,
    doc_to_pdf_pages,
    pdf_page_count,
    pdf_pages_df,
    pdf_segmented_pages,
    pdf_text_pages,
)

PAGES = [
    {
        "width": 612,
        "height": 792,
        "texts": [
            (72, 72, 18, "Heading One"),
            (72, 100, 10, "body line one with several words"),
            (72, 114, 10, "second line (with) \\ specials"),
        ],
    },
    {"width": 612, "height": 792, "texts": [(72, 72, 10, "page two only line")]},
    {"width": 400, "height": 500, "texts": [(30, 40, 12, "third page")]},
]

EXPECTED_TEXTS = [
    "Heading One\nbody line one with several words\nsecond line (with) \\ specials",
    "page two only line",
    "third page",
]


# ---------------------------------------------------------------------------
# object-level lexer
# ---------------------------------------------------------------------------


class TestLexer:
    def test_literal_string_escapes(self):
        lex = _Lexer(rb"(a\(b\)c \\ \n\t \101 \x)")
        assert lex.parse_object() == b"a(b)c \\ \n\t A x"

    def test_literal_string_line_continuation(self):
        assert _Lexer(b"(ab\\\ncd)").parse_object() == b"abcd"
        assert _Lexer(b"(ab\\\r\ncd)").parse_object() == b"abcd"

    def test_hex_string(self):
        assert _Lexer(b"<48 65 6C6C 6F>").parse_object() == b"Hello"
        assert _Lexer(b"<486>").parse_object() == b"H`"  # odd digit pads 0

    def test_name_hash_escape(self):
        assert str(_Lexer(b"/A#20B").parse_object()) == "A B"

    def test_nested_containers_and_ref(self):
        obj = _Lexer(b"<< /K [1 2.5 /N (s) 3 0 R true null] >>").parse_object()
        arr = obj["K"]
        assert arr[0] == 1 and arr[1] == 2.5 and str(arr[2]) == "N"
        assert arr[3] == b"s" and arr[4].num == 3 and arr[5] is True
        assert arr[6] is None

    def test_comment_skipped(self):
        assert _Lexer(b"% comment\n42").parse_object() == 42

    def test_number_vs_ref_disambiguation(self):
        # two ints NOT followed by R stay two ints
        lex = _Lexer(b"[1 2 3]")
        assert lex.parse_object() == [1, 2, 3]


# ---------------------------------------------------------------------------
# round trips
# ---------------------------------------------------------------------------


class TestRoundTrip:
    @pytest.mark.parametrize("xref_stream", [False, True])
    @pytest.mark.parametrize("compress", [False, True])
    def test_text_round_trip(self, xref_stream, compress):
        data = build_pdf(PAGES, xref_stream=xref_stream, compress=compress)
        pages = pdf_text_pages(data)
        assert [p["text"] for p in pages] == EXPECTED_TEXTS
        assert [p["page_no"] for p in pages] == [1, 2, 3]
        assert pages[2]["width"] == 400.0 and pages[2]["height"] == 500.0
        # heading keeps its larger font size
        assert pages[0]["cells"][0]["size"] == 18.0
        assert pages[0]["cells"][1]["size"] == 10.0

    def test_page_count_metadata_only(self):
        assert pdf_page_count(build_pdf(PAGES)) == 3

    @pytest.mark.parametrize("xref_stream", [False, True])
    def test_page_range(self, xref_stream):
        data = build_pdf(PAGES, xref_stream=xref_stream)
        rng = pdf_text_pages(data, page_range=(2, 3))
        assert [p["page_no"] for p in rng] == [2, 3]
        assert [p["text"] for p in rng] == EXPECTED_TEXTS[1:]

    def test_framings_agree(self):
        a = pdf_text_pages(build_pdf(PAGES, xref_stream=False))
        b = pdf_text_pages(build_pdf(PAGES, xref_stream=True))
        assert a == b

    def test_segmented_pages_shape(self):
        from docling_core_spark.model.page import geometry_height, geometry_width

        sp = pdf_segmented_pages(build_pdf(PAGES))
        assert len(sp) == 3
        assert geometry_width(sp[0]["dimension"]) == 612.0
        assert geometry_height(sp[0]["dimension"]) == 792.0
        cells = sp[0]["textline_cells"]
        assert [c["text"] for c in cells][0] == "Heading One"
        assert sp[0]["has_lines"] and not sp[0]["has_chars"]
        # bottom-left origin: first (top) line has the LARGEST y
        ys = [c["rect"]["r_y0"] for c in cells]
        assert ys == sorted(ys, reverse=True)


# ---------------------------------------------------------------------------
# content-stream semantics
# ---------------------------------------------------------------------------


def _single_page_pdf(content: bytes) -> bytes:
    """Wrap a raw content stream in a minimal one-page PDF."""
    data = build_pdf([{"width": 612, "height": 792, "texts": []}], compress=False)
    # splice: replace the (empty) content stream body
    old = b"stream\nBT\nET\nendstream"
    new = b"stream\n" + content + b"\nendstream"
    assert old in data
    out = data.replace(old, new)
    # fix the Length entry of the content object
    out = out.replace(
        b"<< /Length 5 >>", b"<< /Length %d >>" % (len(content) + 1)
    )
    return out


class TestContentStream:
    def test_tj_array_kerning_joins_without_space(self):
        content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(Hel) -50 (lo)] TJ ET"
        pages = pdf_text_pages(_single_page_pdf(content))
        assert pages[0]["text"] == "Hello"

    def test_td_advances_lines(self):
        content = (
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (first) Tj "
            b"0 -14 Td (second) Tj ET"
        )
        pages = pdf_text_pages(_single_page_pdf(content))
        assert pages[0]["text"] == "first\nsecond"

    def test_tl_tstar_and_quote(self):
        content = (
            b"BT /F1 10 Tf 14 TL 1 0 0 1 72 700 Tm (a) Tj T* (b) Tj (c) ' ET"
        )
        pages = pdf_text_pages(_single_page_pdf(content))
        assert pages[0]["text"] == "a\nb\nc"

    def test_cm_translation_applies(self):
        content = (
            b"q 1 0 0 1 0 -100 cm "
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (moved) Tj ET Q"
        )
        pages = pdf_text_pages(_single_page_pdf(content))
        assert pages[0]["cells"][0]["y"] == 600.0

    def test_corrupt_content_isolated_to_page(self):
        # page 1 content is garbage; page 2 parses
        data = build_pdf(PAGES, compress=False)
        # break page 1's stream bytes (keep framing valid)
        i = data.find(b"stream\nBT")
        data = data[: i + 8] + b"\xff\xfe\xfd" + data[i + 11 :]
        pages = pdf_text_pages(data)
        assert len(pages) == 3
        assert pages[1]["text"] == EXPECTED_TEXTS[1]

    def test_same_baseline_fragments_merge_with_space(self):
        content = (
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (left) Tj "
            b"1 0 0 1 200 700 Tm (right) Tj ET"
        )
        pages = pdf_text_pages(_single_page_pdf(content))
        assert pages[0]["text"] == "left right"
        assert len(pages[0]["cells"]) == 1


# ---------------------------------------------------------------------------
# hostile inputs / recovery
# ---------------------------------------------------------------------------


class TestHostile:
    @pytest.mark.parametrize(
        "data",
        [
            b"",
            b"not a pdf at all",
            b"%PDF-1.4\ngarbage no objects",
            b"%PDF-1.4\n" + b"\x00" * 512,
            b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n",  # no pages
        ],
    )
    def test_unparseable_raises_pdferror(self, data):
        with pytest.raises(PdfError):
            pdf_text_pages(data)

    def test_page_rows_isolates_hostile_file(self):
        assert _page_rows("x.pdf", b"hostile \x00 bytes") == []

    def test_truncated_file(self):
        data = build_pdf(PAGES)
        with pytest.raises(PdfError):
            pdf_text_pages(data[:100])

    def test_corrupt_xref_reconstruction(self):
        """Destroying the xref table forces the brute-force object scan."""
        data = build_pdf(PAGES, compress=False)
        i = data.find(b"xref")
        corrupted = data[:i] + b"X" * 4 + data[i + 4 :]
        pages = pdf_text_pages(corrupted)
        assert [p["text"] for p in pages] == EXPECTED_TEXTS

    def test_bad_startxref_offset(self):
        data = build_pdf(PAGES, compress=False)
        i = data.rfind(b"startxref")
        j = data.find(b"\n", i + 10)
        corrupted = data[: i + 10] + b"999999999" + data[j:]
        pages = pdf_text_pages(corrupted)
        assert [p["text"] for p in pages] == EXPECTED_TEXTS

    def test_cyclic_page_tree_terminates(self):
        data = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        )
        with pytest.raises(PdfError):  # no pages reachable
            pdf_text_pages(data)


# ---------------------------------------------------------------------------
# demo corpus + Spark surface
# ---------------------------------------------------------------------------

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _expected_rows(d: str) -> list[tuple]:
    out = []
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".pdf"):
            continue
        with open(os.path.join(d, fn), "rb") as f:
            data = f.read()
        for p in pdf_text_pages(data):
            out.append((fn, p["page_no"], len(p["cells"]), p["text"]))
    return sorted(out)


class TestDemoCorpus:
    def test_deterministic_and_both_framings(self):
        d = demo_pdf_dir(SF_DIR)
        files = sorted(f for f in os.listdir(d) if f.endswith(".pdf"))
        assert len(files) >= 2
        heads = []
        for fn in files:
            with open(os.path.join(d, fn), "rb") as f:
                heads.append(f.read())
        # alternating framing: odd files carry an xref stream
        assert b"/Type /XRef" not in heads[0]
        assert b"/Type /XRef" in heads[1]
        # same dir again -> digest-keyed cache hit
        assert demo_pdf_dir(SF_DIR) == d

    def test_doc_to_pdf_pages_pagination(self):
        pages = doc_to_pdf_pages(7, " ".join(["word"] * 2000))
        assert len(pages) > 1
        assert pages[0]["texts"][0][3] == "Document 7"
        assert pages[0]["texts"][0][2] == 18.0  # heading size


class TestSparkSurface:
    def test_pages_df_matches_local_parse(self, spark):
        d = demo_pdf_dir(SF_DIR)
        df = pdf_pages_df(spark, d + "/*.pdf")
        got = sorted(
            (r.path, r.page_no, r.n_cells, r.text) for r in df.collect()
        )
        assert got == _expected_rows(d)
        assert len(got) > 0

    def test_split_parity(self, spark):
        """Page-range splits produce byte-identical rows to whole-file."""
        d = demo_pdf_dir(SF_DIR)
        whole = sorted(
            (r.path, r.page_no, r.n_cells, r.text)
            for r in pdf_pages_df(spark, d + "/*.pdf").collect()
        )
        split = sorted(
            (r.path, r.page_no, r.n_cells, r.text)
            for r in pdf_pages_df(spark, d + "/*.pdf", split_pages=3).collect()
        )
        assert split == whole

    def test_hostile_file_isolated(self, spark, tmp_path):
        good = build_pdf(PAGES)
        (tmp_path / "good.pdf").write_bytes(good)
        (tmp_path / "bad.pdf").write_bytes(b"hostile \x00\x01\x02 not a pdf")
        (tmp_path / "trunc.pdf").write_bytes(good[:120])
        df = pdf_pages_df(spark, str(tmp_path) + "/*.pdf")
        rows = df.collect()
        assert sorted({r.path for r in rows}) == ["good.pdf"]
        assert len(rows) == 3


class TestReviewRegressions:
    """Round-8 review findings: non-PdfError leaks from corrupt streams."""

    def test_corrupt_xref_stream_falls_back_to_reconstruction(self):
        data = build_pdf(PAGES, xref_stream=True)
        # zero out the xref stream payload (zlib.error territory)
        i = data.rfind(b"stream\n")
        j = data.find(b"\nendstream", i)
        corrupted = data[: i + 7] + b"\x00" * (j - i - 7) + data[j:]
        pages = pdf_text_pages(corrupted)
        assert [p["text"] for p in pages] == EXPECTED_TEXTS

    def test_corrupt_objstm_payload_is_pdferror_not_zlib(self):
        data = build_pdf(PAGES, xref_stream=True)
        # corrupt the ObjStm (holds catalog/pages) AND the xref stream so
        # nothing recovers — must raise PdfError, never zlib.error
        out = bytearray(data)
        pos = 0
        while True:
            i = data.find(b"stream\n", pos)
            if i < 0:
                break
            j = data.find(b"\nendstream", i)
            out[i + 7 : j] = b"\x00" * (j - i - 7)
            pos = j
        with pytest.raises(PdfError):
            pdf_text_pages(bytes(out))

    def test_parse_pdf_normalizes_all_errors(self):
        # deep-nested arrays would hit the recursion limit -> PdfError
        data = b"%PDF-1.4\n1 0 obj\n" + b"[" * 50000 + b"]" * 50000 + b"\nendobj\n"
        with pytest.raises(PdfError):
            pdf_text_pages(data)


class TestPdfToDoc:
    """PDF -> document model (pdf_to_doc): headings, paragraphs, prov."""

    def test_title_heading_paragraphs(self):
        pages = [
            {"width": 612, "height": 792, "texts": [
                (72, 72, 20, "The Title"),
                (72, 110, 10, "first body line of the opening paragraph"),
                (72, 124, 10, "second body line continues it"),
                (72, 170, 14, "A Section"),
                (72, 200, 10, "section body"),
            ]},
        ]
        from docling_core_spark.sources.pdf import pdf_to_doc

        doc = pdf_to_doc(build_pdf(pages))
        labels = [(t["label"], t["text"]) for t in doc.texts]
        assert labels[0] == ("title", "The Title")
        assert labels[1][1] == (
            "first body line of the opening paragraph second body line continues it"
        )
        assert labels[2][0] == "section_header" and labels[2][1] == "A Section"
        assert labels[3][1] == "section body"
        # provenance: real page numbers, bottom-left bbox, charspan
        pv = doc.texts[1]["prov"][0]
        assert pv["page_no"] == 1
        assert pv["bbox"]["t"] > pv["bbox"]["b"]
        assert pv["charspan"] == [0, len(doc.texts[1]["text"])]

    def test_paragraph_split_on_vertical_gap(self):
        pages = [
            {"width": 612, "height": 792, "texts": [
                (72, 100, 10, "para one line"),
                (72, 114, 10, "still para one"),
                (72, 180, 10, "para two after a large gap"),
            ]},
        ]
        from docling_core_spark.sources.pdf import pdf_to_doc

        doc = pdf_to_doc(build_pdf(pages))
        texts = [t["text"] for t in doc.texts]
        assert texts == ["para one line still para one", "para two after a large gap"]

    def test_heading_levels_by_ratio(self):
        pages = [
            {"width": 612, "height": 792, "texts": [
                (72, 60, 20, "Title"),
                (72, 100, 19, "H1 sized"),
                (72, 140, 15, "H2 sized"),
                (72, 180, 13, "H3 sized"),
                (72, 220, 10, "body text long enough to anchor the body size"),
                (72, 240, 10, "more body to make 10pt the modal size"),
                (72, 260, 10, "and a third body line"),
            ]},
        ]
        from docling_core_spark.sources.pdf import pdf_to_doc

        doc = pdf_to_doc(build_pdf(pages))
        by_text = {t["text"]: t for t in doc.texts}
        assert by_text["Title"]["label"] == "title"
        assert by_text["H1 sized"]["level"] == 1
        assert by_text["H2 sized"]["level"] == 2
        assert by_text["H3 sized"]["level"] == 3

    def test_doc_row_and_markdown(self):
        from docling_core_spark.sources.pdf import doc_to_pdf_pages, pdf_doc_row

        data = build_pdf(doc_to_pdf_pages(9, " ".join(["w"] * 500)))
        r = pdf_doc_row("x/demo.pdf", data)
        assert r["path"] == "demo.pdf"
        assert r["markdown"].startswith("# Document 9")
        assert r["n_pages"] >= 1 and r["n_texts"] >= 2

    def test_hostile_file_returns_none(self):
        from docling_core_spark.sources.pdf import pdf_doc_row

        assert pdf_doc_row("bad.pdf", b"not a pdf") is None

    def test_docs_df_matches_local(self, spark):
        from docling_core_spark.sources.pdf import (
            demo_pdf_dir,
            pdf_doc_row,
            pdf_docs_df,
        )

        d = demo_pdf_dir(SF_DIR)
        got = sorted(
            (r.path, r.n_pages, r.n_texts, r.markdown)
            for r in pdf_docs_df(spark, d + "/*.pdf").collect()
        )
        exp = []
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".pdf"):
                with open(os.path.join(d, fn), "rb") as f:
                    r = pdf_doc_row(fn, f.read())
                exp.append((r["path"], r["n_pages"], r["n_texts"], r["markdown"]))
        assert got == sorted(exp)


class TestPlanShapes:
    def test_whole_file_path_has_no_exchange(self, spark):
        d = demo_pdf_dir(SF_DIR)
        plan = (
            pdf_pages_df(spark, d + "/*.pdf")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_split_path_shuffles_only_range_rows(self, spark):
        d = demo_pdf_dir(SF_DIR)
        plan = (
            pdf_pages_df(spark, d + "/*.pdf", split_pages=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # exactly ONE exchange, and it moves the tiny (path, page_start,
        # page_end) index rows, never file bytes
        assert plan.count("Exchange") == 1
        idx = plan.index("Exchange")
        assert "page_start" in plan[idx:].splitlines()[1] or "index(" in plan[idx:]


class TestCli:
    def test_cli_pdf_and_main_content(self, spark, tmp_path):
        """CLI subcommands for the first-mile sources (S8): pdf page table,
        pdf markdown, main-content over a pages parquet."""
        from docling_core_spark.cli import main as cli_main

        (tmp_path / "in").mkdir()
        (tmp_path / "in" / "a.pdf").write_bytes(build_pdf(PAGES))
        rc = cli_main(
            ["pdf", "--input", str(tmp_path / "in") + "/*.pdf",
             "--output", str(tmp_path / "pages")]
        )
        assert rc == 0
        rows = spark.read.parquet(str(tmp_path / "pages")).collect()
        assert {r.page_no for r in rows} == {1, 2, 3}

        rc = cli_main(
            ["pdf", "--input", str(tmp_path / "in") + "/*.pdf", "--markdown",
             "--output", str(tmp_path / "md")]
        )
        assert rc == 0
        md = spark.read.parquet(str(tmp_path / "md")).collect()
        assert len(md) == 1 and "Heading One" in md[0].markdown

        pages_tbl = str(tmp_path / "pages_tbl")
        spark.createDataFrame(
            [("u1", bytearray(b"<p>" + b"content words here and there " * 8 + b"</p>"))],
            "url string, html binary",
        ).write.parquet(pages_tbl)
        rc = cli_main(
            ["main-content", "--input", pages_tbl,
             "--output", str(tmp_path / "mc")]
        )
        assert rc == 0
        assert spark.read.parquet(str(tmp_path / "mc")).count() == 1


class TestIncrementalUpdate:
    def test_prev_chain_latest_object_wins(self):
        """An appended incremental update (new page-1 content object + xref
        with /Prev) must override the original object — first-loaded xref
        wins per object, /Prev supplies the rest."""
        base = build_pdf(
            [{"width": 612, "height": 792, "texts": [(72, 72, 10, "original")]}],
            compress=False,
        )
        # original layout: obj 5 is page 1's content stream
        orig_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
        new_content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (updated) Tj ET"
        out = bytearray(base)
        upd_obj_at = len(out)
        out += b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (
            len(new_content) + 1, new_content + b"\n",
        )
        xref_at = len(out)
        out += b"xref\n5 1\n%010d 00000 n \n" % upd_obj_at
        out += b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n" % orig_xref_at
        out += b"startxref\n%d\n%%%%EOF\n" % xref_at
        pages = pdf_text_pages(bytes(out))
        assert [p["text"] for p in pages] == ["updated"]
        # the base document alone still reads the original
        assert [p["text"] for p in pdf_text_pages(base)] == ["original"]


class TestEncrypted:
    def test_encrypt_trailer_raises_pdferror(self):
        data = build_pdf(PAGES, compress=False)
        # splice /Encrypt into the trailer dict
        corrupted = data.replace(
            b"trailer\n<< /Size", b"trailer\n<< /Encrypt 99 0 R /Size", 1
        )
        assert corrupted != data
        with pytest.raises(PdfError, match="encrypted"):
            pdf_text_pages(corrupted)
        # and the Spark row contract stays zero-rows
        assert _page_rows("enc.pdf", corrupted) == []


class TestType0ToUnicode:
    """Type0/CID fonts: decode 2-byte shows via the ToUnicode CMap."""

    def _type0_pdf(self, cmap: bytes, hexcodes: str) -> bytes:
        content = (
            b"BT /F9 12 Tf 1 0 0 1 72 700 Tm <" + hexcodes.encode() + b"> Tj ET"
        )
        return (
            b"%%PDF-1.5\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F9 4 0 R >> >> /Contents 5 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /Identity-H /ToUnicode 6 0 R >>\nendobj\n"
            b"5 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            b"6 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
            % (len(content) + 1, content, len(cmap) + 1, cmap)
        )  # no xref: the reconstruction scan handles it

    def test_bfchar_and_bfrange(self):
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"2 beginbfchar\n<0041> <0048>\n<0042> <0065>\nendbfchar\n"
            b"1 beginbfrange\n<0050> <0052> <006C>\nendbfrange\n"
            b"endcmap end end\n"
        )
        # codes: 0041->H 0042->e 0050->l 0051->m(: base+1)... use 0050 0050 0052
        data = self._type0_pdf(cmap, "00410042005000500052")
        pages = pdf_text_pages(data)
        assert pages[0]["text"] == "Hell" + chr(0x6C + 2)

    def test_bfrange_array_form(self):
        cmap = (
            b"1 beginbfrange\n<0001> <0002> [<0057> <0069>]\nendbfrange\n"
        )
        data = self._type0_pdf(cmap, "00010002")
        assert pdf_text_pages(data)[0]["text"] == "Wi"

    def test_unmapped_code_replacement_and_no_map_skip(self):
        cmap = b"1 beginbfchar\n<0001> <0041>\nendbfchar\n"
        data = self._type0_pdf(cmap, "00010009")
        assert pdf_text_pages(data)[0]["text"] == "A�"
        # Type0 WITHOUT ToUnicode: show skipped entirely (documented)
        data2 = self._type0_pdf(b"", "0001")
        assert pdf_text_pages(data2)[0]["text"] == ""

    def test_surrogate_pair_target(self):
        cmap = b"1 beginbfchar\n<0001> <D83DDE00>\nendbfchar\n"
        data = self._type0_pdf(cmap, "0001")
        assert pdf_text_pages(data)[0]["text"] == "\U0001F600"

    def test_hostile_bfrange_keeps_other_mappings(self):
        """Per-entry CMap tolerance: one overflowing range must not drop
        the valid bfchar mappings (review finding)."""
        cmap = (
            b"1 beginbfchar\n<0001> <0041>\nendbfchar\n"
            b"1 beginbfrange\n<00FE> <00FF> <FF>\nendbfrange\n"
        )
        data = self._type0_pdf(cmap, "000100FF")
        text = pdf_text_pages(data)[0]["text"]
        assert text[0] == "A"  # bfchar survived; the range decoded widened
