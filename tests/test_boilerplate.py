"""DOM-heuristic main-content extraction tests (operators/boilerplate.py)."""

from __future__ import annotations

from docling_core_spark.operators.boilerplate import (
    classify_paragraphs,
    main_content,
    main_content_df,
    segment_paragraphs,
)

# corpus-fitted demo knobs (the synthetic corpus is stopword-sparse; see
# the module docstring and the round-5 min_stopword_hits precedent)
DEMO_KW = dict(stopwords_low=0.0, stopwords_high=0.0, length_low=25, length_high=120)

PAGE = (
    "<html><head><title>t</title><script>var x=1;</script>"
    "<style>p{}</style></head><body>"
    "<nav><ul><li><a href='/'>Home</a></li><li><a href='/a'>About</a></li>"
    "</ul></nav>"
    "<h1>Relevant heading</h1>"
    "<p>This is the main article text and it is long enough to pass the "
    "length threshold while containing many of the usual function words "
    "that a stopword list would count in a real corpus of documents.</p>"
    "<p>Short note</p>"
    "<p>A second long paragraph of the body that also has enough words in "
    "it to be counted as proper content by the heuristic classifier.</p>"
    "<footer><p>© example.org — all rights reserved</p></footer>"
    "</body></html>"
)


class TestSegmentation:
    def test_blocks_split_and_links_counted(self):
        paras = segment_paragraphs(PAGE)
        texts = [p.text for p in paras]
        assert "Home" in texts and "Relevant heading" in texts
        home = paras[texts.index("Home")]
        assert home.link_chars == 4 and home.link_density == 1.0
        head = paras[texts.index("Relevant heading")]
        assert head.is_heading

    def test_script_style_skipped(self):
        texts = [p.text for p in segment_paragraphs(PAGE)]
        assert not any("var x" in t or "p{}" in t for t in texts)

    def test_charrefs_and_hostile_markup_total(self):
        paras = segment_paragraphs("<p>a &amp; b</p><p <<>> broken <x")
        assert paras[0].text == "a & b"
        # never raises on garbage
        segment_paragraphs("\x00<<<&&&;;;>>>")

    def test_br_and_selfclosing_flush(self):
        paras = segment_paragraphs("<p>one<br/>two</p>")
        assert [p.text for p in paras] == ["one", "two"]


class TestClassification:
    def test_page_classes(self):
        paras = classify_paragraphs(segment_paragraphs(PAGE))
        by_text = {p.text[:16]: p for p in paras}
        assert by_text["Home"].final_class == "bad"  # pure link
        assert by_text["© example.org — "].final_class == "bad"  # copyright
        assert by_text["This is the main"].final_class == "good"
        assert by_text["A second long pa"].final_class == "good"
        # short paragraph between two goods inherits good
        assert by_text["Short note"].final_class == "good"
        # heading rescued by the following good paragraph
        assert by_text["Relevant heading"].final_class == "good"

    def test_link_density_gate(self):
        html = (
            "<p>read <a href='/x'>more about this topic on the other "
            "much longer page over there in the archive section</a></p>"
        )
        p = classify_paragraphs(segment_paragraphs(html))[0]
        assert p.link_density > 0.2 and p.final_class == "bad"

    def test_short_between_bads_is_bad(self):
        html = (
            "<p><a href='/'>nav nav nav</a></p><p>tiny</p>"
            "<p><a href='/'>nav nav nav</a></p>"
        )
        paras = classify_paragraphs(segment_paragraphs(html))
        assert [p.final_class for p in paras] == ["bad", "bad", "bad"]

    def test_stopword_density_paths(self):
        long_salad = "<p>" + " ".join(["vector scan hash"] * 20) + "</p>"
        p = classify_paragraphs(segment_paragraphs(long_salad))[0]
        assert p.cf_class == "bad"  # sd 0 < stopwords_low
        long_english = (
            "<p>" + "it was the best of times and it was the worst of times "
            * 5 + "</p>"
        )
        q = classify_paragraphs(segment_paragraphs(long_english))[0]
        assert q.cf_class == "good"

    def test_main_content_joins_good(self):
        r = main_content(PAGE)
        assert r["n_good"] >= 4 and r["n_paragraphs"] >= 7
        assert r["main_text"].startswith("Relevant heading\nThis is the main")
        assert "Home" not in r["main_text"]
        assert "©" not in r["main_text"]
        assert r["n_chars_good"] <= r["n_chars"]

    def test_empty_and_none(self):
        r = main_content("")
        assert r == {
            "main_text": "",
            "n_paragraphs": 0,
            "n_good": 0,
            "n_chars": 0,
            "n_chars_good": 0,
        }


class TestCorpusDemo:
    def test_demo_thresholds_non_vacuous(self):
        """The driver-query knobs must keep a meaningful split on the
        synthetic corpus — neither all-good nor all-bad (vacuous trap)."""
        import pyarrow.parquet as pq

        from docling_core_spark.sources.web_pages import synth_rows

        docs = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet",
            columns=["doc_id", "text", "lang"],
        ).to_pylist()
        rows = list(
            synth_rows(
                [d["doc_id"] for d in docs],
                [d["text"] for d in docs],
                [d["lang"] for d in docs],
            )
        )
        goods = pages = 0
        for r in rows:
            res = main_content(r["html"].decode("utf-8"), **DEMO_KW)
            goods += res["n_good"]
            pages += res["n_paragraphs"]
        assert 0 < goods < pages
        assert 0.2 < goods / pages < 0.9


class TestSparkSurface:
    def test_df_matches_python_twin(self, spark):
        from docling_core_spark.sources.web_pages import web_pages_df

        pages = web_pages_df(spark, "/root/testdata/sf0.001")
        got = {
            r.url: (r.n_paragraphs, r.n_good, r.n_chars, r.n_chars_good, r.main_text)
            for r in main_content_df(pages, **DEMO_KW).collect()
        }
        import pyarrow.parquet as pq

        from docling_core_spark.sources.web_pages import synth_rows

        docs = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet",
            columns=["doc_id", "text", "lang"],
        ).to_pylist()
        exp = {}
        for r in synth_rows(
            [d["doc_id"] for d in docs],
            [d["text"] for d in docs],
            [d["lang"] for d in docs],
        ):
            m = main_content(r["html"].decode("utf-8"), **DEMO_KW)
            exp[r["url"]] = (
                m["n_paragraphs"], m["n_good"], m["n_chars"],
                m["n_chars_good"], m["main_text"],
            )
        assert got == exp

    def test_plan_is_map_only(self, spark):
        pages = spark.createDataFrame(
            [("u1", bytearray(PAGE.encode()))], "url string, html binary"
        )
        df = main_content_df(pages)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # map-only: no shuffle


class TestReviewRegressions:
    """Round-8 review findings (omitted </head>, (c) false positive,
    charset-sniff agreement with the extract path)."""

    def test_omitted_head_end_tag(self):
        html = (
            "<html><head><title>t</title>"  # no </head>, no <body> open tag
            "<p>the body paragraph of the page with plenty of length and "
            "the usual function words that make it count as content, and "
            "it keeps going for long enough to clear the high length bound "
            "of the classifier so that it is context-free good</p>"
        )
        r = main_content(html)
        assert r["n_paragraphs"] >= 1
        assert "body paragraph" in r["main_text"]
        assert "t" not in [p for p in r["main_text"].split("\n")]  # title skipped

    def test_title_skipped_even_without_head(self):
        paras = segment_paragraphs("<title>site name</title><p>content here</p>")
        assert [p.text for p in paras] == ["content here"]

    def test_paren_c_is_not_copyright(self):
        html = (
            "<p>Under section 12(c) the parties agree that the terms of the "
            "present contract are to be read with all of the usual words</p>"
        )
        p = classify_paragraphs(segment_paragraphs(html))[0]
        assert p.cf_class != "bad" or p.link_density > 0  # not the © rule

    def test_copyright_mark_still_bad(self):
        p = classify_paragraphs(segment_paragraphs("<p>© 2024 example.org</p>"))[0]
        assert p.cf_class == "bad"

    def test_binary_uses_charset_sniff(self):
        from docling_core_spark.operators.boilerplate import main_content_sql_rows

        html = (
            "<meta charset='windows-1251'><body><p>"
            + "текст документа про данные и слова " * 4
            + "</p></body>"
        )
        rows = list(main_content_sql_rows([("u", html.encode("cp1251"))],
                                          stopwords_low=0.0, stopwords_high=0.0))
        assert "текст документа" in rows[0]["main_text"]
