"""Cross-engine parity for the filter family on adversarial text.

The driver oracle checks run on the synthetic documents table, whose text
is ASCII word salad — it cannot catch Spark-vs-DuckDB dialect divergence on
unicode, regex metacharacters, quotes, or degenerate whitespace.  This test
feeds a hand-built adversarial corpus through the Spark operators AND their
DuckDB oracle SQL side by side and requires identical rows.
"""

from __future__ import annotations

import duckdb
import pytest

ADVERSARIAL = [
    "",
    " ",
    "\n\n\n",
    "\t\t",
    "a",
    "word",
    "the and of to in is",  # all six en stopwords
    "The quick brown fox jumps over the lazy dog. " * 20,
    "ALL CAPS SHOUTING WITHOUT STOPWORDS " * 10,
    "digits 123 456 789 0 and #hashtags #more ...",
    "ellipsis… unicode … and ascii ... mixed",
    "- bullet one\n- bullet two\n- bullet three\nplain line.",
    "* star bullet\n• unicode bullet\n- dash\n",
    "line ends with ...\nanother ends with …\nclean line.",
    "símbolos acentuados: café naïve façade über",
    "ελληνικά κείμενο με λέξεις",
    "מימין לשמאל עברית",
    "日本語のテキストです。単語の境界がありません。",
    "emoji 😀 in 🎉 text 🚀 with words the and of",
    'quotes "double" \'single\' `backtick` and regex chars .*+?[](){}|^$\\',
    "curly {brace} document",
    "Lorem Ipsum dolor sit amet",
    "enable javascript and cookies to continue.",
    "privacy policy terms of use cookie notice.",
    "a non breaking space line.",
    "zero​width​space words.",
    "control \x07 bell and \x1f unit sep.",
    "vertical\x0Btab\x0Bseparated words.",  # Java \s vs RE2 \s divergence probe
    "tab\tseparated\twords\there.",
    "newline at end\n",
    "\nnewline at start",
    "repeated repeated repeated repeated repeated repeated. " * 5,
    "one-word-lines\nx\ny\nz\nw.",
    "Very long line " + "x" * 5000 + " end.",
    "mixed. Ending! Question? Quote\" lines\nno-end line\nshort.",
]


@pytest.fixture(scope="module")
def adversarial_parquet(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("xeng") / "adversarial.parquet")
    tbl = pa.table(
        {
            "doc_id": list(range(len(ADVERSARIAL))),
            "text": ADVERSARIAL,
        }
    )
    pq.write_table(tbl, path)
    return path


def _compare(spark, parquet_path, op, sql):
    sdf = op(spark.read.parquet(parquet_path))
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW adversarial AS SELECT * FROM read_parquet('{parquet_path}')"
    )
    duck_rows = con.execute(sql).fetchall()
    assert len(spark_rows) == len(duck_rows)
    mism = [
        (a, b)
        for a, b in zip(spark_rows, duck_rows)
        if tuple(a) != tuple(b)
    ]
    assert not mism, f"first mismatches: {mism[:3]}"


def test_gopher_filter_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import (
        gopher_quality_filter,
        gopher_quality_filter_sql,
    )

    _compare(
        spark,
        adversarial_parquet,
        gopher_quality_filter,
        gopher_quality_filter_sql("adversarial"),
    )


def test_text_clean_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import text_clean, text_clean_sql

    _compare(spark, adversarial_parquet, text_clean, text_clean_sql("adversarial"))


def test_c4_filter_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import (
        c4_line_filter,
        c4_line_filter_sql,
    )

    _compare(
        spark, adversarial_parquet, c4_line_filter, c4_line_filter_sql("adversarial")
    )


def test_quality_scores_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import (
        quality_scores,
        quality_scores_sql,
    )

    _compare(
        spark, adversarial_parquet, quality_scores, quality_scores_sql("adversarial")
    )


def test_c4_span_dedup_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import c4_span_dedup, c4_span_dedup_sql

    _compare(spark, adversarial_parquet, c4_span_dedup, c4_span_dedup_sql("adversarial"))


def test_decontaminate_cross_engine_adversarial(spark, adversarial_parquet):
    """Shingle normalization + 60-bit gram hashing must agree across engines
    on unicode/RTL/metachar text (doc 0 plays the eval set)."""
    from docling_core_spark.operators.decontam import (
        decontaminate,
        decontaminate_sql,
        eval_subset,
    )

    _compare(
        spark,
        adversarial_parquet,
        lambda df: decontaminate(df, eval_subset(df)),
        decontaminate_sql("adversarial"),
    )


def test_host_quality_stats_cross_engine_adversarial(spark, adversarial_parquet):
    from docling_core_spark.operators.textstats import (
        host_demo_docs,
        host_quality_stats,
        host_quality_stats_sql,
    )

    _compare(
        spark,
        adversarial_parquet,
        lambda df: host_quality_stats(host_demo_docs(df)),
        host_quality_stats_sql("adversarial"),
    )


PII_ADVERSARIAL = [
    "plain text with no pii at all.",
    "mail me at first.last+tag@sub.example.co.uk today",
    "two mails a@b.io and c_d%x@y-z.org in one line",
    "not-an-email @missing.local and user@nodot",
    "server 10.0.0.1 and 255.255.255.255 but not 1.2.3 or 1.2.3.4.5",
    "ip inside word x1.2.3.4 and after punct:127.0.0.1!",
    "call 555-123-4567 or +1 555-123-4567 or (555) 123-4567",
    "phone-ish 12-34 and 5551234567 should not match",
    "mixed: admin@example.com at 93.184.216.34 call 555-987-6543 now",
    "unicode café naïve with user@exämple.com partial",  # non-ASCII domain
    'regex chars .*+?[](){}|^$\\ near 8.8.8.8 and "x@y.zw"',
    "מימין user@rtl.example לשמאל 1.1.1.1",
    "trailing dot user@example.com. and comma 4.4.4.4,",
]


def test_pii_redact_cross_engine_adversarial(spark, tmp_path_factory):
    """PII patterns live in the Java-regex/RE2 common subset; this pins it
    on emails/IPs/phones embedded in unicode, RTL, and metachar text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_core_spark.operators.pii import pii_redact, pii_redact_sql

    path = str(tmp_path_factory.mktemp("pii") / "pii.parquet")
    pq.write_table(
        pa.table({"doc_id": list(range(len(PII_ADVERSARIAL))), "text": PII_ADVERSARIAL}),
        path,
    )
    _compare(spark, path, pii_redact, pii_redact_sql("adversarial"))


def test_url_normalize_idempotent(spark):
    """norm(norm(x)) == norm(x): normalized URLs are a fixpoint, which is
    what makes norm_url usable as a dedup key across re-crawls."""
    from pyspark.sql import functions as F

    from docling_core_spark.operators.textstats import url_normalize_expr

    cases = [
        "HTTPS://Example.COM:443/Path/Sub/?utm_source=x&id=7&fbclid=zz#frag",
        "http://HOST.org:80/",
        "https://a.b/c?ref=spam",
        "https://a.b/c?id=1&utm_campaign=x&q=2",
        "http://plain.net/deep/path/",
        "https://keep.port.io:8443/x?y=1&utm_x=1",
        "https://host.io/?utm_source=only",
        "http://h/p?a=1&a=2&utm_medium=m&b=%20c",
        # scheme-less inputs are fixpoints by passthrough (no '://' injected)
        "example.com/path?utm_source=x",
        "not a url at all",
        "",
        "//protocol-relative.net/x",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["url"])
    once = df.select(url_normalize_expr(F.col("url")).alias("n1"))
    twice = once.select("n1", url_normalize_expr(F.col("n1")).alias("n2"))
    for r in twice.collect():
        assert r["n1"] == r["n2"], r


def test_url_filter_cross_engine_adversarial(spark, tmp_path_factory):
    """url_filter rules over handcrafted edge URLs: Spark and DuckDB agree
    on every column — scheme-less, empty, port-bearing, uppercase badwords,
    IP hosts, userinfo-free weirdness, query/fragment boundaries."""
    import duckdb
    from pyspark.sql import functions as F

    from docling_core_spark.operators.textstats import (
        url_filter,
        url_filter_rules_sql,
    )

    cases = [
        "http://ads.tracker-net.example/banner/1",
        "https://sub.SPAMFARM.example/x",          # case-folded blocklist hit
        "https://files.example.com/FREE-CASINO-poker/9",  # uppercase badwords
        "http://casino.example.net/clean",          # badword in host: weight 2
        "https://www.example.com/articles/7?q=casino#poker",  # query+fragment hits
        "http://93.184.216.34/path",               # IP-literal host (digit_frac)
        "http://x1234567890.example.net:8080/p",   # port stripped from host
        "https://a.example.org" + "/s" * 20,       # deep path
        "https://" + "l" * 50 + ".example.io/",    # long host
        "example.com/no-scheme",                   # scheme-less: empty host
        "",                                        # empty URL
        "https://example.com",                     # no path at all
        "https://example.com/?",                   # empty query
        # round-8 review: blocklist-evasion decorations must NOT work
        "http://user:pw@spamfarm.example/x",       # userinfo hides the host
        "https://spamfarm.example#frag",           # fragment, no path
        "http://a@b@tracker-net.example/x",        # double-@ (strip to LAST)
        "https://sub.tracker-net.example:8443/p",  # port on blocked domain
    ]
    rows = [(i, c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = sorted(map(tuple, url_filter(df, canonical=False).collect()))

    pq = str(tmp_path_factory.mktemp("urlf") / "urls.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW urls AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(url_filter_rules_sql("urls")).fetchall()))
    con.close()
    assert got == want
    # the edge set actually exercises both outcomes
    keeps = [r[9] for r in got]
    assert any(keeps) and not all(keeps)
    # every decorated blocklist URL is actually blocked
    by_id = {r[0]: r for r in got}
    for i, c in enumerate(cases):
        if "spamfarm" in c or "tracker-net" in c:
            assert by_id[i][4] is True and by_id[i][9] is False, c


class TestRobotsFilter:
    def test_cross_engine_parity(self, spark):
        import duckdb

        from docling_core_spark.operators.textstats import (
            robots_demo_pages,
            robots_filter,
            robots_filter_sql,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = sorted(
            map(tuple, robots_filter(robots_demo_pages(docs), canonical=False).collect())
        )
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        )
        exp = sorted(map(tuple, con.sql(robots_filter_sql()).fetchall()))
        assert got == exp
        # non-vacuous: all three outcomes present
        flags = {(r[2], r[3]) for r in got}
        assert {(True, True), (False, True), (False, False)} <= flags

    def test_whole_token_matching(self, spark):
        from docling_core_spark.operators.textstats import robots_filter

        pages = spark.createDataFrame(
            [
                ("u1", '<meta name="robots" content="noindexing, follow">'),
                ("u2", '<meta name="robots" content=" NOINDEX ">'),
            ],
            "url string, html string",
        )
        rows = {r.url: r for r in robots_filter(pages, canonical=False).collect()}
        assert rows["u1"].keep is True  # 'noindexing' is not 'noindex'
        assert rows["u2"].keep is False  # case+whitespace normalized

    def test_binary_html_and_plain_page(self, spark):
        from docling_core_spark.operators.textstats import robots_filter

        pages = spark.createDataFrame(
            [("u1", bytearray(b"<head><title>t</title></head>"))],
            "url string, html binary",
        )
        r = robots_filter(pages, canonical=False).collect()[0]
        assert r.keep is True and r.robots_content == ""

    def test_unquoted_and_adversarial_metas(self, spark):
        """Review findings: unquoted content values must match; names that
        merely start with 'robots' must not; tab-separated directives and
        \\x0B probes must agree across engines."""
        import duckdb

        from docling_core_spark.operators.textstats import (
            robots_filter,
            robots_filter_sql,
        )

        cases = [
            ("u1", "<meta name=robots content=noindex,nofollow>"),
            ("u2", '<meta name="robots-news" content="noindex">'),
            ("u3", '<meta name="robotsx" content="noindex">'),
            ("u4", '<meta name="robots" content="noindex,\tnofollow">'),
            ("u5", '<meta name="robots" content="noindex nofollow">'),
            ("u6", '<meta name\x0b="robots" content="noindex">'),
        ]
        pages = spark.createDataFrame(cases, "url string, html string")
        got = sorted(
            map(tuple, robots_filter(pages, canonical=False).collect())
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE adv_pages (url VARCHAR, html VARCHAR)")
        con.executemany("INSERT INTO adv_pages VALUES (?, ?)", cases)
        # reuse the oracle's extraction/token SQL over the adversarial rows
        sql = robots_filter_sql().replace(
            robots_filter_sql().split("ext AS (")[0],
            "WITH pages AS (SELECT url, html FROM adv_pages),\n",
            1,
        )
        exp = sorted(map(tuple, con.sql(sql).fetchall()))
        assert got == exp
        by = {r[0]: r for r in got}
        assert by["u1"][4] is False or by["u1"][4] == False  # unquoted noindex dropped
        assert by["u2"][4] in (True, 1)  # robots-news is NOT robots
        assert by["u3"][4] in (True, 1)  # robotsx is NOT robots
        assert by["u4"][2] in (True, 1) and by["u4"][3] in (True, 1)  # tab-separated
        assert by["u5"][3] in (True, 1)  # whitespace-separated nofollow
