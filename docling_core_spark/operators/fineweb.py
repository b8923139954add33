"""FineWeb/RefinedWeb-style end-to-end curation in ONE call (Penedo 2023
"The RefinedWeb Dataset"; Penedo 2024 "The FineWeb Datasets").

The composed chain a modern pretraining-corpus builder runs, stage order as
published: URL filtering -> text cleanup -> Gopher quality rules -> C4 line
rules -> exact-dup representative -> PII redaction.  Every stage reuses the
repo's standalone operator (textstats/pii) via passthrough columns, so the
composition is evidence the operators chain without materialization
barriers — the corpus_prep_pipeline contract, extended to the full
published stack.

Scale shape (100 TB): stages 1-4 and 6 are map-side (regex/HOF per row);
the ONLY exchange is the stage-5 fingerprint aggregation (min_by with
map-side partials — mass boilerplate combines locally, no window sort).
One scan, one shuffle, end to end; plan-pinned in tests/test_plan_shapes.py.
Near-dup (minhash) and decontamination remain standalone operators by
design: each is its own shuffle stage at scale and composes downstream of
this chain's manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order, pushdown_pinned_filter
from docling_core_spark.operators.hashing import fingerprint, fingerprint_sql
from docling_core_spark.operators.pii import pii_redact, pii_redact_sql
from docling_core_spark.operators.textstats import (
    c4_demo_docs,
    c4_demo_docs_sql,
    c4_line_filter,
    c4_line_filter_sql,
    gopher_quality_filter,
    gopher_quality_filter_sql,
    text_clean,
    text_clean_sql,
    url_filter,
    url_filter_demo_expr,
    url_filter_demo_sql,
    url_filter_rules_sql,
)


def fineweb_demo_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, url, text) demo crawl slice: the line-structured c4 demo
    text gains C4-surviving PII lines (terminal '.', >=3 words) so the
    final redaction stage is non-vacuous, plus the messy demo URL mix —
    all expressible identically in DuckDB (concat/CASE)."""
    lined = c4_demo_docs(docs)
    sid = F.col("doc_id").cast("string")
    with_email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit("\ncontact user"),
            sid,
            F.lit("@example.com today please."),
        ),
    ).otherwise(F.col("text"))
    with_ip = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(with_email, F.lit("\nserver at 93.184.216.34 responded quickly.")),
    ).otherwise(with_email)
    return lined.select(
        "doc_id",
        url_filter_demo_expr(F.col("doc_id")).alias("url"),
        with_ip.alias("text"),
    )


def fineweb_demo_docs_sql(table: str = "documents") -> str:
    """fineweb_demo_docs as a DuckDB CTE body.  The URL column composes
    textstats.url_filter_demo_sql (the single SQL source of truth for the
    demo URL mix, kept in lockstep with url_filter_demo_expr there)."""
    return f"""
  SELECT t.doc_id, u.url,
         CASE WHEN t.doc_id % 5 = 0
              THEN t1 || chr(10) || 'server at 93.184.216.34 responded quickly.'
              ELSE t1 END AS text
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN c4text || chr(10) || 'contact user' || doc_id || '@example.com today please.'
                ELSE c4text END AS t1
    FROM (SELECT doc_id, text AS c4text FROM ({c4_demo_docs_sql(table)}))
  ) t
  JOIN ({url_filter_demo_sql(table)}) u USING (doc_id)
"""


def fineweb_prep(
    docs_with_url: DataFrame, min_stopword_hits: int = 1
) -> DataFrame:
    """One-call FineWeb-style curation over (doc_id, url, text).

    Returns the surviving curated manifest: (doc_id, url, n_words,
    n_lines, n_kept_lines, fingerprint, redacted_text, n_emails, n_ips,
    n_phones, any_pii) — one row per unique post-filter content
    fingerprint, the min-doc_id representative.

    min_stopword_hits defaults to 1 (corpus_prep_pipeline precedent: the
    synthetic corpus is keyword salad; real deployments pass Gopher's 2).
    """
    # Pushdown-pinned stage filters (canon.pushdown_pinned_filter): without
    # the pin Catalyst pushed every stage's keep-predicate down to the
    # scan, inlining the url/clean/gopher chains ~10x into one scan-level
    # Filter (97 KB plan, each copy re-executed per row — the round-6
    # no-CSE rule at the optimizer level).  Pinned: 14.7 KB plan, each
    # stage evaluates once, still one scan + one exchange.
    _stage_filter = pushdown_pinned_filter

    kept_url = _stage_filter(
        url_filter(docs_with_url, canonical=False, passthrough=("text",)),
        F.col("keep"),
    )
    cleaned = text_clean(
        kept_url.select("doc_id", "url", "text"),
        canonical=False,
        passthrough=("url",),
    )
    quality = _stage_filter(
        gopher_quality_filter(
            cleaned.select("doc_id", "url", F.col("clean_text").alias("text")),
            canonical=False,
            passthrough=("url", "text"),
            min_stopword_hits=min_stopword_hits,
        ),
        F.col("keep"),
    )
    lined = _stage_filter(
        c4_line_filter(
            quality.select("doc_id", "url", "text", "n_words"),
            canonical=False,
            passthrough=("url", "n_words"),
        ),
        (F.col("n_kept_lines") > 0) & F.col("doc_ok"),
    )
    fingered = lined.withColumn("fingerprint", fingerprint(F.col("filtered_text")))
    # the chain's ONLY exchange: min_by representative with map-side
    # partials (the corpus_prep skew contract — a mass-boilerplate
    # fingerprint combines locally, never a window sort in one task)
    rep = F.min_by(
        F.struct("doc_id", "url", "filtered_text", "n_words", "n_lines", "n_kept_lines"),
        "doc_id",
    )
    survivors = (
        fingered.groupBy("fingerprint")
        .agg(rep.alias("r"))
        .select(
            F.col("r.doc_id").alias("doc_id"),
            F.col("r.url").alias("url"),
            F.col("r.filtered_text").alias("text"),
            F.col("r.n_words").alias("n_words"),
            F.col("r.n_lines").alias("n_lines"),
            F.col("r.n_kept_lines").alias("n_kept_lines"),
            "fingerprint",
        )
    )
    redacted = pii_redact(
        survivors,
        canonical=False,
        passthrough=("url", "n_words", "n_lines", "n_kept_lines", "fingerprint"),
    )
    return redacted.select(
        "doc_id",
        "url",
        "n_words",
        "n_lines",
        "n_kept_lines",
        "fingerprint",
        "redacted_text",
        "n_emails",
        "n_ips",
        "n_phones",
        "any_pii",
    ).transform(lambda d: canonical_order(d, "doc_id"))


def fineweb_prep_sql(
    table: str = "documents", min_stopword_hits: int = 1
) -> str:
    """DuckDB oracle: the identical chain as nested CTEs over the same
    stage SQL builders (ORDER BY stripped when nesting; the url rule chain
    embeds as a WITH-subquery — DuckDB supports CTEs in derived tables)."""

    def body(sql: str) -> str:
        return sql.strip().rsplit("ORDER BY", 1)[0]

    url_rules = body(url_filter_rules_sql("demo"))
    clean_body = body(text_clean_sql("kept_url"))
    gopher_body = body(
        gopher_quality_filter_sql(
            "cleaned_as_text", min_stopword_hits=min_stopword_hits
        )
    )
    c4_body = body(c4_line_filter_sql("quality_text"))
    pii_body = body(pii_redact_sql("survivors"))
    return f"""
WITH demo AS ({fineweb_demo_docs_sql(table)}),
urlk AS (SELECT doc_id FROM ({url_rules}) WHERE keep),
kept_url AS (SELECT d.* FROM demo d JOIN urlk USING (doc_id)),
cleaned AS ({clean_body}),
cleaned_as_text AS (SELECT doc_id, clean_text AS text FROM cleaned),
quality AS ({gopher_body}),
quality_text AS (
  SELECT q.doc_id, c.text, q.n_words
  FROM quality q JOIN cleaned_as_text c USING (doc_id) WHERE q.keep
),
c4 AS ({c4_body}),
fingered AS (
  SELECT c.doc_id, k.url, q.n_words, c.n_lines, c.n_kept_lines,
         c.filtered_text,
         {fingerprint_sql("c.filtered_text")} AS fingerprint
  FROM c4 c
  JOIN quality_text q USING (doc_id)
  JOIN kept_url k USING (doc_id)
  WHERE c.n_kept_lines > 0 AND c.doc_ok
),
reps AS (
  SELECT min(doc_id) AS doc_id,
         arg_min(url, doc_id) AS url,
         arg_min(filtered_text, doc_id) AS text,
         arg_min(n_words, doc_id) AS n_words,
         arg_min(n_lines, doc_id) AS n_lines,
         arg_min(n_kept_lines, doc_id) AS n_kept_lines,
         fingerprint
  FROM fingered GROUP BY fingerprint
),
survivors AS (SELECT * FROM reps),
pii AS ({pii_body})
SELECT s.doc_id, s.url, s.n_words, s.n_lines, s.n_kept_lines, s.fingerprint,
       p.redacted_text, p.n_emails, p.n_ips, p.n_phones, p.any_pii
FROM survivors s JOIN pii p USING (doc_id)
ORDER BY doc_id
"""
