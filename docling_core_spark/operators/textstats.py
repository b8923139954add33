"""Text-analysis operators over the documents table.

All hot-path expressions are Catalyst-native (no Python UDFs): language ID,
quality scoring, token counting, and fingerprinting compile to whole-stage
codegen and are verified against a DuckDB oracle running equivalent ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.hashing import (
    HASH60_MAX,
    fingerprint,
    fingerprint_sql,
    hash60,
    hash60_sql,
    sample_gate,
    sample_gate_sql,
    seeded_hash60,
    seeded_hash60_sql,
)

# small fixed stopword sets per language (public lists, truncated for
# deterministic SQL-parity between Spark and the DuckDB oracle)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "les", "et", "des", "une"],
    "de": ["der", "die", "und", "das", "ein", "nicht"],
    "es": ["el", "los", "las", "una", "por", "para"],
}

_PUNCT_CLASS = r"[.,;:!?]"

# Explicit ASCII whitespace class, used verbatim on BOTH engines.  Java's \s
# is exactly [ \t\n\x0B\f\r] but RE2's \s lacks vertical tab \x0B, so a bare
# \s in a Spark regex paired with \s in the DuckDB oracle silently diverges
# on text containing \x0B.  Spelling the class out keeps Spark behavior
# bit-identical to \s while making the oracle match it.
WS = r"[ \t\n\x0B\f\r]"


def _padded(col):
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def lang_score_expr(col, lang: str):
    """Count of distinct stopwords of `lang` present (0..6)."""
    padded = _padded(col)
    score = F.lit(0)
    for w in LANG_STOPWORDS[lang]:
        score = score + F.when(padded.contains(f" {w} "), 1).otherwise(0)
    return score


def lang_score_sql(col: str, lang: str) -> str:
    """DuckDB-equivalent of lang_score_expr."""
    padded = f"(' ' || lower({col}) || ' ')"
    parts = [
        f"(CASE WHEN {padded} LIKE '% {w} %' THEN 1 ELSE 0 END)" for w in LANG_STOPWORDS[lang]
    ]
    return "(" + " + ".join(parts) + ")"


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-voting language guess per document (n-gram-free heuristic)."""
    scored = docs.select(
        "doc_id",
        *[lang_score_expr(F.col("text"), lang).alias(f"score_{lang}") for lang in LANG_STOPWORDS],
    )
    langs = list(LANG_STOPWORDS)
    # argmax with deterministic tie-break on language order
    guess = F.lit("und")
    best = F.lit(0)
    for lang in langs:
        cond = F.col(f"score_{lang}") > best
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
    return scored.select(
        "doc_id",
        *[F.col(f"score_{lang}") for lang in langs],
        guess.alias("lang_guess"),
    ).transform(lambda d: canonical_order(d, "doc_id"))


def language_id_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for language_id."""
    langs = list(LANG_STOPWORDS)
    score_cols = ",\n  ".join(f"{lang_score_sql('text', lang)} AS score_{lang}" for lang in langs)
    # same sequential argmax with tie-break on order
    guess = "'und'"
    best = "0"
    for lang in langs:
        guess = f"(CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {guess} END)"
        best = f"(CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END)"
    return f"""
WITH scored AS (
  SELECT doc_id,
  {score_cols}
  FROM {table}
)
SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
       {guess} AS lang_guess
FROM scored
ORDER BY doc_id
"""


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality features: length, punctuation/stopword/digit ratios."""
    text = F.col("text")
    n_chars = F.length(text)
    words = F.split(F.trim(text), WS + "+")
    n_words = F.when(F.length(F.trim(text)) == 0, 0).otherwise(F.size(words))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, _PUNCT_CLASS, ""))
    n_digits = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    en_stop = lang_score_expr(text, "en")
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_digits / F.greatest(n_chars, F.lit(1)), 6).alias("digit_ratio"),
        en_stop.cast("int").alias("en_stopword_hits"),
        F.round(n_chars / F.greatest(n_words, F.lit(1)), 4).alias("avg_word_len"),
    ).transform(lambda d: canonical_order(d, "doc_id"))


def quality_scores_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for quality_scores."""
    return f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE length(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT) AS n_words,
  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
        / greatest(length(text), 1)::DOUBLE, 6) AS punct_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio,
  CAST({lang_score_sql('text', 'en')} AS INT) AS en_stopword_hits,
  round(length(text) / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE length(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END, 1)::DOUBLE, 4) AS avg_word_len
FROM {table}
ORDER BY doc_id
"""


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens and a BPE-ish subword proxy count (word-chars/4 heuristic)."""
    text = F.col("text")
    ws_tokens = F.when(F.length(F.trim(text)) == 0, 0).otherwise(F.size(F.split(F.trim(text), WS + "+")))
    word_chars = F.length(F.regexp_replace(text, WS, ""))
    return docs.select(
        "doc_id",
        ws_tokens.cast("long").alias("ws_tokens"),
        F.ceil(word_chars / 4.0).cast("long").alias("bpe_tokens_est"),
    ).transform(lambda d: canonical_order(d, "doc_id"))


def token_counts_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for token_counts."""
    return f"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE length(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT) AS ws_tokens,
  CAST(ceil(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) / 4.0) AS BIGINT) AS bpe_tokens_est
FROM {table}
ORDER BY doc_id
"""


def fingerprints(docs: DataFrame) -> DataFrame:
    """Normalized-content md5 fingerprint per document."""
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint")).transform(
        lambda d: canonical_order(d, "doc_id")
    )


def fingerprints_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for fingerprints."""
    return f"""
SELECT doc_id, {fingerprint_sql("text")} AS fingerprint
FROM {table}
ORDER BY doc_id
"""


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1): duplicate-line fraction,
    duplicate-line character fraction, max line occurrences, and the
    fraction of word-bigram positions taken by the most frequent bigram.

    Scale shape: two hash aggregations keyed (doc_id, line) and
    (doc_id, bigram) — partial map-side combine, no window, no collect;
    the per-doc rollup and joins shuffle on doc_id only.  Bigrams come
    from zip_with over shifted slices (never element_at, which is
    interpreted per element)."""
    text = F.col("text")
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)
    line_rows = docs.select("doc_id", F.explode(lines).alias("line"))
    per_line = line_rows.groupBy("doc_id", "line").agg(F.count("*").alias("cnt"))
    line_agg = per_line.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.round(
            (F.sum("cnt") - F.count("*")) / F.greatest(F.sum("cnt"), F.lit(1)), 6
        ).alias("dup_line_frac"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line")).otherwise(0))
            / F.greatest(F.sum(F.col("cnt") * F.length("line")), F.lit(1)),
            6,
        ).alias("dup_line_char_frac"),
        F.max("cnt").cast("long").alias("max_line_occurrences"),
    )

    words = F.split(F.lower(F.trim(text)), WS + "+")
    with_words = docs.filter(F.length(F.trim(text)) > 0).select(
        "doc_id", words.alias("ws")
    )
    bigrams = F.zip_with(
        F.expr("slice(ws, 1, size(ws) - 1)"),
        F.expr("slice(ws, 2, size(ws) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bigram_rows = with_words.select("doc_id", F.explode(bigrams).alias("bigram"))
    per_bigram = bigram_rows.groupBy("doc_id", "bigram").agg(F.count("*").alias("cnt"))
    bigram_agg = per_bigram.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.round(F.max("cnt") / F.greatest(F.sum("cnt"), F.lit(1)), 6).alias(
            "top_bigram_frac"
        ),
    )

    return (
        docs.select("doc_id")
        .join(line_agg, "doc_id", "left")
        .join(bigram_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            F.coalesce("max_line_occurrences", F.lit(0)).alias("max_line_occurrences"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def repetition_scores_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for repetition_scores."""
    return f"""
WITH lines AS (
  SELECT doc_id, l AS line
  FROM {table}, unnest(string_split(text, chr(10))) AS t(l)
  WHERE length(trim(l)) > 0
),
per_line AS (
  SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line
),
line_agg AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_lines,
         round((sum(cnt) - count(*)) / greatest(sum(cnt), 1)::DOUBLE, 6) AS dup_line_frac,
         round(sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)
               / greatest(sum(cnt * length(line)), 1)::DOUBLE, 6) AS dup_line_char_frac,
         CAST(max(cnt) AS BIGINT) AS max_line_occurrences
  FROM per_line GROUP BY doc_id
),
words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+') AS ws
  FROM {table} WHERE length(trim(text)) > 0
),
bigrams AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bigram
  FROM words, unnest(generate_series(1, len(ws) - 1)) AS g(i)
),
per_bigram AS (
  SELECT doc_id, bigram, count(*) AS cnt FROM bigrams GROUP BY doc_id, bigram
),
bigram_agg AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         round(max(cnt) / greatest(sum(cnt), 1)::DOUBLE, 6) AS top_bigram_frac
  FROM per_bigram GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_lines, 0) AS n_lines,
       coalesce(dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
       coalesce(max_line_occurrences, 0) AS max_line_occurrences,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
FROM {table} d
LEFT JOIN line_agg USING (doc_id)
LEFT JOIN bigram_agg USING (doc_id)
ORDER BY doc_id
"""


def sample_by_hash(docs: DataFrame, rate: float = 0.1, seed: str = "s42") -> DataFrame:
    """Deterministic content-independent downsampling: keep a document iff
    its 60-bit md5(doc_id || seed) falls under rate * 2^60.

    The training-data staple for reproducible corpus subsets: map-only (the
    filter is pushed to the scan), no RNG state, identical selection on any
    cluster size or partitioning, and re-runs/new seeds compose.  The
    60-bit md5 prefix is exactly reproducible in DuckDB (operators.hashing)."""
    return (
        docs.filter(sample_gate("doc_id", seed, rate))
        .select("doc_id", seeded_hash60("doc_id", seed).alias("hash60"))
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def sample_by_hash_sql(table: str = "documents", rate: float = 0.1, seed: str = "s42") -> str:
    """DuckDB oracle SQL for sample_by_hash."""
    return f"""
SELECT doc_id,
       {seeded_hash60_sql("doc_id", seed)} AS hash60
FROM {table}
WHERE {sample_gate_sql("doc_id", seed, rate)}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style quality filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1 — the
# canonical web-corpus document filter)
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality_filter(
    docs: DataFrame,
    canonical=None,
    passthrough=(),
    min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
    min_words: int = GOPHER_MIN_WORDS,
) -> DataFrame:
    """Per-document Gopher rule evaluation: one boolean per rule, the final
    ``keep``, and a comma-joined ``reject_reasons`` string.

    Scale shape: map-only Catalyst — every signal is an expression over the
    text column (split/filter/length HOFs, no UDF, no shuffle besides the
    canonical sort); filters compose with sample_by_hash/dedup upstream.
    """
    text = F.col("text")
    trimmed = F.trim(text)
    words = F.split(F.lower(trimmed), WS + "+")
    n_words = F.when(F.length(trimmed) == 0, 0).otherwise(F.size(words))
    word_chars = F.length(F.regexp_replace(text, WS, ""))
    mean_word_len = F.round(word_chars / F.greatest(n_words, F.lit(1)), 6)
    alpha_words = F.when(F.length(trimmed) == 0, 0).otherwise(
        F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    )
    alpha_word_frac = F.round(alpha_words / F.greatest(n_words, F.lit(1)), 6)
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / F.lit(3)
        + F.length(text)
        - F.length(F.replace(text, F.lit("…")))
    ).cast("long")
    symbol_word_ratio = F.round(
        (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1)), 6
    )
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).startswith("-")
            | F.trim(x).startswith("*")
            | F.trim(x).startswith("•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda x: F.trim(x).endswith("...") | F.trim(x).endswith("…"),
        )
    )
    bullet_line_frac = F.round(bullet_lines / F.greatest(n_lines, F.lit(1)), 6)
    ellipsis_line_frac = F.round(ellipsis_lines / F.greatest(n_lines, F.lit(1)), 6)
    stop_hits = lang_score_expr(text, "en").cast("int")

    rules = [
        ("word_count", (n_words >= min_words) & (n_words <= GOPHER_MAX_WORDS)),
        (
            "mean_word_len",
            (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN),
        ),
        ("symbol_ratio", symbol_word_ratio <= GOPHER_MAX_SYMBOL_WORD_RATIO),
        ("bullet_lines", bullet_line_frac <= GOPHER_MAX_BULLET_LINE_FRAC),
        ("ellipsis_lines", ellipsis_line_frac <= GOPHER_MAX_ELLIPSIS_LINE_FRAC),
        ("alpha_words", alpha_word_frac >= GOPHER_MIN_ALPHA_WORD_FRAC),
        ("stopwords", stop_hits >= min_stopword_hits),
    ]
    keep = None
    for _, cond in rules:
        keep = cond if keep is None else (keep & cond)
    reject_reasons = F.concat_ws(
        ",", *[F.when(~cond, F.lit(tag)) for tag, cond in rules]
    )
    return docs.select(
        "doc_id",
        *passthrough,
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        stop_hits.alias("stopword_hits"),
        keep.alias("keep"),
        reject_reasons.alias("reject_reasons"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def gopher_quality_filter_sql(
    table: str = "documents",
    min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
    min_words: int = GOPHER_MIN_WORDS,
) -> str:
    """DuckDB oracle SQL for gopher_quality_filter (same signals, same
    thresholds, same reject-tag order; concat_ws skips NULLs identically)."""
    n_words = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE length(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) END"
    )
    word_chars = "length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))"
    mean_wl = f"round({word_chars} / greatest({n_words}, 1)::DOUBLE, 6)"
    alpha_words = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        "len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'), "
        "x -> regexp_matches(x, '[a-z]'))) END"
    )
    alpha_frac = f"round({alpha_words} / greatest({n_words}, 1)::DOUBLE, 6)"
    n_hash = "(length(text) - length(regexp_replace(text, '#', '', 'g')))"
    n_ell = (
        "CAST(((length(text) - length(replace(text, '...', ''))) / 3"
        " + length(text) - length(replace(text, '…', ''))) AS BIGINT)"
    )
    sym_ratio = f"round(({n_hash} + {n_ell}) / greatest({n_words}, 1)::DOUBLE, 6)"
    lines = "list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)"
    n_lines = f"len({lines})"
    bullets = (
        f"len(list_filter({lines}, x -> starts_with(trim(x), '-')"
        " OR starts_with(trim(x), '*') OR starts_with(trim(x), '•')))"
    )
    ells = (
        f"len(list_filter({lines}, x -> suffix(trim(x), '...')"
        " OR suffix(trim(x), '…')))"
    )
    bullet_frac = f"round({bullets} / greatest({n_lines}, 1)::DOUBLE, 6)"
    ell_frac = f"round({ells} / greatest({n_lines}, 1)::DOUBLE, 6)"
    stop_hits = f"CAST({lang_score_sql('text', 'en')} AS INT)"
    rules = [
        ("word_count", f"(nw >= {min_words} AND nw <= {GOPHER_MAX_WORDS})"),
        ("mean_word_len", f"(mwl >= {GOPHER_MIN_MEAN_WORD_LEN} AND mwl <= {GOPHER_MAX_MEAN_WORD_LEN})"),
        ("symbol_ratio", f"(swr <= {GOPHER_MAX_SYMBOL_WORD_RATIO})"),
        ("bullet_lines", f"(blf <= {GOPHER_MAX_BULLET_LINE_FRAC})"),
        ("ellipsis_lines", f"(elf <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC})"),
        ("alpha_words", f"(awf >= {GOPHER_MIN_ALPHA_WORD_FRAC})"),
        ("stopwords", f"(sh >= {min_stopword_hits})"),
    ]
    keep = " AND ".join(cond for _, cond in rules)
    reasons = ", ".join(
        f"CASE WHEN NOT {cond} THEN '{tag}' END" for tag, cond in rules
    )
    return f"""
WITH sig AS (
  SELECT doc_id,
         CAST({n_words} AS BIGINT) AS nw,
         {mean_wl} AS mwl,
         {alpha_frac} AS awf,
         {sym_ratio} AS swr,
         {bullet_frac} AS blf,
         {ell_frac} AS elf,
         {stop_hits} AS sh
  FROM {table}
)
SELECT doc_id, nw AS n_words, mwl AS mean_word_len, awf AS alpha_word_frac,
       swr AS symbol_word_ratio, blf AS bullet_line_frac,
       elf AS ellipsis_line_frac, sh AS stopword_hits,
       ({keep}) AS keep,
       concat_ws(',', {reasons}) AS reject_reasons
FROM sig
ORDER BY doc_id
"""


def text_clean(docs: DataFrame, canonical=None, passthrough=()) -> DataFrame:
    """Canonical text cleanup for a training corpus: strip C0/C1 control
    characters (newline/tab excepted), squash horizontal whitespace runs,
    collapse 3+ newlines to a paragraph break, trim.  Map-only Catalyst.
    """
    text = F.col("text")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
                "[ \\t]+",
                " ",
            ),
            "\\n{3,}",
            "\n\n",
        )
    )
    return docs.select(
        "doc_id",
        *passthrough,
        cleaned.alias("clean_text"),
        F.length(cleaned).cast("long").alias("n_chars_clean"),
        (F.length(text) - F.length(cleaned)).cast("long").alias("removed_chars"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def text_clean_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for text_clean (same regex classes, RE2-compatible)."""
    cleaned = (
        "trim(regexp_replace(regexp_replace(regexp_replace(text,"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),"
        " '[ \\t]+', ' ', 'g'),"
        " '\\n{3,}', chr(10) || chr(10), 'g'))"
    )
    return f"""
SELECT doc_id,
       {cleaned} AS clean_text,
       CAST(length({cleaned}) AS BIGINT) AS n_chars_clean,
       CAST(length(text) - length({cleaned}) AS BIGINT) AS removed_chars
FROM {table}
ORDER BY doc_id
"""


def corpus_prep_pipeline(
    docs: DataFrame,
    sample_rate: float = 0.5,
    seed: str = "s42",
    min_stopword_hits: int = 1,
) -> DataFrame:
    """The composed training-corpus prep chain as ONE Catalyst plan:
    deterministic hash sampling -> text cleanup -> Gopher quality filter ->
    exact-dup representative selection (keep the min doc_id per cleaned-text
    fingerprint).  Demonstrates that the pipeline operators compose without
    materialization barriers: the only shuffle is the final fingerprint
    aggregation; everything upstream stays map-side, and the sampling
    predicate pushes to the scan.

    Returns (doc_id, n_words, n_chars_clean, fingerprint) for the surviving
    documents — what a 100 TB job would write as its curated corpus manifest.

    min_stopword_hits defaults to 1 here (vs Gopher's 2): the synthetic test
    corpus is keyword salad, not natural prose, and the canonical threshold
    keeps zero of it — a vacuous driver check.  Real deployments pass 2.
    """
    sampled = docs.filter(sample_gate("doc_id", seed, sample_rate))
    # intermediate stages run canonical=False: composition keeps exactly one
    # deterministic sort, at the very end
    cleaned = text_clean(sampled, canonical=False)
    # the gopher keep is evaluated over the CLEANED text; clean_text and
    # n_chars_clean ride through as passthrough columns so the chain stays
    # ONE linear plan (a join back to `cleaned` would re-scan the input)
    # pushdown-pinned keep filter (canon.pushdown_pinned_filter): letting
    # the keep predicate push to the scan would inline the gopher stats +
    # clean chain once per conjunct reference (the fineweb_prep finding);
    # the sampling predicate above still pushes (it references raw columns
    # only — exactly the pushdown we WANT at the scan)
    from docling_core_spark.operators.canon import pushdown_pinned_filter

    quality = pushdown_pinned_filter(
        gopher_quality_filter(
            cleaned.select(
                "doc_id", F.col("clean_text").alias("text"), "n_chars_clean"
            ),
            canonical=False,
            passthrough=("text", "n_chars_clean"),
            min_stopword_hits=min_stopword_hits,
        ),
        F.col("keep"),
    )
    fingered = quality.withColumn("fingerprint", fingerprint(F.col("text")))
    # min-doc_id representative per fingerprint via min_by hash-agg — one
    # scan, one fingerprint shuffle, AND map-side partial aggregation, so a
    # mass-boilerplate fingerprint (hundreds of millions of rows at crawl
    # scale) combines locally instead of sorting its whole group in one task
    # (the row_number-window form it replaces did exactly that).  A
    # groupBy+self-join stays rejected: it recomputes the upstream subtree
    # per reference (4 scans).
    rep = F.min_by(F.struct("doc_id", "n_words", "n_chars_clean"), "doc_id")
    return (
        fingered.groupBy("fingerprint")
        .agg(rep.alias("rep"))
        .select(
            F.col("rep.doc_id").alias("doc_id"),
            F.col("rep.n_words").alias("n_words"),
            F.col("rep.n_chars_clean").alias("n_chars_clean"),
            "fingerprint",
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def corpus_prep_pipeline_sql(
    table: str = "documents",
    sample_rate: float = 0.5,
    seed: str = "s42",
    min_stopword_hits: int = 1,
) -> str:
    """DuckDB oracle for corpus_prep_pipeline — the same chain as CTEs."""
    clean_sql = text_clean_sql(table)
    gopher_sql = gopher_quality_filter_sql("cleaned_as_text", min_stopword_hits=min_stopword_hits)
    # strip the trailing ORDER BY of the fragments when nesting
    clean_body = clean_sql.strip().rsplit("ORDER BY", 1)[0]
    gopher_body = gopher_sql.strip().rsplit("ORDER BY", 1)[0]
    return f"""
WITH sampled AS (
  SELECT * FROM {table}
  WHERE {sample_gate_sql("doc_id", seed, sample_rate)}
),
cleaned AS ({clean_body.replace(f'FROM {table}', 'FROM sampled')}),
cleaned_as_text AS (
  SELECT doc_id, clean_text AS text, n_chars_clean FROM cleaned
),
quality AS ({gopher_body}),
survivors AS (
  SELECT q.doc_id, q.n_words, c.n_chars_clean,
         {fingerprint_sql("c.text")} AS fingerprint
  FROM quality q JOIN cleaned_as_text c USING (doc_id)
  WHERE q.keep
)
SELECT min(doc_id) AS doc_id,
       arg_min(n_words, doc_id) AS n_words,
       arg_min(n_chars_clean, doc_id) AS n_chars_clean,
       fingerprint
FROM survivors
GROUP BY fingerprint
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# C4-style line-level cleanup (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning" §2.2 — the line filters behind the C4 corpus)
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 3
C4_POLICY_MARKERS = ["javascript", "cookie", "privacy policy", "terms of use"]


def c4_line_filter(docs: DataFrame, canonical=None, passthrough=()) -> DataFrame:
    """C4 line rules, re-expressed as array HOFs over the line list:

    - keep only lines ending in terminal punctuation (. ! ? ")
    - drop lines under C4_MIN_LINE_WORDS words
    - drop lines mentioning javascript/cookie/policy boilerplate
    - drop the whole document if "lorem ipsum" or a curly brace appears

    Map-only Catalyst; returns the filtered text plus kept/dropped counts so
    a pipeline can threshold on retention.  (The original also dedups
    three-sentence spans corpus-wide — that global step lives in the
    MinHash/SimHash operators here.)
    """
    text = F.col("text")
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)

    def line_ok(x):
        t = F.trim(x)
        low = F.lower(t)
        ends_ok = (
            t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
        )
        long_enough = F.size(F.split(t, WS + "+")) >= C4_MIN_LINE_WORDS
        clean = None
        for marker in C4_POLICY_MARKERS:
            c = ~low.contains(marker)
            clean = c if clean is None else (clean & c)
        return ends_ok & long_enough & clean

    kept = F.filter(lines, line_ok)
    doc_ok = ~F.lower(text).contains("lorem ipsum") & ~text.contains("{")
    kept_text = F.when(doc_ok, F.array_join(kept, "\n")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        *passthrough,
        kept_text.alias("filtered_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(doc_ok, F.size(kept)).otherwise(0).cast("long").alias("n_kept_lines"),
        doc_ok.alias("doc_ok"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def c4_demo_docs(docs: DataFrame) -> DataFrame:
    """Deterministic line-structured variant of the documents table for
    exercising the C4 rules: the synthetic corpus is single-line word salad
    (zero lines end in punctuation), which would make the filter vacuous.
    ``' value '`` occurrences become sentence breaks, every 7th doc gains a
    javascript boilerplate line, every 13th a curly-brace tail — all
    expressible identically in Spark and DuckDB (replace/concat/CASE)."""
    base = F.replace(F.col("text"), F.lit(" value "), F.lit(".\n"))
    with_marker = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("enable javascript in your browser\n"), base),
    ).otherwise(base)
    with_brace = F.when(
        F.col("doc_id") % 13 == 0, F.concat(with_marker, F.lit(" { var x = 1; }"))
    ).otherwise(with_marker)
    return docs.select("doc_id", with_brace.alias("text"))


def c4_demo_docs_sql(table: str = "documents") -> str:
    """The c4_demo_docs transformation as a DuckDB CTE body."""
    return f"""
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN base || ' {{ var x = 1; }}' ELSE base END AS text
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN 'enable javascript in your browser' || chr(10) || b
                ELSE b END AS base
    FROM (SELECT doc_id, replace(text, ' value ', '.' || chr(10)) AS b FROM {table})
  )
"""


def c4_line_filter_sql(table: str = "documents") -> str:
    """DuckDB oracle SQL for c4_line_filter (same rules, same join)."""
    lines = "list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)"
    markers = " AND ".join(
        f"NOT contains(lower(trim(x)), '{m}')" for m in C4_POLICY_MARKERS
    )
    line_ok = (
        "(suffix(trim(x), '.') OR suffix(trim(x), '!') OR suffix(trim(x), '?')"
        " OR suffix(trim(x), '\"'))"
        f" AND len(regexp_split_to_array(trim(x), '[ \\t\\n\\x0B\\f\\r]+')) >= {C4_MIN_LINE_WORDS}"
        f" AND {markers}"
    )
    kept = f"list_filter({lines}, x -> {line_ok})"
    doc_ok = "(NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{'))"
    return f"""
SELECT doc_id,
       CASE WHEN {doc_ok} THEN coalesce(array_to_string({kept}, chr(10)), '') ELSE '' END AS filtered_text,
       CAST(len({lines}) AS BIGINT) AS n_lines,
       CAST(CASE WHEN {doc_ok} THEN len({kept}) ELSE 0 END AS BIGINT) AS n_kept_lines,
       {doc_ok} AS doc_ok
FROM {table}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting — Schleimer,
# Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
# Fingerprinting"; the MOSS scheme)
# ---------------------------------------------------------------------------

WINNOW_K = 8  # char k-gram size
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars shares a print)


def winnowing_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowed rolling-hash fingerprints per document:
    (doc_id, n_kgrams, n_selected, fp_digest).

    Char k-grams of the normalized text are hashed (60-bit md5 prefix,
    cross-engine reproducible); each window of w consecutive hashes selects
    its MINIMUM (leftmost on ties — our documented variant of the paper's
    rightmost rule; both carry the winnowing guarantee), and the distinct
    selected hashes form the fingerprint set.  fp_digest collapses the set
    to one value for exact-set comparison at the driver boundary; a dedup
    pipeline explodes the set instead and bucket-joins like MinHash.

    Scale shape: map-only — normalization is materialized once (no-CSE
    rule), the k-gram/window construction is per-row array work bounded by
    document length, and no shuffle exists beyond the canonical sort.
    Window minima use transform+slice+array_min: at char scale the per-
    element slice is ~w longs, so the log-doubling construction that
    shingle_grams needs for word n-grams is not worth its plan complexity
    here.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]", "")
    base = docs.select("doc_id", norm.alias("t"))
    n_grams = F.greatest(F.length("t") - (k - 1), F.lit(0))
    hashes = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: hash60(F.substr(F.col("t"), i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    hashed = base.select("doc_id", F.length("t").alias("n_chars"), hashes.alias("h"))
    n_wins = F.greatest(F.size("h") - (w - 1), F.lit(0))
    selected = F.when(
        n_wins > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_wins),
                lambda i: F.array_min(F.slice(F.col("h"), i, w)),
            )
        ),
    ).otherwise(F.array_distinct(F.col("h")))  # short docs: every hash prints
    out = hashed.select(
        "doc_id",
        F.size("h").cast("long").alias("n_kgrams"),
        selected.alias("sel"),
    )
    digest = F.md5(
        F.array_join(
            F.transform(F.array_sort(F.col("sel")), lambda x: x.cast("string")), "|"
        )
    )
    return out.select(
        "doc_id",
        "n_kgrams",
        F.size("sel").cast("long").alias("n_selected"),
        digest.alias("fp_digest"),
    ).transform(lambda d: canonical_order(d, "doc_id"))


def winnowing_fingerprints_sql(
    table: str = "documents", k: int = WINNOW_K, w: int = WINNOW_W
) -> str:
    """DuckDB oracle for winnowing_fingerprints (same hash, window rule)."""
    return f"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
  FROM {table}
),
hashed AS (
  SELECT doc_id, length(t) AS n_chars,
         CASE WHEN length(t) >= {k}
              THEN [{hash60_sql(f"substr(t, CAST(i AS INT), {k})")}
                    for i in range(1, length(t) - {k} + 2)]
              ELSE [] END AS h
  FROM base
),
sel AS (
  SELECT doc_id, len(h) AS n_kgrams,
         CASE WHEN len(h) >= {w}
              THEN list_distinct([list_min(h[CAST(i AS INT):CAST(i AS INT) + {w} - 1])
                                  for i in range(1, len(h) - {w} + 2)])
              ELSE list_distinct(h) END AS s
  FROM hashed
)
SELECT doc_id,
       CAST(n_kgrams AS BIGINT) AS n_kgrams,
       CAST(len(s) AS BIGINT) AS n_selected,
       md5(array_to_string(list_transform(list_sort(s), x -> CAST(x AS VARCHAR)), '|')) AS fp_digest
FROM sel
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Recrawl resolution (crawl staple: a Common-Crawl-style table carries many
# fetches of the same page over time; training corpora keep the newest)
# ---------------------------------------------------------------------------


def recrawl_demo_docs(docs: DataFrame, pages_mod: int = 100) -> DataFrame:
    """Deterministic multi-crawl demo: doc_id % pages_mod picks the page, so
    every url is fetched ~n_docs/pages_mod times; the crawl epoch grows with
    doc_id.  Both engines express the same concat/arithmetic.  Real
    deployments pass (url, warc_ts-as-epoch, doc_id) from the crawl table."""
    url = F.concat(
        F.lit("https://example.com/page/"), (F.col("doc_id") % pages_mod).cast("string")
    )
    epoch = (F.lit(1_700_000_000) + F.col("doc_id") * 3600).cast("long")
    return docs.select("doc_id", url.alias("url"), epoch.alias("crawl_epoch"))


def latest_crawl(crawls: DataFrame) -> DataFrame:
    """Newest fetch per url: (url, doc_id, crawl_epoch, n_crawls).

    One hash aggregation keyed on url with a max-struct representative
    (lexicographic (crawl_epoch, doc_id): newest wins, max doc_id breaks
    exact-timestamp ties deterministically) — MAP-SIDE PARTIAL aggregation,
    so a hot url (a page recrawled millions of times) combines locally
    instead of window-sorting one task, the same skew posture as
    corpus_prep_pipeline's representative selection.
    """
    rep = F.max(F.struct("crawl_epoch", "doc_id"))
    return (
        crawls.groupBy("url")
        .agg(rep.alias("rep"), F.count("*").cast("long").alias("n_crawls"))
        .select(
            "url",
            F.col("rep.doc_id").alias("doc_id"),
            F.col("rep.crawl_epoch").alias("crawl_epoch"),
            "n_crawls",
        )
        .transform(lambda d: canonical_order(d, "url"))
    )


def latest_crawl_sql(table: str = "documents", pages_mod: int = 100) -> str:
    """DuckDB oracle for latest_crawl(recrawl_demo_docs(docs))."""
    return f"""
WITH crawls AS (
  SELECT doc_id,
         'https://example.com/page/' || (doc_id % {pages_mod}) AS url,
         CAST(1700000000 + doc_id * 3600 AS BIGINT) AS crawl_epoch
  FROM {table}
),
agg AS (
  SELECT url,
         max(struct_pack(crawl_epoch := crawl_epoch, doc_id := doc_id)) AS rep,
         CAST(count(*) AS BIGINT) AS n_crawls
  FROM crawls GROUP BY url
)
SELECT url, (rep).doc_id AS doc_id, (rep).crawl_epoch AS crawl_epoch, n_crawls
FROM agg
ORDER BY url
"""


def curation_report(docs: DataFrame, min_stopword_hits: int = 1) -> DataFrame:
    """One-row corpus curation report — the run-level metrics side table a
    100 TB job emits next to its output: document count, token mass,
    Gopher keep rate, C4 document-rule pass rate, PII incidence, and the
    language mix.

    Scale shape: ONE scan — every signal is a map-side expression chained
    after the Gopher filter (text rides through as a passthrough column),
    rolled up by a single global aggregate with map-side partials.  All
    aggregated quantities are integer sums, so the report is
    bit-deterministic under any partitioning.
    """
    from docling_core_spark.operators.pii import EMAIL_RE, IP_RE, PHONE_RE

    quality = gopher_quality_filter(
        docs, canonical=False, passthrough=("text",), min_stopword_hits=min_stopword_hits
    )
    text = F.col("text")
    any_pii = (
        (F.regexp_count(text, F.lit(EMAIL_RE)) > 0)
        | (F.regexp_count(text, F.lit(IP_RE)) > 0)
        | (F.regexp_count(text, F.lit(PHONE_RE)) > 0)
    )
    c4_doc_ok = ~F.lower(text).contains("lorem ipsum") & ~text.contains("{")
    langs = list(LANG_STOPWORDS)
    guess = F.lit("und")
    best = F.lit(0)
    for lang in langs:
        score = lang_score_expr(text, lang)
        cond = score > best
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        best = F.when(cond, score).otherwise(best)
    sig = quality.select(
        "n_words",
        F.col("keep").cast("int").alias("keep_i"),
        any_pii.cast("int").alias("pii_i"),
        c4_doc_ok.cast("int").alias("c4_i"),
        guess.alias("lang_guess"),
    )
    aggs = [
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("keep_i").cast("long").alias("n_keep"),
        F.sum("pii_i").cast("long").alias("n_pii_docs"),
        F.sum("c4_i").cast("long").alias("n_c4_ok"),
    ] + [
        F.sum(F.when(F.col("lang_guess") == lang, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{lang}")
        for lang in langs + ["und"]
    ]
    agg = sig.agg(*aggs)
    nd = F.greatest(F.col("n_docs"), F.lit(1))
    return agg.select(
        "n_docs",
        "total_words",
        F.round(F.col("n_keep") / nd, 6).alias("gopher_keep_frac"),
        F.round(F.col("n_pii_docs") / nd, 6).alias("pii_doc_frac"),
        F.round(F.col("n_c4_ok") / nd, 6).alias("c4_doc_ok_frac"),
        *[F.round(F.col(f"n_{lang}") / nd, 6).alias(f"{lang}_frac") for lang in langs + ["und"]],
    )


def curation_report_sql(table: str = "documents", min_stopword_hits: int = 1) -> str:
    """DuckDB oracle for curation_report (same signals, same rollup)."""
    from docling_core_spark.operators.pii import _sql_quote, EMAIL_RE, IP_RE, PHONE_RE

    gopher_sql = gopher_quality_filter_sql(table, min_stopword_hits=min_stopword_hits)
    gopher_body = gopher_sql.strip().rsplit("ORDER BY", 1)[0]
    email, ip, phone = _sql_quote(EMAIL_RE), _sql_quote(IP_RE), _sql_quote(PHONE_RE)
    any_pii = (
        f"(len(regexp_extract_all(text, '{email}')) > 0"
        f" OR len(regexp_extract_all(text, '{ip}')) > 0"
        f" OR len(regexp_extract_all(text, '{phone}')) > 0)"
    )
    c4_ok = "(NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{'))"
    langs = list(LANG_STOPWORDS)
    guess = "'und'"
    best = "0"
    for lang in langs:
        s = lang_score_sql("text", lang)
        guess = f"(CASE WHEN {s} > {best} THEN '{lang}' ELSE {guess} END)"
        best = f"(CASE WHEN {s} > {best} THEN {s} ELSE {best} END)"
    lang_sums = ", ".join(
        f"CAST(sum(CASE WHEN lang_guess = '{lang}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{lang}"
        for lang in langs + ["und"]
    )
    lang_fracs = ", ".join(
        f"round(n_{lang} / greatest(n_docs, 1)::DOUBLE, 6) AS {lang}_frac"
        for lang in langs + ["und"]
    )
    return f"""
WITH quality AS ({gopher_body}),
sig AS (
  SELECT q.n_words,
         CASE WHEN q.keep THEN 1 ELSE 0 END AS keep_i,
         CASE WHEN {any_pii} THEN 1 ELSE 0 END AS pii_i,
         CASE WHEN {c4_ok} THEN 1 ELSE 0 END AS c4_i,
         {guess} AS lang_guess
  FROM quality q JOIN {table} t USING (doc_id)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         CAST(sum(keep_i) AS BIGINT) AS n_keep,
         CAST(sum(pii_i) AS BIGINT) AS n_pii_docs,
         CAST(sum(c4_i) AS BIGINT) AS n_c4_ok,
         {lang_sums}
  FROM sig
)
SELECT n_docs, total_words,
       round(n_keep / greatest(n_docs, 1)::DOUBLE, 6) AS gopher_keep_frac,
       round(n_pii_docs / greatest(n_docs, 1)::DOUBLE, 6) AS pii_doc_frac,
       round(n_c4_ok / greatest(n_docs, 1)::DOUBLE, 6) AS c4_doc_ok_frac,
       {lang_fracs}
FROM agg
"""


# ---------------------------------------------------------------------------
# Weighted corpus mixing (training-data staple: hit a token budget with a
# target source distribution — the Pile/Dolma-style mixture step)
# ---------------------------------------------------------------------------

MIX_WEIGHTS = {"en": 0.5, "fr": 0.15, "de": 0.15, "es": 0.1, "zh": 0.1}


def mix_corpora(
    docs: DataFrame,
    weights: dict | None = None,
    token_budget: int = 10_000,
    seed: str = "mix42",
) -> DataFrame:
    """Deterministic weighted mixing: sample each source (the ``lang``
    column here; any source key works) at the rate that fills its share of
    a global token budget: rate_s = min(1, budget * w_s / tokens_s).

    Scale shape: one tiny groupBy(source) aggregate for token totals,
    broadcast-joined back; selection is the usual 60-bit md5 threshold —
    map-side, reproducible on any cluster size, composable with re-runs
    and other hash-keyed samplers.  NO driver-side rate computation: the
    rates live in the plan, so the operator works unmodified when the
    source list is not known up front.
    Returns (doc_id, lang, ws_tokens, rate) for the selected documents.
    """
    weights = weights if weights is not None else MIX_WEIGHTS
    text = F.col("text")
    ws_tokens = (
        F.when(F.length(F.trim(text)) == 0, 0)
        .otherwise(F.size(F.split(F.trim(text), WS + "+")))
        .cast("long")
    )
    with_tok = docs.select("doc_id", "lang", ws_tokens.alias("ws_tokens"))
    totals = with_tok.groupBy("lang").agg(F.sum("ws_tokens").alias("tot"))
    weight = F.lit(0.0)
    for k, w in sorted(weights.items()):
        weight = F.when(F.col("lang") == k, F.lit(float(w))).otherwise(weight)
    rates = totals.select(
        "lang",
        # a zero-token source must sample at 0.0, not slip through as
        # least(1.0, NULL) = 1.0 (least skips NULLs in both engines)
        F.when(
            F.col("tot") > 0,
            F.least(F.lit(1.0), F.lit(float(token_budget)) * weight / F.col("tot")),
        )
        .otherwise(F.lit(0.0))
        .alias("rate"),
    )
    bucket = seeded_hash60("doc_id", seed)
    return (
        with_tok.join(F.broadcast(rates), "lang")
        .filter(bucket.cast("double") < F.col("rate") * F.lit(float(HASH60_MAX)))
        .select("doc_id", "lang", "ws_tokens", F.round("rate", 9).alias("rate"))
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def mix_corpora_sql(
    table: str = "documents",
    weights: dict | None = None,
    token_budget: int = 10_000,
    seed: str = "mix42",
) -> str:
    """DuckDB oracle for mix_corpora (same totals, rates, and hash gate)."""
    weights = weights if weights is not None else MIX_WEIGHTS
    wcase = "CASE " + " ".join(
        f"WHEN lang = '{k}' THEN {float(w)}" for k, w in sorted(weights.items())
    ) + " ELSE 0.0 END"
    ws = r"[ \t\n\x0B\f\r]"
    n_tok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        f"ELSE length(regexp_split_to_array(trim(text), '{ws}+')) END AS BIGINT)"
    )
    return f"""
WITH with_tok AS (
  SELECT doc_id, lang, {n_tok} AS ws_tokens FROM {table}
),
totals AS (
  SELECT lang, sum(ws_tokens) AS tot FROM with_tok GROUP BY lang
),
rates AS (
  SELECT lang,
         CASE WHEN tot > 0
              THEN least(1.0, {float(token_budget)} * ({wcase}) / tot)
              ELSE 0.0 END AS rate
  FROM totals
)
SELECT w.doc_id, w.lang, w.ws_tokens, round(r.rate, 9) AS rate
FROM with_tok w JOIN rates r USING (lang)
WHERE ({seeded_hash60_sql("w.doc_id", seed)})::DOUBLE
      < r.rate * {float(HASH60_MAX)}
ORDER BY w.doc_id
"""


def c4_span_dedup(docs: DataFrame, span_lines: int = 3) -> DataFrame:
    """Corpus-WIDE duplicate-span removal — the global step of C4 (Raffel
    et al. 2020 §2.2: "we discarded all but one of any three-sentence span
    occurring more than once"), over line-structured text with
    non-overlapping ``span_lines``-line windows as the span unit.

    Returns (doc_id, kept_text, n_spans, n_removed_spans): a span survives
    only in its first occurrence (lexicographically smallest
    (doc_id, win_idx)); every other occurrence corpus-wide is dropped and
    the document text is rebuilt from its surviving spans in order.

    Scale shape: explode windows (map-side; the line array is materialized
    into an attribute first — no-CSE rule), ONE fingerprint aggregation
    with map-side partials (a mass-boilerplate span combines locally, the
    same skew posture as corpus_prep), a keyed fp join (AQE handles skew),
    and a doc_id rollup.  No window functions, no driver loops.
    """
    text = F.col("text")
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(F.trim(x)) > 0)
    base = docs.select("doc_id", lines.alias("ls"))
    n_wins = F.ceil(F.size("ls") / F.lit(span_lines)).cast("int")
    spans = F.when(
        F.size("ls") > 0,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda i: F.array_join(F.slice(F.col("ls"), i * span_lines + 1, span_lines), "\n"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = base.select("doc_id", F.posexplode(spans).alias("win_idx", "span")).withColumn(
        "fp", F.md5("span")
    )
    keepers = wins.groupBy("fp").agg(
        F.min(F.struct("doc_id", "win_idx")).alias("keep")
    )
    survivors = (
        wins.join(keepers, "fp")
        .filter(
            (F.col("doc_id") == F.col("keep.doc_id"))
            & (F.col("win_idx") == F.col("keep.win_idx"))
        )
        .select("doc_id", "win_idx", "span")
    )
    rebuilt = survivors.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("win_idx", "span"))),
                lambda s: s["span"],
            ),
            "\n",
        ).alias("kept_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = wins.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_spans"))
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            (F.coalesce("n_spans", F.lit(0)) - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed_spans"
            ),
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def c4_span_dedup_sql(table: str = "documents", span_lines: int = 3) -> str:
    """DuckDB oracle for c4_span_dedup (row_number keeper selection — a
    window is fine at oracle scale; the Spark side uses the min_by agg)."""
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS ls
  FROM {table}
),
wins AS (
  SELECT doc_id, CAST(r.i AS INT) AS win_idx,
         array_to_string(list_slice(ls, r.i * {span_lines} + 1, r.i * {span_lines} + {span_lines}), chr(10)) AS span
  FROM base, unnest(range(CAST(ceil(len(ls) / {span_lines}.0) AS BIGINT))) AS r(i)
  WHERE len(ls) > 0
),
fp AS (SELECT doc_id, win_idx, span, md5(span) AS f FROM wins),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id, win_idx) AS rn
  FROM fp
),
survivors AS (SELECT doc_id, win_idx, span FROM ranked WHERE rn = 1),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list_transform(
           list_sort(list(struct_pack(win_idx := win_idx, span := span))),
           s -> s.span), chr(10)) AS kept_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM survivors GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM fp GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(kept_text, '') AS kept_text,
       coalesce(n_spans, 0) AS n_spans,
       coalesce(n_spans, 0) - coalesce(n_kept, 0) AS n_removed_spans
FROM {table} d
LEFT JOIN totals USING (doc_id)
LEFT JOIN rebuilt USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Host-level quality aggregation (crawl-curation staple: domain keep-rates
# drive blocklists — a host whose documents mostly fail quality is dropped
# wholesale before per-document processing spends anything on it)
# ---------------------------------------------------------------------------

HOST_BLOCK_THRESHOLD = 0.2


def host_demo_docs(docs: DataFrame, modulus: int = 17) -> DataFrame:
    """Deterministic (host, doc_id, text) demo input: doc_id % modulus picks
    the host (both engines express the same concat).  Real deployments pass
    the crawl table's own host column (url_normalize_expr's host part)."""
    host = F.concat(
        F.lit("site"), (F.col("doc_id") % modulus).cast("string"), F.lit(".example.com")
    )
    return docs.select("doc_id", host.alias("host"), "text")


def host_quality_stats(
    docs_with_host: DataFrame,
    min_stopword_hits: int = 1,
    block_threshold: float = HOST_BLOCK_THRESHOLD,
) -> DataFrame:
    """Per-host curation rollup: (host, n_docs, n_keep, keep_frac,
    total_words, avg_words, blocked).

    Scale shape: ONE linear plan — the Gopher signals evaluate map-side per
    document, the host column rides along, and the only shuffle is the
    host aggregation (count/sum partials combine map-side, so a mega-host
    never concentrates rows in one task).  All aggregated quantities are
    integer sums, so the rollup is bit-deterministic under any partitioning
    — the floating-point columns derive from exact integers post-agg.
    ``blocked`` marks hosts whose keep-rate falls under ``block_threshold``.
    """
    quality = gopher_quality_filter(
        docs_with_host,
        canonical=False,
        passthrough=("host",),
        min_stopword_hits=min_stopword_hits,
    )
    agg = quality.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        F.sum("n_words").cast("long").alias("total_words"),
    )
    keep_frac = F.round(F.col("n_keep") / F.greatest(F.col("n_docs"), F.lit(1)), 6)
    return agg.select(
        "host",
        "n_docs",
        "n_keep",
        keep_frac.alias("keep_frac"),
        "total_words",
        F.round(F.col("total_words") / F.greatest(F.col("n_docs"), F.lit(1)), 6).alias(
            "avg_words"
        ),
        (keep_frac < block_threshold).alias("blocked"),
    ).transform(lambda d: canonical_order(d, "host"))


def host_quality_stats_sql(
    table: str = "documents",
    modulus: int = 17,
    min_stopword_hits: int = 1,
    block_threshold: float = HOST_BLOCK_THRESHOLD,
) -> str:
    """DuckDB oracle for host_quality_stats(host_demo_docs(docs))."""
    gopher_sql = gopher_quality_filter_sql("hosted", min_stopword_hits=min_stopword_hits)
    gopher_body = gopher_sql.strip().rsplit("ORDER BY", 1)[0]
    # ride the host through the gopher CTE by re-joining on doc_id (exact,
    # since doc_id is the key); the Spark side carries it as a passthrough
    return f"""
WITH hosted AS (
  SELECT doc_id, 'site' || (doc_id % {modulus}) || '.example.com' AS host, text
  FROM {table}
),
quality AS ({gopher_body}),
agg AS (
  SELECT h.host,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(sum(q.n_words) AS BIGINT) AS total_words
  FROM quality q JOIN hosted h USING (doc_id)
  GROUP BY h.host
)
SELECT host, n_docs, n_keep,
       round(n_keep / greatest(n_docs, 1)::DOUBLE, 6) AS keep_frac,
       total_words,
       round(total_words / greatest(n_docs, 1)::DOUBLE, 6) AS avg_words,
       (round(n_keep / greatest(n_docs, 1)::DOUBLE, 6) < {block_threshold}) AS blocked
FROM agg
ORDER BY host
"""


# ---------------------------------------------------------------------------
# URL normalization (crawl-curation staple: canonical form for URL-level
# dedup and host statistics)
# ---------------------------------------------------------------------------

_TRACKING_PARAM_RE = "^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="


def url_normalize_expr(url):
    """Canonical URL form as a pure Catalyst expression:

    - scheme + host lowercased; default ports (:80 http, :443 https) dropped
    - fragment dropped
    - tracking query params (utm_*, fbclid, gclid, msclkid, ref) dropped,
      remaining params kept in original order; '?' dropped if none survive
    - trailing '/' dropped from non-root paths
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(
        F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""), r"#.*$", ""
    )
    host_lower = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(host_lower, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host_lower, r":443$", ""))
        .otherwise(host_lower)
    )
    path_and_query = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_extract(path_and_query, r"^([^?]*)", 1)
    path = F.when(F.length(path) > 1, F.regexp_replace(path, r"/$", "")).otherwise(path)
    query = F.regexp_extract(path_and_query, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qjoined = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(qjoined) > 0, F.concat(F.lit("?"), qjoined)).otherwise(
            F.lit("")
        ),
    )
    # scheme-less input (no "://") passes through unchanged rather than
    # gaining a malformed "://host" prefix; the demo/oracle path only ever
    # sees schemed URLs, so the SQL oracle needs no matching branch
    return F.when(scheme != "", rebuilt).otherwise(url)


def url_demo_expr(doc_id):
    """Deterministic messy URL derived from doc_id (both engines express the
    same concat/CASE): mixed-case scheme+host, default and explicit ports,
    trailing slashes, tracking + real query params, fragments."""
    sid = doc_id.cast("string")
    base = F.when(
        doc_id % 5 == 0,
        F.concat(F.lit("http://MIRROR.Example.ORG:80/m/"), sid),
    ).otherwise(F.concat(F.lit("HTTPS://Example.COM:443/docs/"), sid))
    with_slash = F.when(doc_id % 3 == 0, F.concat(base, F.lit("/"))).otherwise(base)
    q = F.concat(
        F.lit("?utm_source=feed&id="),
        sid,
        F.when(doc_id % 2 == 0, F.lit("&fbclid=track")).otherwise(F.lit("&page=2")),
    )
    return F.concat(with_slash, q, F.lit("#sec"), sid)


def url_normalized(docs: DataFrame, canonical=None) -> DataFrame:
    """URL canonicalization over the demo URLs: (doc_id, url, norm_url, host).
    Map-only Catalyst; at crawl scale norm_url is the URL-dedup key and host
    feeds per-domain stats/blocklists."""
    url = url_demo_expr(F.col("doc_id"))
    norm = url_normalize_expr(url)
    return docs.select(
        "doc_id",
        url.alias("url"),
        norm.alias("norm_url"),
        F.regexp_extract(norm, r"^[a-z0-9+.-]+://([^/?]+)", 1).alias("host"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def url_normalized_sql(table: str = "documents") -> str:
    """DuckDB oracle for url_normalized (same demo synthesis, same rules)."""
    url = (
        "(CASE WHEN doc_id % 5 = 0 THEN 'http://MIRROR.Example.ORG:80/m/' || doc_id"
        " ELSE 'HTTPS://Example.COM:443/docs/' || doc_id END"
        " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
        " || '?utm_source=feed&id=' || doc_id"
        " || CASE WHEN doc_id % 2 = 0 THEN '&fbclid=track' ELSE '&page=2' END"
        " || '#sec' || doc_id)"
    )
    return f"""
WITH u AS (SELECT doc_id, {url} AS url FROM {table}),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
  FROM u
),
hp AS (
  SELECT *, lower(regexp_extract(rest, '^([^/?]+)', 1)) AS host_lower,
         regexp_replace(rest, '^[^/?]+', '') AS pq
  FROM parts
),
np AS (
  SELECT doc_id, url, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(host_lower, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(host_lower, ':443$', '')
              ELSE host_lower END AS host,
         CASE WHEN length(regexp_extract(pq, '^([^?]*)', 1)) > 1
              THEN regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/$', '')
              ELSE regexp_extract(pq, '^([^?]*)', 1) END AS path,
         coalesce(array_to_string(list_filter(string_split(regexp_extract(pq, '\\?(.*)$', 1), '&'),
             x -> length(x) > 0 AND NOT regexp_matches(x, '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)=')), '&'), '') AS qj
  FROM hp
)
SELECT doc_id, url,
       scheme || '://' || host || path ||
         CASE WHEN length(qj) > 0 THEN '?' || qj ELSE '' END AS norm_url,
       host
FROM np
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# URL filtering (RefinedWeb, Penedo 2023 §G.1: the FIRST curation stage —
# cheapest filter first, before any content is parsed.  Blocklist domains +
# soft bad-word URL scoring + structural heuristics.)
# ---------------------------------------------------------------------------

# registrable-domain blocklist (UT1-style; real deployments broadcast the
# multi-million-entry UT1 list — same plan shape, an IN literal here)
URL_BLOCKLIST = ("tracker-net.example", "spamfarm.example")
# soft-score word list (RefinedWeb weights matches in the host double)
URL_BADWORDS = ("casino", "poker", "viagra", "xxx", "free-download")
URL_MAX_BADWORD_SCORE = 2
URL_MAX_DIGIT_FRAC = 0.4
URL_MAX_HOST_LEN = 40
URL_MAX_PATH_DEPTH = 12

_BADWORD_RE = "(" + "|".join(URL_BADWORDS) + ")"


def url_filter_demo_expr(doc_id):
    """Deterministic URL mix exercising every rule (same CASE chain in the
    DuckDB oracle): blocklisted ad domains, bad-word paths, digit-stuffed
    hosts, over-deep paths, and clean article URLs."""
    sid = doc_id.cast("string")
    return (
        F.when(
            doc_id % 11 == 0,
            F.concat(F.lit("http://ads.tracker-net.example/banner/"), sid),
        )
        .when(
            doc_id % 7 == 3,
            F.concat(
                F.lit("https://files.example.com/free-casino-poker/"),
                sid,
                F.lit("/download"),
            ),
        )
        .when(
            doc_id % 5 == 2,
            F.concat(
                F.lit("http://x"), sid, F.lit("9876543210.example.net/p/"), sid
            ),
        )
        .when(
            doc_id % 13 == 4,
            F.concat(
                F.lit("https://deep.example.org"),
                F.lit("/a/b/c/d/e/f/g/h/i/j/k/l/m/n/"),
                sid,
            ),
        )
        .when(
            doc_id % 17 == 6,
            F.concat(
                F.lit(
                    "https://very-long-keyword-stuffed-subdomain-chain.example.net/q/"
                ),
                sid,
            ),
        )
        .otherwise(F.concat(F.lit("https://www.example.com/articles/"), sid))
    )


def url_filter(docs_with_url: DataFrame, canonical=None, passthrough=()) -> DataFrame:
    """(doc_id, url, host, reg_domain, blocked_domain, badword_score,
    digit_frac, host_len, path_depth, keep, reject_reasons): RefinedWeb-style
    URL filtering — runs before any content parse, so at crawl scale it
    prunes fetches the rest of the pipeline never pays for.

    Scale shape: map-only Catalyst (regex + arithmetic per row, no joins,
    no shuffle — the blocklist is an IN literal here and a broadcast
    left-join flag for the multi-million-entry UT1 list, either way
    map-side).  The registrable domain is the last two dot-labels (the
    public-suffix-list refinement changes the extraction expression only).
    """
    url = F.col("url")
    low = F.lower(url)
    # authority stops at /, ? or # (a fragment-only URL must not leak '#f'
    # into the host); userinfo strips at the LAST '@' and the port at the
    # trailing ':digits' — otherwise 'http://u:p@spamfarm.example/' parses
    # host='u' and a blocklisted domain walks straight through
    auth = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    host = F.lower(
        F.regexp_replace(F.regexp_replace(auth, r"^.*@", ""), r":[0-9]*$", "")
    )
    reg_domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    path = F.regexp_extract(
        F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""),
        r"^([^?#]*)",
        1,
    )
    blocked = reg_domain.isin(*URL_BLOCKLIST)
    host_hits = F.regexp_count(host, F.lit(_BADWORD_RE))
    rest_hits = F.regexp_count(low, F.lit(_BADWORD_RE)) - host_hits
    badword_score = (host_hits * 2 + rest_hits).cast("int")
    host_len = F.length(host)
    digit_frac = (
        (host_len - F.length(F.regexp_replace(host, r"[0-9]", ""))).cast("double")
        / F.greatest(host_len, F.lit(1)).cast("double")
    )
    path_depth = (
        F.length(path) - F.length(F.regexp_replace(path, r"/", ""))
    ).cast("int")

    rules = [
        ("blocklist", ~blocked),
        ("badwords", badword_score < URL_MAX_BADWORD_SCORE),
        ("digit_host", digit_frac <= URL_MAX_DIGIT_FRAC),
        ("host_len", host_len <= URL_MAX_HOST_LEN),
        ("path_depth", path_depth <= URL_MAX_PATH_DEPTH),
    ]
    keep = None
    for _, cond in rules:
        keep = cond if keep is None else (keep & cond)
    reject_reasons = F.concat_ws(
        ",", *[F.when(~cond, F.lit(tag)) for tag, cond in rules]
    )
    return docs_with_url.select(
        "doc_id",
        *passthrough,
        url.alias("url"),
        host.alias("host"),
        reg_domain.alias("reg_domain"),
        blocked.alias("blocked_domain"),
        badword_score.alias("badword_score"),
        F.round(digit_frac, 6).alias("digit_frac"),
        host_len.cast("int").alias("host_len"),
        path_depth.alias("path_depth"),
        keep.alias("keep"),
        reject_reasons.alias("reject_reasons"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def url_filter_demo_sql(table: str = "documents") -> str:
    """url_filter_demo_expr as a DuckDB CTE body."""
    return f"""
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'http://ads.tracker-net.example/banner/' || doc_id
              WHEN doc_id % 7 = 3 THEN 'https://files.example.com/free-casino-poker/' || doc_id || '/download'
              WHEN doc_id % 5 = 2 THEN 'http://x' || doc_id || '9876543210.example.net/p/' || doc_id
              WHEN doc_id % 13 = 4 THEN 'https://deep.example.org/a/b/c/d/e/f/g/h/i/j/k/l/m/n/' || doc_id
              WHEN doc_id % 17 = 6 THEN 'https://very-long-keyword-stuffed-subdomain-chain.example.net/q/' || doc_id
              ELSE 'https://www.example.com/articles/' || doc_id END AS url
  FROM {table}
"""


def url_filter_rules_sql(url_table: str) -> str:
    """The url_filter rule chain over any (doc_id, url) relation — same
    regexes, same thresholds as the Spark expressions."""
    bl = ", ".join(f"'{d}'" for d in URL_BLOCKLIST)
    bw = _BADWORD_RE
    return f"""
WITH parts AS (
  SELECT doc_id, url, lower(url) AS low,
         lower(regexp_replace(regexp_replace(
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
           '^.*@', ''), ':[0-9]*$', '')) AS host,
         regexp_extract(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1) AS path
  FROM {url_table}
),
sig AS (
  SELECT doc_id, url, host,
         regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS reg_domain,
         regexp_extract(host, '([^.]+\\.[^.]+)$', 1) IN ({bl}) AS blocked_domain,
         CAST(len(regexp_extract_all(host, '{bw}')) * 2
              + len(regexp_extract_all(low, '{bw}'))
              - len(regexp_extract_all(host, '{bw}')) AS INT) AS badword_score,
         CAST(length(host) - length(regexp_replace(host, '[0-9]', '', 'g')) AS DOUBLE)
           / CAST(greatest(length(host), 1) AS DOUBLE) AS digit_frac_raw,
         CAST(length(host) AS INT) AS host_len,
         CAST(length(path) - length(regexp_replace(path, '/', '', 'g')) AS INT) AS path_depth
  FROM parts
)
SELECT doc_id, url, host, reg_domain, blocked_domain, badword_score,
       round(digit_frac_raw, 6) AS digit_frac, host_len, path_depth,
       (NOT blocked_domain AND badword_score < {URL_MAX_BADWORD_SCORE}
        AND digit_frac_raw <= {URL_MAX_DIGIT_FRAC} AND host_len <= {URL_MAX_HOST_LEN}
        AND path_depth <= {URL_MAX_PATH_DEPTH}) AS keep,
       concat_ws(',',
         CASE WHEN blocked_domain THEN 'blocklist' END,
         CASE WHEN badword_score >= {URL_MAX_BADWORD_SCORE} THEN 'badwords' END,
         CASE WHEN digit_frac_raw > {URL_MAX_DIGIT_FRAC} THEN 'digit_host' END,
         CASE WHEN host_len > {URL_MAX_HOST_LEN} THEN 'host_len' END,
         CASE WHEN path_depth > {URL_MAX_PATH_DEPTH} THEN 'path_depth' END) AS reject_reasons
FROM sig
ORDER BY doc_id
"""


def url_filter_sql(table: str = "documents") -> str:
    """DuckDB oracle for url_filter over the demo URL mix."""
    return url_filter_rules_sql("demo").replace(
        "\nWITH parts AS (",
        f"\nWITH demo AS ({url_filter_demo_sql(table)}),\nparts AS (",
        1,
    )


# ---------------------------------------------------------------------------
# robots/noindex compliance filter
# ---------------------------------------------------------------------------

# attribute order varies in the wild: name-before-content and the reverse.
# Java/RE2 common subset (pii.py rule): \s is spelled as the WS class
# (Java \s has \x0B, RE2 \s does not).  The name must TERMINATE after
# 'robots' (quote or whitespace) so name="robots-news" never matches; the
# content value may be quoted (spaces allowed inside) or unquoted (the
# capture stops at quote/>, junk tokens fall out at token matching).
ROBOTS_META_NC = (
    r"(?i)<meta[^>]*name" + WS + "*=" + WS + r"*[\"']?robots[\"' \t\n\x0B\f\r]"
    r"[^>]*content" + WS + "*=" + WS + r"*[\"']?([^\"'>]*)"
)
ROBOTS_META_CN = (
    r"(?i)<meta[^>]*content" + WS + "*=" + WS + r"*[\"']?([^\"'>]*)[\"']?"
    r"[^>]*name" + WS + "*=" + WS + r"*[\"']?robots[\"' \t\n\x0B\f\r/>]"
)


def robots_filter(pages: DataFrame, html_col: str = "html",
                  canonical=None, passthrough=()) -> DataFrame:
    """(url, robots_content, noindex, nofollow, keep): meta-robots
    compliance — pipelines must drop noindex pages before publication
    (the crawler honored robots.txt at fetch time; the page-level opt-out
    lives in the markup and is enforced HERE).

    Scale shape: map-only Catalyst (two regexp_extract coalesced, token
    membership on a split array), no shuffle; composes in front of the
    quality stages like url_filter.  Directives are matched as whole
    comma-separated tokens — a page named "nofollowups" must not trip the
    filter."""
    html_s = F.col(html_col)
    if dict(pages.dtypes).get(html_col) == "binary":
        html_s = html_s.cast("string")
    raw = F.coalesce(
        F.nullif(F.regexp_extract(html_s, ROBOTS_META_NC, 1), F.lit("")),
        F.nullif(F.regexp_extract(html_s, ROBOTS_META_CN, 1), F.lit("")),
        F.lit(""),
    )
    # normalized token array: lower, split on comma OR whitespace runs
    # (robots directives are comma-separated per spec but whitespace
    # separation occurs in the wild; junk from unquoted captures falls
    # out here because token matching is whole-token).  MATERIALIZE the
    # array first — interpreted HOF chains get no CSE (round-6 rule),
    # and the flags reference it four times.
    staged = pages.select(
        "url",
        *passthrough,
        raw.alias("robots_content"),
        F.array_remove(
            F.split(F.lower(raw), "[," + WS[1:-1] + "]+"), ""
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    noindex = F.array_contains(toks, "noindex") | F.array_contains(toks, "none")
    nofollow = F.array_contains(toks, "nofollow") | F.array_contains(toks, "none")
    return staged.select(
        "url",
        *passthrough,
        "robots_content",
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        (~noindex).alias("keep"),
    ).transform(lambda d: canonical_order(d, "url", canonical=canonical))


def robots_demo_pages_sql(table: str = "documents") -> str:
    """Deterministic pages with every robots-meta shape as a DuckDB CTE
    body (the synthetic corpus has no robots metas — vacuous otherwise)."""
    return f"""
  SELECT 'https://example.org/p/' || doc_id AS url,
         CASE WHEN doc_id % 7 = 0 THEN '<head><META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW"></head><body>x</body>'
              WHEN doc_id % 7 = 1 THEN '<head><meta content=''none'' name=robots></head><body>x</body>'
              WHEN doc_id % 7 = 2 THEN '<head><meta name="robots" content="nofollow"></head><body>x</body>'
              WHEN doc_id % 7 = 3 THEN '<head><meta name="robots" content="index, follow"></head><body>x</body>'
              WHEN doc_id % 7 = 4 THEN '<head><meta name="description" content="about nofollowups"></head><body>x</body>'
              ELSE '<head><title>t</title></head><body>x</body>' END AS html
  FROM {table}
"""


def robots_demo_pages(docs: DataFrame) -> DataFrame:
    """Spark twin of robots_demo_pages_sql."""
    did = F.col("doc_id")
    html = (
        F.when(did % 7 == 0, F.lit('<head><META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW"></head><body>x</body>'))
        .when(did % 7 == 1, F.lit("<head><meta content='none' name=robots></head><body>x</body>"))
        .when(did % 7 == 2, F.lit('<head><meta name="robots" content="nofollow"></head><body>x</body>'))
        .when(did % 7 == 3, F.lit('<head><meta name="robots" content="index, follow"></head><body>x</body>'))
        .when(did % 7 == 4, F.lit('<head><meta name="description" content="about nofollowups"></head><body>x</body>'))
        .otherwise(F.lit("<head><title>t</title></head><body>x</body>"))
    )
    return docs.select(
        F.concat(F.lit("https://example.org/p/"), did.cast("string")).alias("url"),
        html.alias("html"),
    )


def robots_filter_sql(table: str = "documents") -> str:
    """DuckDB oracle for robots_filter(robots_demo_pages(docs)) — the SAME
    regex constants and the same comma-or-whitespace token split."""
    nc = ROBOTS_META_NC.replace("'", "''")
    cn = ROBOTS_META_CN.replace("'", "''")
    # DuckDB '...' literals keep backslashes as-is, so WS's \t\n... escape
    # sequences reach RE2 unchanged — no doubling
    split = "[," + WS[1:-1] + "]+"
    return f"""
WITH pages AS ({robots_demo_pages_sql(table)}),
ext AS (
  SELECT url,
         coalesce(nullif(regexp_extract(html, '{nc}', 1), ''),
                  nullif(regexp_extract(html, '{cn}', 1), ''),
                  '') AS robots_content
  FROM pages
),
toks AS (
  SELECT url, robots_content,
         list_filter(regexp_split_to_array(lower(robots_content), '{split}'),
                     t -> t <> '') AS tok
  FROM ext
)
SELECT url, robots_content,
       (list_contains(tok, 'noindex') OR list_contains(tok, 'none')) AS noindex,
       (list_contains(tok, 'nofollow') OR list_contains(tok, 'none')) AS nofollow,
       NOT (list_contains(tok, 'noindex') OR list_contains(tok, 'none')) AS keep
FROM toks
ORDER BY url
"""
