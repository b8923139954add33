"""Benchmark decontamination: flag training documents that overlap an
evaluation set (the standard pre-training hygiene step — e.g. GPT-3's
13-gram eval-overlap filter, Brown et al. 2020 §4 / Appendix C).

Scale design (the 100 TB shape):
- The benchmark's hashed n-gram set is SMALL (an eval suite is thousands of
  documents, not billions) — it broadcasts.  The corpus is NEVER shuffled on
  content: doc n-grams explode map-side, hit-test against the broadcast set
  in a broadcast hash join, and roll up per doc_id with map-side partial
  aggregation, so the only exchange carries ~one row per (doc, partition).
- N-gram hashing uses the 60-bit md5 prefix (operators.hashing.hash60),
  which is reproducible bit-for-bit in DuckDB — the whole operator is
  value-hash-oracle-checkable.
- For extreme benchmark sets (10^8+ n-grams) where even the broadcast is too
  big, the same plan holds with the broadcast join replaced by a Bloom-filter
  semi-join (`spark.sql.optimizer.runtime.bloomFilter.enabled` does this
  automatically for selective joins); the per-doc rollup is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.dedup import norm_words, shingle_grams
from docling_core_spark.operators.hashing import hash60, hash60_sql

DECONTAM_NGRAM = 13  # GPT-3-style eval-overlap n-gram size


def _hashed_gram_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, hs: array<bigint>) — distinct hashed word n-grams, built
    over a materializing words projection (see dedup.norm_words)."""
    return docs.select("doc_id", norm_words(F.col("text")).alias("w")).select(
        "doc_id",
        F.transform(
            F.array_distinct(shingle_grams(F.col("w"), n)),
            hash60,
        ).alias("hs"),
    )


def benchmark_ngram_set(bench_docs: DataFrame, n: int = DECONTAM_NGRAM) -> DataFrame:
    """Distinct hashed n-grams of the benchmark/eval documents — the small
    side of the broadcast join (one column ``g``)."""
    return (
        _hashed_gram_rows(bench_docs, n)
        .select(F.explode("hs").alias("g"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    n: int = DECONTAM_NGRAM,
    max_contaminated_frac: float = 0.0,
) -> DataFrame:
    """Per-document benchmark-overlap report:
    (doc_id, n_ngrams, n_contaminated, contaminated_frac, keep).

    ``keep`` is false when the fraction of the document's distinct n-grams
    that appear in the benchmark set exceeds ``max_contaminated_frac``
    (default 0: any overlap disqualifies).  Documents shorter than ``n``
    words contribute their whole text as a single gram, so short exact
    copies of benchmark items are still caught.
    """
    bench = F.broadcast(
        benchmark_ngram_set(bench_docs, n).withColumn("_hit", F.lit(1))
    )
    exploded = _hashed_gram_rows(docs, n).select(
        "doc_id",
        F.size("hs").alias("n_ngrams"),
        F.explode_outer("hs").alias("g"),
    )
    agg = (
        exploded.join(bench, "g", "left")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_contaminated"))
    )
    frac = F.round(
        F.col("n_contaminated") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6
    )
    return agg.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        "n_contaminated",
        frac.alias("contaminated_frac"),
        (frac <= max_contaminated_frac).alias("keep"),
    ).transform(lambda d: canonical_order(d, "doc_id"))


def eval_subset(docs: DataFrame, modulus: int = 50) -> DataFrame:
    """Deterministic stand-in eval set for the driver demo: every
    ``modulus``-th document plays the benchmark (both engines express the
    same predicate).  Real deployments pass the actual eval corpus."""
    return docs.filter(F.col("doc_id") % modulus == 0)


def decontaminate_sql(
    table: str = "documents",
    n: int = DECONTAM_NGRAM,
    max_contaminated_frac: float = 0.0,
    bench_modulus: int = 50,
) -> str:
    """DuckDB oracle SQL for decontaminate(docs, eval_subset(docs)) — same
    normalization, shingling, 60-bit hash, and thresholds."""
    return f"""
WITH normed AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), '\\s+') AS words
  FROM {table}
),
hashed AS (
  SELECT doc_id,
         list_transform(
           list_distinct(
             CASE WHEN len(words) < {n} THEN [array_to_string(words, ' ')]
                  ELSE [array_to_string(words[i+1:i+{n}], ' ')
                        for i in range(0, len(words) - {n} + 1)]
             END),
           g -> {hash60_sql("g")}) AS hs
  FROM normed
),
bench AS (
  SELECT DISTINCT unnest(hs) AS g FROM hashed WHERE doc_id % {bench_modulus} = 0
),
exploded AS (
  SELECT doc_id, len(hs) AS n_ngrams, unnest(hs) AS g FROM hashed
),
agg AS (
  SELECT e.doc_id, e.n_ngrams,
         CAST(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated
  FROM exploded e LEFT JOIN bench b USING (g)
  GROUP BY e.doc_id, e.n_ngrams
)
SELECT doc_id,
       CAST(n_ngrams AS BIGINT) AS n_ngrams,
       n_contaminated,
       round(n_contaminated / greatest(n_ngrams, 1)::DOUBLE, 6) AS contaminated_frac,
       (round(n_contaminated / greatest(n_ngrams, 1)::DOUBLE, 6) <= {max_contaminated_frac}) AS keep
FROM agg
ORDER BY doc_id
"""
