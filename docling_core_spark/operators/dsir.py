"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169).

Selects pretraining documents whose hashed-n-gram distribution looks like a
TARGET corpus: fit two bag-of-hashed-ngrams models — target p (a trusted
slice) and raw q (the whole corpus) — weight every document by its
log-likelihood ratio log w(x) = sum_b c_x[b] * (log p[b] - log q[b]), and
resample via Gumbel top-k over the weights.  The paper uses a pretrained
target corpus (The Pile validation); env-blocked here, so the target is the
deterministic md5-60 held-out slice (same stand-in as the CCNet LM module,
operators/lm.py) — the algorithmic shape is the point.

Scale shape (100 TB):
- n-gram buckets: unigrams + bigrams hashed to D buckets (md5-60 mod D,
  cross-engine); the two models are D-row relations built by ONE bucket
  hash-agg each with map-side partials — tiny at any corpus size (the
  paper's D is 10^4);
- per-doc weights: one (doc_id, bucket) partial-agg, a BROADCAST join of
  the two models (the corpus never shuffles on content), one doc_id
  rollup;
- selection: Gumbel keys are pure map-side (hash-derived uniform ->
  -ln(-ln u)); top-k is TakeOrdered (never a global sort), flags join
  back broadcast.  No windows anywhere.
- floats round at 1e-6 before comparison/output (lm.py discipline — ln is
  the only transcendental and survives 1e-6 rounding cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.dedup import norm_words
from docling_core_spark.operators.hashing import (
    hash60,
    hash60_sql,
    sample_gate,
    sample_gate_sql,
    seeded_hash60,
    seeded_hash60_sql,
)

DSIR_BUCKETS = 1024
DSIR_ALPHA = 1.0
DSIR_RATE = 0.1
DSIR_SEED = "dsirtgt"
DSIR_K = 100
_GUMBEL_SEED = "dsirg"
_GUMBEL_MOD = 1 << 52  # u mantissa bits: (h % 2^52) + 0.5 is double-exact


def _bucket_rows(docs: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, bucket) one row per unigram AND bigram occurrence (hashed).

    The token array materializes into its own projection first (no-CSE
    rule), bigrams via the shifted-slice zip (the element_at trap)."""
    toks = docs.select(
        "doc_id",
        F.filter(norm_words(F.col("text")), lambda x: x != F.lit("")).alias("ws"),
    )
    bigrams = F.zip_with(
        F.expr("slice(ws, 1, greatest(size(ws) - 1, 0))"),
        F.expr("slice(ws, 2, greatest(size(ws) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = toks.select(
        "doc_id", F.explode(F.concat(F.col("ws"), bigrams)).alias("g")
    )
    bucket = F.pmod(hash60(F.col("g")), F.lit(buckets))
    return grams.select("doc_id", bucket.cast("int").alias("bucket"))


def dsir_select(
    docs: DataFrame,
    buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    rate: float = DSIR_RATE,
    seed: str = DSIR_SEED,
    k: int = DSIR_K,
) -> DataFrame:
    """(doc_id, log_ratio, gumbel_key, selected): importance weights under
    the target/raw hashed-ngram models + Gumbel top-k selection flags."""
    rows = _bucket_rows(docs, buckets)
    # Aggregate the raw gram rows to per-(doc, bucket) counts FIRST — the
    # partial (map-side) aggregation collapses the explode output before it
    # ever shuffles — and cut the diamond THERE: both corpus models and the
    # per-doc weights derive from doc_counts exactly (a per-bucket count
    # over gram rows == the integer sum of its per-doc counts), so the fat
    # (doc_id, bucket) occurrence table no longer needs to be materialized
    # at all (the old plan localCheckpoint'ed every gram row through the
    # block manager just to feed three consumers).
    doc_counts = (
        rows.groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tgt_rows = docs.filter(sample_gate("doc_id", seed, rate)).select("doc_id")
    target = (
        doc_counts.join(F.broadcast(tgt_rows), "doc_id")
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    raw = doc_counts.groupBy("bucket").agg(F.sum("c").alias("cq"))
    # second diamond cut: target and raw each feed consts AND model —
    # without this the two full-gram bucket aggregations execute twice
    # (<= buckets rows each, so the checkpoints are tiny)
    target = target.localCheckpoint(eager=False)
    raw = raw.localCheckpoint(eager=False)
    consts = (
        target.agg(F.sum("ct").alias("nt"))
        .crossJoin(raw.agg(F.sum("cq").alias("nq")))
    )
    # per-bucket log ratio under add-alpha smoothing; buckets the target
    # never saw still get a (smoothed) probability
    model = (
        raw.join(target, "bucket", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + F.lit(float(alpha)))
                    / (F.col("nt") + F.lit(float(alpha * buckets)))
                )
                - F.log(
                    (F.col("cq") + F.lit(float(alpha)))
                    / (F.col("nq") + F.lit(float(alpha * buckets)))
                )
            ).alias("lr"),
        )
    )
    weights = (
        doc_counts.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("log_ratio"))
    )
    # docs with no grams at all carry weight 0 (empty product)
    weights = (
        docs.select("doc_id")
        .join(weights, "doc_id", "left")
        .select("doc_id", F.coalesce("log_ratio", F.lit(0.0)).alias("log_ratio"))
    )
    # u from the LOW 52 hash bits: every value of (h % 2^52) + 0.5 is
    # exactly representable as a double (<= 2^53), so u < 1 strictly —
    # dividing the raw 60-bit hash would round the top 128 values to
    # exactly 1.0, where -ln(-ln(u)) is NULL in Spark but +inf in DuckDB
    u = (
        F.pmod(seeded_hash60("doc_id", _GUMBEL_SEED), F.lit(_GUMBEL_MOD)).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_GUMBEL_MOD))
    keyed = weights.select(
        "doc_id",
        "log_ratio",
        F.round(F.col("log_ratio") + (-F.log(-F.log(u))), 6).alias("gumbel_key"),
    )
    keyed = keyed.localCheckpoint(eager=False)  # feeds top-k AND the flag join
    top = (
        keyed.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id")
        .withColumn("sel", F.lit(1))
    )
    return (
        keyed.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "log_ratio",
            "gumbel_key",
            F.coalesce("sel", F.lit(0)).alias("selected"),
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def dsir_select_sql(
    table: str = "documents",
    buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
    rate: float = DSIR_RATE,
    seed: str = DSIR_SEED,
    k: int = DSIR_K,
) -> str:
    tok = (
        "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', '', 'g')), ' +'), x -> x <> '')"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {tok} AS ws FROM {table}
),
grams AS (
  SELECT doc_id, unnest(ws) AS g FROM toks
  UNION ALL
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
  FROM toks, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2
),
rows_b AS (
  SELECT doc_id,
         CAST({hash60_sql("g")} % {buckets} AS INT) AS bucket
  FROM grams
),
tgt_docs AS (
  SELECT doc_id FROM {table}
  WHERE {sample_gate_sql("doc_id", seed, rate)}
),
target AS (
  SELECT bucket, count(*) AS ct FROM rows_b
  WHERE doc_id IN (SELECT doc_id FROM tgt_docs) GROUP BY bucket
),
raw AS (SELECT bucket, count(*) AS cq FROM rows_b GROUP BY bucket),
consts AS (
  SELECT (SELECT sum(ct) FROM target) AS nt, (SELECT sum(cq) FROM raw) AS nq
),
model AS (
  SELECT r.bucket,
         ln((coalesce(t.ct, 0) + {alpha}) / (c.nt + {alpha * buckets}))
         - ln((r.cq + {alpha}) / (c.nq + {alpha * buckets})) AS lr
  FROM raw r LEFT JOIN target t ON r.bucket = t.bucket CROSS JOIN consts c
),
doc_counts AS (
  SELECT doc_id, bucket, count(*) AS c FROM rows_b GROUP BY doc_id, bucket
),
weights AS (
  SELECT d.doc_id,
         coalesce(round(sum(dc.c * m.lr), 6), 0.0) AS log_ratio
  FROM {table} d
  LEFT JOIN doc_counts dc ON d.doc_id = dc.doc_id
  LEFT JOIN model m ON dc.bucket = m.bucket
  GROUP BY d.doc_id
),
keyed AS (
  SELECT doc_id, log_ratio,
         round(log_ratio + (-ln(-ln(
           ((({seeded_hash60_sql("doc_id", _GUMBEL_SEED)}) % {_GUMBEL_MOD})::DOUBLE + 0.5)
           / {float(_GUMBEL_MOD)}
         ))), 6) AS gumbel_key
  FROM weights
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rn FROM keyed
)
SELECT doc_id, log_ratio, gumbel_key,
       CASE WHEN rn <= {k} THEN 1 ELSE 0 END AS selected
FROM ranked
ORDER BY doc_id
"""
