"""CCNet-style n-gram language-model perplexity filtering.

Replicates the quality-signal stage of CCNet (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl Data",
arXiv:1911.00359): train a small LM on a trusted reference corpus, score
every crawl document by perplexity, and bucket the corpus by LM score.
CCNet ships a pretrained KenLM 5-gram; that artifact class is env-blocked
here, so the model is a from-scratch Jelinek-Mercer interpolated bigram LM
trained DISTRIBUTED on a deterministic held-out slice of the corpus itself
(the md5-60 gate, same as sample_by_hash) — the algorithmic shape is the
point: a vocab-bounded model artifact, broadcast to executors, scoring the
full corpus map-side.

Scale shape (100 TB):
- ``lm_train``: one scan of the reference slice -> unigram hash-agg with
  map-side partials; vocab = top-V TakeOrdered (V rows of driver traffic,
  like k-means centroids); bigram counts over vocab-mapped adjacent pairs,
  again partial-agg.  The model is O(V + distinct bigrams of the reference
  slice) — a fixed small artifact, exactly CCNet's deployment shape.
- ``lm_score``: the corpus NEVER shuffles on content — bigram rows take
  five BROADCAST joins (vocab x2, uni x2, bi x1) all map-side, then one
  doc_id hash-agg with partials.  Skewed hot words are irrelevant:
  broadcast joins have no per-key task placement.
- No windows, no collect of corpus data; floats rounded at 1e-6 in both
  engines (established oracle discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.dedup import NORM
from docling_core_spark.operators.hashing import sample_gate, sample_gate_sql

#: interpolation weight of the bigram maximum-likelihood term
LM_LAMBDA = 0.8
#: add-alpha smoothing of the unigram base distribution
LM_ALPHA = 1.0
#: top-V vocabulary (oracle-scale default; ~200k at crawl scale)
LM_VOCAB = 2000
#: reference-slice rate/seed (the "trusted corpus" stand-in)
LM_REF_RATE = 0.1
LM_REF_SEED = "lmref"

UNK = "<unk>"


def _tokens(col):
    """Normalized non-empty token array (shared with the dedup family)."""
    return F.filter(F.split(F.trim(NORM(col)), r"\s+"), lambda x: x != F.lit(""))


def _ref_docs(docs: DataFrame, rate: float, seed: str) -> DataFrame:
    return docs.filter(sample_gate("doc_id", seed, rate))


def _bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent-pair rows from a MATERIALIZED token array
    (no-CSE rule: the token projection is its own select)."""
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("ws")
    ).filter(F.size("ws") >= 2)
    pairs = F.zip_with(
        F.expr("slice(ws, 1, size(ws) - 1)"),
        F.expr("slice(ws, 2, size(ws) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def _model_frames(
    docs: DataFrame,
    vocab_size: int = LM_VOCAB,
    rate: float = LM_REF_RATE,
    seed: str = LM_REF_SEED,
):
    """(vocab, uni, bi, consts) DataFrames of the trained model.

    vocab: (word)                       top-V of the reference slice
    uni:   (w, c1)                      vocab-mapped unigram counts
    bi:    (w1, w2, c2)                 vocab-mapped adjacent-pair counts
    consts:(n_tokens, v_eff) one row    totals for the smoothed base
    """
    ref = _ref_docs(docs, rate, seed)
    tok_rows = ref.select(
        "doc_id", _tokens(F.col("text")).alias("ws")
    ).select("doc_id", F.explode("ws").alias("w"))
    raw_uni = tok_rows.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        raw_uni.orderBy(F.col("c").desc(), F.col("w"))
        .limit(vocab_size)
        .select("w")
    )

    bigrams = _bigram_rows(ref)
    v1 = F.broadcast(vocab.withColumnRenamed("w", "v1"))
    v2 = F.broadcast(vocab.withColumnRenamed("w", "v2"))
    mapped = (
        bigrams.join(v1, bigrams["w1"] == v1["v1"], "left")
        .join(v2, bigrams["w2"] == v2["v2"], "left")
        .select(
            F.coalesce("v1", F.lit(UNK)).alias("m1"),
            F.coalesce("v2", F.lit(UNK)).alias("m2"),
        )
    )
    bi = mapped.groupBy("m1", "m2").agg(F.count("*").alias("c2"))

    vu = F.broadcast(vocab.withColumnRenamed("w", "vu"))
    uni_mapped = (
        tok_rows.join(vu, tok_rows["w"] == vu["vu"], "left")
        .select(F.coalesce("vu", F.lit(UNK)).alias("m"))
    )
    uni = uni_mapped.groupBy("m").agg(F.count("*").alias("c1"))
    consts = uni.agg(
        F.sum("c1").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("v_eff"),
    )
    # Deliberately NOT checkpointed: vocab fans out 5x and uni 3x across
    # the train+score convenience path, so each broadcast re-compiles the
    # slice scan + aggs (the diamond rule) — but cutting them trades those
    # pipelined-parallel re-scans for SERIAL materialization jobs, measured
    # 3-10x slower at sf0.1 AND sf1 (0.9 -> 2.4-4.5 s).  The production
    # CCNet shape never hits this diamond at all: train once, cache the
    # frames (callers localCheckpoint them — lm_score_stream's contract),
    # and pass model= to every scoring call, which skips _model_frames
    # entirely.  The in-call retrain path is the demo/oracle convenience.
    return vocab, uni, bi, consts


def lm_train(
    docs: DataFrame,
    vocab_size: int = LM_VOCAB,
    rate: float = LM_REF_RATE,
    seed: str = LM_REF_SEED,
) -> DataFrame:
    """The trained model as one relation: (kind, w1, w2, cnt).

    kind 'uni' rows carry (w1=word, w2='', cnt=count); 'bi' rows the
    adjacent-pair counts; one 'total' row pins (n_tokens, v_eff) as
    (cnt, v_eff-in-w1).  Deterministic: vocab ties break by word order.
    """
    _, uni, bi, consts = _model_frames(docs, vocab_size, rate, seed)
    uni_rows = uni.select(
        F.lit("uni").alias("kind"),
        F.col("m").alias("w1"),
        F.lit("").alias("w2"),
        F.col("c1").cast("long").alias("cnt"),
    )
    bi_rows = bi.select(
        F.lit("bi").alias("kind"),
        F.col("m1").alias("w1"),
        F.col("m2").alias("w2"),
        F.col("c2").cast("long").alias("cnt"),
    )
    total_row = consts.select(
        F.lit("total").alias("kind"),
        F.col("v_eff").cast("string").alias("w1"),
        F.lit("").alias("w2"),
        F.col("n_tokens").alias("cnt"),
    )
    return uni_rows.unionByName(bi_rows).unionByName(total_row).transform(
        lambda d: canonical_order(d, "kind", "w1", "w2")
    )


def lm_score(
    docs: DataFrame,
    vocab_size: int = LM_VOCAB,
    rate: float = LM_REF_RATE,
    seed: str = LM_REF_SEED,
    lam: float = LM_LAMBDA,
    alpha: float = LM_ALPHA,
    model=None,
) -> DataFrame:
    """Per-document perplexity under the corpus-trained bigram LM.

    p(w2|w1) = lam * c(w1,w2)/c(w1)  +  (1-lam) * (c(w2)+alpha)/(N+alpha*V)
    nll = -ln p;  (doc_id, n_bigrams, avg_nll, ppl) with avg_nll/ppl
    rounded at 1e-6; empty/one-token docs score (0, 0.0, 1.0).

    ``model`` (the (vocab, uni, bi, consts) tuple from ``_model_frames``,
    typically cached) scores against a separately trained LM — the CCNet
    deployment shape (train once on the trusted corpus, score every crawl
    batch/stream against it) and what ``lm_score_stream`` passes per
    micro-batch.
    """
    vocab, uni, bi, consts = (
        model if model is not None else _model_frames(docs, vocab_size, rate, seed)
    )

    bigrams = _bigram_rows(docs)
    v1 = F.broadcast(vocab.withColumnRenamed("w", "v1"))
    v2 = F.broadcast(vocab.withColumnRenamed("w", "v2"))
    mapped = (
        bigrams.join(v1, bigrams["w1"] == v1["v1"], "left")
        .join(v2, bigrams["w2"] == v2["v2"], "left")
        .select(
            "doc_id",
            F.coalesce("v1", F.lit(UNK)).alias("m1"),
            F.coalesce("v2", F.lit(UNK)).alias("m2"),
        )
    )
    u1 = F.broadcast(uni.select(F.col("m").alias("u1"), F.col("c1").alias("c1_w1")))
    u2 = F.broadcast(uni.select(F.col("m").alias("u2"), F.col("c1").alias("c1_w2")))
    b = F.broadcast(
        bi.select(F.col("m1").alias("b1"), F.col("m2").alias("b2"), "c2")
    )
    scored = (
        mapped.join(b, (mapped["m1"] == b["b1"]) & (mapped["m2"] == b["b2"]), "left")
        .join(u1, mapped["m1"] == u1["u1"], "left")
        .join(u2, mapped["m2"] == u2["u2"], "left")
        .crossJoin(F.broadcast(consts))
    )
    c2 = F.coalesce(F.col("c2"), F.lit(0)).cast("double")
    c1w1 = F.coalesce(F.col("c1_w1"), F.lit(0)).cast("double")
    c1w2 = F.coalesce(F.col("c1_w2"), F.lit(0)).cast("double")
    n_tok = F.col("n_tokens").cast("double")
    v_eff = F.col("v_eff").cast("double")
    p_bi = F.when(c1w1 > 0, F.lit(float(lam)) * c2 / c1w1).otherwise(F.lit(0.0))
    p_uni = F.lit(1.0 - lam) * (c1w2 + F.lit(float(alpha))) / (
        n_tok + F.lit(float(alpha)) * v_eff
    )
    nll = -F.log(p_bi + p_uni)
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum(nll) / F.count("*"), 6).alias("avg_nll"),
        F.round(F.exp(F.sum(nll) / F.count("*")), 6).alias("ppl"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
            F.coalesce("ppl", F.lit(1.0)).alias("ppl"),
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (the oracle may use windows freely; the Spark path may not)
# ---------------------------------------------------------------------------

_TOK_SQL = (
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', '', 'g')), ' +'), x -> x <> '')"
)


def _common_ctes(
    table: str, vocab_size: int, rate: float, seed: str
) -> str:
    return f"""
WITH ref AS (
  SELECT doc_id, text FROM {table}
  WHERE {sample_gate_sql("doc_id", seed, rate)}
),
ref_tok AS (
  SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
  FROM (SELECT doc_id, {_TOK_SQL} AS ts FROM ref)
),
raw_uni AS (SELECT w, count(*) AS c FROM ref_tok GROUP BY w),
vocab AS (SELECT w FROM raw_uni ORDER BY c DESC, w LIMIT {vocab_size}),
ref_mapped AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN v.w IS NULL THEN '<unk>' ELSE t.w END AS m
  FROM ref_tok t LEFT JOIN vocab v ON t.w = v.w
),
uni AS (SELECT m, count(*) AS c1 FROM ref_mapped GROUP BY m),
ref_bi AS (
  SELECT a.m AS m1, b.m AS m2
  FROM ref_mapped a JOIN ref_mapped b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bi AS (SELECT m1, m2, count(*) AS c2 FROM ref_bi GROUP BY m1, m2),
consts AS (SELECT sum(c1)::BIGINT AS n_tokens, count(*)::BIGINT AS v_eff FROM uni)
"""


def lm_train_sql(
    table: str = "documents",
    vocab_size: int = LM_VOCAB,
    rate: float = LM_REF_RATE,
    seed: str = LM_REF_SEED,
) -> str:
    return (
        _common_ctes(table, vocab_size, rate, seed)
        + """
SELECT kind, w1, w2, cnt FROM (
  SELECT 'uni' AS kind, m AS w1, '' AS w2, c1::BIGINT AS cnt FROM uni
  UNION ALL
  SELECT 'bi', m1, m2, c2::BIGINT FROM bi
  UNION ALL
  SELECT 'total', v_eff::VARCHAR, '', n_tokens FROM consts
) ORDER BY kind, w1, w2
"""
    )


def lm_score_sql(
    table: str = "documents",
    vocab_size: int = LM_VOCAB,
    rate: float = LM_REF_RATE,
    seed: str = LM_REF_SEED,
    lam: float = LM_LAMBDA,
    alpha: float = LM_ALPHA,
) -> str:
    return (
        _common_ctes(table, vocab_size, rate, seed)
        + f"""
, doc_tok AS (
  SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
  FROM (SELECT doc_id, {_TOK_SQL} AS ts FROM {table})
),
doc_mapped AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN v.w IS NULL THEN '<unk>' ELSE t.w END AS m
  FROM doc_tok t LEFT JOIN vocab v ON t.w = v.w
),
doc_bi AS (
  SELECT a.doc_id, a.m AS m1, b.m AS m2
  FROM doc_mapped a JOIN doc_mapped b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
nlls AS (
  SELECT d.doc_id,
         -ln(
           CASE WHEN coalesce(u1.c1, 0) > 0
                THEN {lam} * coalesce(b.c2, 0)::DOUBLE / u1.c1::DOUBLE
                ELSE 0.0 END
           + {1.0 - lam} * (coalesce(u2.c1, 0)::DOUBLE + {alpha})
             / (c.n_tokens::DOUBLE + {alpha} * c.v_eff::DOUBLE)
         ) AS nll
  FROM doc_bi d
  LEFT JOIN bi b ON d.m1 = b.m1 AND d.m2 = b.m2
  LEFT JOIN uni u1 ON d.m1 = u1.m
  LEFT JOIN uni u2 ON d.m2 = u2.m
  CROSS JOIN consts c
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(sum(nll) / count(*), 6) AS avg_nll,
         round(exp(sum(nll) / count(*)), 6) AS ppl
  FROM nlls GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.avg_nll, 0.0) AS avg_nll,
       coalesce(p.ppl, 1.0) AS ppl
FROM {table} t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
"""
    )
