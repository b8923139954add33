"""Document quality classifier: distributed training of a fastText-style
linear model over hashed bag-of-words features.

The GPT-3 / LLaMA data pipelines train a linear quality classifier on a
trusted-positive corpus and score every crawl document with it (Brown et
al. 2020 Appendix A: logistic regression over hashed features; Touvron et
al. 2023 §2: fastText-like quality model).  Those rely on pretrained
fastText binaries (env-blocked here); this module trains the same model
CLASS from scratch, distributed, with deterministic weak-supervision
labels so every run — Spark or the single-process oracle — reproduces the
identical weights bit-for-bit.

Cross-engine determinism (the oracle-ability contract):
- features are BINARY hashed bag-of-words: dim = md5-60(token) mod D,
  per-doc dims sorted distinct — the per-doc score folds left-to-right
  over a sorted int array, so float accumulation order is fixed;
- the link is the ALGEBRAIC sigmoid s(z) = 0.5*(1 + z/(1+|z|)): only
  +,*,/,abs — IEEE-754 bit-exact across JVM and CPython, unlike exp;
- per-doc gradient contributions quantize to 1e-9-unit longs (double→long
  cast truncates toward zero in both engines) before the cross-partition
  sum, so the reduction is EXACT integer arithmetic in any order;
- the weight update runs driver-side in python in both paths.

Scale shape (100 TB):
- the feature frame is built once (one scan) and localCheckpoint'ed;
- per iteration: the weight array ships once per executor (sc.broadcast),
  ONE Arrow pass computes the exact per-doc fold + quantized gradient and
  accumulates int64 partials per partition, so the dim rollup shuffles
  <= dims+1 rows per partition and the driver receives <= D rows (same
  class as k-means centroids; D=2^18 ~ 2 MB);
- scoring is a single map-side Arrow pass: broadcast weights, fold, no
  shuffle beyond the trailing canonical sort.  No windows, no content
  shuffle, no joins (r9: this replaced the one-row crossJoin + interpreted
  element_at fold — the round-2 element_at trap measured as the module's
  dominant cost).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Row, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.dedup import norm_words
from docling_core_spark.operators.hashing import hash60
from docling_core_spark.operators.textstats import lang_score_expr

#: hashed feature dimensions (oracle-scale default; 2^18 at crawl scale)
CLS_DIMS = 4096
CLS_ITERATIONS = 8
CLS_LR = 0.5
#: weak-supervision label: "quality" = any en-stopword hit AND >= this many words
CLS_MIN_WORDS = 40
_Q = 1_000_000_000  # gradient quantization grid (1e-9 units)


def _features(docs: DataFrame, dims: int) -> DataFrame:
    """(doc_id, label, dims: sorted distinct int array) — binary hashed BoW.

    label is the deterministic weak signal (1 = quality): >=1 distinct en
    stopword AND >= CLS_MIN_WORDS normalized words — not a claim about
    true quality, just a reproducible balanced target computable
    identically in Spark and pure python.

    NULL text coalesces to "" FIRST (the twin's `text or ""`): without it
    Spark would carry NULL dims/labels — the doc silently drops from the
    gradients while the twin scores it, breaking bit-for-bit lockstep.
    The token array materializes into its own projection (no-CSE rule)
    and the label's word count reads that attribute, not a second
    norm_words evaluation."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    base = docs.select("doc_id", txt.alias("t")).select(
        "doc_id",
        "t",
        F.filter(norm_words(F.col("t")), lambda x: x != F.lit("")).alias("ws"),
    )
    label = (
        (lang_score_expr(F.col("t"), "en") >= 1)
        & (F.size("ws") >= F.lit(CLS_MIN_WORDS))
    ).cast("int")
    dim_of = F.transform(
        F.col("ws"),
        lambda t: F.pmod(hash60(t), F.lit(dims)).cast("int"),
    )
    return base.select(
        "doc_id", label.alias("label"), F.array_sort(F.array_distinct(dim_of)).alias("dims")
    )


def _py_fold_z(ds, w: list[float], bias: float) -> float:
    """Left-to-right fold of the sorted dims over the weight list: the
    linear term z.  CPython float adds are the same IEEE-754 double adds
    the old Catalyst ``aggregate(dims, bias, acc + element_at(warr, d+1))``
    fold performed, in the same order — bit-identical by construction.
    (The Catalyst fold was the round-2 element_at trap: an interpreted HOF
    gather over the 4096-slot broadcast array, measured as the #1 cost of
    the whole classifier; one Arrow pass with this loop replaces it.)"""
    z = bias
    for d in ds:
        z = z + w[d]
    return z


def _py_sigmoid(z: float) -> float:
    """Algebraic sigmoid, same op order as the twin: only +,*,/,abs —
    IEEE-754 bit-exact across JVM and CPython."""
    return 0.5 * (1.0 + z / (1.0 + abs(z)))


def _grad_partials(feats: DataFrame, w: list[float], bias: float) -> DataFrame:
    """(dim, qg) integer gradient partials, one Arrow pass over the feature
    frame: per doc the exact z fold + sigmoid + 1e-9 quantization (all in
    lockstep with the python twin below), then a PER-PARTITION int64
    accumulation over dims — each task emits <= dims+2 rows (sentinel -1
    carries the bias gradient; sentinel -2 the partition row count, so the
    first iteration also yields n without a separate count() job), and the
    shuffle behind the groupBy is tiny at any corpus size.  int64 partials
    cannot overflow (|qc| <= 1e9, so 2^63 absorbs ~9e9 docs per dim per
    partition)."""
    import numpy as np
    import pandas as pd

    dims_n = len(w)
    bc_w = feats.sparkSession.sparkContext.broadcast(list(w))

    def part(batches):
        wl = bc_w.value
        acc = np.zeros(dims_n, dtype=np.int64)
        qb = 0
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            labels = pdf["label"].to_numpy()
            qcs = np.empty(len(pdf), dtype=np.int64)
            for i, ds in enumerate(pdf["dims"]):
                s = _py_sigmoid(_py_fold_z(ds, wl, bias))
                # int() truncates toward zero, same as the JVM double->long
                # cast the old Catalyst path used
                qcs[i] = int((s - float(labels[i])) * float(_Q))
            qb += int(qcs.sum())
            lens = np.fromiter(
                (len(ds) for ds in pdf["dims"]), dtype=np.int64, count=len(pdf)
            )
            if lens.sum():
                flat = np.concatenate(
                    [np.asarray(ds, dtype=np.int64) for ds in pdf["dims"]]
                )
                np.add.at(acc, flat, np.repeat(qcs, lens))
        nz = np.nonzero(acc)[0]
        yield pd.DataFrame(
            {
                "dim": np.concatenate([nz, [-1, -2]]).astype(np.int32),
                "qg": np.concatenate([acc[nz], [qb, n_rows]]).astype(np.int64),
            }
        )

    return feats.select("label", "dims").mapInPandas(part, "dim int, qg long")


def _train(
    docs: DataFrame,
    dims: int,
    iterations: int,
    lr: float,
):
    """Returns (weights list[float], bias float, n_docs, feature frame)."""
    feats = _features(docs, dims).localCheckpoint(eager=False)
    w = [0.0] * dims
    b = 0.0
    n = 0
    for it in range(iterations):
        # ONE action per iteration: per-partition integer partials from one
        # Arrow pass (exact z fold + quantization in python — bit-identical
        # to the twin), then a tiny (<= dims+2 rows/partition) hash-agg.
        # The bias gradient rides the aggregation under sentinel dim -1
        # (each doc contributes its qc exactly once there, so
        # sum(qg at -1) == sum(qc)); the corpus size n rides under -2, so
        # the first iteration both materializes the checkpoint and learns
        # n — no separate count() job.
        grad_rows = (
            _grad_partials(feats, w, b)
            .groupBy("dim")
            .agg(F.sum("qg").alias("qg"))
            .collect()
        )
        if it == 0:
            n = next((int(r["qg"]) for r in grad_rows if r["dim"] == -2), 0)
            if n == 0:
                return w, b, 0, feats
        for r in grad_rows:
            if r["dim"] == -1:
                b -= lr * (r["qg"] / _Q) / n
            elif r["dim"] >= 0:
                w[r["dim"]] -= lr * (r["qg"] / _Q) / n
    return w, b, n, feats


def classifier_train(
    docs: DataFrame,
    dims: int = CLS_DIMS,
    iterations: int = CLS_ITERATIONS,
    lr: float = CLS_LR,
) -> DataFrame:
    """The trained model as a relation: (dim, weight) for every nonzero
    weight, plus one (dim=-1, bias) row.  Weights rounded at 1e-6 for the
    driver boundary; the scoring path uses the exact values."""
    spark = docs.sparkSession
    w, b, _, _ = _train(docs, dims, iterations, lr)
    rows = [Row(dim=d, weight=float(x)) for d, x in enumerate(w) if x != 0.0]
    rows.append(Row(dim=-1, weight=float(b)))
    out = spark.createDataFrame(rows, "dim int, weight double").select(
        "dim", F.round("weight", 6).alias("weight")
    )
    return out.transform(lambda d: canonical_order(d, "dim"))


def classifier_score(
    docs: DataFrame,
    dims: Optional[int] = None,
    iterations: int = CLS_ITERATIONS,
    lr: float = CLS_LR,
    threshold: float = 0.5,
    model: Optional[tuple[list[float], float]] = None,
) -> DataFrame:
    """(doc_id, label, score, pred): train (or take `model`), then score
    every document map-side — broadcast weights, fold, no shuffle.

    With an explicit ``model``, ``dims`` defaults to ``len(weights)`` —
    hashing features at a different dimensionality than the model was
    trained at would score against misaligned weight slots (silently wrong
    when smaller, ANSI ARRAY_INDEX_OUT_OF_BOUNDS when larger), so a
    mismatch raises.  The train path reuses the checkpointed feature frame
    from training instead of re-scanning the corpus."""
    if model is None:
        w, b, _, feats = _train(
            docs, dims if dims is not None else CLS_DIMS, iterations, lr
        )
    else:
        w, b = model
        if dims is None:
            dims = len(w)
        elif dims != len(w):
            raise ValueError(
                f"dims={dims} but the model has {len(w)} weights; "
                "score with the dims the model was trained at"
            )
        feats = _features(docs, dims)
    # map-side scoring in the same Arrow pass style as training: the exact
    # z fold + sigmoid per row, score rounded HALF_UP on the shortest repr
    # (== Spark F.round, the round-2 cross-engine finding), pred from the
    # RAW s (the keep-flag rule: never compare the display-rounded value)
    import decimal

    import pandas as pd

    bc_w = feats.sparkSession.sparkContext.broadcast(list(w))
    bias = b
    thr = float(threshold)
    six = decimal.Decimal("0.000001")
    id_type = feats.schema["doc_id"].dataType.simpleString()

    def score_part(batches):
        wl = bc_w.value
        for pdf in batches:
            scores = []
            preds = []
            for ds in pdf["dims"]:
                s = _py_sigmoid(_py_fold_z(ds, wl, bias))
                scores.append(
                    float(
                        decimal.Decimal(repr(s)).quantize(
                            six, rounding=decimal.ROUND_HALF_UP
                        )
                    )
                )
                preds.append(1 if s >= thr else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "label": pdf["label"],
                    "score": pd.Series(scores, dtype="float64"),
                    "pred": pd.Series(preds, dtype="int32"),
                }
            )

    return feats.select("doc_id", "label", "dims").mapInPandas(
        score_part,
        f"doc_id {id_type}, label int, score double, pred int",
    ).transform(lambda d: canonical_order(d, "doc_id"))


# ---------------------------------------------------------------------------
# Pure-python twin (the single-process-expected oracle runs this; keep in
# LOCKSTEP with the Spark path above)
# ---------------------------------------------------------------------------


def py_label(text: str, norm_words_fn) -> int:
    padded = " " + (text or "").lower() + " "
    hits = sum(1 for sw in ("the", "and", "of", "to", "in", "is") if f" {sw} " in padded)
    n_words = len([t for t in norm_words_fn(text) if t])
    return 1 if hits >= 1 and n_words >= CLS_MIN_WORDS else 0


def py_dims(text: str, dims: int, norm_words_fn) -> list[int]:
    import hashlib

    ds = {
        int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dims
        for t in norm_words_fn(text)
        if t
    }
    return sorted(ds)


def py_train_score(
    doc_rows: list[tuple[int, str]],
    dims: int = CLS_DIMS,
    iterations: int = CLS_ITERATIONS,
    lr: float = CLS_LR,
    norm_words_fn=None,
):
    """Identical arithmetic, single-process: returns (weights, bias,
    [(doc_id, label, score)])."""

    sig = _py_sigmoid

    feats = [
        (doc_id, py_label(text, norm_words_fn), py_dims(text, dims, norm_words_fn))
        for doc_id, text in doc_rows
    ]
    n = len(feats)
    w = [0.0] * dims
    b = 0.0
    for _ in range(iterations):
        grad: dict[int, int] = {}
        qb = 0
        for _doc, label, ds in feats:
            qc = int((sig(_py_fold_z(ds, w, b)) - float(label)) * _Q)
            qb += qc
            for d in ds:
                grad[d] = grad.get(d, 0) + qc
        for d, qg in grad.items():
            w[d] -= lr * (qg / _Q) / n
        b -= lr * (qb / _Q) / n
    scores = []
    for doc_id, label, ds in feats:
        scores.append((doc_id, label, sig(_py_fold_z(ds, w, b))))
    return w, b, scores
