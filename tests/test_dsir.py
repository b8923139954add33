"""DSIR importance resampling (operators/dsir.py).

Value parity vs DuckDB runs in tests/test_oracle_parity.py (the
dsir_select driver query); here: selection semantics + scale-shape pins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_core_spark.operators.dsir import dsir_select

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_selects_exactly_k(docs):
    out = dsir_select(docs, k=25)
    assert out.filter(F.col("selected") == 1).count() == 25
    assert out.count() == docs.count()


def test_selection_prefers_high_keys(docs):
    rows = dsir_select(docs, k=25).collect()
    sel = sorted((r["gumbel_key"], r["doc_id"]) for r in rows if r["selected"])
    unsel = [( r["gumbel_key"], r["doc_id"]) for r in rows if not r["selected"]]
    # every selected key dominates every unselected key under the
    # (key desc, doc_id asc) order
    lowest_sel = sel[0]
    assert all((u[0], -u[1]) < (lowest_sel[0], -lowest_sel[1]) or u[0] < lowest_sel[0]
               or (u[0] == lowest_sel[0] and u[1] > lowest_sel[1]) for u in unsel)


def test_target_slice_scores_higher_on_average(docs):
    # the target model is fit ON the md5-gated slice, so that slice's own
    # documents must average a higher log-ratio than the rest (the DSIR
    # premise: weights rank target-likeness)
    rows = dsir_select(docs).collect()
    from docling_core_spark.operators.dsir import DSIR_RATE, DSIR_SEED
    import hashlib

    thr = int(DSIR_RATE * (1 << 60))
    in_t, out_t = [], []
    for r in rows:
        h = int(hashlib.md5(f"{r['doc_id']}{DSIR_SEED}".encode()).hexdigest()[:15], 16)
        (in_t if h < thr else out_t).append(r["log_ratio"])
    assert sum(in_t) / len(in_t) > sum(out_t) / len(out_t)


def test_empty_docs_weight_zero(spark):
    df = spark.createDataFrame(
        [(1, "some shared words here"), (2, ""), (3, "!!!")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dsir_select(df, k=1).collect()}
    assert rows[2]["log_ratio"] == 0.0
    assert rows[3]["log_ratio"] == 0.0


def test_plan_shape(docs):
    plan = dsir_select(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # top-k is TakeOrdered, not a global Sort+Limit
    assert "TakeOrderedAndProject" in plan
    # the weight stage is cut by the lazy checkpoint (diamond: top-k + flag
    # join), so the final plan reads an RDD-backed scan — the aggregates
    # with partials live in the checkpointed subplan (pinned by parity)
    assert "ExistingRDD" in plan
