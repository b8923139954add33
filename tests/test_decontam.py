"""Benchmark-decontamination operator: behavior + scale-plan shape."""

from __future__ import annotations

import pytest

WORDS13 = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # doc 1 embeds the benchmark 13-gram verbatim inside longer text
        (1, "prefix words here " + WORDS13 + " and a suffix tail"),
        # doc 2 is clean (no 13-gram overlap)
        (2, "completely unrelated text with many distinct tokens " * 3),
        # doc 3 is an exact short copy of a benchmark item (< 13 words)
        (3, "short eval item"),
        # doc 4 shares words but no 13-gram run
        (4, "alpha bravo charlie unrelated delta echo foxtrot other golf"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench(spark):
    rows = [(100, WORDS13 + " november oscar papa"), (101, "short eval item")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_overlap(corpus, bench):
    from docling_core_spark.operators.decontam import decontaminate

    out = {r.doc_id: r for r in decontaminate(corpus, bench).collect()}
    assert not out[1].keep and out[1].n_contaminated >= 1
    assert out[2].keep and out[2].n_contaminated == 0
    # a sub-13-word exact copy is caught via its whole-text gram
    assert not out[3].keep and out[3].n_contaminated == 1
    assert out[4].keep and out[4].n_contaminated == 0


def test_decontaminate_frac_threshold(corpus, bench):
    from docling_core_spark.operators.decontam import decontaminate

    # with a permissive threshold the lightly-contaminated doc survives
    out = {
        r.doc_id: r
        for r in decontaminate(corpus, bench, max_contaminated_frac=0.9).collect()
    }
    assert out[1].keep and 0 < out[1].contaminated_frac < 0.9
    assert not out[3].keep  # 100% contaminated stays out


def test_decontaminate_plan_broadcasts_bench(spark, monkeypatch):
    from docling_core_spark.operators.decontam import decontaminate, eval_subset

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        decontaminate(docs, eval_subset(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus is hit-tested map-side against the broadcast benchmark set —
    # never sort-merge-joined or shuffled on gram
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # the per-doc rollup combines map-side before its one doc_id exchange
    assert "partial_sum" in plan
