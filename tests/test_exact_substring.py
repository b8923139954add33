"""Exact-substring span dedup (Lee 2021 ExactSubstr, dedup.py).

Oracle value-parity runs in tests/test_oracle_parity.py (the
dedup_exact_substring driver query over the duplicate-bearing corpus); this
module pins crafted semantics the synthetic corpus cannot isolate, plus the
scale shape:
- a shared L-token span is excised from its SECOND occurrence only;
- a duplicated region longer than L collapses into ONE merged span whose
  whole length is removed;
- within-doc repetition counts (second occurrence in the SAME doc removed);
- docs shorter than L tokens pass through untouched;
- plan: no Window nodes, fingerprint agg keeps map-side partials.
"""

from __future__ import annotations

from docling_core_spark.operators.dedup import exact_substring_dedup

L = 5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, rows):
    out = exact_substring_dedup(_docs(spark, rows), span_tokens=L)
    return {r["doc_id"]: r for r in out.collect()}


def test_second_occurrence_excised(spark):
    shared = "one two three four five"
    rows = [
        (1, f"alpha {shared} beta"),
        (2, f"gamma delta {shared} epsilon"),
    ]
    out = _run(spark, rows)
    # doc 1 holds the keeper (smallest doc_id): untouched
    assert out[1]["n_removed_tokens"] == 0
    assert out[1]["kept_text"] == f"alpha {shared} beta"
    # doc 2 loses exactly the L shared tokens, as one span
    assert out[2]["n_removed_tokens"] == L
    assert out[2]["n_removed_spans"] == 1
    assert out[2]["kept_text"] == "gamma delta epsilon"


def test_long_region_merges_to_one_span(spark):
    region = " ".join(f"w{i}" for i in range(12))  # 12 tokens > L
    rows = [(1, region), (2, f"head {region} tail")]
    out = _run(spark, rows)
    assert out[2]["n_removed_tokens"] == 12
    assert out[2]["n_removed_spans"] == 1
    assert out[2]["kept_text"] == "head tail"


def test_within_doc_repetition(spark):
    span = "a b c d e"
    out = _run(spark, [(1, f"{span} x {span}")])
    assert out[1]["n_removed_tokens"] == L
    assert out[1]["kept_text"] == f"{span} x"


def test_two_disjoint_spans(spark):
    s1 = "p q r s t"
    s2 = "u v w x y"
    rows = [(1, f"{s1} mid1 mid2 {s2}"), (2, f"{s1} zzz yyy xxx www {s2}")]
    out = _run(spark, rows)
    assert out[2]["n_removed_spans"] == 2
    assert out[2]["n_removed_tokens"] == 2 * L
    assert out[2]["kept_text"] == "zzz yyy xxx www"


def test_short_docs_untouched(spark):
    rows = [(1, "tiny doc"), (2, "tiny doc")]  # identical but < L tokens
    out = _run(spark, rows)
    for r in out.values():
        assert r["n_windows"] == 0
        assert r["n_removed_tokens"] == 0
        assert r["kept_text"] == "tiny doc"


def test_plan_no_window_partial_agg(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        exact_substring_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_fully_removed_doc_keeps_empty_text(spark):
    """A doc whose ONLY window is a duplicate non-keeper loses every token:
    kept_text must be '' (not the original text — the round-8 review's
    rebuild-scope rewrite must not fall back to `joined` for cut docs)."""
    from docling_core_spark.operators.dedup import exact_substring_dedup

    text = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in exact_substring_dedup(docs, span_tokens=4).collect()
    }
    assert out[1]["kept_text"] == text  # keeper (min doc_id, min pos)
    assert out[2]["n_removed_tokens"] == 4
    assert out[2]["kept_text"] == ""  # every token removed
    assert out[3]["kept_text"] == "totally different words here"
