"""Sequence-packing operator: greedy next-fit semantics + plan shape."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=900), max_size=60),
    max_tokens=st.integers(min_value=1, max_value=600),
)
@settings(max_examples=200, deadline=None)
def test_pack_properties(tokens, max_tokens):
    from docling_core_spark.operators.packing import pack_doc_chunks

    chunks = list(enumerate(tokens))
    seqs = pack_doc_chunks("u", chunks, max_tokens)
    # every chunk appears exactly once, in order
    flat = [int(i) for s in seqs for i in (s["chunk_idxs"].split("|") if s["chunk_idxs"] else [])]
    assert flat == [i for i, _ in chunks]
    # token totals conserved
    assert sum(s["total_tokens"] for s in seqs) == sum(tokens)
    for k, s in enumerate(seqs):
        assert s["seq_idx"] == k and s["seq_id"] == f"u#{k}"
        # a sequence only exceeds the budget when flagged oversize, which by
        # greedy next-fit implies it is a single jumbo chunk
        if s["total_tokens"] > max_tokens:
            assert s["oversize"] and s["n_chunks"] == 1
        else:
            assert not s["oversize"]
    # greedy tightness: no sequence could have absorbed its successor's
    # first chunk (except after an oversize singleton, which closes cur)
    for a, b in zip(seqs, seqs[1:]):
        first_next = int(b["chunk_idxs"].split("|")[0])
        assert a["total_tokens"] + tokens[first_next] > max_tokens or a["oversize"]


def test_pack_doc_chunks_greedy_next_fit():
    from docling_core_spark.operators.packing import pack_doc_chunks

    # budget 10: [4,4] closes at 8 (next 4 overflows), [4,3] at 7, [9] alone
    seqs = pack_doc_chunks("u", [(0, 4), (1, 4), (2, 4), (3, 3), (4, 9)], max_tokens=10)
    assert [(s["chunk_idxs"], s["total_tokens"]) for s in seqs] == [
        ("0|1", 8),
        ("2|3", 7),
        ("4", 9),
    ]
    assert [s["seq_id"] for s in seqs] == ["u#0", "u#1", "u#2"]
    assert all(not s["oversize"] for s in seqs)
    assert seqs[0]["fill_frac"] == 0.8


def test_pack_doc_chunks_oversize_chunk():
    from docling_core_spark.operators.packing import pack_doc_chunks

    seqs = pack_doc_chunks("u", [(0, 3), (1, 25), (2, 3)], max_tokens=10)
    # the jumbo chunk gets its own flagged sequence; packing continues after
    assert [(s["chunk_idxs"], s["oversize"]) for s in seqs] == [
        ("0", False),
        ("1", True),
        ("2", False),
    ]


def test_pack_sequences_spark_matches_core(spark):
    from docling_core_spark.operators.packing import pack_doc_chunks, pack_sequences

    rows = [
        ("a", 0, 200), ("a", 1, 200), ("a", 2, 200), ("a", 3, 100),
        ("b", 0, 600),  # oversize
        ("c", 0, 512),  # exact fit
    ]
    df = spark.createDataFrame(rows, "url string, chunk_idx int, n_tokens int")
    got = [tuple(r) for r in pack_sequences(df).collect()]
    expected = []
    for url in ("a", "b", "c"):
        expected.extend(
            tuple(d.values())
            for d in pack_doc_chunks(
                url, [(i, t) for u, i, t in rows if u == url]
            )
        )
    assert got == expected


def test_pack_sequences_plan_one_exchange(spark, monkeypatch):
    from docling_core_spark.operators.packing import pack_sequences

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    df = spark.createDataFrame(
        [("u", 0, 5)], "url string, chunk_idx int, n_tokens int"
    )
    plan = pack_sequences(df)._jdf.queryExecution().executedPlan().toString()
    # one url shuffle into the Arrow-batched group map — no window, no sort
    # beyond the per-group pandas sort, no second exchange
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan or "MapGroups" in plan
    assert "Window" not in plan
