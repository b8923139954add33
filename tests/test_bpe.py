"""Distributed BPE trainer/tokenizer (operators/bpe.py) — semantics pins.

The full-corpus cross-engine value-hash runs in test_oracle_parity; these
pin the algorithmic edges directly: deterministic tie-break, greedy
left-to-right overlap handling, trainer/tokenizer consistency, and the
chunker-protocol pluggability that makes the trained vocab a real C5
tokenizer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_merge_fold_greedy_overlap(spark):
    """'aaaa' with merge (a,a) must become (aa)(aa), and 'aaa' (aa)(a) —
    non-overlapping left-to-right, the subword-nmt re.sub semantics."""
    from docling_core_spark.operators.bpe import apply_merges

    words = spark.createDataFrame([("aaaa",), ("aaa",), ("bab",)], ["word"])
    got = {r["word"]: r["tokens"] for r in apply_merges(words, [("a", "a")]).collect()}
    assert got["aaaa"] == ["aa", "aa", "</w>"]
    assert got["aaa"] == ["aa", "a", "</w>"]
    assert got["bab"] == ["b", "a", "b", "</w>"]


def test_train_tiebreak_lexicographic(spark):
    """Equal-count pairs resolve to the lexicographically smallest (a, b) —
    the cross-engine determinism contract."""
    from docling_core_spark.operators.bpe import bpe_train

    # 'xy' and 'xz' both appear 3 times -> pairs (x,y)/(x,z)/(y,</w>)/(z,</w>)
    # all count 3; min lexicographic is (x,y)
    docs = spark.createDataFrame(
        [(1, "xy xz xy xz xy xz")], ["doc_id", "text"]
    )
    first = bpe_train(docs, num_merges=1).first()
    assert (first["left"], first["right"]) == ("x", "y")
    assert first["pair_count"] == 3


def test_train_early_stop_below_min_count(spark):
    from docling_core_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "ab cd ef")], ["doc_id", "text"])
    # every pair occurs once < min_pair_count=2 -> zero merges
    assert bpe_train(docs, num_merges=10).count() == 0


def test_tokenizer_counts_match_distributed_tokenize(spark):
    """BPETokenizer (pure-python runtime) must agree with the distributed
    bpe_tokenize on total subword counts per document."""
    from docling_core_spark.operators.bpe import (
        BPETokenizer,
        bpe_tokenize,
        bpe_train,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    merges_df = bpe_train(docs, num_merges=20)
    tok = BPETokenizer.from_merges_df(merges_df)
    dist = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_tokenize(docs, merges_df=merges_df).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        assert tok.count_tokens(r["text"]) == dist.get(r["doc_id"], 0)


def test_bpe_tokenizer_plugs_into_hybrid_chunker():
    """The trained vocab backs the chunker tokenizer protocol: HybridChunker
    accepts a BPETokenizer and respects its budget (C5 realism path)."""
    from docling_core_spark.functions.chunkers import HybridChunker
    from docling_core_spark.model.doc import Doc
    from docling_core_spark.operators.bpe import BPETokenizer

    # hand-rolled tiny vocab: common English merges
    tok = BPETokenizer(
        [("t", "h"), ("th", "e"), ("the", "</w>"), ("e", "</w>")],
        max_tokens=16,
    )
    doc = Doc(name="bpe")
    for i in range(8):
        doc.add_text(label="text", text=f"the quick brown fox number {i} jumps again")
    chunks = list(HybridChunker(tokenizer=tok).chunk(doc))
    assert len(chunks) > 1  # budget forces splitting
    for c in chunks:
        assert tok.count_tokens(c["text"]) <= 16


def test_train_plan_has_no_window(spark):
    """Pair counting is a partial-aggregating hash-agg, never a window."""
    from docling_core_spark.operators.bpe import (
        _adjacent_pairs,
        _initial_symbols,
        word_freqs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = word_freqs(docs).select(
        "freq", _initial_symbols(F.col("word")).alias("symbols")
    )
    plan = _adjacent_pairs(words)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_extract_chunks_bpe_differs_from_regex(spark):
    """The trained tokenizer must actually drive the chunk budget: token
    counts (and typically boundaries) differ from the regex proxy on the
    same corpus — the integration is not a pass-through."""
    import __spark_entry__ as e

    bpe_chunks = e.queries()["extract_chunks_bpe"](spark, SF_DIR).collect()
    reg_chunks = (
        e.queries()["extract_chunks"](spark, SF_DIR)
        .select("url", "chunk_idx", "n_tokens")
        .collect()
    )
    assert bpe_chunks and reg_chunks
    bpe_tok = {(r.url, r.chunk_idx): r.n_tokens for r in bpe_chunks}
    reg_tok = {(r.url, r.chunk_idx): r.n_tokens for r in reg_chunks}
    # subword counts exceed word-level counts for the same text; at least
    # some chunks must disagree (same counts everywhere = vacuous plumbing)
    common = set(bpe_tok) & set(reg_tok)
    assert common
    assert any(bpe_tok[k] != reg_tok[k] for k in common)


def test_batched_training_matches_sequential_when_disjoint(spark):
    """merges_per_round > 1 equals sequential training when the top pairs
    are symbol-disjoint (and is a valid deterministic vocab regardless)."""
    from docling_core_spark.operators.bpe import bpe_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    seq = [
        (r["rank"], r["left"], r["right"])
        for r in bpe_train(docs, num_merges=12).collect()
    ]
    bat = [
        (r["rank"], r["left"], r["right"])
        for r in bpe_train(docs, num_merges=12, merges_per_round=4).collect()
    ]
    assert len(bat) == len(seq) == 12
    # both orders are deterministic and ranks dense; the PAIR sets agree
    # heavily on real text (top English pairs are symbol-disjoint), though
    # ranks may interleave differently (the documented approximation)
    assert [r for r, _, _ in bat] == list(range(12))
    # guaranteed: the first selection sees identical counts in both modes
    assert bat[0][1:] == seq[0][1:]
    # the pair sets overlap substantially but NOT fully — the documented
    # approximation is real (a same-round merge can create a pair that
    # sequential training would have ranked next); this fixture measures 7/12
    seq_pairs = {(a, b) for _, a, b in seq}
    bat_pairs = {(a, b) for _, a, b in bat}
    assert len(bat_pairs & seq_pairs) >= 6


def test_batched_training_fewer_driver_rounds(spark):
    """The batch path must reach the same merge count without one job per
    merge: 12 merges at K=4 is 3 rounds (pinned indirectly by wall-clock
    being far below sequential is flaky on a shared host, so pin the
    mechanism: a batch is symbol-disjoint by construction)."""
    from docling_core_spark.operators.bpe import _select_disjoint_batch

    cands = [
        {"nc": -10, "a": "t", "b": "h"},
        {"nc": -9, "a": "th", "b": "e"},   # collides with 'th'? no — 'th' is
                                            # the MERGED output of (t,h)
        {"nc": -8, "a": "e", "b": "r"},
        {"nc": -7, "a": "a", "b": "n"},
    ]
    batch = _select_disjoint_batch(cands, 4, 2)
    # (t,h) claims t,h,th; (th,e) collides on 'th'; (e,r) ok; (a,n) ok
    assert batch == [("t", "h", 10), ("e", "r", 8), ("a", "n", 7)]


def test_batched_training_scales_to_larger_vocab(spark):
    """The vocab-size knob in action: 128 merges at K=16 completes in 8
    driver rounds with a bounded plan (RDD-backed words frame each round)
    and yields a well-formed dense-ranked merge table."""
    from docling_core_spark.operators.bpe import BPETokenizer, bpe_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = bpe_train(docs, num_merges=128, merges_per_round=16).collect()
    assert [r["rank"] for r in merges] == list(range(len(merges)))
    assert len(merges) >= 64  # corpus supports a deep vocab
    # counts are non-negative-monotone within a round only; globally every
    # recorded pair met the min count
    assert all(r["pair_count"] >= 2 for r in merges)
    # the trained vocab round-trips through the runtime tokenizer
    tok = BPETokenizer([(r["left"], r["right"]) for r in merges])
    n = tok.count_tokens("the quick brown fox jumps over the lazy dog")
    assert 0 < n < 50


def test_train_empty_and_whitespace_corpus(spark):
    """Empty or all-whitespace corpora yield an EMPTY merge table on both
    the sequential and batched paths (no null-row crash from the global
    min over zero pairs)."""
    from docling_core_spark.operators.bpe import bpe_train, bpe_tokenize

    empty = spark.createDataFrame([], "doc_id long, text string")
    ws = spark.createDataFrame([(1, "   "), (2, "")], "doc_id long, text string")
    for docs in (empty, ws):
        assert bpe_train(docs, num_merges=5).count() == 0
        assert bpe_train(docs, num_merges=5, merges_per_round=4).count() == 0
        assert bpe_tokenize(docs, num_merges=5).count() == 0


def test_training_and_replay_bound_blockmanager_storage(spark):
    """Round-8 ADVICE: the per-round localCheckpoints must not accumulate —
    superseded rounds unpersist as the loop advances, so a full train +
    replay leaves only a handful of persisted RDDs (was: one pinned copy of
    the word table per merge, ~num_merges copies for the whole job)."""
    from docling_core_spark.operators.bpe import bpe_tokenize

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert bpe_tokenize(docs, num_merges=40).count() > 0
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    # train leaves <=2 live round checkpoints; replay <=2 window checkpoints
    assert after - before <= 4, f"leaked {after - before} persisted RDDs"
