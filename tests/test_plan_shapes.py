"""Physical-plan shape guards for the scale-path guarantees.

These pin the properties the 100 TB design depends on, so a refactor that
silently reintroduces a shuffle, a window, or a driver-side loop fails a
test instead of a plan audit:
- the IVF index build is map-side (no exchange between the scan and the
  broadcast probe join, no window);
- the keyed aggregations run with map-side partial aggregation;
- `SPARK_GRAFT_CANONICAL=0` removes the trailing global sort;
- the extraction stage is map-only (mapInPandas straight over the scan).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_ivf_build_is_map_side(emb):
    from docling_core_spark.operators.similarity import ivf_topk

    plan = _plan(ivf_topk(emb))
    assert "Window" not in plan
    # broadcast exchanges only — no hash/range repartitioning anywhere in
    # the assignment path (the TakeOrdered top-k needs no exchange either)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    # r9: the seed-centroid TakeOrdered is localCheckpoint'ed (it feeds the
    # assignment collect AND the probe broadcast), so embeddings is read
    # exactly 2x — the main scan and the query row; centroids come from the
    # checkpointed ExistingRDD
    assert plan.count("FileScan") == 2
    assert "ExistingRDD" in plan


def test_embedding_dedup_sort_is_gated(emb, monkeypatch):
    from docling_core_spark.operators.similarity import embedding_cosine_dedup

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(embedding_cosine_dedup(emb))
    # what the gate must drop is the trailing GLOBAL sort of the pair
    # output (range exchange + sort); since round 8 there is no bucket-cap
    # window either (cap_hot_buckets hash gate)
    assert "Exchange rangepartitioning" not in plan
    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "1")
    assert "Exchange rangepartitioning" in _plan(embedding_cosine_dedup(emb))


def test_repetition_scores_partial_aggregation(docs):
    from docling_core_spark.operators.textstats import repetition_scores

    plan = _plan(repetition_scores(docs))
    assert "partial_count" in plan and "partial_sum" in plan
    assert "Window" not in plan


def test_canonical_off_drops_sort(docs, monkeypatch):
    from docling_core_spark.operators.pii import pii_redact
    from docling_core_spark.operators.textstats import (
        gopher_quality_filter,
        language_id,
        quality_scores,
        text_clean,
        url_normalized,
    )

    from docling_core_spark.operators.textstats import (
        url_filter,
        url_filter_demo_expr,
        winnowing_fingerprints,
    )
    from pyspark.sql import functions as F

    def url_filter_demo(d):
        return url_filter(
            d.select(
                "doc_id", url_filter_demo_expr(F.col("doc_id")).alias("url")
            )
        )

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    for op in (language_id, quality_scores, gopher_quality_filter, text_clean, url_normalized, pii_redact, winnowing_fingerprints, url_filter_demo):
        plan = _plan(op(docs))
        assert "Sort" not in plan
        assert "Exchange" not in plan  # map-only end to end
    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "1")
    assert "Sort" in _plan(language_id(docs))


def test_extract_stage_is_map_only(spark):
    from docling_core_spark.operators.extract import extract_pages
    from docling_core_spark.sources.web_pages import web_pages_df

    pages = web_pages_df(spark, SF_DIR)
    plan = _plan(extract_pages(pages))
    assert "MapInPandas" in plan
    # the only exchange is the input-prep repartition inside web_pages_df
    # (spreading the single-file synthetic scan); the extract stage itself
    # adds none — its MapInPandas sits ABOVE that exchange in the plan
    assert plan.count("Exchange") == 1
    assert plan.index("MapInPandas") < plan.index("Exchange")
    assert "Window" not in plan


def test_sample_by_hash_filter_reaches_scan(docs, monkeypatch):
    from docling_core_spark.operators.textstats import sample_by_hash

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(sample_by_hash(docs))
    # the md5-threshold predicate is evaluated at the scan (DataFilters),
    # and without canonicalization nothing shuffles at all
    assert "Exchange" not in plan
    assert "conv(substring(md5" in plan


def test_curation_report_one_scan_one_agg(docs, monkeypatch):
    from docling_core_spark.operators.textstats import curation_report

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(curation_report(docs))
    # every signal is map-side; the single global aggregate combines with
    # map-side partials (one exchange carries one row per partition)
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan and "partial_sum" in plan
    assert "Window" not in plan


def test_mix_corpora_broadcasts_rates(docs, monkeypatch):
    from docling_core_spark.operators.textstats import mix_corpora

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(mix_corpora(docs))
    # the per-source rates come back via a broadcast join, never a
    # sort-merge shuffle of the corpus on lang; no window anywhere
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_latest_crawl_partial_max_no_window(docs, monkeypatch):
    from docling_core_spark.operators.textstats import latest_crawl, recrawl_demo_docs

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(latest_crawl(recrawl_demo_docs(docs)))
    # newest-fetch selection is a max-struct agg with map-side partials —
    # a hot url combines locally, never a window sort in one task
    assert "Window" not in plan
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1


def test_split_skew_single_scan_single_exchange(spark):
    from pyspark.sql import functions as F

    from docling_core_spark.operators.extract import extract_pages, split_skew

    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "cast(doc_id as string) AS url",
        "cast(text as binary) AS html",
        "lang",
    )
    plan = _plan(extract_pages(split_skew(pages)))
    # the r5 rewrite: skew routing costs ONE scan and ONE exchange — the
    # old filter+union design read the input twice
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1

    # jumbo isolation: a row over the jumbo threshold gets a unique routing
    # key, so it must not share a partition with any normal row here
    big = pages.limit(1).withColumn("html", F.expr("repeat(cast('x' as binary), 300000)"))
    mixed = pages.limit(40).unionByName(big)
    # explicit wide headroom: 8 normal buckets in 136 partitions — the jumbo
    # key landing on a normal bucket's partition is a fixed (deterministic)
    # hash outcome with ~6% a-priori odds; pinned green at these parameters
    parts = split_skew(
        mixed, jumbo_bytes=200_000, normal_partitions=8, jumbo_partitions=64
    ).withColumn("pid", F.spark_partition_id())
    jumbo_pid = parts.filter(F.length("html") > 200_000).select("pid").first()["pid"]
    sharing = parts.filter(
        (F.col("pid") == jumbo_pid) & (F.length("html") <= 200_000)
    ).count()
    assert sharing == 0


def test_corpus_prep_pipeline_is_one_scan_one_shuffle(docs, monkeypatch):
    from docling_core_spark.operators.textstats import corpus_prep_pipeline

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(corpus_prep_pipeline(docs))
    # composition stays linear: sampling predicate at the scan, cleanup +
    # quality filter map-side, and the ONLY shuffle is the fingerprint
    # aggregation for representative selection
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1
    assert "conv(substring(md5" in plan  # sampling filter present at scan
    # the representative selection is a min_by hash-agg WITH map-side
    # partial aggregation (a hot boilerplate fingerprint combines locally),
    # not a row_number window (which sorts the whole group in one task)
    assert "Window" not in plan
    assert "partial_min_by" in plan


def test_lsh_bucket_caps_have_no_window(docs, emb):
    """The minhash/simhash/embedding skew caps are two-phase partial-agg +
    broadcast hash gates — never a row_number window (which would sort an
    unbounded hot bucket in one task).  Pins the round-7 cap_hot_buckets
    rewrite, extended to embedding_cosine_dedup in round 8 (the last
    row_number bucket cap in the repo)."""
    from docling_core_spark.operators.dedup import (
        minhash_lsh_duplicates,
        simhash_duplicates,
    )
    from docling_core_spark.operators.similarity import embedding_cosine_dedup

    for df in (
        minhash_lsh_duplicates(docs),
        simhash_duplicates(docs),
        embedding_cosine_dedup(emb),
    ):
        plan = _plan(df)
        assert "Window" not in plan
        # the oversized-bucket key set is broadcast, not shuffled
        assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


def test_extract_chunks_bpe_sort_is_gated(spark, monkeypatch):
    """Round-8: the extract_chunks_bpe wrapper must route its trailing sort
    through canonical_order so SPARK_GRAFT_CANONICAL=0 drops the global Sort
    (a 10^9-chunk run never pays a range exchange).  bpe_train is stubbed to
    a fixed merge list — this pins the SORT gate, not the trainer (which has
    its own plan pins in test_bpe.py)."""
    import __spark_entry__ as e
    from docling_core_spark.operators import bpe

    def _tiny_train(docs, **kw):
        return spark.createDataFrame(
            [(0, "t", "h"), (1, "th", "e")], "rank int, left string, right string"
        )

    monkeypatch.setattr(bpe, "bpe_train", _tiny_train)
    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(e._extract_chunks_bpe(spark, SF_DIR))
    assert "Exchange rangepartitioning" not in plan
    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "1")
    assert "Exchange rangepartitioning" in _plan(e._extract_chunks_bpe(spark, SF_DIR))


def test_lm_score_model_joins_are_broadcast(docs):
    """CCNet scoring: the crawl-side bigram stream joins the five model
    relations (vocab x2, uni x2, bi) + the consts row with BROADCAST joins
    only — the corpus never shuffles on content (the only hash exchanges
    are the model-training aggregations and the per-doc rollup), and there
    is no window or sort-merge join anywhere."""
    from docling_core_spark.operators.lm import lm_score

    plan = _plan(lm_score(docs))
    assert "Window" not in plan
    # content-side joins all broadcast; the single allowed SMJ is the
    # final doc_id join-back (key-only, stats-blind planned form of the
    # checkpointed model side — AQE converts at runtime)
    assert plan.count("SortMergeJoin") <= 1
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id" in line
    assert plan.count("BroadcastHashJoin") >= 5
    assert "partial_" in plan  # map-side partials on the per-doc rollup


def test_classifier_scoring_is_map_side(docs, monkeypatch):
    """Offline-trained model + score = ONE scan, ZERO data shuffles: the
    weights ride a broadcast, features fold per row, no window.  This is
    the fastText deployment shape the streaming wrapper relies on."""
    from docling_core_spark.operators.classifier import classifier_score

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(classifier_score(docs, dims=256, model=([0.0] * 256, 0.1)))
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("FileScan") == 1


def test_dsir_select_topk_is_take_ordered(docs, monkeypatch):
    """DSIR's Gumbel top-k compiles to TakeOrdered (per-partition heaps +
    driver merge of k rows), never a global sort, and the bucket-model /
    flag joins are windowless; the localCheckpoint diamond cut bounds the
    plan (ExistingRDD present)."""
    from docling_core_spark.operators.dsir import dsir_select

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(dsir_select(docs))
    assert "Window" not in plan
    assert plan.count("TakeOrdered") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "ExistingRDD" in plan


def test_exact_substring_dedup_is_windowless(docs):
    """Lee-2021 span dedup: ONE fingerprint hash-agg with map-side
    partials picks keepers (min-struct, combines locally on hot
    boilerplate); no window functions and no sort-merge joins anywhere —
    the whole pipeline is hash-agg + broadcast/hash joins."""
    from docling_core_spark.operators.dedup import exact_substring_dedup

    plan = _plan(exact_substring_dedup(docs))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan


def test_semdedup_is_windowless_and_capped(emb):
    """SemDeDup: centroid folds ride broadcasts, the within-cluster pair
    join is the only content shuffle (cluster_id-keyed, cap_hot_buckets
    bounds the hot cluster first), and there is no window anywhere."""
    from docling_core_spark.operators.similarity import semdedup

    plan = _plan(semdedup(emb))
    assert "Window" not in plan
    # r9: the within-cluster pair stage is one numpy gemm per cluster group
    # (FlatMapGroupsInPandas) instead of the interpreted self-join; the
    # centroid folds still ride broadcasts and the cap gate still joins its
    # oversized-bucket counts broadcast-side
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_fineweb_prep_is_one_scan_one_exchange(docs, monkeypatch):
    """The full published curation stack (url -> clean -> Gopher -> C4 ->
    dedup representative -> PII) compiles to ONE scan and ONE hash
    exchange: stages 1-4 and 6 are map-side, the fingerprint min_by agg is
    the only shuffle and keeps map-side partials — the corpus_prep
    contract extended to the end-to-end FineWeb chain."""
    from docling_core_spark.operators import fineweb as fw

    monkeypatch.setenv("SPARK_GRAFT_CANONICAL", "0")
    plan = _plan(fw.fineweb_prep(fw.fineweb_demo_docs(docs)))
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min_by" in plan


def test_pinned_filter_stays_at_its_stage(spark):
    """canon.pushdown_pinned_filter keeps the filter above the projection
    that defines the column it reads, so the defining expression is not
    inlined into a pushed-down Filter.  Guards the Catalyst determinism
    gates (PushDownPredicates, CollapseProject) the pin relies on."""
    from pyspark.sql import functions as F

    from docling_core_spark.operators.canon import pushdown_pinned_filter

    df = spark.range(8).withColumn("y", F.sha2(F.col("id").cast("string"), 256))
    keep = F.col("y") != "z"

    def optimized(out) -> str:
        return out._jdf.queryExecution().optimizedPlan().toString()

    # premise: an unpinned filter gets the expression inlined below the Project
    assert optimized(df.filter(keep)).count("sha2(") == 2
    pinned = pushdown_pinned_filter(df, keep)
    assert optimized(pinned).count("sha2(") == 1
    assert pinned.columns == df.columns
    assert sorted(pinned.collect()) == sorted(df.filter(keep).collect())
