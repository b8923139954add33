"""Deduplication operators over the documents table.

Scale design:
- exact dedup: one hash-aggregate shuffle on the 32-byte fingerprint (not the
  document text) — the canonical 100 TB pattern.
- MinHash+LSH near-dup: shingle -> k minhashes -> b bands -> bucket-join.
  Candidate generation is a self-join on (band, bucket) keys only; full
  Jaccard is verified on candidates. No O(n^2) stage anywhere.
- SimHash: 60-bit signature via per-token bit-voting on an md5-derived hash
  (cross-engine reproducible), banded into 4x15-bit keys so any pair at
  Hamming distance <= 3 shares at least one band (pigeonhole); candidates are
  verified with popcount(xor) — a real near-dup operator, not equality.

Every operator here is value-hash oracle-checked: exact dedup, n-gram
Jaccard and SimHash against DuckDB SQL; MinHash (JVM-side xxhash64) against
the single-process expected run via the pure-python xxhash64 replica.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.hashing import (
    fingerprint,
    fingerprint_sql,
    hash60,
    hash60_sql,
    sample_gate,
    sample_gate_sql,
)

NORM = lambda c: F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", "")  # noqa: E731


def with_synthetic_duplicates(
    docs: DataFrame,
    rate: float = 0.1,
    seed: str = "dup42",
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Union the corpus with a re-keyed deterministic subset — a
    duplicate-bearing input for exercising the POSITIVE dedup paths.

    The synthetic test corpus contains no natural exact duplicates, so a
    dedup query run on it alone is green-but-vacuous (0 rows: group assembly,
    id caps, and pair emission never execute).  Cloning a deterministic
    md5-sampled ``rate`` of documents under ``doc_id + id_offset`` gives
    every engine the same known duplicate groups.  Map-only; both branches
    read one scan each (the clone branch's sampling predicate pushes down).
    """
    clones = docs.filter(sample_gate("doc_id", seed, rate)).select(
        (F.col("doc_id") + id_offset).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(clones)


def with_synthetic_duplicates_sql(
    table: str = "documents",
    rate: float = 0.1,
    seed: str = "dup42",
    id_offset: int = 1_000_000,
) -> str:
    """The with_synthetic_duplicates transformation as a DuckDB CTE body."""
    return f"""
  SELECT doc_id, text FROM {table}
  UNION ALL
  SELECT doc_id + {id_offset} AS doc_id, text FROM {table}
  WHERE {sample_gate_sql("doc_id", seed, rate)}
"""


def exact_duplicates(docs: DataFrame, max_group_ids: int = 256) -> DataFrame:
    """Groups of documents with identical normalized content.

    Returns (fingerprint, n_docs, keep_doc_id, doc_ids) for groups with
    more than one member.  Single shuffle on the fingerprint.  doc_ids is a
    "|"-joined sorted id string (scalar at the driver boundary by contract),
    capped at max_group_ids entries so a mass-boilerplate fingerprint cannot
    materialize an unbounded aggregation value at 100x data; n_docs still
    counts the full group.
    """
    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_group_ids),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .transform(lambda d: canonical_order(d, "fingerprint"))
    )


def exact_duplicates_sql(table: str = "documents", max_group_ids: int = 256) -> str:
    """DuckDB oracle SQL for exact_duplicates (same doc_ids cap)."""
    return f"""
SELECT fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id,
       array_to_string(list_sort(list(doc_id))[1:{max_group_ids}], '|') AS doc_ids
FROM (
  SELECT doc_id, {fingerprint_sql("text")} AS fingerprint
  FROM {table}
)
GROUP BY fingerprint
HAVING COUNT(*) > 1
ORDER BY fingerprint
"""


def norm_words(col):
    """Normalized word array (lowercase, [a-z0-9 ] only, whitespace split).

    ALWAYS materialize this into its own projection
    (``df.select(..., norm_words(col).alias("w")).select(... grams ...)``)
    before building shingles from it: interpreted HOF expressions get NO
    common-subexpression elimination, so every reference to a non-attribute
    words expression re-runs the regex+split per row — materialization
    measured 7-8x faster at sf0.1 (round 6)."""
    return F.split(F.trim(NORM(col)), r"\s+")


def shingle_grams(words, n: int = 3):
    """Word n-gram shingles from a MATERIALIZED words-array column.

    Built by LOGARITHMIC DOUBLING of zip_with stages: width-2^k gram arrays
    combine pairwise (g4[i] = g2[i] + " " + g2[i+2]), then the binary
    decomposition of n composes the final width — ceil(log2 n) +
    popcount(n) - 1 zip_with stages instead of n-1.  The doubling doubles
    the number of references to ``words`` per level, which is why the input
    must be an attribute (see norm_words): on a raw expression the
    re-evaluation swamps the stage savings.  transform+slice (column start
    index, interpreted per element) and element_at are 8-20x slower —
    rejected by measurement in rounds 2 and 6.
    """
    sz = F.size(words)

    def shift(arr, k: int):
        return F.slice(arr, k + 1, F.greatest(sz - k, F.lit(0)))

    def combine(a, b):
        # zip_with pads the shorter (shifted) side with nulls; nulls mark
        # grams that would run off the end and propagate to the final filter
        return F.zip_with(
            a,
            b,
            lambda x, y: F.when(x.isNull() | y.isNull(), None).otherwise(
                F.concat_ws(" ", x, y)
            ),
        )

    # power-of-two gram widths: powers[k] has width 2^k, anchored at i
    powers = [words]
    width = 1
    while width * 2 <= n:
        powers.append(combine(powers[-1], shift(powers[-1], width)))
        width *= 2
    # binary decomposition of n, widest first; each part shifts by the
    # width accumulated so far
    acc = None
    acc_w = 0
    for k in range(len(powers) - 1, -1, -1):
        w = 1 << k
        if acc_w + w <= n:
            part = powers[k]
            acc = part if acc is None else combine(acc, shift(part, acc_w))
            acc_w += w
        if acc_w == n:
            break
    grams = F.filter(acc, lambda x: x.isNotNull())
    return F.when(sz < n, F.array(F.concat_ws(" ", words))).otherwise(grams)


def _shingles(col, n: int = 3):
    """Shingles straight from a text column — convenience for single-use
    contexts; operators on the hot path use norm_words + shingle_grams with
    a materializing projection instead."""
    return shingle_grams(norm_words(col), n)


def cap_hot_buckets(
    banded: DataFrame, keys: tuple, max_bucket_size: int, id_col: str = "doc_id"
) -> DataFrame:
    """Skew-safe LSH bucket cap: two-phase count + broadcast + hash gate.

    Phase 1 counts bucket sizes with an ordinary hash-aggregate (map-side
    partials absorb hot keys locally) and keeps only the OVERSIZED bucket
    keys — a tiny frame at any scale (a 100 TB crawl has few mass-boilerplate
    buckets, by definition of "oversized").  Phase 2 broadcasts that key set
    and thins members of oversized buckets with a deterministic per-row gate:
    keep iff ``hash60(id_col:*keys) % bucket_count < max_bucket_size`` —
    expected ``max_bucket_size`` survivors per hot bucket, every row decided
    independently map-side.  No window, no per-bucket sort, no single task
    ever holds a whole hot bucket (the row_number cap this replaces sorted
    the ENTIRE bucket in one task — the exact skew it was defending against).

    The gate hash is the cross-engine hash60 (operators.hashing) so the
    DuckDB / pure-python oracles replicate the surviving set exactly.
    """
    # diamond reuse: the banded frame feeds BOTH the count phase and the
    # gate join, and Spark compiles shared Python subplans twice (no
    # ReusedExchange for logically-identical subtrees — round-5 finding), so
    # without a cut the expensive signature computation upstream would run
    # twice.  A lazy localCheckpoint materializes it once at first action
    # and both phases read the same RDD.
    banded = banded.localCheckpoint(eager=False)
    counts = (
        banded.groupBy(*keys).count().filter(F.col("count") > max_bucket_size)
    )
    gate_src = F.concat_ws(":", F.col(id_col), *[F.col(k) for k in keys])
    gate = hash60(gate_src)
    return (
        banded.join(F.broadcast(counts), list(keys), "left")
        .filter(
            F.col("count").isNull()
            | (F.pmod(gate, F.col("count")) < F.lit(max_bucket_size))
        )
        .drop("count")
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = 32, shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig: array<bigint>) MinHash signatures.

    Hash family: xxhash64(shingle, seed=i) — JVM-side, vectorized, no UDF.
    """
    sh = docs.select("doc_id", norm_words(F.col("text")).alias("w")).select(
        "doc_id",
        F.explode(F.array_distinct(shingle_grams(F.col("w"), shingle_n))).alias("shingle"),
    )
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_duplicates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + shingle-set verification.

    1. signatures (one shuffle), 2. explode to (band, band_hash) buckets,
    3. self-join within buckets (candidates only), 4. verify candidates by
    exact Jaccard on distinct shingle sets.

    Degenerate-content skew guard: oversized buckets are thinned to an
    expected max_bucket_size members by the two-phase count + broadcast +
    deterministic hash gate (cap_hot_buckets — no window, no per-bucket
    sort) so one boilerplate bucket can never go quadratic at 100x data.
    Identical docs beyond the cap are still caught by exact_duplicates;
    near-identical mass duplicates keep ~max_bucket_size representatives
    per band.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, shingle_n)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws("_", F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    banded = cap_hot_buckets(banded, ("band", "bucket"), max_bucket_size)
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # two consumers below (the cand_ids explode + the verify join) — cut
        # the diamond so the banded self-join runs once
        .localCheckpoint(eager=False)
    )
    # Verification only needs the shingle sets of docs that appear in a
    # candidate pair — a tiny fraction of the corpus once the LSH has done
    # its job.  Semi-join the corpus down FIRST so the expensive
    # norm+shingle expressions (and the join shuffle of the fat shingle
    # arrays) run over candidates only, not every document; the old plan
    # recomputed corpus-wide shingles twice (once per join side).  No
    # broadcast hint: AQE sees the runtime size of cand_ids and picks the
    # broadcast itself when small, so a pathological pair explosion still
    # degrades to a shuffle join instead of a driver OOM.  No .distinct():
    # left_semi is insensitive to duplicate build-side keys, so deduping
    # here would only add a shuffle+agg stage — the duplicate volume is the
    # same O(|pairs|) the verify joins below already shuffle (A/B: never
    # worse, ~5% at sparse-sf1; identical pair output on three corpora).
    cand_ids = cands.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    sh = (
        docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", norm_words(F.col("text")).alias("w"))
        .select(
            "doc_id",
            F.array_distinct(shingle_grams(F.col("w"), shingle_n)).alias("sh"),
        )
    )
    verified = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
        .transform(lambda d: canonical_order(d, "doc_a", "doc_b"))
    )
    return verified


def duplicate_clusters(
    docs: DataFrame,
    pairs: Optional[DataFrame] = None,
    max_iterations: int = 25,
    convergence_check_every: int = 2,
    checkpoint_every: int = 5,
    checkpoint_dir: Optional[str] = None,
    _fault_after_round: Optional[int] = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph (cluster assignment).

    The standard final step of corpus dedup: pairs -> components -> keep one
    doc per component.  Implemented as distributed min-label propagation:
    every node repeatedly adopts the smallest label among itself and its
    neighbours; converges in O(component diameter) rounds (dup clusters are
    near-cliques, so typically 2-3).  Each round is one join + one
    hash-aggregate; the loop runs on the driver but every step is
    distributed — at 10^12 rows this is the textbook iterative-join CC
    (GraphX/large-star equivalent for small-diameter graphs).

    Deep-diameter safety: the convergence check (a driver count) runs only
    every ``convergence_check_every`` rounds, and the label lineage is cut
    with ``localCheckpoint`` every ``checkpoint_every`` rounds so plan
    compilation does not balloon on chain-shaped graphs.

    Returns (doc_id, cluster_id, cluster_size) for every document that has at
    least one duplicate, cluster_id = min doc_id of the component.

    ``checkpoint_dir``: opt-in round-level resume (sources/checkpoint.py
    _rounds protocol).  The durable state of round i is the labels table:
    on each convergence-check round the labels are written to a per-round
    parquet (data BEFORE the commit record) and a restarted job reloads the
    last committed labels and continues propagation from round i+1 — the
    reload also serves as the plan cut.  ``_fault_after_round`` is the test
    chaos hook (raise after the commit, the window a real crash leaves).
    """
    if pairs is None:
        pairs = minhash_lsh_duplicates(docs)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    spark = pairs.sparkSession
    start_i = 0
    converged = False
    labels = None
    from docling_core_spark.sources.checkpoint import (
        commit_round,
        last_committed_round,
        prune_round_state,
        round_state_path,
    )

    _ckpt_params = {"op": "cc", "convergence_check_every": convergence_check_every}
    if checkpoint_dir is not None:
        rec = last_committed_round(checkpoint_dir, params=_ckpt_params)
        if rec is not None:
            start_i = rec["round"]
            converged = bool(rec.get("converged"))
            labels = spark.read.parquet(
                round_state_path(checkpoint_dir, start_i, "labels")
            ).cache()
    if labels is None:
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        ).cache()
    for i in range(start_i + 1, max_iterations + 1):
        if converged:
            break
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.node2, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
        )
        if i % checkpoint_every == 0:
            # truncate the logical plan, not just the execution (cache keeps
            # lineage; deep iteration would otherwise blow up plan compile)
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.cache()
        if i % convergence_check_every == 0 or i == max_iterations:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
            if checkpoint_dir is not None:
                state = round_state_path(checkpoint_dir, i, "labels")
                labels.write.mode("overwrite").parquet(state)
                commit_round(
                    checkpoint_dir, i, {"converged": converged}, params=_ckpt_params
                )
                # superseded rounds' state is dead storage (only the last
                # committed round is ever read on resume)
                prune_round_state(checkpoint_dir, i)
                if _fault_after_round is not None and i >= _fault_after_round:
                    raise RuntimeError(
                        f"injected fault after committed round {i} (chaos hook)"
                    )
            if converged:
                break
        else:
            labels.unpersist()
            labels = new_labels
    if not converged:
        import warnings

        warnings.warn(
            f"duplicate_clusters did not converge within {max_iterations} "
            "iterations (component diameter exceeds the cap); some components "
            "are split across cluster_ids — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def dedup_against(docs: DataFrame, known: DataFrame) -> DataFrame:
    """Incremental exact dedup: keep only documents whose normalized-content
    fingerprint does NOT appear in ``known`` (e.g. the previous crawl's
    corpus) — the standard new-batch-vs-history step of a rolling pipeline.

    Scale shape: one left_anti join keyed on the 32-byte fingerprint (both
    sides reduce to (key) columns before the shuffle; Spark's runtime Bloom
    filter prunes the probe side when the history is selective).  Returns
    (doc_id, fingerprint) for the surviving new documents.
    """
    fp = fingerprint(F.col("text"))
    new_fp = docs.select("doc_id", fp.alias("fingerprint"))
    known_fp = known.select(fp.alias("fingerprint")).distinct()
    return (
        new_fp.join(known_fp, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def dedup_against_sql(
    table: str = "documents", known_modulus: int = 4
) -> str:
    """DuckDB oracle for dedup_against(docs, docs where doc_id % m == 0)."""
    fp = fingerprint_sql("text")
    return f"""
SELECT doc_id, {fp} AS fingerprint
FROM {table}
WHERE {fp} NOT IN (
  SELECT DISTINCT {fp} FROM {table} WHERE doc_id % {known_modulus} = 0
)
ORDER BY doc_id
"""


def near_dedup_corpus(docs: DataFrame, pairs: Optional[DataFrame] = None) -> DataFrame:
    """End-to-end near-duplicate removal: LSH pairs -> connected components
    -> keep one representative (the min doc_id) per cluster -> surviving
    document ids.  The single-call form of the standard curation chain.

    Scale shape: inherits minhash_lsh_duplicates + duplicate_clusters
    (banded join, iterative min-label propagation); the final step is one
    left_anti join of ids against the non-representative cluster members.
    Returns (doc_id, is_cluster_rep): every surviving id, flagged when it
    represents a removed near-dup cluster.
    """
    clusters = duplicate_clusters(docs, pairs=pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", F.lit(True).alias("is_cluster_rep")
    )
    return (
        docs.select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .join(reps, "doc_id", "left")
        .select("doc_id", F.coalesce("is_cluster_rep", F.lit(False)).alias("is_cluster_rep"))
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, shingle_n: int = 3, threshold: float = 0.5, max_doc_id: int = 500
) -> DataFrame:
    """Exact n-gram Jaccard over a bounded id range (oracle-checkable variant).

    The bounded range keeps the O(n^2) verification DuckDB-friendly; the
    scale path is minhash_lsh_duplicates.
    """
    sub = docs.filter(F.col("doc_id") < max_doc_id)
    sh = sub.select("doc_id", norm_words(F.col("text")).alias("w")).select(
        "doc_id", F.array_distinct(shingle_grams(F.col("w"), shingle_n)).alias("sh")
    )
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.greatest(F.size(F.array_union("a.sh", "b.sh")), F.lit(1)),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .transform(lambda d: canonical_order(d, "doc_a", "doc_b"))
    )
    return pairs


def ngram_jaccard_pairs_sql(table: str = "documents", shingle_n: int = 3, threshold: float = 0.5, max_doc_id: int = 500) -> str:
    """DuckDB oracle SQL for ngram_jaccard_pairs."""
    return f"""
WITH normed AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), '\\s+') AS words
  FROM {table} WHERE doc_id < {max_doc_id}
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(words) < {shingle_n} THEN [array_to_string(words, ' ')]
              ELSE list_distinct([array_to_string(words[i+1:i+{shingle_n}], ' ')
                                  for i in range(0, len(words) - {shingle_n} + 1)])
         END AS sh
  FROM normed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))
             / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE, 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))
      / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE, 6) >= {threshold}
ORDER BY doc_a, doc_b
"""


SIMHASH_BITS = 60  # 15 hex chars of md5 -> always positive in a signed long
SIMHASH_BANDS = 4  # 4 x 15-bit bands: Hamming <= 3 implies >= 1 equal band


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash per document via token-hash bit voting (no UDF).

    Each distinct token votes +1/-1 per bit of its 60-bit hash; the signature
    sign-thresholds the votes.  One hash-aggregate shuffle on doc_id; the 60
    conditional sums are Catalyst-native whole-stage-codegen expressions.
    Tokens weighted by frequency are a trivial extension (drop array_distinct).
    The token hash is the cross-engine hash60, so DuckDB reproduces every
    signature bit.
    """
    tokens = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.trim(NORM(F.col("text"))), r"\s+"))).alias("tok")
    )
    h = tokens.withColumn("h", hash60(F.col("tok")))
    one = F.lit(1).cast("long")
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(0)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance <= max_hamming.

    Banded LSH on the signature: 4 x 15-bit band keys; by pigeonhole any pair
    within Hamming 3 collides on at least one band.  Candidates come from the
    (band, band_value) equi-join — never an all-pairs stage — and oversized
    buckets are thinned via the skew-safe two-phase hash gate
    (cap_hot_buckets, mirrored exactly in the oracle SQL) so a
    mass-boilerplate corpus cannot go quadratic.  Verified with
    popcount(xor).  Returns (doc_a, doc_b, hamming).
    """
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    sig = simhash_signatures(docs)
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            F.shiftright(F.col("simhash"), k * band_bits).bitwiseAND(F.lit(mask)).alias("bval"),
        )
        for k in range(SIMHASH_BANDS)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.bval")
    bands = cap_hot_buckets(bands, ("band", "bval"), max_bucket_size)
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .transform(lambda d: canonical_order(d, "doc_a", "doc_b"))
    )
    return pairs


def simhash_duplicates_sql(
    table: str = "documents", max_hamming: int = 3, max_bucket_size: int = 256
) -> str:
    """DuckDB oracle SQL for simhash_duplicates (same hash, banding, and cap)."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    # key of the deterministic md5-60 gate of cap_hot_buckets
    gate_key = " || ':' || ".join(f"CAST(a.{c} AS VARCHAR)" for c in ("doc_id", "band", "bval"))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), '\\s+')) AS tok
  FROM {table}
),
hashed AS (
  SELECT doc_id, {hash60_sql("tok")} AS h FROM toks
),
votes AS (
  SELECT doc_id, t.b,
         SUM(CASE WHEN (h >> CAST(t.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN range({SIMHASH_BITS}) t(b)
  GROUP BY doc_id, t.b
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
),
bands_all AS (
  SELECT doc_id, simhash, CAST(t.b AS INT) AS band,
         (simhash >> (CAST(t.b AS INT) * {band_bits})) & {mask} AS bval
  FROM sig CROSS JOIN range({SIMHASH_BANDS}) t(b)
),
-- skew-safe cap mirror (cap_hot_buckets): only oversized buckets thin
-- members via the deterministic md5-60 gate
bucket_counts AS (
  SELECT band, bval, COUNT(*) AS cnt FROM bands_all
  GROUP BY band, bval HAVING COUNT(*) > {max_bucket_size}
),
bands AS (
  SELECT a.doc_id, a.simhash, a.band, a.bval
  FROM bands_all a LEFT JOIN bucket_counts c
    ON a.band = c.band AND a.bval = c.bval
  WHERE c.cnt IS NULL
     OR ({hash60_sql(gate_key)} % c.cnt) < {max_bucket_size}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better", arXiv:2107.06499 §3.1 ExactSubstr): any
# token span of length >= L occurring more than once corpus-wide survives
# only in its first occurrence; every other occurrence is excised from the
# text (maximal duplicated regions collapse because every length-L window
# inside them is flagged and the flagged windows merge).
#
# The paper builds a corpus-global suffix array — inherently single-machine.
# The distributed re-expression: overlapping L-token windows fingerprint the
# same duplicated regions (a duplicated region of length M >= L flags all
# its M-L+1 windows, whose union covers the full region), so one window
# hash-aggregation replaces the suffix array.  Windows operate in the
# normalized-token space shared with the rest of the dedup family (NORM).
# ---------------------------------------------------------------------------

SPAN_TOKENS = 15


def exact_substring_dedup(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, n_removed_spans, n_removed_tokens,
    kept_text): corpus-wide exact-substring dedup at span length L.

    Keeper of a window fingerprint = lexicographically smallest
    (doc_id, pos); every other occurrence marks tokens [pos, pos+L) for
    removal; overlapping/contiguous removals merge into maximal spans;
    kept_text rebuilds the normalized tokens outside removed spans.  Docs
    shorter than L tokens have no windows (the paper's semantics: nothing
    below L can be an exact-substring duplicate).

    Scale shape (100 TB): window grams via the logarithmic zip_with
    composition over a MATERIALIZED token attribute (no-CSE rule); ONE
    fingerprint hash-aggregation with map-side partials (mass boilerplate
    combines locally); the dup-fingerprint join back is keyed on the
    fingerprint (AQE skew-join handles hot boilerplate); removed positions
    explode flagged windows (fan-out L, proportional to duplicated volume
    only) into a (doc_id, tpos) hash-distinct; the rebuild is a doc_id
    rollup + left_anti — no window functions, no per-doc quadratic HOFs,
    no driver loops.
    """
    L = span_tokens
    # empty tokens filtered like the oracle's list_filter (x <> ''): an
    # all-punctuation doc must normalize to ZERO tokens in both engines,
    # not Spark [''] vs DuckDB [] (latent divergence at span_tokens=1).
    # base is deliberately NOT checkpointed: it is corpus-sized, so
    # materializing it trades pipelined re-scans (which Spark runs inside
    # one job) for block-manager storage of the whole working set —
    # measured 10x slower at sf0.01.  The diamond rule cuts SMALL frames.
    base = docs.select(
        "doc_id",
        F.filter(norm_words(F.col("text")), lambda x: x != F.lit("")).alias("ws"),
    )
    eligible = base.filter(F.size("ws") >= L)
    wins = (
        eligible.select(
            "doc_id", F.posexplode(shingle_grams(F.col("ws"), L)).alias("pos0", "gram")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("gram").alias("fp"))
    )
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "pos")).alias("keep"), F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("fp", "keep")
    )
    # flagged/removed are duplicated-volume-sized; each feeds two
    # consumers — cut them too (wins itself stays uncut: its three
    # references re-run only the explode+hash over the MATERIALIZED
    # arrays, while storing it would cost ~32 bytes x L per token)
    flagged = (
        wins.join(dup_fps, "fp")
        .filter(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("pos") != F.col("keep.pos"))
        )
        .select("doc_id", "pos")
    )
    removed = (
        flagged.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))).alias(
                "tpos"
            ),
        )
        .distinct()
    )
    # merged-span count from sorted flagged starts: a start opens a new
    # maximal span iff its gap to the previous start exceeds L (all windows
    # share length L, so the merged end is always last_start + L)
    span_stats = flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows"),
        F.sort_array(F.collect_list("pos")).alias("starts"),
    )
    gaps = F.zip_with(
        F.expr("slice(starts, 2, size(starts))"),
        F.expr("slice(starts, 1, size(starts) - 1)"),
        lambda nxt, prv: (nxt - prv > F.lit(L)).cast("int"),
    )
    span_stats = span_stats.select(
        "doc_id",
        "n_dup_windows",
        (
            F.lit(1)
            + F.coalesce(F.aggregate(gaps, F.lit(0), lambda a, x: a + x), F.lit(0))
        ).cast("long").alias("n_removed_spans"),
    )
    removed_counts = removed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_removed_tokens")
    )
    # rebuild ONLY the docs that lost tokens: the untouched (vast) majority
    # gets kept_text = array_join(ws, ' ') map-side for free — exploding
    # the whole corpus to token rows and re-sorting every doc made the
    # "fan-out proportional to duplicated volume" claim false for this
    # stage (round-8 review finding)
    removed_docs = removed.select("doc_id").distinct()
    toks = (
        base.join(removed_docs, "doc_id")
        .select("doc_id", F.posexplode("ws").alias("tpos0", "w"))
        .select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "w")
    )
    rebuilt = (
        toks.join(removed, ["doc_id", "tpos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("rebuilt_text")
        )
    )
    totals = wins.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_windows"))
    # n_removed_tokens > 0 distinguishes "nothing removed -> joined" from
    # "everything removed -> ''" (a doc whose only window is a dup
    # non-keeper loses ALL tokens and has no rebuilt row)
    n_rm = F.coalesce("n_removed_tokens", F.lit(0))
    return (
        base.select("doc_id", F.array_join("ws", " ").alias("joined"))
        .join(totals, "doc_id", "left")
        .join(span_stats, "doc_id", "left")
        .join(removed_counts, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_removed_spans", F.lit(0)).alias("n_removed_spans"),
            n_rm.alias("n_removed_tokens"),
            F.when(n_rm > 0, F.coalesce("rebuilt_text", F.lit("")))
            .otherwise(F.col("joined"))
            .alias("kept_text"),
        )
        .transform(lambda d: canonical_order(d, "doc_id"))
    )


def exact_substring_dedup_sql(
    table: str = "documents",
    span_tokens: int = SPAN_TOKENS,
    leading_ctes: str = "",
) -> str:
    """DuckDB oracle (windows are fine oracle-side; Spark uses min-struct).

    ``leading_ctes``: extra CTE definitions (each ending with a comma) to
    prepend inside the WITH — callers compose input-synthesis fragments
    here instead of string-slicing the returned SQL (which silently breaks
    on any leading-whitespace/keyword change)."""
    L = span_tokens
    return f"""
WITH {leading_ctes}base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '[^a-z0-9 ]', '', 'g')), ' +'), x -> x <> '') AS ws
  FROM {table}
),
wins AS (
  SELECT doc_id, CAST(p.i AS INT) AS pos,
         md5(array_to_string(list_slice(ws, p.i, p.i + {L} - 1), ' ')) AS fp
  FROM base, unnest(range(1, len(ws) - {L} + 2)) AS p(i)
  WHERE len(ws) >= {L}
),
ranked AS (
  SELECT doc_id, pos, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY fp) AS c
  FROM wins
),
flagged AS (SELECT doc_id, pos FROM ranked WHERE c > 1 AND rn > 1),
removed AS (
  SELECT DISTINCT doc_id, CAST(t.i AS INT) AS tpos
  FROM flagged, unnest(range(pos, pos + {L})) AS t(i)
),
span_stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(1 + sum(CASE WHEN prev IS NOT NULL AND pos - prev > {L}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_spans
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM flagged
  ) GROUP BY doc_id
),
removed_counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed_tokens
  FROM removed GROUP BY doc_id
),
toks AS (
  SELECT doc_id, CAST(generate_subscripts(ws, 1) AS INT) AS tpos, unnest(ws) AS w
  FROM base
),
kept AS (
  SELECT t.doc_id,
         array_to_string(list_transform(
           list_sort(list(struct_pack(tpos := t.tpos, w := t.w))),
           s -> s.w), ' ') AS kept_text
  FROM toks t ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.tpos = r.tpos
  GROUP BY t.doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM wins GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_windows, 0) AS n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       coalesce(n_removed_spans, 0) AS n_removed_spans,
       coalesce(n_removed_tokens, 0) AS n_removed_tokens,
       coalesce(kept_text, '') AS kept_text
FROM {table} d
LEFT JOIN totals USING (doc_id)
LEFT JOIN span_stats USING (doc_id)
LEFT JOIN removed_counts USING (doc_id)
LEFT JOIN kept USING (doc_id)
ORDER BY doc_id
"""
