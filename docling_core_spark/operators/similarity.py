"""Similarity search over the embeddings table.

Brute-force cosine top-k (correctness baseline, DuckDB-oracle-checked) and an
LSH-bucketed approximate variant (the 100 TB scale path: candidates come from
a sign-random-projection bucket join, never a full scan per query).

Scale design:
- SRP plane weights are derived per (plane, position) from xxhash64 inside
  the plan — dimension-agnostic, no literal weight arrays, and crucially NO
  driver-side job during plan construction (no ``.first()`` to learn dim).
- ``srp_buckets`` computes the bucket column once; at scale you persist /
  partition the table by it and every query prunes to 1/2^n_planes of the
  data.  ``ann_lsh_topk`` accepts the prebucketed frame so repeated queries
  never recompute projections.
- ``embedding_cosine_dedup`` caps candidates per bucket with the skew-safe
  ``dedup.cap_hot_buckets`` hash gate (no window, no per-bucket sort) so a
  degenerate bucket cannot go quadratic at 100x data.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order
from docling_core_spark.operators.hashing import sample_gate


def _round5_ge_boundary(eps: float) -> float:
    """Smallest double c with Spark ``round(c, 5) >= eps`` (for eps on the
    1e-5 grid, e.g. the 0.95 default; off-grid eps snaps to the next grid
    point).  F.round is HALF_UP on the shortest repr decimal, and shortest
    reprs preserve double ordering, so the predicate collapses to one
    precomputed double boundary — letting a vectorized ``>=`` replicate a
    per-value decimal quantization exactly."""
    import decimal
    import math

    grid = decimal.Decimal("0.00001")
    d_eps = decimal.Decimal(repr(eps))
    needed = (d_eps / grid).to_integral_value(rounding=decimal.ROUND_CEILING) * grid
    target = needed - decimal.Decimal("0.000005")
    t = float(target)
    if decimal.Decimal(repr(t)) >= target:
        while True:
            t2 = math.nextafter(t, -math.inf)
            if decimal.Decimal(repr(t2)) >= target:
                t = t2
            else:
                break
    else:
        while decimal.Decimal(repr(t)) < target:
            t = math.nextafter(t, math.inf)
    return t


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / F.greatest(na * nb, F.lit(1e-12))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _assign_centroids(
    qvecs: DataFrame,
    cents: DataFrame,
    passthrough: tuple,
    emit_sim: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow pass, bit-identical to the
    interpreted ``F.aggregate`` argmax fold it replaced (the classifier
    recipe: CPython float ops ARE the same IEEE-754 double ops Catalyst's
    interpreter executes, in the same left-to-right order — dot, row/centroid norms, greatest(·,1e-12)
    divide, strict-greater/tie-on-lower-id argmax).  The argmax is
    order-independent (ties break on the id, not on iteration order), so
    the collect_list ordering the old broadcast fold relied on is moot.

    ``cents`` is collected to the driver (n_centroids rows — the same
    bounded-loop-state class as gradients/merge lists) and ships once per
    executor via sc.broadcast.  NOTE: the collect makes DataFrame
    CONSTRUCTION eager for the centroid subtree (callers that build these
    plans pay the k-means/seed jobs up front; the SRP family keeps its
    no-job-at-construction property).  ``qvecs`` must carry ``ev``
    array<double>; the pass emits ``passthrough`` columns + centroid_id
    (+ cent_sim rounded HALF_UP at 5, == F.round, when ``emit_sim``)."""
    import math

    cent_list = []
    for r in cents.collect():
        cv = [float(x) for x in r["cv"]]
        s = 0.0
        for x in cv:
            s = s + x * x
        cent_list.append((int(r["centroid_id"]), cv, math.sqrt(s)))
    bc = qvecs.sparkSession.sparkContext.broadcast(cent_list)

    in_cols = list(passthrough) + (["ev"] if "ev" not in passthrough else [])
    out_fields = [
        f"{c} {qvecs.schema[c].dataType.simpleString()}" for c in passthrough
    ]
    out_fields.append("centroid_id long")
    if emit_sim:
        out_fields.append("cent_sim double")
    out_schema_str = ", ".join(out_fields)

    def assign(batches):
        import decimal

        import pyarrow as pa

        five = decimal.Decimal("0.00001")
        cl = bc.value
        for rb in batches:
            evs = rb.column(rb.schema.get_field_index("ev")).to_pylist()
            ids = []
            sims = []
            for ev in evs:
                en_acc = 0.0
                for x in ev:
                    en_acc = en_acc + x * x
                en = math.sqrt(en_acc)
                best_sim = -2.0
                best_id = None
                for cid, cv, nb in cl:
                    dot = 0.0
                    for a, b in zip(ev, cv):
                        dot = dot + a * b
                    den = en * nb
                    if not den > 1e-12:
                        den = 1e-12
                    sim = dot / den
                    # Spark total order for doubles: NaN == NaN and NaN is
                    # GREATER than every other value — python's IEEE
                    # comparisons disagree, so NaN sims (possible only for
                    # non-finite raw embeddings) take the explicit branch;
                    # the fast path below is the finite case.
                    if sim != sim:
                        if best_sim != best_sim:
                            better = best_id is None or cid < best_id
                        else:
                            better = True
                    elif best_sim != best_sim:
                        better = False
                    else:
                        better = sim > best_sim or (
                            sim == best_sim and (best_id is None or cid < best_id)
                        )
                    if better:
                        best_sim = sim
                        best_id = cid
                ids.append(best_id)
                if emit_sim:
                    if best_sim != best_sim:
                        sims.append(best_sim)  # F.round(NaN, 5) is NaN
                    else:
                        sims.append(
                            float(
                                decimal.Decimal(repr(best_sim)).quantize(
                                    five, rounding=decimal.ROUND_HALF_UP
                                )
                            )
                        )
            arrays = [
                rb.column(rb.schema.get_field_index(c)) for c in passthrough
            ]
            names = list(passthrough) + ["centroid_id"]
            arrays.append(pa.array(ids, type=pa.int64()))
            if emit_sim:
                arrays.append(pa.array(sims, type=pa.float64()))
                names.append("cent_sim")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return qvecs.select(*in_cols).mapInArrow(assign, out_schema_str)


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact top-k nearest neighbours of one stored vector (brute force).

    The query vector is a 1-row broadcast; the scan is embarrassingly
    parallel; top-k is a tree-reduced TakeOrdered, not a global sort.
    """
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    return (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(_cosine(_as_double(F.col("embedding")), F.col("qv")), 5).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk_sql(table: str = "embeddings", query_vec_id: int = 0, k: int = 10) -> str:
    """DuckDB oracle SQL for cosine_topk."""
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM {table} WHERE vec_id = {query_vec_id}
)
SELECT e.vec_id, e.label,
       round(list_dot_product(e.embedding::DOUBLE[], q.qv)
             / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv)), 1e-12), 5) AS cos_sim
FROM {table} e, q
WHERE e.vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def _plane_weight(plane: int, pos, seed: int):
    """Deterministic pseudo-random weight in [-1, 1] for (plane, position).

    Sign-random-projection only needs a symmetric weight distribution, so a
    hash-derived uniform is as good as a gaussian — and it makes the plane
    implicit (no literal arrays, works for any embedding dimension).
    """
    h = F.xxhash64(F.concat_ws("_", F.lit(f"srp{seed}"), F.lit(plane), pos.cast("string")))
    return F.pmod(h, F.lit(1001)).cast("double") / 500.0 - 1.0


def srp_bucket_expr(vec, n_planes: int, seed: int = 42):
    """Sign-random-projection bucket id column for an array<double> column."""
    def projector(plane: int):
        return lambda x, i: x * _plane_weight(plane, i, seed)

    bucket = F.lit(0)
    for p in range(n_planes):
        dot = F.aggregate(F.transform(vec, projector(p)), F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def srp_buckets(embeddings: DataFrame, n_planes: int = 6, seed: int = 42) -> DataFrame:
    """Embeddings with a precomputed SRP bucket column.

    At scale: compute once, persist (or write partitioned by `bucket`), and
    serve every query from the pruned bucket — 1/2^n_planes of the data.
    """
    # materialize the double-cast vector once: interpreted HOF expressions
    # get no subexpression elimination, so a non-attribute vector would be
    # re-cast per plane (see dedup.norm_words, round-6 finding)
    cols = embeddings.columns
    return (
        embeddings.withColumn("_v", _as_double(F.col("embedding")))
        .select(*cols, "_v")
        .select(*cols, srp_bucket_expr(F.col("_v"), n_planes, seed).alias("bucket"))
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 6,
    bucketed: Optional[DataFrame] = None,
) -> DataFrame:
    """Approximate top-k via sign-random-projection bucketing.

    Pass ``bucketed=srp_buckets(embeddings, n_planes)`` (persisted) to reuse
    the projection across queries; recall is traded via n_planes; exactness
    is the cosine_topk baseline.  Plan construction launches no Spark job.
    """
    with_bucket = bucketed if bucketed is not None else srp_buckets(embeddings, n_planes)
    qrow = with_bucket.filter(F.col("vec_id") == query_vec_id).select(
        _as_double(F.col("embedding")).alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        with_bucket.crossJoin(F.broadcast(qrow))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != query_vec_id))
        .select(
            "vec_id",
            "label",
            F.round(_cosine(_as_double(F.col("embedding")), F.col("qv")), 5).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def with_synthetic_duplicate_vectors(
    embeddings: DataFrame,
    rate: float = 0.1,
    seed: str = "dupv7",
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Union the embeddings with a re-keyed deterministic subset (cosine 1.0
    clones) so the near-dup pair-emission path actually executes: the
    synthetic vectors contain no natural pairs above the dedup threshold, so
    ``embedding_cosine_dedup`` on them alone is green-but-vacuous (0 rows).
    Same md5-sampling rule as dedup.with_synthetic_duplicates; mirrored in
    the single-process expected oracle (oracle_expected._build_similarity).
    """
    clones = embeddings.filter(sample_gate("vec_id", seed, rate)).select(
        (F.col("vec_id") + id_offset).alias("vec_id"), "label", "embedding"
    )
    return embeddings.select("vec_id", "label", "embedding").unionByName(clones)


def embedding_cosine_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Embedding near-duplicate pairs: SRP-bucketed candidate join + cosine verify.

    Buckets over max_bucket_size members are thinned by the skew-safe
    ``dedup.cap_hot_buckets`` gate (two-phase count + broadcast oversized
    keys + deterministic md5-60 hash gate, zero Window nodes) — the same
    mechanism as minhash/simhash, so a degenerate all-similar corpus cannot
    trigger a quadratic bucket join and no single task ever sorts a whole
    hot bucket.  The gate is mirrored in oracle_expected._build_similarity.
    """
    from docling_core_spark.operators.dedup import cap_hot_buckets

    wb = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "v", srp_bucket_expr(F.col("v"), n_planes, seed=7).alias("bucket"))
    wb = cap_hot_buckets(wb, ("bucket",), max_bucket_size, id_col="vec_id")
    pairs = (
        wb.alias("a")
        .join(wb.alias("b"), "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(_cosine(F.col("a.v"), F.col("b.v")), 5).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .transform(lambda d: canonical_order(d, "vec_a", "vec_b"))
    )
    return pairs


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Deterministic IVF coarse quantizer: the n vectors with the smallest
    md5(vec_id) act as centroids — a reproducible pseudo-random sample of
    the data (cross-engine, no training RNG).  TakeOrdered, never a global
    sort; the result is a broadcastable handful of rows."""
    return (
        embeddings.select(
            F.col("vec_id").alias("centroid_id"),
            _as_double(F.col("embedding")).alias("cv"),
        )
        .orderBy(F.md5(F.col("centroid_id").cast("string")), F.col("centroid_id"))
        .limit(n_centroids)
    )


_QUANT = 1_000_000.0  # component quantization grid for exact-parity k-means


def _quantized(col):
    """Vector components rounded to the 1e-6 grid as longs: centroid means
    become ratios of EXACT integer sums, so the iterative refinement is
    bit-deterministic under any partitioning / summation order — the
    property that makes a distributed k-means value-hash-oracle-checkable
    against a single-process mirror."""
    return F.transform(col, lambda x: F.round(x.cast("double") * _QUANT, 0).cast("long"))


def _centroid_means(assigned: DataFrame) -> DataFrame:
    """Exact centroid recompute for one Lloyd round over (centroid_id, pos,
    val) rows: per-dim integer sums (map-side partial aggregation absorbs
    hot clusters) divided by the member count — one IEEE division of exact
    ints, bit-deterministic under any partitioning.  Module-level so the
    scale tests pin THIS aggregation's plan, not a reconstruction."""
    return (
        assigned.groupBy("centroid_id", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", (F.col("s") / F.col("n")).alias("m"))
                    )
                ),
                lambda st: st["m"],
            ).alias("cv")
        )
    )


def kmeans_refined_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    checkpoint_dir: Optional[str] = None,
    _fault_after_round: Optional[int] = None,
) -> DataFrame:
    """Lloyd's-iteration refinement of the deterministic IVF coarse
    quantizer: repeat (map-side nearest-centroid assignment via the ONE-row
    broadcast fold) -> (exact integer-sum centroid recompute).

    Scale shape per iteration: assignment is the ivf_topk fold — broadcast,
    no shuffle; recompute is posexplode to (centroid, dim) keyed sums with
    map-side partials (rows = n_vectors x dim, combine collapses them), then
    a per-centroid gather of ~dim rows.  The driver loop holds only the
    iteration counter; every step is distributed.  Empty clusters keep their
    previous centroid (deterministic).  Returns (centroid_id, cv).
    """
    qvecs = embeddings.select(
        "vec_id", _quantized(F.col("embedding")).alias("qv")
    ).select(
        "vec_id",
        "qv",
        F.transform(F.col("qv"), lambda v: v.cast("double")).alias("ev"),
    )
    start_it = 0
    cents = None
    if checkpoint_dir is not None:
        # opt-in round resume (sources/checkpoint.py _rounds protocol): the
        # durable state of a Lloyd round is the centroid table (n_centroids
        # x dim doubles — tiny); each completed round writes it to a
        # per-round parquet before its commit record, and a restarted job
        # reloads the last committed centroids and runs only the remaining
        # rounds.  Quantized-integer arithmetic keeps the resumed result
        # bit-identical to an uninterrupted run.
        from docling_core_spark.sources.checkpoint import last_committed_round, round_state_path

        rec = last_committed_round(
            checkpoint_dir,
            params={"op": "kmeans", "n_centroids": n_centroids, "iterations": iterations},
        )
        if rec is not None:
            start_it = rec["round"]
            cents = embeddings.sparkSession.read.parquet(
                round_state_path(checkpoint_dir, start_it, "centroids")
            )
    if cents is None:
        cents = (
            qvecs.select(F.col("vec_id").alias("centroid_id"), F.col("ev").alias("cv"))
            .orderBy(F.md5(F.col("centroid_id").cast("string")), F.col("centroid_id"))
            .limit(n_centroids)
            # round 1 references the seed twice (broadcast fold + the
            # empty-cluster join); cut the TakeOrdered subtree once
            .localCheckpoint(eager=False)
        )
    for _it in range(start_it, iterations):
        assigned = _assign_centroids(qvecs, cents, ("qv",)).select(
            "centroid_id", F.posexplode("qv").alias("pos", "val")
        )
        means = _centroid_means(assigned)
        # empty clusters keep their previous centroid
        cents = (
            cents.select("centroid_id", F.col("cv").alias("old_cv"))
            .join(means, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("cv", "old_cv").alias("cv")
            )
        )
        if checkpoint_dir is not None:
            from docling_core_spark.sources.checkpoint import (
                commit_round,
                prune_round_state,
                round_state_path,
            )

            state = round_state_path(checkpoint_dir, _it + 1, "centroids")
            cents.write.mode("overwrite").parquet(state)
            commit_round(
                checkpoint_dir,
                _it + 1,
                {},
                params={"op": "kmeans", "n_centroids": n_centroids, "iterations": iterations},
            )
            prune_round_state(checkpoint_dir, _it + 1)
            # re-read: durability AND the per-round plan cut in one step
            cents = embeddings.sparkSession.read.parquet(state)
            if _fault_after_round is not None and _it + 1 >= _fault_after_round:
                raise RuntimeError(
                    f"injected fault after committed round {_it + 1} (chaos hook)"
                )
        else:
            # Per-round lineage cut, EVERY round (r9: the > 2 gate removed).
            # Each round references the previous cents twice (the broadcast
            # fold AND the empty-cluster join), so without the cut the
            # assignment+recompute subtree re-executes ~2x per round per
            # consumer — at iterations=2 the fold over every vector ran
            # ~5x instead of 3x (measured: semdedup wall was ~100% kmeans).
            # The checkpoint materializes 16 rows; values are bit-identical
            # by the quantized-integer design, only the plan changes.
            cents = cents.localCheckpoint(eager=False)
    return cents


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """IVF-flat top-k over k-means-REFINED centroids (the trained-index
    variant of ivf_topk): same map-side assignment fold, same probe, but the
    coarse quantizer is Lloyd-refined, giving tighter lists at scale.
    Exactly mirrored by the single-process expected oracle thanks to the
    quantized-integer centroid arithmetic."""
    cents = kmeans_refined_centroids(embeddings, n_centroids, iterations)
    cent_row = F.broadcast(
        cents.agg(F.collect_list(F.struct("centroid_id", "cv")).alias("cent_arr"))
    )
    qvecs = embeddings.select(
        "vec_id",
        "label",
        F.transform(
            _quantized(F.col("embedding")), lambda v: v.cast("double")
        ).alias("ev"),
    )

    assignments = _assign_centroids(qvecs, cents, ("vec_id", "label", "ev"))

    probed = (
        qvecs.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("ev").alias("qv"))
        .crossJoin(cent_row)
        .select("qv", F.explode("cent_arr").alias("c"))
        .select("qv", F.col("c.centroid_id").alias("centroid_id"), F.col("c.cv").alias("cv"))
        .withColumn("q_sim", _cosine(F.col("qv"), F.col("cv")))
        .orderBy(F.desc("q_sim"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id", "qv")
    )

    return (
        assignments.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(probed), "centroid_id")
        .select(
            "vec_id",
            "label",
            "centroid_id",
            F.round(_cosine(F.col("ev"), F.col("qv")), 5).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate nearest neighbours (the scale path next to
    SRP-LSH): assign every vector to its nearest of n_centroids coarse
    centroids MAP-SIDE (the centroids collapse to ONE broadcast row of
    array<struct>, and the argmin over them is an ``F.aggregate`` fold per
    row — no row blowup, no window, no shuffle in the index build), probe
    the query's nprobe nearest lists, and rank candidates by exact cosine.
    At 100x data the per-query scan touches ~nprobe/n_centroids of the
    table instead of all of it, and the build is a single map-only pass."""
    # One row: array of (centroid_id, cv) structs — broadcast, crossJoined,
    # then folded per embedding row.  Tie-break matches the oracle: max
    # cosine first, then min centroid_id.  Both the assignment fold and the
    # probe selection derive from this SAME subplan, so the broadcast
    # exchange is built once and reused (ReusedExchange) instead of scanning
    # the embeddings twice for centroids.
    # seed centroids referenced by the assignment collect AND the probe
    # broadcast — cut the TakeOrdered subtree once
    cents = ivf_centroids(embeddings, n_centroids).localCheckpoint(eager=False)
    cent_row = F.broadcast(
        cents.agg(F.collect_list(F.struct("centroid_id", "cv")).alias("cent_arr"))
    )

    assignments = _assign_centroids(
        embeddings.select(
            "vec_id", "label", _as_double(F.col("embedding")).alias("ev")
        ),
        cents,
        ("vec_id", "label", "ev"),
    )

    probed = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double(F.col("embedding")).alias("qv"))
        .crossJoin(cent_row)
        .select("qv", F.explode("cent_arr").alias("c"))
        .select(
            "qv",
            F.col("c.centroid_id").alias("centroid_id"),
            F.col("c.cv").alias("cv"),
        )
        .withColumn("q_sim", _cosine(F.col("qv"), F.col("cv")))
        .orderBy(F.desc("q_sim"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id", "qv")
    )

    return (
        assignments.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(probed), "centroid_id")
        .select(
            "vec_id",
            "label",
            "centroid_id",
            F.round(_cosine(F.col("ev"), F.col("qv")), 5).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk_sql(
    table: str = "embeddings",
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB oracle SQL for ivf_topk (same quantizer, assignment ranking,
    probe order, and rounding)."""
    return f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
  FROM {table}
  ORDER BY md5(vec_id::VARCHAR), vec_id
  LIMIT {n_centroids}
),
scored AS (
  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS ev, c.centroid_id,
         list_dot_product(e.embedding::DOUBLE[], c.cv)
           / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv)), 1e-12) AS c_sim
  FROM {table} e CROSS JOIN cents c
),
assignments AS (
  SELECT vec_id, label, ev, centroid_id
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY c_sim DESC, centroid_id ASC) AS rn
    FROM scored
  )
  WHERE rn = 1
),
q AS (SELECT ev AS qv FROM assignments WHERE vec_id = {query_vec_id}),
probed AS (
  SELECT c.centroid_id, q.qv
  FROM cents c, q
  ORDER BY list_dot_product(q.qv, c.cv)
             / greatest(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.cv, c.cv)), 1e-12) DESC,
           c.centroid_id ASC
  LIMIT {nprobe}
)
SELECT a.vec_id, a.label, a.centroid_id,
       round(list_dot_product(a.ev, p.qv)
             / greatest(sqrt(list_dot_product(a.ev, a.ev))
                        * sqrt(list_dot_product(p.qv, p.qv)), 1e-12), 5) AS cos_sim
FROM assignments a JOIN probed p USING (centroid_id)
WHERE a.vec_id <> {query_vec_id}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication", arXiv:2303.09540): cluster the
# embedding space with k-means, call any within-cluster pair above cosine
# eps a SEMANTIC duplicate, and keep only the group member with the LOWEST
# cosine similarity to its cluster centroid (the paper's §2 keep rule),
# removing the rest.  Near-dup text dedup catches lexical clones; this
# catches paraphrases and re-renderings that share an embedding direction.
# ---------------------------------------------------------------------------


def semdedup(
    embeddings: DataFrame,
    eps: float = 0.95,
    n_centroids: int = 16,
    iterations: int = 2,
    max_cluster_size: int = 1024,
) -> DataFrame:
    """(vec_id, cluster_id, cent_sim, keep): SemDeDup keep/remove decision
    per vector.

    A vector is removed iff some OTHER vector in its k-means cluster is
    within cosine eps of it AND has strictly higher keep priority — the
    paper keeps the member farthest from the centroid, so priority is
    (lower cent_sim, then lower vec_id).  Pairwise comparison happens only
    within a cluster, and clusters over ``max_cluster_size`` are thinned by
    the skew-safe ``dedup.cap_hot_buckets`` hash gate first (no windows, no
    per-cluster sort), so the candidate join cannot go quadratic on a
    degenerate cluster.  Thinned-out members are never candidates and keep
    their rows with keep=1 (the cap trades recall for boundedness — the
    paper's per-cluster pairwise is the same tradeoff at cluster scale).

    Scale shape: the Lloyd refinement is ``kmeans_refined_centroids``
    (broadcast fold + exact integer sums); assignment is one map-side
    broadcast fold; the pair join shuffles on cluster_id only; the removal
    rollup is a distinct on flagged ids + a left join back.  Floats are
    rounded at 1e-5 before every threshold/priority comparison so the
    decision is bit-identical in the single-process oracle twin.
    """
    from docling_core_spark.operators.dedup import cap_hot_buckets

    cents = kmeans_refined_centroids(embeddings, n_centroids, iterations)
    qvecs = embeddings.select(
        "vec_id", _quantized(F.col("embedding")).alias("qv")
    ).select(
        "vec_id", F.transform(F.col("qv"), lambda v: v.cast("double")).alias("ev")
    )

    assigned = (
        _assign_centroids(qvecs, cents, ("vec_id", "ev"), emit_sim=True)
        .select(
            "vec_id",
            "ev",
            F.col("centroid_id").alias("cluster_id"),
            "cent_sim",
        )
        # diamond cut: `assigned` feeds BOTH the capped pair stage and the
        # final keep-flag join; without this the kmeans + assignment
        # subtree compiles (and runs) twice — round-5/7 reuse finding
        .localCheckpoint(eager=False)
    )
    # bound the within-cluster candidate set before the pair stage
    capped = cap_hot_buckets(
        assigned.select("vec_id", "ev", "cluster_id", "cent_sim"),
        ("cluster_id",),
        max_cluster_size,
        id_col="vec_id",
    )
    # Within-cluster pairwise stage as ONE numpy gemm per cluster group
    # (applyInPandas) instead of the interpreted self-join: the old plan
    # evaluated the _cosine HOF fold per candidate PAIR — O(cap^2 * dim)
    # interpreted Catalyst ops per cluster.  Bit-exactness holds because
    # the ev components are 1e-6-quantized integers (valued in doubles):
    # every dot partial sum is an exact integer below 2^53, so ANY
    # summation order — BLAS blocking included — produces the identical
    # double, and the per-pair norm/divide ops below replicate the
    # _cosine expression's IEEE op order exactly.  The shuffle is the same
    # cluster_id exchange the join paid; output is just the removed ids.
    import numpy as np
    import pandas as pd

    # round5(cos) >= eps  <=>  repr-decimal(cos) >= repr-decimal(eps)-5e-6
    # <=>  cos >= thr for the smallest double thr whose shortest repr
    # reaches that decimal — one driver-side boundary search replaces a
    # per-pair HALF_UP quantization (shortest-repr ordering is monotonic)
    thr = _round5_ge_boundary(float(eps))

    def _pairs_per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["ev"]])
        dots = V @ V.T
        norms = np.sqrt(np.diag(dots))
        cos = dots / np.maximum(np.outer(norms, norms), 1e-12)
        cs = pdf["cent_sim"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        # b beats a: strictly lower (cent_sim, vec_id) priority
        beats = (cs[None, :] < cs[:, None]) | (
            (cs[None, :] == cs[:, None]) & (ids[None, :] < ids[:, None])
        )
        np.fill_diagonal(beats, False)
        removed_mask = (beats & (cos >= thr)).any(axis=1)
        return pd.DataFrame({"vec_id": ids[removed_mask]})

    removed = (
        capped.groupBy("cluster_id")
        .applyInPandas(_pairs_per_cluster, "vec_id long")
        .withColumn("removed", F.lit(1))
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "cent_sim",
            F.when(F.col("removed").isNull(), 1).otherwise(0).alias("keep"),
        )
        .transform(lambda d: canonical_order(d, "vec_id"))
    )
