"""Bloom-filter paragraph dedup — the BFF shape (Bloom 1970; Dolma's
"Bloom Filter Filtering", Soldaini et al. 2024, arXiv:2402.00159).

Incremental crawl dedup at BOUNDED memory: exact dedup keys a shuffle on
content fingerprints (state grows with the corpus); the bloom filter keeps
a fixed ``m_bits`` bitset no matter how many paragraphs it has absorbed,
trading a tunable false-positive rate ((1 - e^(-kn/m))^k) for that bound.
Deployment shape: build the filter ONCE over the reference corpus (the
prior crawl / already-kept data), then flag the paragraphs of every new
batch or micro-batch map-side against the broadcast filter — the same
train-once / score-forever pattern as the CCNet LM and quality-classifier
scorers (operators/lm.py, classifier.py).

Scale shape (100 TB):
- the k bit positions per paragraph compute JVM-side — seed-chained
  ``F.xxhash64(para, lit(i))`` + ``pmod`` (the minhash hash family,
  dedup.py:241) — no Python in the hash path;
- the build is ONE ``mapInArrow`` pass emitting an m/8-byte numpy bitset
  per partition (the list column's values buffer flattens to one
  contiguous int64 array — no per-row conversion; vectorized
  ``bitwise_or.at``), OR-combined with RDD ``treeAggregate`` (log-depth
  combine; the driver receives tree-fan-in partials, never all
  partitions);
- the probe is map-side: the filter broadcasts once, membership is a
  vectorized numpy bit-test over the Arrow batch, and the only shuffle is
  the per-doc rollup (count/sum partials combine map-side);
- the filter is insertion-order independent (bitset OR is commutative and
  idempotent), so the distributed build is bit-identical to a
  single-process build under ANY partitioning — the pure-python oracle
  twin (oracle_expected._build_bloom) relies on exactly this.

The reference repo has no corpus-dedup surface (this module extends the
pipeline family beyond SURVEY.md §2, like dedup.py/decontam.py).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F

from docling_core_spark.operators.canon import canonical_order

BLOOM_M_BITS = 1 << 20  # 128 KiB filter for the demo scale; 100 TB runs
BLOOM_K = 5             # size m to the kept-paragraph count (m ≈ 10n·k/ln2)
BLOOM_SEEN_THRESHOLD = 0.5

# paragraph trim class: the Java \s set, spelled out on BOTH engines (the
# textstats.WS precedent) — F.trim strips ASCII space only and python
# str.strip() strips all unicode whitespace; either alone would break the
# Spark/twin LOCKSTEP on CRLF, tabs, or \x0B edges
_TRIM_RE = r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$"
_TRIM_CHARS = " \t\n\x0b\x0c\r"


def _lines_expr():
    """array<string> of trimmed non-empty lines — the Dolma dedup unit."""
    return F.filter(
        F.transform(
            F.split(F.col("text"), "\n"),
            lambda x: F.regexp_replace(x, _TRIM_RE, ""),
        ),
        lambda x: F.length(x) > 0,
    )


def _paragraphs(docs: DataFrame) -> DataFrame:
    """(doc_id, para): one row per paragraph (docs without any vanish)."""
    return docs.select("doc_id", F.explode(_lines_expr()).alias("para"))


def _positions(col, m_bits: int, k: int):
    """array<long> of the k bloom bit positions for one paragraph."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)).cast("long")
            for i in range(k)
        ]
    )


def bloom_build(
    paras: DataFrame, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> bytes:
    """Distributed filter build: returns the m_bits/8-byte bitset.

    One scan; each partition folds its paragraphs into a local bitset
    (vectorized), partials OR-combine in a log-depth tree.  Result is
    independent of partitioning and row order.
    """
    if m_bits % 8 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    nbytes = m_bits // 8
    pos_df = paras.select(_positions(F.col("para"), m_bits, k).alias("pos"))

    def to_bits(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        bits = np.zeros(nbytes, dtype=np.uint8)
        for rb in batches:
            # Arrow-native flatten: the list column's values buffer is one
            # contiguous int64 array — no per-row np.asarray/concatenate
            arr = np.asarray(rb.column(0).flatten(), dtype=np.int64)
            if arr.size:
                np.bitwise_or.at(bits, arr >> 3, (1 << (arr & 7)).astype(np.uint8))
        yield pa.RecordBatch.from_arrays(
            [pa.array([bits.tobytes()], type=pa.binary())], names=["bits"]
        )

    part_rows = pos_df.mapInArrow(to_bits, "bits binary").rdd.map(
        lambda r: r["bits"]
    )

    def _or(a: bytes, b: bytes) -> bytes:
        return (
            np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
        ).tobytes()

    zero = np.zeros(nbytes, dtype=np.uint8).tobytes()
    return part_rows.treeAggregate(zero, _or, _or, depth=2)


def _as_broadcast(df: DataFrame, filt):
    """Accept raw bytes or an existing pyspark Broadcast (the streaming
    wrapper broadcasts ONCE and reuses it across micro-batches instead of
    re-shipping a crawl-scale filter every trigger)."""
    from pyspark.broadcast import Broadcast

    if isinstance(filt, Broadcast):
        return filt
    return df.sparkSession.sparkContext.broadcast(filt)


def _check_filter(filt, m_bits: int) -> None:
    """A filter built at one m_bits probed at another is silently wrong
    (in-range indexes, random membership) or an executor IndexError —
    fail fast on the driver instead."""
    from pyspark.broadcast import Broadcast

    nbytes = len(filt.value) if isinstance(filt, Broadcast) else len(filt)
    if nbytes * 8 != m_bits:
        raise ValueError(
            f"filter is {nbytes * 8} bits but m_bits={m_bits}; "
            "probe with the m_bits the filter was built with"
        )


def bloom_flag_docs(
    docs: DataFrame,
    filter_bytes,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    threshold: float = BLOOM_SEEN_THRESHOLD,
    canonical: Optional[bool] = None,
) -> DataFrame:
    """(doc_id, n_paras, n_seen, seen_frac, keep) for ``docs`` against an
    already-built filter — the score-forever half: map-side probe + one
    per-doc rollup (this is what the streaming wrapper runs per batch).

    ONE scan: explode_outer keeps a null-paragraph row for paragraph-free
    documents, so no second read of ``docs`` is needed to resurrect them
    (the diamond-reuse trap — a joined-back `docs.select` would compile and
    scan the whole upstream subtree twice)."""
    _check_filter(filter_bytes, m_bits)
    bc = _as_broadcast(docs, filter_bytes)
    outer = docs.select("doc_id", F.explode_outer(_lines_expr()).alias("para"))
    with_pos = outer.select(
        "doc_id",
        F.when(
            F.col("para").isNotNull(), _positions(F.col("para"), m_bits, k)
        ).alias("pos"),
    )

    def probe(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            pos = rb.column(rb.schema.get_field_index("pos"))
            valid = np.asarray(pos.is_valid())
            # flatten() skips null lists; valid lists are exactly k wide
            flat = np.asarray(pos.flatten(), dtype=np.int64)
            vals = np.zeros(n, dtype=np.int32)
            if flat.size:
                mat = flat.reshape(-1, k)
                vals[valid] = (
                    (bits[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
                ).all(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    pa.array(vals, mask=~valid),
                ],
                names=["doc_id", "seen"],
            )

    flags = with_pos.mapInArrow(probe, "doc_id long, seen int")
    # count("seen")/sum skip the null rows, so paragraph-free docs roll up
    # to (0, 0) without a join back
    agg = flags.groupBy("doc_id").agg(
        F.count("seen").cast("long").alias("n_paras"),
        F.coalesce(F.sum("seen"), F.lit(0)).cast("long").alias("n_seen"),
    )
    # keep compares the RAW ratio (bit-identical int/int division in both
    # engines); the rounded value is display-precision for the boundary only
    ratio = F.col("n_seen") / F.greatest(F.col("n_paras"), F.lit(1))
    return agg.select(
        "doc_id",
        "n_paras",
        "n_seen",
        F.round(ratio, 6).alias("seen_frac"),
        (ratio < F.lit(float(threshold))).alias("keep"),
    ).transform(lambda d: canonical_order(d, "doc_id", canonical=canonical))


def bloom_para_dedup(
    docs: DataFrame,
    ref_docs: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    threshold: float = BLOOM_SEEN_THRESHOLD,
    canonical: Optional[bool] = None,
) -> DataFrame:
    """(doc_id, n_paras, n_seen, seen_frac, keep): flag each document by the
    fraction of its paragraphs already present in the reference corpus's
    bloom filter; ``keep`` = seen_frac < threshold (paragraph-free docs
    keep).  ``seen`` is approximate in the bloom direction only: a set bit
    may be a false positive, a clear bit is always a true negative."""
    filt = bloom_build(_paragraphs(ref_docs), m_bits, k)
    return bloom_flag_docs(docs, filt, m_bits, k, threshold, canonical)


# ---------------------------------------------------------------------------
# Pure-python twin (oracle_expected._build_bloom runs this; keep in LOCKSTEP
# with the Spark path above)
# ---------------------------------------------------------------------------


def py_paragraphs(text: str) -> list[str]:
    # _TRIM_CHARS, not bare strip(): python strip() removes ALL unicode
    # whitespace while the Spark side trims the Java \s class — bare strip
    # diverges on NBSP-edged paragraphs (and F.trim would on CRLF/tabs)
    return [
        p.strip(_TRIM_CHARS) for p in text.split("\n") if p.strip(_TRIM_CHARS)
    ]


def py_positions(para: str, m_bits: int, k: int) -> list[int]:
    from docling_core_spark.functions.xxhash import spark_xxhash64

    return [spark_xxhash64(para, i) % m_bits for i in range(k)]


def py_bloom_dedup(
    doc_rows: list[tuple[int, str]],
    ref_ids: set[int],
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    threshold: float = BLOOM_SEEN_THRESHOLD,
) -> list[dict]:
    """Single-process expected output of bloom_para_dedup where
    ref_docs = docs filtered to ref_ids.  A python set of positions is
    membership-identical to the bitset (both record exactly the inserted
    positions)."""
    import decimal

    filt: set[int] = set()
    for doc_id, text in doc_rows:
        if doc_id in ref_ids:
            for para in py_paragraphs(text):
                filt.update(py_positions(para, m_bits, k))
    out = []
    for doc_id, text in doc_rows:
        paras = py_paragraphs(text)
        n_seen = sum(
            1
            for para in paras
            if all(p in filt for p in py_positions(para, m_bits, k))
        )
        frac = n_seen / max(len(paras), 1)
        # mirror Spark F.round (BigDecimal HALF_UP on the shortest repr) —
        # builtin round() is half-to-even and diverges on exact binary
        # ties like 1/128
        frac6 = float(
            decimal.Decimal(repr(frac)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        out.append(
            {
                "doc_id": doc_id,
                "n_paras": len(paras),
                "n_seen": n_seen,
                "seen_frac": frac6 if paras else 0.0,
                "keep": (frac < threshold) if paras else True,
            }
        )
    return out


# ---------------------------------------------------------------------------
# Deployment helpers: sizing and incremental merge
# ---------------------------------------------------------------------------


def bloom_size(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate: the standard optima
    m = -n·ln(p)/ln(2)^2 and k = (m/n)·ln(2), with m rounded UP to a whole
    number of bytes (the bitset ships as bytes) and k >= 1.

    10^9 kept paragraphs at 1% fpp -> ~1.2 GB filter, 7 hashes — one
    broadcast per executor, the BFF economics at crawl scale."""
    import math

    n = max(expected_items, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 7) // 8) * 8
    k = max(1, round((m / n) * math.log(2)))
    return m, k


def bloom_merge(*filters: bytes) -> bytes:
    """OR together same-sized filters — the incremental crawl story: the
    history filter for crawl N+1 is merge(history_N, build(kept_N)).
    Commutative, associative, idempotent; sizes must match (same m_bits)."""
    if not filters:
        raise ValueError("no filters to merge")
    sizes = {len(f) for f in filters}
    if len(sizes) != 1:
        raise ValueError(f"filter sizes differ: {sorted(sizes)}")
    acc = np.frombuffer(filters[0], dtype=np.uint8).copy()
    for f in filters[1:]:
        acc |= np.frombuffer(f, dtype=np.uint8)
    return acc.tobytes()
