"""Output canonicalization gate.

Every operator ends with a deterministic ``orderBy`` so the DuckDB oracle
can value-hash the result.  That global sort is pure test ceremony: at
100 TB it is an avoidable full exchange + sort of the final output.  The
``canonical_order`` helper keeps the default (oracle-friendly) behavior but
lets a scale deployment drop every trailing sort at once:

- per call: ``canonical_order(df, "k", canonical=False)``
- globally: ``SPARK_GRAFT_CANONICAL=0`` in the environment
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame


def canonical_default() -> bool:
    return os.environ.get("SPARK_GRAFT_CANONICAL", "1") != "0"


def canonical_order(df: DataFrame, *cols, canonical: Optional[bool] = None) -> DataFrame:
    """Trailing deterministic sort, skippable for the scale path."""
    if canonical is None:
        canonical = canonical_default()
    return df.orderBy(*cols) if canonical else df


def pushdown_pinned_filter(df: DataFrame, cond) -> DataFrame:
    """Filter that stays AT ITS STAGE instead of being pushed to the scan.

    Catalyst's filter pushdown substitutes every referenced column by its
    defining expression on the way down; over a chain of map-side stages a
    keep-predicate ends up inlining the whole upstream expression tree —
    once per reference — into one scan-level Filter (interpreted
    expressions get no cross-operator CSE, so each copy re-executes per
    row; measured as a 97 KB plan and ~10x re-evaluation on fineweb_prep).

    The pin: a nondeterministic projected column the filter references.
    Filter-through-Project pushdown and Project collapse both require every
    project-list expression to be deterministic, and the filter reference
    keeps the column alive through pruning.  The guard conjunct is
    vacuously true (partition indexes are 0-based by definition), map-side,
    and dropped immediately — results are identical, only the plan shape
    changes.

    The determinism gates are those of Spark 4.1's optimizer rules
    ``PushDownPredicates`` (its ``PushPredicateThroughNonJoin`` case for
    Filter over Project) and ``CollapseProject``, both in
    ``spark-catalyst_2.13-4.1.2.jar``.  If an upgrade relaxes either gate
    the pin silently stops working;
    ``tests/test_plan_shapes.py::test_pinned_filter_stays_at_its_stage``
    checks the plan shape."""
    from pyspark.sql import functions as F

    pin = "_nb"
    while pin in df.columns:  # never clobber a caller's column
        pin = "_" + pin
    return (
        df.withColumn(pin, F.spark_partition_id())
        .filter((F.col(pin) >= 0) & cond)
        .drop(pin)
    )
