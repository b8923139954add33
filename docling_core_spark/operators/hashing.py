"""The cross-engine hash primitives, each as a Spark expression beside its
DuckDB SQL text.

hash60 is the first 15 hex digits of md5 read as a 60-bit integer: always
non-negative in a signed 64-bit long and byte-identical in Spark
(``conv(substring(md5(x), 1, 15), 16, 10)``) and DuckDB
(``('0x' || substr(md5(x), 1, 15))::BIGINT``).  Operators and their DuckDB
oracles call these helpers instead of restating a format, so the two
engines cannot drift apart on it.  NULL in gives NULL out on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: 2^60: hash60 values lie in [0, HASH60_MAX)
HASH60_MAX = 1 << 60


def hash60(col: Column) -> Column:
    """60-bit md5 prefix of a string column, as a bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash60` over a SQL expression."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def seeded_hash60(id_col: str, seed: str) -> Column:
    """hash60 of ``cast(id_col as string) || seed``: a per-row uniform draw
    that depends only on the id and the seed."""
    return hash60(F.concat(F.col(id_col).cast("string"), F.lit(seed)))


def seeded_hash60_sql(id_expr: str, seed: str) -> str:
    """DuckDB twin of :func:`seeded_hash60`."""
    return hash60_sql(f"{id_expr} || '{seed}'")


def sample_gate(id_col: str, seed: str, rate: float) -> Column:
    """Seeded sample predicate: keep a row iff its seeded hash60 falls
    under ``rate * 2^60``.  Map-only, partitioning-independent, and pushed
    to the scan when ``id_col`` is a raw column."""
    return seeded_hash60(id_col, seed) < F.lit(int(rate * HASH60_MAX))


def sample_gate_sql(id_expr: str, seed: str, rate: float) -> str:
    """DuckDB twin of :func:`sample_gate`."""
    return f"{seeded_hash60_sql(id_expr, seed)} < {int(rate * HASH60_MAX)}"


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of the lowercased text with
    everything outside ``[a-z0-9]`` removed."""
    return F.md5(F.regexp_replace(F.lower(col), r"[^a-z0-9]", ""))


def fingerprint_sql(expr: str) -> str:
    """DuckDB twin of :func:`fingerprint`."""
    return f"md5(regexp_replace(lower({expr}), '[^a-z0-9]', '', 'g'))"
