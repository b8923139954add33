"""Cross-engine parity of operators/hashing.py: each Spark expression, its
DuckDB SQL twin, and an independent hashlib reference agree value for value.
"""

from __future__ import annotations

import hashlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_core_spark.operators.hashing import (
    fingerprint,
    fingerprint_sql,
    hash60,
    hash60_sql,
    sample_gate,
    sample_gate_sql,
)

STRINGS = [
    "",
    "hello world",
    "café",
    "中文",
    "🙂 emoji",
    "Mixed Case, Punct! 42",
    "x" * 10_000,
]
NULL_ID = len(STRINGS)
ROWS = list(enumerate(STRINGS)) + [(NULL_ID, None)]


def _ref_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.fixture(scope="module")
def strings_df(spark):
    return spark.createDataFrame(ROWS, "i int, s string")


def _duck(con, expr_sql: str) -> dict:
    con.execute("CREATE OR REPLACE TEMP TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ROWS)
    return dict(con.execute(f"SELECT i, {expr_sql} FROM t").fetchall())


def test_hash60_matches_duckdb_and_hashlib(strings_df, con):
    spark_vals = {r.i: r.h for r in strings_df.select("i", hash60(F.col("s")).alias("h")).collect()}
    duck_vals = _duck(con, hash60_sql("s"))
    assert spark_vals == duck_vals
    for i, s in enumerate(STRINGS):
        assert spark_vals[i] == _ref_hash60(s)
        assert 0 <= spark_vals[i] < 1 << 60
    assert spark_vals[NULL_ID] is None


def test_fingerprint_matches_duckdb_and_hashlib(strings_df, con):
    spark_vals = {
        r.i: r.fp for r in strings_df.select("i", fingerprint(F.col("s")).alias("fp")).collect()
    }
    duck_vals = _duck(con, fingerprint_sql("s"))
    assert spark_vals == duck_vals
    for i, s in enumerate(STRINGS):
        norm = re.sub(r"[^a-z0-9]", "", s.lower())
        assert spark_vals[i] == hashlib.md5(norm.encode()).hexdigest()
    assert spark_vals[NULL_ID] is None


@pytest.mark.parametrize("rate", [0.0, 0.1, 1.0])
def test_sample_gate_keeps_same_ids(spark, con, rate):
    ids = spark.range(500).withColumnRenamed("id", "doc_id")
    spark_kept = {r.doc_id for r in ids.filter(sample_gate("doc_id", "s42", rate)).collect()}
    duck_kept = {
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM range(500) t(doc_id) WHERE {sample_gate_sql('doc_id', 's42', rate)}"
        ).fetchall()
    }
    ref_kept = {i for i in range(500) if _ref_hash60(f"{i}s42") < int(rate * (1 << 60))}
    assert spark_kept == duck_kept == ref_kept
    if rate == 0.0:
        assert not spark_kept
    elif rate == 1.0:
        assert len(spark_kept) == 500
    else:
        assert 0 < len(spark_kept) < 500
