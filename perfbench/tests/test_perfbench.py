"""Tests of the benchmark itself: inputs, metric names and the gates.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import copy
import json
import re

import pytest

import gate
import inputgen
import run
from conftest import BENCH, ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a = inputgen.ensure_tables(tmp_path / "a", 3)
    b = inputgen.ensure_tables(tmp_path / "b", 3)
    c = inputgen.ensure_tables(tmp_path / "c", 4)
    for name in inputgen.TABLES:
        assert a[name].read_bytes() == b[name].read_bytes()
        assert a[name].read_bytes() != c[name].read_bytes()


def test_tables_hold_fixed_mega_and_jumbo_counts():
    rows = inputgen.build_rows(5)
    sizes = [len(r["html"]) for r in rows["crawl"]]
    assert len(sizes) == inputgen.N_PAGES
    assert sum(n >= gate.BIG_BYTES for n in sizes) == inputgen.N_PAGES // 101
    jumbo = sorted(len(r["html"]) for r in rows["jumbo"])[-len(inputgen.JUMBO_TARGETS) :]
    for got, target in zip(jumbo, inputgen.JUMBO_TARGETS):
        assert abs(got - target) / target < 0.05
    assert min(jumbo) < inputgen.JUMBO_BYTES < max(jumbo)


def test_metric_names_are_valid_and_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert NAME.match(name), name
    assert spec["paths"] == [BENCH.name]


@pytest.fixture(scope="module")
def ref():
    page = inputgen.build_rows(1)["crawl"][3]
    return gate.reference_row(page["url"], page["html"], page["lang"], run.FULL)


def test_gate_passes_identical_output(ref):
    result = gate.GateResult(attempted=1)
    gate.check_rows(result, {ref["url"]: copy.deepcopy(ref)}, {ref["url"]: ref})
    assert result.correct


@pytest.mark.parametrize("column", ["markdown", "doclang", "chunks"])
def test_gate_fails_on_one_byte_altered_output(ref, column):
    got = copy.deepcopy(ref)
    if column == "chunks":
        text = got["chunks"][0]["text"]
        got["chunks"][0]["text"] = text[:-1] + chr(ord(text[-1]) ^ 1)
    else:
        got[column] = got[column][:-1] + chr(ord(got[column][-1]) ^ 1)
    result = gate.GateResult(attempted=1)
    gate.check_rows(result, {ref["url"]: got}, {ref["url"]: ref})
    assert not result.correct and result.failed == 1
    assert column in result.problems[0]


def test_gate_fails_on_missing_row_and_error_row(ref):
    result = gate.GateResult(attempted=2)
    gate.check_rows(result, {}, {ref["url"]: ref})
    gate.check_errors(result, {"https://example.org/x": "ValueError: boom"})
    assert result.failed == 2 and not result.correct


def test_pipeline_gate_fails_on_reused_output_dir(tmp_path):
    from docling_core_spark.plans.pipeline import run_pipeline
    from docling_core_spark.session import get_spark

    rows = inputgen.build_rows(2)["crawl"][:12]
    path = tmp_path / "pages.parquet"
    inputgen.write_table(rows, path)
    spark = get_spark(app_name="perfbench-test", cpus=2)
    try:
        pages = spark.read.parquet(str(path))
        out = str(tmp_path / "out")
        first = run_pipeline(spark, pages, out, n_buckets=2)
        again = run_pipeline(spark, pages, out, n_buckets=2)
        docs = spark.read.option("basePath", f"{out}/docs/data").parquet(f"{out}/docs/data/bucket=*")
        sum_chunks = docs.selectExpr("sum(size(chunks))").first()[0]
    finally:
        spark.stop()

    fresh = gate.GateResult(attempted=len(rows))
    gate.check_pipeline(fresh, first, len(rows), sum_chunks)
    assert fresh.correct, fresh.problems

    reused = gate.GateResult(attempted=len(rows))
    gate.check_pipeline(reused, again, len(rows), sum_chunks)
    assert not reused.correct
    assert "not fresh" in reused.problems[0]
