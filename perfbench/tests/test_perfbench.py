"""Tests of the benchmark itself (no Spark session is started):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def sales(tmp_path_factory):
    path = tmp_path_factory.mktemp("sales") / "s.csv"
    return path, gen.make_sales(str(path), seed=3, n_lines=3000)


def test_sales_generator_is_deterministic(tmp_path, sales):
    path, exp = sales
    again = tmp_path / "again.csv"
    other = tmp_path / "other.csv"
    assert gen.make_sales(str(again), seed=3, n_lines=3000) == exp
    assert again.read_bytes() == path.read_bytes()
    gen.make_sales(str(other), seed=4, n_lines=3000)
    assert other.read_bytes() != path.read_bytes()


def test_sales_generator_uses_every_error_class(sales):
    _, exp = sales
    assert set(exp.errors) == set(gen.ERROR_MIX) - {gen.CLEAN}
    assert all(exp.errors.values())
    assert exp.clean + sum(exp.errors.values()) == exp.lines_in == 3000


def test_reference_outcome_matches_golden_fixture():
    """FIXTURES.md A.4: 12 clean rows and 14 errors on the fixture."""
    with open(os.path.join(ROOT, "tests", "fixtures", "messy_sales.csv")) as fh:
        lines = fh.read().splitlines()[1:]
    seen: set[str] = set()
    outcomes = [gen.reference_outcome(ln, seen) for ln in lines]
    clean = [o for o in outcomes if isinstance(o, tuple)]
    errors = collections.Counter(o for o in outcomes if isinstance(o, str))
    assert [c[0] for c in clean] == [
        "1", "004", "7", "8", "9", "0010", "16", "17", "18", "19", "21", "23"
    ]
    assert errors == {
        gen.ERR_INVALID_PQ: 3,
        gen.ERR_MISSING: 4,
        gen.ERR_INVALID_DATE: 2,
        gen.ERR_DUPLICATE: 2,
        gen.ERR_NON_POSITIVE: 2,
        gen.ERR_NON_NUMERIC_ID: 1,
    }


def test_checker_accepts_expected_outputs(sales):
    _, exp = sales
    assert check.check_summary(exp, exp.summary_row()) == []
    assert check.check_error_counts(exp, dict(exp.errors)) == []
    n = exp.clean
    gate = [{"total_records": n, "unique_records": n, "correct_calculations": n}]
    assert check.check_report(exp, "dag_validation_gate", gate) == []
    by_product = sorted(
        ({"product": p, "revenue": round(v, 2)} for p, v in exp.products.items()),
        key=lambda r: -r["revenue"],
    )
    assert check.check_report(exp, "readme_revenue_by_product", by_product) == []


def test_checker_rejects_injected_wrong_count(sales):
    _, exp = sales
    row = dict(exp.summary_row(), total_sales=exp.clean + 1)
    assert check.check_summary(exp, row)
    counts = dict(exp.errors)
    counts[gen.ERR_DUPLICATE] -= 1
    assert check.check_error_counts(exp, counts)
    n = exp.clean - 1
    gate = [{"total_records": n, "unique_records": n, "correct_calculations": n}]
    assert check.check_report(exp, "dag_validation_gate", gate)
    row = {"total_rows": exp.clean + 1, "latest_sale": exp.latest_sale_date,
           "total_revenue": round(exp.revenue, 2)}
    assert check.check_report(exp, "readme_count_max_sum", [row])


def test_checker_rejects_revenue_off_by_more_than_a_cent(sales):
    _, exp = sales
    row = dict(exp.summary_row())
    row["total_revenue"] += 0.02
    assert check.check_summary(exp, row)


@dataclasses.dataclass
class _Op:
    latency_s: float
    rows: int


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    workloads = pytest.importorskip("workloads")  # needs pyspark
    assert list(workloads.WORKLOADS) == list(run.WORKLOAD_NAMES)

    ops = [_Op(1.0, 10), _Op(2.0, 10), _Op(3.0, 10)]
    e2e = run.end_to_end(5.0, ops)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert list(e2e) == list(run.END_TO_END)
    assert e2e["latency_p50_s"] == 2.0 and e2e["throughput_ops_per_s"] == 0.5

    layer = run.per_layer(Tracer(), 1.0, 100.0, ops, ops)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert list(layer) == list(run.PER_LAYER)


def test_self_time_subtracts_child_spans():
    t = Tracer()
    with t.span("pipeline.op"):
        with t.span("sinks.write"):
            pass
    outer, inner = t.spans
    got = t.self_time_by_layer()
    assert got["sinks"] == pytest.approx(inner.end - inner.start)
    assert got["pipeline"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )
    assert inner.parent == 0 and outer.parent is None
