"""Property-based tests (hypothesis) for the validation chain's cast and
date semantics — the risk areas SURVEY.md §7.4 flags for oracle parity."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators.transform import (
    finalize_clean,
    finalize_errors,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.validate import annotate
from gcp_serverless_etl_pipeline_lab_spark.sources.text_csv import (
    LINE_COL,
    LINE_ID_COL,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _run_chain(spark, lines):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(lines)], [LINE_ID_COL, LINE_COL]
    )
    annotated = annotate(df)
    return finalize_clean(annotated).collect(), finalize_errors(annotated).collect()


def _reference_row(line: str):
    """Independent Python re-implementation of the reference semantics
    (`/root/reference/dataflow/dataflow_transform.py:37-125`, minus dedup):
    returns ('clean', fields) or ('error', reason)."""
    if line.lower().startswith("id,"):
        return None
    parts = [p.strip() for p in line.split(",")]
    if len(parts) < 5:
        return ("error", "Malformed row, not enough fields")
    id_s, product, price_s, qty_s, date_s = parts[:5]
    if not all([id_s, product, price_s, qty_s, date_s]):
        return ("error", "Missing required field")
    try:
        price = float(price_s)
        quantity = int(qty_s)
    except ValueError:
        return ("error", "Invalid price or quantity")
    if price <= 0 or quantity <= 0:
        return ("error", "Non-positive price or quantity")
    sale_date = None
    for fmt in ("%Y-%m-%d", "%Y/%m/%d"):
        try:
            sale_date = dt.datetime.strptime(date_s, fmt).date()
            break
        except ValueError:
            pass
    if sale_date is None:
        return ("error", "Invalid sale_date")
    # reference order: strip first, then remove quote chars (no re-strip)
    product_clean = product.strip().replace('"', "").replace("'", "")
    if not product_clean:
        return ("error", "Invalid product name")
    if not id_s.isdigit():
        return ("error", "Non-numeric id")
    return ("clean", (id_s, product_clean, price, quantity, sale_date))


# Strategies biased toward the edge cases: floats-as-quantity, padded
# tokens, alt date separators, sign prefixes, quotes.
_field = st.one_of(
    st.sampled_from(
        ["7", "007", " 12 ", "twenty", "5.0", "-3", "+4", "0", "", "x9",
         "Widget", '"Quoted"', "  padded  ", "3.25", "-1.5", "1e2",
         "2024-02-29", "2023-02-29", "2024/1/7", "2024-1-7", "2024-13-01",
         "notadate", "2024-01-05"]
    ),
    st.text(alphabet="0123456789.-+eE ", min_size=0, max_size=6),
)


@given(st.lists(st.tuples(_field, _field, _field, _field, _field), min_size=1, max_size=8))
@SLOW
def test_chain_matches_reference_semantics(spark, rows):
    # unique ids per row position to keep dedup out of the property (it's
    # covered by its own tests); fields under test are the other four.
    lines = [
        ",".join([str(1000 + i), p, pr, q, d])
        for i, (_id, p, pr, q, d) in enumerate(rows)
    ]
    clean_rows, error_rows = _run_chain(spark, lines)
    got = {}
    for r in clean_rows:
        got[r["id"]] = ("clean", r["product"], r["price"], r["quantity"], r["sale_date"])
    for r in error_rows:
        rid = r["row"].split(",")[0].strip()
        got[rid] = ("error", r["error"])

    for i, line in enumerate(lines):
        expected = _reference_row(line)
        rid = str(1000 + i)
        assert expected is not None
        if expected[0] == "clean":
            eid, prod, price, qty, date = expected[1]
            assert got[rid] == ("clean", prod, price, qty, date), line
        else:
            assert got[rid] == ("error", expected[1]), line


@given(st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2100, 12, 31)),
       st.sampled_from(["-", "/"]))
@SLOW
def test_valid_dates_always_parse(spark, d, sep):
    ds = f"{d.year:04d}{sep}{d.month:02d}{sep}{d.day:02d}"
    line = f"1,Thing,1.00,1,{ds}"
    clean_rows, error_rows = _run_chain(spark, [line])
    assert not error_rows, (ds, [r.asDict() for r in error_rows])
    assert clean_rows[0]["sale_date"] == d
