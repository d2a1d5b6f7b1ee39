"""Output checkers: compare what the pipeline returned with what the
generator computed. Each returns a list of mismatches; empty means the
operation's output is correct."""

from __future__ import annotations

import os

from gen import SalesExpected

# Money values are ROUND(SUM, 2) of doubles summed in a different order
# than the generator's exact sum, so they may differ in the last cent.
_CENT = 0.0101


def _money_ok(got, want: float) -> bool:
    return got is not None and abs(got - want) <= _CENT + 1e-12 * abs(want)


def check_summary(exp: SalesExpected, row: dict) -> list[str]:
    """``plans.reports.summary_report`` row: counts exact, money to a cent."""
    want = exp.summary_row()
    bad = []
    for k in ("total_sales", "unique_products", "latest_sale_date"):
        if row.get(k) != want[k]:
            bad.append(f"summary {k}: got {row.get(k)!r}, want {want[k]!r}")
    for k in ("total_revenue", "avg_sale_value"):
        if not _money_ok(row.get(k), want[k]):
            bad.append(f"summary {k}: got {row.get(k)!r}, want {want[k]!r}")
    return bad


def check_error_counts(exp: SalesExpected, counts: dict[str, int]) -> list[str]:
    """Dead-letter rows per error kind, exact."""
    want = {k: v for k, v in exp.errors.items() if v}
    if counts == want:
        return []
    return [f"error counts: got {counts}, want {want}"]


def check_committed(warehouse: str, dead_letter_run: str, min_version: int) -> list[str]:
    """The warehouse pointer names a complete snapshot no older than
    ``min_version`` and the run's dead-letter directory is complete.
    Returns mismatches; reads only file metadata."""
    bad = []
    try:
        with open(os.path.join(warehouse, "_CURRENT")) as fh:
            version = int(fh.read().split()[0].removeprefix("v="))
    except (OSError, ValueError, IndexError):
        return [f"warehouse {warehouse}: no readable _CURRENT pointer"]
    if version < min_version:
        bad.append(f"warehouse pointer v={version}, want >= v={min_version}")
    if not os.path.exists(os.path.join(warehouse, f"v={version}", "_SUCCESS")):
        bad.append(f"warehouse snapshot v={version} is incomplete")
    if not os.path.exists(os.path.join(dead_letter_run, "_SUCCESS")):
        bad.append(f"dead-letter {dead_letter_run} is incomplete")
    return bad


# The reference's report SQL over the ``sales_data`` view: the DAG's
# validation gate and summary report, then the README's revenue-by-product
# and count/max/sum queries.
REPORT_SQL = {
    "dag_validation_gate": """
        SELECT COUNT(*) AS total_records,
               COUNT(DISTINCT id) AS unique_records,
               SUM(CASE WHEN total_sale = price * quantity THEN 1 ELSE 0 END)
                   AS correct_calculations
        FROM sales_data
        HAVING total_records > 0
           AND unique_records = total_records
           AND correct_calculations = total_records""",
    "dag_summary_report": """
        SELECT COUNT(*) AS total_sales,
               ROUND(SUM(total_sale), 2) AS total_revenue,
               ROUND(AVG(total_sale), 2) AS avg_sale_value,
               COUNT(DISTINCT product) AS unique_products,
               MAX(sale_date) AS latest_sale_date
        FROM sales_data""",
    "readme_revenue_by_product": """
        SELECT product, ROUND(SUM(total_sale), 2) AS revenue
        FROM sales_data
        GROUP BY product
        ORDER BY revenue DESC, product""",
    "readme_count_max_sum": """
        SELECT COUNT(*) AS total_rows,
               MAX(sale_date) AS latest_sale,
               ROUND(SUM(total_sale), 2) AS total_revenue
        FROM sales_data""",
}


def check_report(exp: SalesExpected, query: str, rows: list[dict]) -> list[str]:
    """Rows of one ``REPORT_SQL`` query against the generator's values."""
    n = exp.clean
    if query == "dag_validation_gate":
        if rows != [{"total_records": n, "unique_records": n, "correct_calculations": n}]:
            return [f"validation_gate: got {rows}, want one row of {n}"]
        return []
    if query == "dag_summary_report":
        return check_summary(exp, rows[0]) if len(rows) == 1 else [f"summary_report: {len(rows)} rows"]
    if query == "readme_count_max_sum":
        if len(rows) != 1:
            return [f"count_max_sum: {len(rows)} rows"]
        r = rows[0]
        bad = []
        if r["total_rows"] != n:
            bad.append(f"count_max_sum total_rows: got {r['total_rows']}, want {n}")
        if r["latest_sale"] != exp.latest_sale_date:
            bad.append(f"count_max_sum latest_sale: got {r['latest_sale']}")
        if not _money_ok(r["total_revenue"], round(exp.revenue, 2)):
            bad.append(f"count_max_sum total_revenue: got {r['total_revenue']}")
        return bad
    if query == "readme_revenue_by_product":
        got = {r["product"]: r["revenue"] for r in rows}
        if len(rows) != len(exp.products) or got.keys() != exp.products.keys():
            return [f"revenue_by_product: products {sorted(got)} != {sorted(exp.products)}"]
        bad = [
            f"revenue_by_product {p}: got {got[p]}, want {round(v, 2)}"
            for p, v in exp.products.items()
            if not _money_ok(got[p], round(v, 2))
        ]
        revenues = [r["revenue"] for r in rows]
        if revenues != sorted(revenues, reverse=True):
            bad.append("revenue_by_product: not ordered by revenue")
        return bad
    raise KeyError(query)
