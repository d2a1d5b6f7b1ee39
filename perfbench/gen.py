"""Seeded sales-CSV generator and its plain-Python expected outputs.

``make_sales`` is a pure function of its seed (same seed, same bytes). It
writes a messy sales CSV in the shape of ``tests/fixtures/messy_sales.csv``
with every error class at the stated ``ERROR_MIX``, and computes the
expected pipeline outputs with a line-by-line re-statement of the
reference validation rules (``reference_outcome``) — no Spark involved.

The error-class strings are spelled out here rather than imported so the
expectations stay independent of the code under test.
"""

from __future__ import annotations

import datetime
import itertools
import math
import random
import re
from dataclasses import dataclass, field

CLEAN = "clean"
ERR_MALFORMED = "Malformed row, not enough fields"
ERR_MISSING = "Missing required field"
ERR_DUPLICATE = "Duplicate id in this bundle"
ERR_INVALID_PQ = "Invalid price or quantity"
ERR_NON_POSITIVE = "Non-positive price or quantity"
ERR_INVALID_DATE = "Invalid sale_date"
ERR_INVALID_PRODUCT = "Invalid product name"
ERR_NON_NUMERIC_ID = "Non-numeric id"

# Share of data lines per outcome. Every class of the golden fixture, plus
# the two the fixture lacks (malformed arity, quote-only product).
ERROR_MIX = {
    CLEAN: 0.80,
    ERR_MALFORMED: 0.02,
    ERR_MISSING: 0.03,
    ERR_DUPLICATE: 0.04,
    ERR_INVALID_PQ: 0.03,
    ERR_NON_POSITIVE: 0.02,
    ERR_INVALID_DATE: 0.03,
    ERR_INVALID_PRODUCT: 0.01,
    ERR_NON_NUMERIC_ID: 0.02,
}

HEADER = "id,product,price,quantity,sale_date"

PRODUCTS = (
    "Laptop", "Mouse", "Keyboard", "Headphones", "Monitor", "Tablet",
    "Printer", "Webcam", "Phone", "Charger", "Speaker", "Desk Lamp",
    "Notebook", "Pen Set", "Mousepad", "Monitor Stand", "Phone Case",
    "Desk", "Router", "Docking Station", "SSD Drive", "Microphone",
    "Graphics Tablet", "Smart Watch", "Power Bank", "HDMI Cable",
    "Office Chair", "Label Printer", "Scanner", "Projector",
)

_FIRST_DAY = datetime.date(2023, 1, 1)


@dataclass
class SalesExpected:
    """What the pipeline must produce for one generated CSV."""

    lines_in: int = 0  # data lines, header excluded
    clean: int = 0
    errors: dict[str, int] = field(default_factory=dict)
    revenue: float = 0.0  # exact sum of total_sale over clean rows
    products: dict[str, float] = field(default_factory=dict)  # revenue by product
    latest_sale_date: datetime.date | None = None

    @property
    def avg_sale(self) -> float:
        return self.revenue / self.clean

    def summary_row(self) -> dict:
        """Expected ``plans.reports.summary_report`` row."""
        return {
            "total_sales": self.clean,
            "total_revenue": round(self.revenue, 2),
            "avg_sale_value": round(self.avg_sale, 2),
            "unique_products": len(self.products),
            "latest_sale_date": self.latest_sale_date,
        }


_DATE_RE = re.compile(r"(\d{4})([-/])(\d{1,2})\2(\d{1,2})")


def _parse_date(s: str) -> datetime.date | None:
    """``strptime`` with ``%Y-%m-%d`` then ``%Y/%m/%d``, without its cost."""
    m = _DATE_RE.fullmatch(s)
    if m is None:
        return None
    try:
        return datetime.date(int(m[1]), int(m[3]), int(m[4]))
    except ValueError:
        return None


def reference_outcome(line: str, seen_ids: set[str]):
    """Classify one data line by the reference rules, first failing check
    wins: arity, required fields, duplicate id (an id is claimed as soon
    as the row passes the required-field check), numeric cast, positive
    range, date, product, id digits. Returns an error string or the clean
    row tuple (id, product, price, quantity, sale_date, total_sale)."""
    parts = [p.strip() for p in line.split(",")]
    if len(parts) < 5:
        return ERR_MALFORMED
    id_, product, price_s, qty_s, date_s = parts[:5]
    if not (id_ and product and price_s and qty_s and date_s):
        return ERR_MISSING
    if id_ in seen_ids:
        return ERR_DUPLICATE
    seen_ids.add(id_)
    try:
        price = float(price_s)
        qty = int(qty_s)
    except ValueError:
        return ERR_INVALID_PQ
    if price <= 0 or qty <= 0:
        return ERR_NON_POSITIVE
    sale_date = _parse_date(date_s)
    if sale_date is None:
        return ERR_INVALID_DATE
    product = product.replace('"', "").replace("'", "")
    if not product:
        return ERR_INVALID_PRODUCT
    if not id_.isdigit():
        return ERR_NON_NUMERIC_ID
    return (id_, product, price, qty, sale_date, price * qty)


class _SalesLines:
    """Draws data lines of a chosen outcome. Fresh ids come from a counter,
    so only ERR_DUPLICATE lines ever repeat an id."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.next_id = 1
        self.claimed: list[str] = []
        days = [_FIRST_DAY + datetime.timedelta(days=d) for d in range(730)]
        self.dashed = [d.strftime("%Y-%m-%d") for d in days]
        self.slashed = [d.strftime("%Y/%m/%d") for d in days]

    def _fresh_id(self) -> str:
        n = self.next_id
        self.next_id += 1
        # leading zeros are kept verbatim: "0042" and "42" are distinct ids
        return f"00{n}" if self.rng.random() < 0.05 else str(n)

    def _fields(self, id_: str) -> list[str]:
        r = self.rng
        product = r.choice(PRODUCTS)
        price = f"{r.randint(100, 250000) / 100:.2f}"
        qty = str(r.randint(1, 9))
        date = (self.slashed if r.random() < 0.1 else self.dashed)[r.randrange(730)]
        u = r.random()
        if u < 0.03:  # quotes stripped by the product clean step
            product = f'"{product} ""Pro"""'
        elif u < 0.08:  # whitespace padding trimmed per field
            return [f" {id_} ", f" {product} ", f" {price} ", f" {qty} ", f" {date} "]
        return [id_, product, price, qty, date]

    def line(self, outcome: str) -> str:
        r = self.rng
        if outcome == ERR_DUPLICATE:
            f = self._fields(r.choice(self.claimed))
        elif outcome == ERR_NON_NUMERIC_ID:
            f = self._fields(f"sku{self.next_id}")
            self.next_id += 1
        else:
            f = self._fields(self._fresh_id())
        if outcome == CLEAN:
            if r.random() < 0.02:
                f.append("EXTRA_COLUMN")  # columns past the fifth are ignored
        elif outcome == ERR_MALFORMED:
            f = f[: r.randint(1, 4)]
        elif outcome == ERR_MISSING:
            f[r.randrange(5)] = r.choice(["", " "])
        elif outcome == ERR_INVALID_PQ:
            k = r.randrange(3)
            if k == 0:
                f[2] = "twenty"
            elif k == 1:
                f[3] = r.choice(["word", "2.5"])
            else:  # a quoted comma shifts the columns under a naive split
                f[1] = f'"{f[1].strip()}, Portable"'
        elif outcome == ERR_NON_POSITIVE:
            if r.random() < 0.5:
                f[2] = r.choice(["0", "-49.99", "-1.00"])
            else:
                f[3] = r.choice(["0", "-2"])
        elif outcome == ERR_INVALID_DATE:
            f[4] = r.choice(["2024-18-01", "notadate", "2024/13/05"])
        elif outcome == ERR_INVALID_PRODUCT:
            f[1] = r.choice(['""', "''", "\"'\""])
        line = ",".join(f)
        if outcome not in (ERR_MALFORMED, ERR_MISSING):
            self.claimed.append(f[0].strip())
        return line


def make_sales(path: str, seed: int, n_lines: int) -> SalesExpected:
    """Write ``n_lines`` data lines (plus a header) to ``path`` and return
    the expected outputs. Raises if a drawn line does not classify as the
    outcome it was drawn for, so the stated mix is the real mix."""
    rng = random.Random(seed)
    gen = _SalesLines(rng)
    outcomes = list(ERROR_MIX)
    cum_weights = list(itertools.accumulate(ERROR_MIX.values()))
    exp = SalesExpected(lines_in=n_lines, errors={k: 0 for k in outcomes[1:]})
    seen: set[str] = set()
    revenue: list[float] = []
    by_product: dict[str, list[float]] = {}
    out = [HEADER]
    for i in range(n_lines):
        want = rng.choices(outcomes, cum_weights=cum_weights)[0] if i >= 10 else CLEAN
        line = gen.line(want)
        got = reference_outcome(line, seen)
        if isinstance(got, tuple):
            _, product, _, _, sale_date, total = got
            exp.clean += 1
            revenue.append(total)
            by_product.setdefault(product, []).append(total)
            if exp.latest_sale_date is None or sale_date > exp.latest_sale_date:
                exp.latest_sale_date = sale_date
            got = CLEAN
        else:
            exp.errors[got] += 1
        if got != want:
            raise AssertionError(f"generated {want!r} line classifies as {got!r}: {line}")
        out.append(line)
    exp.revenue = math.fsum(revenue)
    exp.products = {p: math.fsum(v) for p, v in by_product.items()}
    with open(path, "w", newline="\n") as fh:
        fh.write("\n".join(out) + "\n")
    return exp
