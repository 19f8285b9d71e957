"""Expected answers, computed without Spark.

- Queries: the DuckDB oracle twin of each registered query, run over the
  same parquet files, canonicalised with ``tests/oracle_diff.py``'s
  normalisation (imported, so the benchmark and the test suite agree on
  what "equal" means).
- ETL: an independent pure-Python replay of the reference pipeline's
  semantics over the generated CSVs (coercing parse, trim, null-key drop,
  keep-last dedupe, batch-local FK validation with orders checked before
  details, MERGE upsert), yielding table counts, reject counts and
  ``SUM(TotalPrice)`` after every batch.
"""

from __future__ import annotations

import csv
import math
import os
import re
import sys
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (_REPO, os.path.join(_REPO, "tests")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from oracle_diff import _canon, run_oracle  # noqa: E402

# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def _plain(v):
    """numpy/pandas value -> the Python value ``collect()`` would give."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


_INTEGRAL = {"byte", "short", "integer", "long"}


def rows_from_pandas(pdf, schema) -> tuple[list[str], list[tuple]]:
    """Columns and rows of a ``toPandas()`` result in ``collect()`` form.

    Arrow transfer turns nulls in integral columns into NaN floats and
    timestamps into pandas Timestamps; undo both using the Spark schema.
    Null and NaN both map to None (on the oracle side too, see
    :func:`canon`).
    """
    cols = list(pdf.columns)
    integral = [f.dataType.typeName() in _INTEGRAL for f in schema.fields]
    rows = []
    for rec in pdf.itertuples(index=False, name=None):
        row = []
        for v, is_int in zip(rec, integral):
            v = _plain(v)
            if is_int and isinstance(v, float):
                v = int(v)
            row.append(v)
        rows.append(tuple(row))
    return cols, rows


def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sorted column names followed by ``oracle_diff``'s canonical rows."""
    nan_free = [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]
    return [tuple(sorted(cols))] + _canon(cols, nan_free)


def query_answer(sql: str, sf_dir: str) -> list[tuple]:
    """Canonical rows of the DuckDB oracle (first element: sorted columns)."""
    cols, rows = run_oracle(sql, sf_dir)
    return canon(cols, rows)


def diff(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got) != len(want):
        return f"rows {len(got) - 1} != {len(want) - 1}"
    for a, b in zip(got[1:], want[1:]):
        if a != b:
            return f"row {a} != {b}"
    return None


# ---------------------------------------------------------------------------
# ETL reference replay
# ---------------------------------------------------------------------------

_INT = re.compile(r"^\s*[+-]?\d+\s*$")
_DEC = re.compile(r"^\s*[+-]?\d+(\.\d+)?\s*$")
_DATE = re.compile(r"^\s*\d{4}-\d{2}-\d{2}\s*$")
_CENT = Decimal("0.01")

# column -> parser; unlisted columns are strings (trimmed of spaces)
_PARSE = {
    "CustomerID": "int",
    "ProductID": "int",
    "OrderID": "int",
    "Stock": "int",
    "Quantity": "int",
    "Price": "dec",
    "TotalPrice": "dec",
    "OrderDate": "date",
}
NULL_KEYS = {
    "customers": ["CustomerID"],
    "products": ["ProductID"],
    "orders": ["OrderID", "CustomerID"],
    "order_details": ["OrderID", "ProductID"],
}
UNIQUE_KEYS = {
    "customers": ["CustomerID"],
    "products": ["ProductID"],
    "orders": ["OrderID"],
    "order_details": ["OrderID", "ProductID"],
}


def _value(col: str, raw: str):
    if raw == "":
        return None
    kind = _PARSE.get(col)
    if kind is None:
        return raw.strip(" ")
    if kind == "int":
        if not _INT.match(raw):
            return None
        v = int(raw)
        return v if -(2**31) <= v < 2**31 else None
    if kind == "dec":
        return Decimal(raw.strip()).quantize(_CENT, ROUND_HALF_UP) if _DEC.match(raw) else None
    if not _DATE.match(raw):
        return None
    try:
        return datetime.strptime(raw.strip(), "%Y-%m-%d")
    except ValueError:
        return None


def _read(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, newline="") as f:
        return [
            {c: _value(c, v) for c, v in row.items()} for row in csv.DictReader(f)
        ]


def _clean(rows: list[dict], name: str) -> list[dict]:
    rows = [r for r in rows if all(r[k] is not None for k in NULL_KEYS[name])]
    last = {}
    for r in rows:  # file order: a later row replaces an earlier one
        last[tuple(r[k] for k in UNIQUE_KEYS[name])] = r
    return list(last.values())


class EtlReplay:
    """Warehouse state after each batch, under the reference semantics."""

    def __init__(self):
        self.state: dict[str, dict] = {n: {} for n in UNIQUE_KEYS}

    def apply(self, batch_dir: str) -> dict:
        t = {
            n: _clean(_read(os.path.join(batch_dir, f"{n}.csv")), n)
            for n in UNIQUE_KEYS
        }
        cust_ids = {r["CustomerID"] for r in t["customers"]}
        if cust_ids:
            orders_ok = [r for r in t["orders"] if r["CustomerID"] in cust_ids]
        else:
            orders_ok = t["orders"]
        order_ids = {r["OrderID"] for r in orders_ok}
        prod_ids = {r["ProductID"] for r in t["products"]}
        details_ok = [
            r
            for r in t["order_details"]
            if (not t["orders"] or r["OrderID"] in order_ids)
            and (not t["products"] or r["ProductID"] in prod_ids)
        ]
        rejects = {
            "orders": len(t["orders"]) - len(orders_ok),
            "order_details": len(t["order_details"]) - len(details_ok),
        }
        t["orders"], t["order_details"] = orders_ok, details_ok
        for name, rows in t.items():
            for r in rows:
                self.state[name][tuple(r[k] for k in UNIQUE_KEYS[name])] = r
        prices = [
            r["TotalPrice"]
            for r in self.state["order_details"].values()
            if r["TotalPrice"] is not None
        ]
        return {
            "counts": {n: len(s) for n, s in self.state.items()},
            "rejects": rejects,
            "sum_total": sum(prices, Decimal("0.00")) if prices else None,
        }
