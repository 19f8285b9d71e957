"""The benchmark's own checks: seeded inputs, the correctness oracle, the
tail statistic. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import filecmp
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from datagen import EtlSizes, write_driver_tables, write_etl_batches  # noqa: E402
from oracle import EtlReplay, canon, diff, query_answer  # noqa: E402
from stats import tail  # noqa: E402

SIZES = EtlSizes(customers=200, products=80, orders=800, details=2400)


def _same_tree(a: str, b: str) -> bool:
    """Same relative file names with byte-identical contents."""
    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) for f in fs
        )

    names = files(a)
    if names != files(b):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_driver_tables_same_seed_same_bytes(tmp_path):
    a = write_driver_tables(str(tmp_path / "a"), 7, scale=0.1, n_docs=50)
    b = write_driver_tables(str(tmp_path / "b"), 7, scale=0.1, n_docs=50)
    write_driver_tables(str(tmp_path / "c"), 8, scale=0.1, n_docs=50)
    assert a == b
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert a == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10,
        "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
        "documents": 50, "embeddings": 50,
    }


def test_etl_batches_same_seed_same_bytes(tmp_path):
    a = write_etl_batches(str(tmp_path / "a"), 3, SIZES, 2, 0.02)
    b = write_etl_batches(str(tmp_path / "b"), 3, SIZES, 2, 0.02)
    assert [x["csv_bytes"] for x in a] == [x["csv_bytes"] for x in b]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert len(a) == 3


def _rows(batch_dir: str, name: str) -> list[dict]:
    with open(os.path.join(batch_dir, f"{name}.csv"), newline="") as f:
        return list(csv.DictReader(f))


def test_etl_batches_carry_the_reference_defects(tmp_path):
    full = write_etl_batches(str(tmp_path), 3, SIZES, 1, 0.02)[0]["dir"]
    cust = _rows(full, "customers")
    orders = _rows(full, "orders")
    details = _rows(full, "order_details")
    products = _rows(full, "products")
    ids = [r["CustomerID"] for r in cust]
    keys = ids + [r["OrderID"] for r in orders] + [r["ProductID"] for r in details]
    assert "" in keys  # null keys
    assert len(set(ids)) < len(ids)  # duplicate keys ...
    first = {}
    changed = False
    for r in cust:
        if r["CustomerID"] and r["CustomerID"] in first:
            changed |= first[r["CustomerID"]] != r
        first.setdefault(r["CustomerID"], r)
    assert changed  # ... with different values
    assert any(r["FirstName"] != r["FirstName"].strip() for r in cust)
    assert any(not r["Price"].replace(".", "").isdigit() for r in products if r["Price"])
    assert any(r["OrderDate"] and not r["OrderDate"][:4].isdigit() for r in orders)
    cust_ids = {r["CustomerID"] for r in cust}
    order_ids = {r["OrderID"] for r in orders}
    assert any(r["CustomerID"] not in cust_ids for r in orders)  # order orphans
    assert any(r["OrderID"] not in order_ids for r in details)  # detail orphans
    rep = EtlReplay().apply(full)
    assert rep["rejects"]["orders"] > 0 and rep["rejects"]["order_details"] > 0
    assert rep["counts"]["customers"] <= SIZES.customers


def test_etl_replay_catches_one_perturbed_row(tmp_path):
    batches = write_etl_batches(str(tmp_path / "a"), 3, SIZES, 1, 0.02)
    want = [EtlReplay().apply(batches[0]["dir"])]
    shutil.copytree(str(tmp_path / "a"), str(tmp_path / "b"))
    path = os.path.join(str(tmp_path / "b"), "batch_000", "order_details.csv")
    rows = _rows(os.path.dirname(path), "order_details")
    i = next(i for i, r in enumerate(rows) if r["TotalPrice"][:1].isdigit())
    rows[i]["TotalPrice"] = str(float(rows[i]["TotalPrice"]) + 1)
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]), lineterminator="\n")
        w.writeheader()
        w.writerows(rows)
    got = EtlReplay().apply(os.path.dirname(path))
    assert got["counts"] == want[0]["counts"]
    assert got["sum_total"] != want[0]["sum_total"]


def test_query_oracle_catches_one_perturbed_row(tmp_path):
    from salesanalytics_etl_spark.plans import all_oracles

    d = str(tmp_path / "t")
    write_driver_tables(d, 11, scale=0.1, n_docs=50)
    want = query_answer(all_oracles()["q03_sales_by_day"], d)
    cols = list(want[0])
    rows = want[1:]
    assert diff(canon(cols, rows), want) is None
    bad = list(rows)
    j = next(k for k, v in enumerate(bad[0]) if isinstance(v, str) and v[:1].isdigit())
    bad[0] = bad[0][:j] + ("0" + bad[0][j],) + bad[0][j + 1:]
    assert diff(canon(cols, bad), want) is not None
    assert diff(canon(cols, rows[1:]), want) is not None


@pytest.mark.parametrize(
    "n, index, pct",
    [(100, 89, 90.0), (25, 14, 60.0), (21, 10, 100 * 11 / 21)],
)
def test_tail_is_highest_order_statistic_with_ten_beyond(n, index, pct):
    values = [float(v) for v in range(n)]
    value, p, count = tail(list(reversed(values)))
    assert (value, count) == (values[index], n)
    assert p == pytest.approx(pct)
    assert sum(v > value for v in values) == 10


def test_tail_falls_back_to_median_for_small_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([float(v) for v in range(20)]) == (9.5, 50.0, 20)
    with pytest.raises(ValueError):
        tail([])
