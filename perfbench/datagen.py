"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of the seed:

- ``write_driver_tables``: the ten TPC-H-ish parquet tables the query
  registry reads (``region`` ... ``embeddings``), with the same column
  names, types and value domains as the sf* test data (TESTDATA.md).
- ``write_etl_batches``: reference-shaped CSV batches for ``run_pipeline``:
  one full load plus small delta batches, carrying the reference data's
  dirty properties (padded strings, unparseable numbers and dates, null
  keys, duplicate keys with different values, FK orphans at both levels).

Files are written with pyarrow / the csv module only, so the bytes depend on
the seed and nothing else.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish parquet tables
# ---------------------------------------------------------------------------

# Row counts at scale=1, the sf0.01 volumes of TESTDATA.md.
_BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "green", "large", "smooth"]
_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "nut", "plate"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def driver_tables(seed: int, scale: float, n_docs: int) -> dict[str, pa.Table]:
    """The ten registry tables as arrow tables (``n_docs`` documents and
    as many embeddings)."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in _BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(rng, -99_999, 1_000_000, ns),
        }
    )
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [_TYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": (9000 + np.arange(np_) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, no),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    gaps = rng.integers(1, 2 * 30 * _DAY_US // ne, ne)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(2, ne // 66), ne), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(20.0, ne), 2) + 0.01,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )

    # Documents: random token streams, ~5% near-duplicates (another
    # document's text plus one or two trailing "dup" tokens) so the
    # dedup/similarity operators have true pairs to find.
    texts: list[str] = []
    for _ in range(n_docs):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        src = int(rng.integers(0, n_docs))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    # Embeddings: 64-d unit vectors, weakly clustered around 10 centroids.
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_docs)
    vecs = 0.15 * centers[labels] + rng.normal(scale=0.125, size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_driver_tables(out_dir: str, seed: int, scale: float, n_docs: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the ten tables; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in driver_tables(seed, scale, n_docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# Reference-shaped ETL CSV batches
# ---------------------------------------------------------------------------

CSV_HEADERS = {
    "customers": ["CustomerID", "FirstName", "LastName", "Email", "Phone", "City", "Country"],
    "products": ["ProductID", "ProductName", "Category", "Price", "Stock"],
    "orders": ["OrderID", "CustomerID", "OrderDate", "Status"],
    "order_details": ["OrderID", "ProductID", "Quantity", "TotalPrice"],
}
_FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Smith", "Lopez", "Kim", "Novak", "Okafor", "Rossi", "Sato", "Weber"]
_CITIES = ["Lisbon", "Austin", "Osaka", "Lagos", "Lima", "Oslo", "Pune", "Quito"]
_COUNTRIES = ["Portugal", "United States", "Japan", "Nigeria", "Peru", "Norway", "India"]
_CATEGORIES = ["Books", "Clothing", "Electronics", "Food", "Home", "Sports", "Toys"]
_STATUSES = ["Cancelled", "Delivered", "Pending", "Shipped"]
_BAD_NUMBERS = ["N/A", "abc", "?"]
_BAD_DATES = ["not-a-date", "??", "31/12/2024"]


@dataclass
class EtlSizes:
    customers: int
    products: int
    orders: int
    details: int


class _Dirty:
    """Applies the reference data's defects at fixed rates."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def pad(self, s: str) -> str:
        r = self.rng.random()
        if r < 0.05:
            return "  " + s
        if r < 0.10:
            return s + "   "
        return s

    def number(self, s: str, rate: float = 0.005) -> str:
        if self.rng.random() < rate:
            return _BAD_NUMBERS[int(self.rng.integers(0, len(_BAD_NUMBERS)))]
        return s

    def date(self, s: str, rate: float = 0.005) -> str:
        if self.rng.random() < rate:
            return _BAD_DATES[int(self.rng.integers(0, len(_BAD_DATES)))]
        return s

    def key(self, s: str, rate: float = 0.002) -> str:
        return "" if self.rng.random() < rate else s


def _money(rng: np.random.Generator, lo: int, hi: int) -> str:
    c = int(rng.integers(lo, hi))
    return f"{c // 100}.{c % 100:02d}"


def _day(rng: np.random.Generator) -> str:
    d = np.datetime64("2023-09-13") + int(rng.integers(0, 731))
    return str(d)


def _customer(rng, d: _Dirty, cid: int) -> list[str]:
    first = _FIRST[int(rng.integers(0, len(_FIRST)))]
    last = _LAST[int(rng.integers(0, len(_LAST)))]
    return [
        d.key(str(cid)),
        d.pad(first),
        d.pad(last),
        f"{first.lower()}.{last.lower()}{cid}@example.com",
        f"+1-{int(rng.integers(200, 999))}-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}",
        d.pad(_CITIES[int(rng.integers(0, len(_CITIES)))]),
        _COUNTRIES[int(rng.integers(0, len(_COUNTRIES)))],
    ]


def _product(rng, d: _Dirty, pid: int) -> list[str]:
    return [
        d.key(str(pid)),
        d.pad(f"{_ADJ[int(rng.integers(0, 8))]} {_NOUN[int(rng.integers(0, 8))]}"),
        _CATEGORIES[int(rng.integers(0, len(_CATEGORIES)))],
        d.number(_money(rng, 9_000, 88_000)),
        d.number(str(int(rng.integers(100, 501)))),
    ]


def _order(rng, d: _Dirty, oid: int, cid: int) -> list[str]:
    return [
        d.key(str(oid)),
        d.key(str(cid)),
        d.date(_day(rng)),
        d.pad(_STATUSES[int(rng.integers(0, 4))]),
    ]


def _detail(rng, d: _Dirty, oid: int, pid: int) -> list[str]:
    return [
        str(oid),
        d.key(str(pid)),
        d.number(str(int(rng.integers(1, 11)))),
        d.number(_money(rng, 519, 999_930)),
    ]


def _with_dups(rng, rows: list[list[str]], remake, rate: float) -> list[list[str]]:
    """Re-emit about ``rate`` of the rows with the same key and different
    values at a random position after index i of the growing list, so mostly
    later in the file; keep-last dedupe decides which copy survives."""
    out = list(rows)
    for i in np.flatnonzero(rng.random(len(rows)) < rate):
        again = remake(rows[i])
        out.insert(int(rng.integers(i + 1, len(out) + 1)), again)
    return out


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def _batch(
    rng: np.random.Generator,
    cust_ids: list[int],
    prod_ids: list[int],
    order_specs: list[tuple[int, int]],
    n_details: int,
    orphan_cust: list[int],
) -> dict[str, list[list[str]]]:
    """Rows of one batch. ``order_specs`` are (OrderID, CustomerID) pairs;
    FK orphans are added on top at both levels."""
    d = _Dirty(rng)
    customers = [_customer(rng, d, c) for c in cust_ids]
    products = [_product(rng, d, p) for p in prod_ids]
    orders = [_order(rng, d, o, c) for o, c in order_specs]
    # orphan orders: customers absent from this batch's customers file
    base = max(o for o, _ in order_specs) + 1
    orphan_orders = [base + i for i in range(len(orphan_cust))]
    orders += [_order(rng, d, o, c) for o, c in zip(orphan_orders, orphan_cust)]
    order_ids = [o for o, _ in order_specs]
    details = []
    seen = set()
    while len(details) < n_details:
        o = order_ids[int(rng.integers(0, len(order_ids)))]
        p = prod_ids[int(rng.integers(0, len(prod_ids)))]
        if (o, p) in seen:
            continue
        seen.add((o, p))
        details.append(_detail(rng, d, o, p))
    # detail orphans: unknown order, order rejected upstream (cascade),
    # unknown product
    n_orph = max(3, n_details // 400)
    for i in range(n_orph):
        details.append(_detail(rng, d, 10_000_000 + i, prod_ids[i % len(prod_ids)]))
        details.append(_detail(rng, d, orphan_orders[i % len(orphan_orders)], prod_ids[0]))
        details.append(_detail(rng, d, order_ids[i % len(order_ids)], 10_000_000 + i))

    def recust(r):
        return _customer(rng, d, int(r[0])) if r[0] else r

    def reprod(r):
        return _product(rng, d, int(r[0])) if r[0] else r

    def reorder(r):
        return [r[0], r[1], d.date(_day(rng)), d.pad(_STATUSES[int(rng.integers(0, 4))])]

    def redetail(r):
        return [r[0], r[1], str(int(rng.integers(1, 11))), _money(rng, 519, 999_930)]

    return {
        "customers": _with_dups(rng, customers, recust, 0.01),
        "products": _with_dups(rng, products, reprod, 0.01),
        "orders": _with_dups(rng, orders, reorder, 0.005),
        "order_details": _with_dups(rng, details, redetail, 0.001),
    }


def write_etl_batches(
    out_dir: str, seed: int, sizes: EtlSizes, n_deltas: int, delta_frac: float
) -> list[dict]:
    """Write ``batch_000`` (full load) and ``batch_001..`` (deltas) under
    ``out_dir``; returns per batch ``{"dir", "csv_bytes", "csv_rows"}``.

    A delta updates and inserts customers, products and orders, adds
    details for its own orders, and carries FK orphans. FK validation is
    batch-local (as in the reference), so delta orders reference customers
    that the same delta carries.
    """
    rng = np.random.default_rng(seed)
    batches = []
    n_c, n_p, n_o = sizes.customers, sizes.products, sizes.orders
    specs = [(o, int(rng.integers(1, n_c + 1))) for o in range(1, n_o + 1)]
    orphan_cust = [900_000 + i for i in range(max(3, n_o // 500))]
    batches.append(
        _batch(rng, list(range(1, n_c + 1)), list(range(1, n_p + 1)), specs, sizes.details, orphan_cust)
    )
    next_c, next_p, next_o = n_c + 1, n_p + 1, n_o + 10_000
    for _ in range(n_deltas):
        k_c = max(4, int(n_c * delta_frac))
        k_p = max(4, int(n_p * delta_frac))
        k_o = max(4, int(n_o * delta_frac))
        upd_c = [int(x) for x in rng.choice(np.arange(1, n_c + 1), k_c // 2, replace=False)]
        new_c = list(range(next_c, next_c + k_c - k_c // 2))
        upd_p = [int(x) for x in rng.choice(np.arange(1, n_p + 1), k_p // 2, replace=False)]
        new_p = list(range(next_p, next_p + k_p - k_p // 2))
        cust = upd_c + new_c
        upd_o = [int(x) for x in rng.choice(np.arange(1, n_o + 1), k_o // 2, replace=False)]
        new_o = list(range(next_o, next_o + k_o - k_o // 2))
        specs = [(o, cust[int(rng.integers(0, len(cust)))]) for o in upd_o + new_o]
        # orphans: an unknown customer, and a known one absent from the batch
        in_batch = set(cust)
        known_absent = next(c for c in range(1, n_c + 1) if c not in in_batch)
        batches.append(
            _batch(rng, cust, upd_p + new_p, specs, 3 * k_o, [950_000 + next_o, known_absent])
        )
        next_c += k_c
        next_p += k_p
        next_o += k_o + 10_000
    out = []
    for i, rows in enumerate(batches):
        bdir = os.path.join(out_dir, f"batch_{i:03d}")
        os.makedirs(bdir, exist_ok=True)
        nbytes = sum(
            _write_csv(os.path.join(bdir, f"{name}.csv"), CSV_HEADERS[name], r)
            for name, r in rows.items()
        )
        out.append(
            {"dir": bdir, "csv_bytes": nbytes, "csv_rows": sum(len(r) for r in rows.values())}
        )
    return out
