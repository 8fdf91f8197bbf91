"""Seeded input generator for the benchmark.

Everything here is plain Python/NumPy/pyarrow in one process and imports
nothing from the engine package (not even ``datagen.py``), so a change to
the program can never change the benchmark's inputs: the same seed gives
byte-identical files.

Three input families:

- ``write_raw_csvs``: the four raw CSVs ``pipeline.ingest_to_bronze``
  reads, with planted nulls, duplicates, orphans and malformed values at
  known counts (``RawInputs.planted``).
- ``write_star_tables``: the TPC-H-ish star schema plus ``documents`` and
  ``embeddings`` that the registry gates read (``catalog.TABLE_NAMES``
  layout: one ``<name>.parquet`` per table), with the row counts, columns
  and corpus shape of the repository's sf0.01 test tables (TESTDATA.md).
  The benchmark writes its own copy because it may read nothing outside
  its checkout; the seed varies the values, not the shape.
- ``base_orders`` / ``change_batches``: the incremental base table and
  change stream.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- sizes
#: per-scale input sizes; "full" is what the benchmark measures, "tiny"
#: is the smoke size the benchmark's own tests run
SIZES = {
    "full": {
        "customers": 1000, "products": 500, "transactions": 10000,
        "star_customer": 1500, "star_supplier": 100, "star_part": 2000,
        "star_orders": 15000, "documents": 500, "embeddings": 500,
        "base_orders": 20000, "batch_append": 400, "batch_merge": 400,
        "batch_delete": 60,
    },
    "tiny": {
        "customers": 60, "products": 40, "transactions": 300,
        "star_customer": 150, "star_supplier": 20, "star_part": 200,
        "star_orders": 600, "documents": 120, "embeddings": 120,
        "base_orders": 800, "batch_append": 30, "batch_merge": 30,
        "batch_delete": 10,
    },
}

FIRST = ["james", "MARY", " robert", "patricia ", "john", "Linda", "priya",
         "amit", "sneha", "rahul", "karen", "david"]
LAST = ["smith", "JOHNSON", "patel", "Gupta", "moore", "o'brien", "lee",
        "garcia", "sharma", "davis"]
CITIES = ["Springfield", "Riverton", "Fairview", "Salem", "Madison",
          "Oxford", "Auburn", "Dayton"]
STATES = ["Ohio", "Texas", "Utah", "Iowa", "Maine", "Idaho", "Oregon",
          "Nevada", "Kansas", "Alaska", "Georgia", "Vermont"]
AGE_GROUPS = ["18-25", "26-35", "36-45", "46-60", "60+"]
CATEGORIES = {
    "Electronics": ["Mobiles", "Laptops", "Accessories"],
    "Clothing": ["Men", "Women", "Kids"],
    "Home & Kitchen": ["Furniture", "Appliances", "Decor"],
    "Books": ["Fiction", "Non-fiction", "Academic"],
    "Sports": ["Outdoor", "Indoor", "Fitness"],
    "Beauty": ["Skincare", "Makeup", "Fragrance"],
}
PAYMENT = ["Credit Card", "Debit Card", "UPI", "Cash on Delivery",
           "Net Banking"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _csv(path: Path, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _money(x) -> str:
    return f"{x:.2f}"


CENT = Decimal("0.01")


def line_total(qty: int, price: Decimal, disc: Decimal) -> Decimal:
    """The reference's line total, in exact decimal arithmetic rounded
    half-up to cents (what the engine's DECIMAL columns compute)."""
    return (qty * price * (1 - disc / 100)).quantize(CENT, ROUND_HALF_UP)


@dataclass
class RawInputs:
    """What ``write_raw_csvs`` wrote and what the pipeline must find."""

    rows: dict[str, int]
    #: planted defect name -> count, as the quality suite must report it
    planted: dict[str, int]
    run_date: str = "2024-01-01"
    bytes_written: int = 0


def write_raw_csvs(raw_dir: Path, seed: int, scale: str = "full") -> RawInputs:
    """Write customers/products/transactions/transaction_items CSVs.

    Planted defects (each a small fixed share, placed at seeded rows):

    - customers: empty emails, emails that collide only after the
      cleanse lower-cases them, exact duplicate rows;
    - products: empty prices, negative prices, cost >= price;
    - transactions: unknown customer ids, non-positive totals (dropped by
      the cleanse, orphaning their items), totals that disagree with
      their items, transactions with no items;
    - items: unknown product ids, non-positive and non-numeric
      quantities (both dropped by the cleanse), discounts above 100 %,
      stale line totals (recomputed by the cleanse).

    ``planted`` is computed from the rows as written by re-applying the
    cleanse and check rules documented in the reference, so it is the
    oracle for ``run_quality_checks``.
    """
    size = SIZES[scale]
    rng = random.Random(seed * 1_000_003 + 11)
    raw_dir.mkdir(parents=True, exist_ok=True)
    n_c, n_p, n_t = size["customers"], size["products"], size["transactions"]

    def picks(n: int, k: int, exclude: set[int] = frozenset()) -> list[int]:
        return rng.sample(sorted(set(range(n)) - set(exclude)), k)

    # ---- customers
    k_null_email = max(2, n_c // 100)
    k_case_dup = max(1, n_c // 200)
    k_dup_rows = max(1, n_c // 250)
    null_email = set(picks(n_c, k_null_email))
    case_dup = picks(n_c, k_case_dup, null_email)
    customers = []
    for i in range(n_c):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        email = "" if i in null_email else f"{first.strip().lower()}.{i}@example.net"
        reg = dt.date(2021, 1, 1) + dt.timedelta(days=rng.randrange(1000))
        customers.append([
            f"CUST{i + 1:05d}", first, last, email,
            f"{rng.randrange(100, 999)}-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}",
            reg.isoformat(), rng.choice(CITIES), rng.choice(STATES), "India",
            rng.choice(AGE_GROUPS),
        ])
    for i in case_dup:
        # the email of a neighbour, differing only in case
        other = customers[(i + 1) % n_c]
        if other[3] == "":
            other = customers[(i + 2) % n_c]
        customers[i][3] = other[3].upper()
    dup_src = picks(n_c, k_dup_rows, null_email | set(case_dup))
    customers += [list(customers[i]) for i in dup_src]
    customer_ids = [c[0] for c in customers[:n_c]]

    # ---- products
    k_null_price = max(1, n_p // 100)
    k_neg_price = max(1, n_p // 100)
    k_cost_hi = max(1, n_p // 50)
    bad = picks(n_p, k_null_price + k_neg_price + k_cost_hi)
    null_price = set(bad[:k_null_price])
    neg_price = set(bad[k_null_price:k_null_price + k_neg_price])
    cost_hi = set(bad[k_null_price + k_neg_price:])
    products, price_of = [], {}
    for i in range(n_p):
        cat = rng.choice(sorted(CATEGORIES))
        price = Decimal(rng.randrange(20000, 500000)) / 100
        cost = (price * Decimal(rng.randrange(50, 80)) / 100).quantize(CENT)
        if i in neg_price:
            price, cost = -Decimal(rng.randrange(1000, 5000)) / 100, Decimal(1)
        if i in cost_hi:
            cost = (price * Decimal("1.1")).quantize(CENT)
        pid = f"PROD{i + 1:05d}"
        price_of[pid] = None if i in null_price else price
        products.append([
            pid, f"{rng.choice(WORDS).title()} {rng.choice(WORDS)}", cat,
            rng.choice(CATEGORIES[cat]),
            "" if i in null_price else _money(price), _money(cost),
            f"Brand {rng.randrange(20)}", rng.randrange(10, 500),
            f"SUP{rng.randrange(1, 100):03d}",
        ])
    sellable = [p[0] for i, p in enumerate(products) if i not in null_price]

    # ---- transactions + items
    k_orphan_cust = max(1, n_t // 200)
    k_nonpos_total = max(1, n_t // 250)
    k_total_off = max(1, n_t // 200)
    k_no_items = max(1, n_t // 300)
    t_bad = picks(n_t, k_orphan_cust + k_nonpos_total + k_total_off + k_no_items)
    orphan_cust = set(t_bad[:k_orphan_cust])
    nonpos_total = set(t_bad[k_orphan_cust:k_orphan_cust + k_nonpos_total])
    total_off = set(t_bad[k_orphan_cust + k_nonpos_total:-k_no_items])
    no_items = set(t_bad[-k_no_items:])

    transactions, items = [], []
    # k_item items of each defect, at seeded positions
    item_defects = ["orphan_product", "nonpos_qty", "malformed_qty",
                    "bad_discount", "stale_total"]
    n_items_planned = [0 if t in no_items else 1 + t % 5 for t in range(n_t)]
    total_items = sum(n_items_planned)
    k_item = max(1, total_items // 400)
    flagged = rng.sample(range(total_items), k_item * len(item_defects))
    defect_of = {
        idx: item_defects[j // k_item] for j, idx in enumerate(flagged)
    }
    item_no = 0
    for t in range(n_t):
        tid = f"TXN{t + 1:07d}"
        cust = f"CUST{90000 + t:05d}" if t in orphan_cust else rng.choice(customer_ids)
        day = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(365))
        total = Decimal(0)
        for _ in range(n_items_planned[t]):
            d = defect_of.get(item_no)
            pid = f"PROD{90000 + item_no:05d}" if d == "orphan_product" else rng.choice(sellable)
            qty = rng.randrange(1, 5)
            qty_s = str(qty)
            if d == "nonpos_qty":
                qty, qty_s = 0, "0"
            elif d == "malformed_qty":
                qty, qty_s = 0, "two"
            price = price_of.get(pid) or Decimal(rng.randrange(20000, 500000)) / 100
            disc = Decimal(120 if d == "bad_discount" else rng.choice([0, 5, 10, 15]))
            line = line_total(qty, price, disc)
            total += line
            shown = line + 7 if d == "stale_total" else line
            items.append([
                f"ITEM{item_no + 1:08d}", tid, pid, qty_s, _money(price),
                _money(disc), _money(shown),
            ])
            item_no += 1
        if t in no_items:
            total = Decimal(rng.randrange(1000, 100000)) / 100
        elif t in nonpos_total:
            total = Decimal(0)
        elif t in total_off:
            total += 10
        street = rng.choice(["Paul Flats", "Oak Avenue", "Hill Road"])
        transactions.append([
            tid, cust, day.isoformat(),
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
            rng.choice(PAYMENT),
            f"{rng.randrange(1, 999)} {street}, {rng.choice(CITIES)}, IN",
            _money(total),
        ])

    files = {
        "customers": (["customer_id", "first_name", "last_name", "email",
                       "phone", "registration_date", "city", "state",
                       "country", "age_group"], customers),
        "products": (["product_id", "product_name", "category",
                      "sub_category", "price", "cost", "brand",
                      "stock_quantity", "supplier_id"], products),
        "transactions": (["transaction_id", "customer_id",
                          "transaction_date", "transaction_time",
                          "payment_method", "shipping_address",
                          "total_amount"], transactions),
        "transaction_items": (["item_id", "transaction_id", "product_id",
                               "quantity", "unit_price",
                               "discount_percentage", "line_total"], items),
    }
    written = []
    for name, (header, rows) in files.items():
        path = raw_dir / f"{name}.csv"
        _csv(path, header, rows)
        written.append(str(path))
    planted = expected_quality(customers, products, transactions, items)
    return RawInputs(
        rows={name: len(rows) for name, (_, rows) in files.items()},
        planted=planted,
        bytes_written=sum(Path(p).stat().st_size for p in written),
    )


def _num(s: str) -> Decimal | None:
    try:
        return Decimal(s)
    except ArithmeticError:
        return None


def expected_quality(customers, products, transactions, items) -> dict[str, int]:
    """The 14 quality-check counts over the cleansed (silver) tables,
    derived from the raw rows by the reference's rules: emails are
    trimmed and lower-cased, transactions with total <= 0 are dropped,
    items with a missing or non-positive quantity are dropped, and line
    totals are recomputed (so they can never mismatch)."""
    from collections import Counter

    emails = [c[3].strip().lower() or None for c in customers]
    email_n = Counter(emails)
    id_n = Counter(c[0] for c in customers)
    prices = [_num(p[4]) if p[4] else None for p in products]
    costs = [_num(p[5]) for p in products]
    silver_t = [t for t in transactions if Decimal(t[6]) > 0]
    silver_i = []
    for it in items:
        q = _num(it[3])
        if q is None or q <= 0:
            continue
        disc = Decimal(it[5])
        silver_i.append((it[1], it[2], q, disc, line_total(int(q), Decimal(it[4]), disc)))
    t_ids = {t[0] for t in silver_t}
    p_ids = {p[0] for p in products}
    c_ids = set(id_n)
    sums: dict[str, Decimal] = {}
    for tid, _, _, _, line in silver_i:
        sums[tid] = sums.get(tid, Decimal(0)) + line
    with_items = set(sums)
    return {
        "null_emails": sum(e is None for e in emails),
        "null_prices": sum(p is None for p in prices),
        "transactions_without_items": sum(t[0] not in with_items for t in silver_t),
        "duplicate_customer_ids": sum(n > 1 for n in id_n.values()),
        "duplicate_emails": sum(n > 1 for n in email_n.values()),
        "nonpositive_prices": sum(p is not None and p <= 0 for p in prices),
        "invalid_discounts": sum(not 0 <= i[3] <= 100 for i in silver_i),
        "nonpositive_quantities": 0,
        "cost_not_below_price": sum(
            p is not None and c >= p for p, c in zip(prices, costs)
        ),
        "line_total_mismatches": 0,
        "transaction_total_mismatches": sum(
            t[0] in sums and abs(Decimal(t[6]) - sums[t[0]]) > CENT
            for t in silver_t
        ),
        "orphan_transactions": sum(t[1] not in c_ids for t in silver_t),
        "orphan_items_transaction": sum(i[0] not in t_ids for i in silver_i),
        "orphan_items_product": sum(i[1] not in p_ids for i in silver_i),
    }


# --------------------------------------------------------- star tables
def _table(cols: dict[str, tuple[pa.DataType, object]]) -> pa.Table:
    return pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})


def write_star_tables(out: Path, seed: int, scale: str = "full") -> dict[str, int]:
    """Write the star schema + documents + embeddings as parquet, one
    file per table, with the column names and arrow types the engine's
    catalog expects.  Returns row counts."""
    size = SIZES[scale]
    rng = np.random.default_rng([seed, 7])
    out.mkdir(parents=True, exist_ok=True)
    n_c, n_s, n_p, n_o = (size["star_customer"], size["star_supplier"],
                          size["star_part"], size["star_orders"])

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": _table({
            "r_regionkey": (pa.int32(), np.arange(5, dtype=np.int32)),
            "r_name": (pa.string(), ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                     "MIDDLE EAST"]),
        }),
        "nation": _table({
            "n_nationkey": (pa.int32(), np.arange(25, dtype=np.int32)),
            "n_name": (pa.string(), [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (pa.int32(), np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": _table({
            "c_custkey": (pa.int64(), np.arange(n_c)),
            "c_name": (pa.string(), [f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": (pa.int32(), rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": (pa.float64(), money(-999.99, 9999.99, n_c)),
            "c_mktsegment": (pa.string(), rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"], n_c).tolist()),
        }),
        "supplier": _table({
            "s_suppkey": (pa.int64(), np.arange(n_s)),
            "s_name": (pa.string(), [f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": (pa.int32(), rng.integers(0, 25, n_s, dtype=np.int32)),
            "s_acctbal": (pa.float64(), money(-999.99, 9999.99, n_s)),
        }),
    }
    adjs = ["small", "red", "green", "large", "shiny", "steel", "plain", "blue"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "valve", "hinge", "cog"]
    pk = np.arange(n_p)
    retail = np.round(900 + (pk % 1000) * 0.1, 1)
    tables["part"] = _table({
        "p_partkey": (pa.int64(), pk),
        "p_name": (pa.string(), [f"{adjs[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
        "p_brand": (pa.string(), [f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": (pa.string(), rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_p).tolist()),
        "p_size": (pa.int32(), rng.integers(1, 51, n_p, dtype=np.int32)),
        "p_retailprice": (pa.float64(), retail),
    })
    start = np.datetime64("1995-01-01", "us")
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    odate = start + rng.integers(0, span_days + 1, n_o) * np.timedelta64(1, "D")
    tables["orders"] = _table({
        "o_orderkey": (pa.int64(), np.arange(n_o)),
        "o_custkey": (pa.int64(), rng.integers(0, n_c, n_o)),
        "o_orderstatus": (pa.string(), rng.choice(["F", "O", "P"], n_o).tolist()),
        "o_totalprice": (pa.float64(), money(1000, 500000, n_o)),
        "o_orderdate": (pa.timestamp("us"), odate),
        "o_orderpriority": (pa.string(), rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_o).tolist()),
    })
    # the seed varies values, never sizes: every seed gives the same row
    # counts and text lengths, so per-run cost does not depend on it
    lines = 1 + np.arange(n_o) % 7
    lk = np.repeat(np.arange(n_o), lines)
    n_l = len(lk)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    tables["lineitem"] = _table({
        "l_orderkey": (pa.int64(), lk),
        "l_partkey": (pa.int64(), rng.integers(0, n_p, n_l)),
        "l_suppkey": (pa.int64(), rng.integers(0, n_s, n_l)),
        "l_linenumber": (pa.int32(), lineno),
        "l_quantity": (pa.float64(), qty),
        "l_extendedprice": (pa.float64(), np.round(qty * rng.uniform(900, 2100, n_l), 2)),
        "l_discount": (pa.float64(), rng.integers(0, 11, n_l) / 100),
        "l_tax": (pa.float64(), rng.integers(0, 9, n_l) / 100),
        "l_returnflag": (pa.string(), rng.choice(["A", "N", "R"], n_l).tolist()),
        "l_linestatus": (pa.string(), rng.choice(["F", "O"], n_l).tolist()),
        "l_shipdate": (pa.timestamp("us"), odate[lk] + rng.integers(1, 122, n_l) * np.timedelta64(1, "D")),
    })
    # documents: bag-of-words text over the 30-word vocabulary, 10-99
    # words long, one in twenty a near-duplicate (another document plus
    # the token "dup"), as in the repository's sf0.01 test corpus
    n_d = size["documents"]
    texts = [
        " ".join(rng.choice(WORDS, 10 + (i * 37) % 90).tolist())
        for i in range(n_d)
    ]
    for i in rng.choice(n_d, max(2, n_d // 20), replace=False):
        texts[i] = texts[(i + 1) % n_d] + " dup"
    tables["documents"] = _table({
        "doc_id": (pa.int64(), np.arange(n_d)),
        "text": (pa.string(), texts),
        "lang": (pa.string(), rng.choice(LANGS, n_d).tolist()),
        "source": (pa.string(), [f"src{i % 20}" for i in range(n_d)]),
        "n_chars": (pa.int64(), np.array([len(t) for t in texts])),
    })
    # embeddings: 64-d unit vectors drawn independently of their ten
    # labels, as in the test corpus
    n_e = size["embeddings"]
    label = rng.integers(0, 10, n_e).astype(np.int32)
    vec = rng.normal(0, 1, (n_e, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    tables["embeddings"] = _table({
        "vec_id": (pa.int64(), np.arange(n_e)),
        "embedding": (pa.list_(pa.float32()), list(vec)),
        "label": (pa.int32(), label),
    })
    for name, tab in tables.items():
        pq.write_table(tab, out / f"{name}.parquet")
    return {name: tab.num_rows for name, tab in tables.items()}


# ------------------------------------------------- incremental changes
BASE_SCHEMA = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
STATUSES = ["F", "O", "P"]


def base_orders(path: Path, seed: int, scale: str = "full") -> list[tuple]:
    """Write the base table rows for incremental maintenance, (key,
    customer, status, price) with keys 0..n-1, as one parquet file and
    return them."""
    n = SIZES[scale]["base_orders"]
    rng = random.Random(seed * 7_919 + 3)
    rows = [
        (k, rng.randrange(5000), rng.choice(STATUSES),
         round(rng.uniform(1000, 500000), 2))
        for k in range(n)
    ]
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(cols[0], pa.int64()),
        "o_custkey": pa.array(cols[1], pa.int64()),
        "o_orderstatus": pa.array(cols[2], pa.string()),
        "o_totalprice": pa.array(cols[3], pa.float64()),
    }), path)
    return rows


@dataclass
class ChangeBatch:
    append: list[tuple]
    merge: list[tuple]
    #: half-open key range [lo, hi) removed by delete_dv
    delete: tuple[int, int]


def change_batches(seed: int, n_batches: int, scale: str = "full") -> list[ChangeBatch]:
    """Seeded change batches.  Each appends fresh keys above the current
    maximum, merges existing keys (half from a hot range of the first 2 %
    of keys, half uniform over all keys, so the merge touches a few files
    repeatedly and the rest at random), and deletes one key range.
    Merge sources are unique on the key and never name a key deleted by
    an earlier batch; deleted ranges never overlap, so every verb
    changes rows."""
    size = SIZES[scale]
    n0 = size["base_orders"]
    rng = random.Random(seed * 104_729 + 5)
    hot = max(10, n0 // 50)
    width = size["batch_delete"]
    # deleted ranges: distinct slots of the cold key range, so no batch
    # deletes keys an earlier batch already removed
    slots = list(range(hot, n0 - width + 1, width))
    if len(slots) < n_batches:
        raise ValueError(f"{n_batches} batches need {n_batches} delete slots, "
                         f"the {scale} size has {len(slots)}")
    rng.shuffle(slots)
    next_key = n0
    deleted: set[int] = set()
    out = []
    for b in range(n_batches):
        app = [(next_key + i, rng.randrange(5000), rng.choice(STATUSES),
                round(rng.uniform(1000, 500000), 2))
               for i in range(size["batch_append"])]
        next_key += len(app)
        live = [k for k in range(next_key) if k not in deleted]
        live_hot = [k for k in live if k < hot]
        n_merge = size["batch_merge"]
        keys = set(rng.sample(live_hot, min(len(live_hot), n_merge // 2)))
        while len(keys) < n_merge:
            keys.add(rng.choice(live))
        merge = [(k, rng.randrange(5000), rng.choice(STATUSES),
                  round(rng.uniform(1000, 500000), 2)) for k in sorted(keys)]
        lo = slots[b]
        out.append(ChangeBatch(app, merge, (lo, lo + width)))
        deleted.update(range(lo, lo + width))
    return out


def apply_model(rows: dict[int, tuple], batch: ChangeBatch) -> None:
    """The benchmark's own model of one batch: append, then upsert the
    merge rows, then drop the deleted key range."""
    for r in batch.append:
        rows[r[0]] = r
    for r in batch.merge:
        rows[r[0]] = r
    lo, hi = batch.delete
    for k in range(lo, hi):
        rows.pop(k, None)

