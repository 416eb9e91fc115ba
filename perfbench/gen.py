"""Seeded input generators for the benchmark.

Two generators, both pure functions of their seed:

- :func:`write_fixture` writes the ten star-schema fixture tables
  (``region nation customer supplier part orders lineitem events documents
  embeddings``) as single-row-group parquet files with the column names,
  types and value distributions of the repository's TPC-H-ish test
  fixture (TESTDATA.md), scaled by ``sf``.  ``llm_ops`` reads them
  through the registry.
- :class:`SalesLanding` writes the sales domain's landing CSVs, one run
  date at a time, and keeps the ledger of what each date must produce
  (rows landed, SCD2 versions, fact rows, item amounts, quantities) that
  the ``etl_daily`` check compares the warehouse against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_WORD = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _dates(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, span = _days(start, end)
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform bag-of-words documents of 10-100 words; about 5% are
    near-duplicates of an earlier document (exact copy, last word
    dropped, or ``dup`` appended), which is what the dedup operators
    find."""
    lengths = rng.integers(10, 101, n)
    word_idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    dup_of = np.where(rng.random(n) < 0.05, rng.integers(0, np.maximum(1, np.arange(n))), -1)
    dup_kind = rng.integers(0, 3, n)
    texts: list[str] = []
    for i in range(n):
        src = int(dup_of[i])
        if i > 0 and src >= 0:
            words = texts[src].split(" ")
            if dup_kind[i] == 1 and len(words) > 10:
                words = words[:-1]
            elif dup_kind[i] == 2:
                words = words + [DUP_WORD]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[k] for k in word_idx[bounds[i]:bounds[i + 1]]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def fixture_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (sf=0.1 → 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line),
    })
    gaps = rng.exponential(1.0, n_ev)
    secs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write_fixture(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write the fixture under ``out_dir``, one row group per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, sf, n_docs, n_vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))


# --- sales landing zone ---------------------------------------------------

FIRST = ("Ada Alan Grace Linus Barbara Ken Margaret Dennis Frances John "
         "Edsger Radia Donald Hedy Niklaus Shafi").split()
LAST = ("Lovelace Turing Hopper Torvalds Liskov Thompson Hamilton Ritchie "
        "Allen Backus Dijkstra Perlman Knuth Lamarr Wirth Goldwasser").split()
CITIES = (("London", "LN"), ("Cambridge", "CB"), ("Boston", "MA"),
          ("Austin", "TX"), ("Seattle", "WA"), ("Denver", "CO"),
          ("Chicago", "IL"), ("Miami", "FL"), ("Portland", "OR"),
          ("Atlanta", "GA"))
CATEGORIES = ("Books", "Garden", "Games", "Music", "Office", "Sports",
              "Tools", "Toys")
STATUSES = ("complete", "pending", "shipped", "returned")
HEADERS = {
    "customers": "customer_id,first_name,last_name,email,address,city,state,zipcode,created_at",
    "products": "product_id,name,category,price,created_at",
    "orders": "order_id,customer_id,order_date,status,amount,created_at",
    "order_items": "order_item_id,order_id,product_id,quantity,price,created_at",
}


class SalesLanding:
    """Landing CSVs for consecutive run dates plus the expected ledger.

    The first date is the bootstrap (every customer and product); each
    later date changes ``change_frac`` of the customers (new address),
    reprices ``reprice_frac`` of the products, and lands ``orders_per_day``
    orders of 1-4 items each.  Prices are kept as float32 values, as the
    raw layer declares them FLOAT, and land as two-decimal strings; the
    ledger's item amounts are quantity times the landed price read as a
    double, which is what the pipeline computes.
    """

    def __init__(self, base_dir: str, cfg: dict, seed: int, *, customers: int,
                 products: int, orders_per_day: int, change_frac: float,
                 reprice_frac: float, start: str = "2024-01-01"):
        from star_schema_etl_airflow_spark.sources.io import resolve_dated_path

        self._resolve = resolve_dated_path
        self.base, self.cfg, self.seed = base_dir, cfg, seed
        self.start = dt.date.fromisoformat(start)
        self.n_cust, self.n_prod = customers, products
        self.orders_per_day = orders_per_day
        self.change_frac, self.reprice_frac = change_frac, reprice_frac
        self.price = np.zeros(products, np.float32)
        self.addr_version = np.zeros(customers, np.int64)
        self.days: list[dict] = []  # one ledger entry per landed date

    def run_date(self, i: int) -> str:
        return (self.start + dt.timedelta(days=i)).isoformat()

    def _write(self, table: str, run_date: str, lines: list[str]) -> int:
        """Write one landing CSV; returns its size in bytes."""
        template = self.cfg["tables"][table]["source"]["path"]
        path = os.path.join(self.base, "landing", self._resolve(template, run_date))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(HEADERS[table] + "\n")
            f.write("\n".join(lines))
            if lines:
                f.write("\n")
        return os.path.getsize(path)

    def _customer(self, k: int, stamp: str) -> str:
        v = int(self.addr_version[k])
        h = (k * 7919 + v * 104729) % 1_000_003
        city, state = CITIES[h % len(CITIES)]
        first, last = FIRST[k % len(FIRST)], LAST[(k // len(FIRST)) % len(LAST)]
        return (f"C{k:06d},{first},{last},{first.lower()}.{k}@example.com,"
                f"{h % 9000 + 1} Main St,{city},{state},{h % 90000 + 10000:05d},{stamp}")

    def land(self) -> dict:
        """Write the next date's four CSVs; returns its ledger entry."""
        i = len(self.days)
        run_date = self.run_date(i)
        rng = np.random.default_rng([self.seed, i])
        stamp = f"{run_date} 08:00:00"
        if i == 0:
            cust = np.arange(self.n_cust)
            prod = np.arange(self.n_prod)
            self.price[:] = np.round(rng.uniform(1.0, 500.0, self.n_prod), 2)
        else:
            cust = np.sort(rng.choice(self.n_cust, int(self.n_cust * self.change_frac), replace=False))
            prod = np.sort(rng.choice(self.n_prod, int(self.n_prod * self.reprice_frac), replace=False))
            self.addr_version[cust] += 1
            old = self.price[prod]
            new = np.round(old * rng.uniform(0.8, 1.25, len(prod)), 2)
            # a repricing that rounds back to the old price is no SCD2 change
            new[new.astype(np.float32) == old] += 0.01
            self.price[prod] = np.maximum(new, 0.01)
        n_ord = self.orders_per_day
        n_items = rng.integers(1, 5, n_ord)
        item_order = np.repeat(np.arange(n_ord), n_items)
        item_prod = rng.integers(0, self.n_prod, len(item_order))
        item_qty = rng.integers(1, 6, len(item_order))
        item_price = self.price[item_prod]
        landed_price = np.array([float(f"{p:.2f}") for p in self.price])
        item_amount = item_qty * landed_price[item_prod]
        order_amount = np.bincount(item_order, weights=item_amount, minlength=n_ord)
        order_cust = rng.integers(0, self.n_cust, n_ord)
        status = rng.integers(0, len(STATUSES), n_ord)
        nodash = run_date.replace("-", "")
        order_ids = [f"O{nodash}-{j:05d}" for j in range(n_ord)]
        created = f"{run_date} 09:30:00"
        files = {
            "customers": [self._customer(int(k), stamp) for k in cust],
            "products": [
                f"P{k:05d},Product {k},{CATEGORIES[k % len(CATEGORIES)]},{self.price[k]:.2f},{stamp}"
                for k in prod
            ],
            "orders": [
                f"{order_ids[j]},C{order_cust[j]:06d},{run_date},{STATUSES[status[j]]},"
                f"{order_amount[j]:.2f},{created}"
                for j in range(n_ord)
            ],
            "order_items": [
                f"I{nodash}-{j:06d},{order_ids[o]},P{p:05d},{q},{pr:.2f},{created}"
                for j, (o, p, q, pr) in enumerate(zip(item_order, item_prod, item_qty, item_price))
            ],
        }
        landed_bytes = sum(self._write(t, run_date, lines) for t, lines in files.items())
        rows = {t: len(lines) for t, lines in files.items()}
        entry = {
            "run_date": run_date,
            "rows": rows,
            "landed_bytes": landed_bytes,
            "customer_versions": len(cust),
            "product_versions": len(prod),
            "fact_rows": len(item_order),
            "item_amount": float(item_amount.sum()),
            "quantity": int(item_qty.sum()),
        }
        self.days.append(entry)
        return entry
