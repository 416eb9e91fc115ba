"""Output checks: the oracle comparison of query results, and the
``etl_daily`` ledger check of a warehouse.

A query result matches its DuckDB oracle when row count, schema (column
names and value kinds) and an order-insensitive hash of the values agree.
Columns are taken in name order, each row is hashed from its column
hashes, and the sorted row hashes are hashed.  Floats are hashed at 12
significant digits, so the decimal-exact aggregates every oracle uses
compare exactly while a last-bit difference in a transcendental does not.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return None
        if x.is_integer() and abs(x) < 2 ** 53:
            return int(x)
        return float(f"{x:.12g}")
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        v = pd.Timestamp(v).to_pydatetime()
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _kind(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, tuple):
        return "array"
    return "text"  # strings, ISO timestamps and hex bytes alike


_NULL = np.uint64(0x9E3779B97F4A7C15)


def _column_hash(s: pd.Series) -> tuple[str, np.ndarray]:
    """(kind, one uint64 per row) for a column; equal values hash equal
    whichever engine produced them (int vs integral float, date vs
    timestamp, Decimal vs float)."""
    s = s.reset_index(drop=True)
    nulls = s.isna().to_numpy()
    present = np.flatnonzero(~nulls)
    first = s.iloc[present[0]] if len(present) else None
    kind = _kind(_norm(first))
    if kind in ("number", "bool"):
        x = s if pd.api.types.is_numeric_dtype(s) else pd.to_numeric(
            s.astype(object).where(~nulls, None), errors="raise")
        if pd.api.types.is_integer_dtype(x) or pd.api.types.is_bool_dtype(x):
            vals = x.to_numpy(np.int64, na_value=0)
        else:
            f = x.to_numpy(np.float64, na_value=0.0)
            f = np.where(nulls, 0.0, f)
            if np.all(np.mod(f, 1.0) == 0.0) and np.all(np.abs(f) < 2.0 ** 53):
                vals = f.astype(np.int64)
            else:  # 12 significant digits
                mag = np.floor(np.log10(np.where(f == 0.0, 1.0, np.abs(f))))
                scale = 10.0 ** (11 - mag)
                vals = (np.round(f * scale) / scale).view(np.int64)
        h = pd.util.hash_array(vals)
    elif kind == "text" and isinstance(first, (pd.Timestamp, np.datetime64, _dt.date)):
        t = pd.to_datetime(s.where(~nulls, None))
        if getattr(t.dt, "tz", None) is not None:
            t = t.dt.tz_localize(None)
        h = pd.util.hash_array(t.astype("datetime64[us]").to_numpy().view(np.int64))
    elif kind == "text" and isinstance(first, str):
        h = pd.util.hash_array(s.where(~nulls, "").to_numpy(object))
    else:
        h = pd.util.hash_array(np.array([repr(_norm(v)) for v in s.tolist()], dtype=object))
    return kind, np.where(nulls, _NULL, h).astype(np.uint64)


def signature(df: pd.DataFrame) -> dict:
    """Row count, schema and order-insensitive value hash of a result."""
    cols = sorted(df.columns)
    row = np.zeros(len(df), np.uint64)
    schema = []
    with np.errstate(over="ignore"):
        for c in cols:
            kind, h = _column_hash(df[c])
            schema.append((c, kind))
            row = row * np.uint64(1_000_003) + h
    digest = hashlib.sha256(np.sort(row).tobytes()).hexdigest()
    return {"rows": len(df), "schema": schema, "hash": digest}


def mismatch(got: dict, want: dict) -> str | None:
    """None when two signatures agree, else what differs."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    kinds = {c: k for c, k in want["schema"]}
    for c, k in got["schema"]:
        if c not in kinds:
            return f"unexpected column {c}"
        if "null" not in (k, kinds[c]) and k != kinds[c]:
            return f"column {c} is {k}, oracle {kinds[c]}"
    if len(got["schema"]) != len(want["schema"]):
        return f"columns {[c for c, _ in got['schema']]} != {list(kinds)}"
    if got["hash"] != want["hash"]:
        return "value hash differs"
    return None


def oracle_signatures(fixture_dir: str, names: list[str]) -> dict[str, dict]:
    """Run each named query's DuckDB oracle over the fixture."""
    import duckdb

    from star_schema_etl_airflow_spark import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
        return {n: signature(con.execute(sql[n]).df()) for n in names}
    finally:
        con.close()


# --- etl_daily -------------------------------------------------------------

def check_warehouse(base: str, days: list[dict], ingested: dict[str, int]) -> list[str]:
    """Compare the warehouse after the last date with the landing ledger.

    ``days`` are the generator's ledger entries of every date run,
    ``ingested`` the rows each ingest stage reported, summed over dates.
    Returns the failed checks (empty when all hold).
    """
    import duckdb

    errors: list[str] = []
    landed = {t: sum(d["rows"][t] for d in days) for t in days[0]["rows"]}
    for table, n in landed.items():
        if ingested.get(table) != n:
            errors.append(f"ingest {table}: {ingested.get(table)} rows of {n} landed")
    con = duckdb.connect()
    try:
        def one(q: str):
            return con.execute(q).fetchone()

        def scan(layer: str, table: str) -> str:
            return f"read_parquet('{base}/{layer}/{table}/**/*.parquet', hive_partitioning=true)"

        for dim, key, field in (("dim_customers", "customer_id", "customer_versions"),
                                ("dim_products", "product_id", "product_versions")):
            rel = scan("core", dim)
            versions, keys, current, multi = one(
                f"SELECT count(*), count(DISTINCT {key}), "
                f"count(*) FILTER (WHERE is_current), "
                f"(SELECT count(*) FROM (SELECT {key} FROM {rel} WHERE is_current "
                f"GROUP BY {key} HAVING count(*) > 1)) FROM {rel}")
            want = sum(d[field] for d in days)
            if versions != want:
                errors.append(f"{dim}: {versions} versions, generated {want}")
            if current != keys or multi:
                errors.append(f"{dim}: {current} current rows for {keys} keys")
        rows, amount = one(f"SELECT count(*), sum(item_amount::DOUBLE) FROM {scan('core', 'fact_orders')}")
        want_rows = sum(d["fact_rows"] for d in days)
        want_amount = sum(d["item_amount"] for d in days)
        if rows != want_rows:
            errors.append(f"fact_orders: {rows} rows, landed {want_rows}")
        if amount is None or not math.isclose(amount, want_amount, rel_tol=1e-9):
            errors.append(f"fact_orders: sum(item_amount) {amount}, landed {want_amount}")
        got = dict(con.execute(
            f"SELECT CAST(date AS VARCHAR), sum(total_quantity) "
            f"FROM {scan('datamart', 'sales_summary')} GROUP BY 1").fetchall())
        for d in days:
            if got.get(d["run_date"]) != d["quantity"]:
                errors.append(f"sales_summary {d['run_date']}: total_quantity "
                              f"{got.get(d['run_date'])}, landed {d['quantity']}")
    finally:
        con.close()
    return errors
