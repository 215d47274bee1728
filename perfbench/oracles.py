"""Output checks against the engine's DuckDB oracles.

Every check runs outside the timed ops, on a fresh DuckDB connection
with the input tables registered as views, and compares column names
and the multiset of rows exactly (floats by ``repr``).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

from perfbench.datagen import TABLES

HUB_ORACLES = {
    "tpch_region": "hub_region",
    "tpch_nation": "hub_nation",
    "tpch_supplier": "hub_supplier",
    "tpch_orders": "hub_orders",
    "tpch_customer": "hub_customer",
    "tpch_lineitem": "hub_lineitem",
    "tpch_part": "hub_part",
}
OUTPUT_ORACLES = {
    "feature_customer": "output_feature_customer",
    "entity_union": "output_entity_union",
}


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return v


def _canon(cols: list[str], rows: list, keep: list[str]) -> list:
    idx = [cols.index(c) for c in keep]
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return out


def oracle_rows(data_dir: str, sql: str) -> tuple[list[str], list]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def mismatch(name: str, df, expected: tuple[list[str], list],
             subset: bool = False) -> str | None:
    """None if ``df`` equals the oracle's ``(columns, rows)``, else a
    one-line reason.

    With ``subset`` the frame may carry fewer columns than the oracle
    (a generated project that kept part of the rules); rows are compared on the
    frame's columns."""
    from dataforge_core_spark.operators.engine_rows import canonicalize

    df = canonicalize(df)
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    o_cols, o_rows = expected
    missing = sorted(set(cols) - set(o_cols))
    if missing or (not subset and set(o_cols) != set(cols)):
        return f"{name}: columns {sorted(cols)} vs oracle {sorted(o_cols)}"
    keep = sorted(cols)
    if len(rows) != len(o_rows):
        return f"{name}: {len(rows)} rows vs oracle {len(o_rows)}"
    a, b = _canon(cols, rows, keep), _canon(o_cols, o_rows, keep)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{name}: {bad} rows differ from the oracle" if bad else None
