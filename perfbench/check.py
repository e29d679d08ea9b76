"""Result checks: row count plus an order-insensitive value hash.

The cell normalisation is the one the repository's oracle comparison uses
(tests/oracle_check.py): columns sorted by name, each cell rendered with
its type, rows sorted, so Spark and DuckDB results of the same query hash
equal. It is repeated here so that the benchmark's definition of a
correct result does not move when the tests change.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

from corpus import TABLES


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, hash) of a result, independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr
    )
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in normed:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_digests(sf_dir: str, sql_by_name: dict[str, str], threads: int) -> dict[str, tuple[int, str]]:
    """DuckDB digest of each oracle query over the parquet corpus in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sql_by_name.items():
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            out[name] = digest(cols, rel.fetchall())
        return out
    finally:
        con.close()
