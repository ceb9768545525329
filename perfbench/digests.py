"""Result digests, so that every statement's output is checked.

A digest hashes a result's rows in a canonical form: rows sorted, column
names ignored, numbers that are whole written as integers, other floats
rounded to 10 significant digits, timestamps as naive UTC. The same
rows from Spark and from DuckDB give the same digest.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os

import duckdb
import pyarrow as pa


def _cell(v):
    if v is None or isinstance(v, (str, bool)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2 ** 53):
            return str(int(v))
        return f"{f:.10g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return repr(v)


def digest(table: pa.Table) -> str:
    rows = sorted(repr(tuple(_cell(v) for v in row.values()))
                  for row in table.to_pylist())
    h = hashlib.sha256(str(table.num_columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files, loaded once into memory."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect(config={"threads": 1,
                                          "autoinstall_known_extensions": False,
                                          "autoload_known_extensions": False})
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")

    def digest(self, sql: str) -> str:
        return digest(self.con.execute(sql).fetch_arrow_table())

    def close(self) -> None:
        self.con.close()
