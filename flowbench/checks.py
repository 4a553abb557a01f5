"""Output checks shared by the workloads: row normalisation, hashing and
DuckDB views over the generated inputs."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalise(rows, columns) -> list[tuple]:
    """Columns sorted by name, floats rounded, rows sorted: an
    engine-independent form of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def rows_hash(rows, columns) -> str:
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in normalise(rows, columns):
        h.update(repr(r).encode())
    return h.hexdigest()


def duck_with_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("set threads to 4")
    for t in tables:
        con.execute(f"create view {t} as select * from "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    return con


def duck_rows(con, query: str) -> tuple[list, list]:
    res = con.execute(query)
    return res.fetchall(), [d[0] for d in res.description]


def parquet_dir_hash(con, path: str) -> str:
    """Hash of the rows of every parquet file under ``path``."""
    rows, cols = duck_rows(
        con, f"select * from read_parquet('{path}/**/*.parquet', "
        "hive_partitioning = false)")
    return rows_hash(rows, cols)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``; hidden and
    underscore-prefixed sidecars (``.crc``, ``_SUCCESS``) and hidden
    directories (a storage trash bin, region caches) are skipped."""
    files = total = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total
