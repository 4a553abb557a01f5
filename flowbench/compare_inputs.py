"""Compare the generated inputs with a directory of reference tables.

    python3 flowbench/compare_inputs.py --reference DATA_DIR --scale 0.1

``DATA_DIR`` holds one ``<table>.parquet`` per table, as the repository's
test data does (TESTDATA.md).  For every column the script prints, for the
reference and for the tables ``inputs.py`` generates at ``--scale`` and
``--seed``: the row count, approximate distinct count, null share, min,
max, mean and standard deviation (of the length for strings and lists).
A line is marked ``*`` when mean or standard deviation differ by more
than ``--tolerance`` of the reference's spread, or the distinct count by
more than that share.  Exits 1 when any line is marked.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb

import inputs

STATS = ("rows", "distinct", "null_share", "min", "max", "mean", "std")


def column_stats(path: str) -> dict[str, dict]:
    con = duckdb.connect()
    rel = f"read_parquet('{path}')"
    rows = con.execute(f"select count(*) from {rel}").fetchone()[0]
    out = {}
    for col, typ, *_ in con.execute(f"describe select * from {rel}").fetchall():
        if typ.endswith("[]"):
            x = f"len({col})::double"
        elif typ == "VARCHAR":
            x = f"length({col})::double"
        elif typ in ("TIMESTAMP", "DATE"):
            x = f"epoch({col})"
        else:
            x = f"{col}::double"
        distinct = "null" if typ.endswith("[]") else f"approx_count_distinct({col})"
        vals = con.execute(
            f"select {distinct}, avg(({col} is null)::int), min({x}), max({x}), "
            f"avg({x}), stddev_pop({x}) from {rel}").fetchone()
        out[col] = dict(zip(STATS, (rows, *vals)))
    return out


def differs(ref: dict, gen: dict, tol: float) -> bool:
    if ref["rows"] != gen["rows"]:
        return True
    if ref["distinct"] and abs(gen["distinct"] - ref["distinct"]) > tol * ref["distinct"]:
        return True
    scale = ref["std"] or abs(ref["mean"]) or 1.0
    return (abs(gen["mean"] - ref["mean"]) > tol * scale
            or abs(gen["std"] - ref["std"]) > tol * scale
            or abs(gen["null_share"] - ref["null_share"]) > tol)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reference", required=True)
    p.add_argument("--scale", type=float, default=0.1)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--tolerance", type=float, default=0.05)
    args = p.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, ".flowbench_work", f"compare-{os.getpid()}")
    marked = 0
    try:
        inputs.generate(args.seed, args.scale, out)
        for table in inputs.TABLES:
            ref = column_stats(os.path.join(args.reference, f"{table}.parquet"))
            gen = column_stats(os.path.join(out, f"{table}.parquet"))
            print(f"== {table}")
            for col in ref:
                bad = col not in gen or differs(ref[col], gen[col], args.tolerance)
                marked += bad
                for name, stats in (("ref", ref[col]), ("gen", gen.get(col, {}))):
                    cells = " ".join(f"{k}={stats[k]:.6g}" for k in STATS
                                     if stats.get(k) is not None)
                    print(f"{'*' if bad else ' '} {col:16} {name} {cells}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(f"{marked} column(s) differ beyond tolerance {args.tolerance}")
    return 1 if marked else 0


if __name__ == "__main__":
    sys.exit(main())
