"""Seeded input generation for the flow benchmark.

Writes the TPC-H-shaped tables plus ``events``, ``documents`` and
``embeddings`` that the catalog and the flows read, one parquet file per
table, with the schemas, row counts and column distributions of the
repository's test data (TESTDATA.md); ``compare_inputs.py`` prints the
two side by side.  The tables are generated rather than read because the
benchmark reads nothing outside its checkout.  The same ``(seed, scale)``
always gives byte-identical tables; the row counts depend on ``scale``
only, so every seed does the same amount of work.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLOURS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ("a the data spark row column table query join group filter sort "
          "scan hash merge window batch stream value key order line part "
          "customer vector fast slow big small agg").split()
#: share of documents that are another document plus a trailing ``dup``
_NEAR_DUP_SHARE = 0.05
_EMB_DIM = 64
_EMB_LABELS = 10

_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2405          # 1995-01-01 .. 2001-08-01 inclusive
_EVENT_START = datetime(2024, 1, 1)
_EVENT_SECONDS = 30 * 86400


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (1.0 = TPC-H scale factor 1)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _ts(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; a ``_NEAR_DUP_SHARE`` of them copy another
    document and append ``dup``, so the dedup entries have work to do."""
    vocab = np.array(_VOCAB)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)])
            for k in rng.integers(10, 101, n)]
    near = np.flatnonzero(rng.random(n) < _NEAR_DUP_SHARE)
    sources = np.setdiff1d(np.arange(n), near)
    for i, src in zip(near, rng.choice(sources, len(near))):
        text[i] = text[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniformly random unit vectors with a random label each."""
    vec = rng.normal(size=(n, _EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, _EMB_LABELS, n).astype(np.int32)),
    })


def build_tables(seed: int, scale: float,
                 null_total_share: float = 0.0) -> dict[str, pa.Table]:
    """Every input table as an Arrow table.  ``null_total_share`` blanks
    that share of ``orders.o_totalprice`` (the flow's DQ check alerts on
    it)."""
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc))})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{_COLOURS[c]} {_NOUNS[k]}" for c, k in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2))})
    no = n["orders"]
    total = _money(rng, 1000.0, 500000.0, no)
    null_mask = rng.random(no) < null_total_share
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(total, mask=null_mask),
        "o_orderdate": _ts(_ORDER_START,
                           rng.integers(0, _ORDER_DAYS, no) * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no))})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, nl)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, nl)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(_ORDER_START,
                          rng.integers(1, _ORDER_DAYS + 95, nl) * 86_400_000_000)})
    t["events"] = events_table(rng, 0, n["events"],
                               users=max(15, int(15_000 * scale)))
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def events_table(rng: np.random.Generator, first_id: int, n: int,
                 users: int) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` over January 2024."""
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(_EVENT_START, np.sort(rng.integers(0, _EVENT_SECONDS * 10**6, n))),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table to ``<out_dir>/<name>.parquet``; returns file bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def generate(seed: int, scale: float, out_dir: str,
             null_total_share: float = 0.0) -> dict[str, dict[str, int]]:
    """Generate and write every table; returns ``{table: {rows, bytes}}``."""
    tables = build_tables(seed, scale, null_total_share)
    sizes = write_tables(tables, out_dir)
    return {k: {"rows": tables[k].num_rows, "bytes": sizes[k]} for k in tables}


def ingest_batch(seed: int, cycle: int, batch_rows: int, known_ids: int,
                 update_share: float, users: int) -> pa.Table:
    """One incremental source batch for ``cycle`` (1-based): fresh event ids
    plus updates to ``update_share`` of the batch drawn from ids already
    known.  Rows carry ``updated_at`` inside the cycle's own hour, so the
    batches' watermarks strictly increase."""
    rng = np.random.default_rng([seed, cycle])
    n_upd = int(batch_rows * update_share) if known_ids else 0
    n_new = batch_rows - n_upd
    batch = events_table(rng, known_ids, n_new, users)
    if n_upd:
        upd = events_table(rng, 0, n_upd, users).set_column(
            0, "event_id", pa.array(rng.choice(known_ids, n_upd, replace=False)))
        batch = pa.concat_tables([batch, upd])
    hour = _EVENT_START + timedelta(days=31, hours=cycle)
    offsets = np.sort(rng.integers(0, 3600 * 10**6, batch.num_rows))
    return batch.append_column("updated_at", _ts(hour, offsets))
