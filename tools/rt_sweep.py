"""Deterministic py4j round-trip sweep: counts driver->JVM commands paid
by each catalog entry's CONSTRUCTION (fn(spark, sf_dir) up to returning
its DataFrame — including any driver-side collect jobs the operator's
loop runs).  Counting calls is load-independent, so the sweep is a
protocol-grade before/after instrument for construction-tax work even on
a busy host (unlike wall-clock).

Usage: python tools/rt_sweep.py [entry ...]   (default: whole catalog)
Runs on local[$SPARK_GRAFT_CPUS] (default: the host's cores).  Prints
one JSON line per entry {"entry", "rts"} and a total.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNT = {"n": 0}


def _install_counter() -> None:
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def patched(self, *a, _orig=orig, **kw):
            _COUNT["n"] += 1
            return _orig(self, *a, **kw)

        cls.send_command = patched


def main() -> None:
    _install_counter()
    from waimak_spark import catalog
    from waimak_spark.functions.cache_registry import release_tracked
    from waimak_spark.session import local_session

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(catalog.ALL_ENTRIES)
    fns = {name: catalog.resolve_entry(name) for name in names}
    spark = local_session(driver_memory="8g")

    # warm the parse/analysis caches once so entry 1 doesn't absorb
    # session-setup round trips the others skip
    spark.read.parquet(f"{sf}/region.parquet").count()
    out = {}
    for name in names:
        before = _COUNT["n"]
        fns[name](spark, sf)
        out[name] = _COUNT["n"] - before
        release_tracked()
        spark.catalog.clearCache()
        print(json.dumps({"entry": name, "rts": out[name]}))
    print(json.dumps({"total": sum(out.values()), "n_entries": len(out)}))


if __name__ == "__main__":
    main()
