"""Isolated per-entry timing: fresh JVM, warmup lap, then min of N warmed
laps with operator caches released between laps — the "isolated min-of-N"
protocol PARITY.md's perf deltas cite (full-lap bench numbers integrate
co-tenant load and GC from 200+ queries in one JVM; this is the
per-change accept/reject signal).

Usage: python tools/measure_entry.py <entry_name> [sf_dir] [laps]
Runs on local[$SPARK_GRAFT_CPUS] (default: the host's cores) and prints
one JSON line {"entry", "laps", "min"}.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from waimak_spark.catalog import resolve_entry
    from waimak_spark.functions.cache_registry import release_tracked
    from waimak_spark.session import local_session

    name = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    laps = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    if laps < 1:
        raise SystemExit("laps must be >= 1 (one untimed warmup always runs)")
    fn = resolve_entry(name)
    spark = local_session(driver_memory="16g")
    times = []
    for i in range(laps + 1):  # lap 0 is the untimed warmup
        t0 = time.time()
        fn(spark, sf).collect()
        dt = time.time() - t0
        release_tracked()
        spark.catalog.clearCache()
        if i > 0:
            times.append(round(dt, 3))
    print(json.dumps({"entry": name, "laps": times, "min": min(times)}))


if __name__ == "__main__":
    main()
