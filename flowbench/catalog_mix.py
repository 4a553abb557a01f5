"""``catalog_mix``: operator-bound work with no flow.  One unit is one
catalog entry from a frozen list, built and forced with the ``noop`` sink;
a round is one pass over the list, and operator caches are released
between entries as bench.py does.

The list is resolved through ``ALL_ENTRIES`` or ``RETIRED_ENTRIES`` by
name, so a catalog rotation cannot change its membership.  Each entry's
rows are checked against its catalog oracle during the untimed warm-up
pass.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql.readwriter import DataFrameReader

import checks
import inputs
import tracing

SCALE = 0.001
FROZEN = (
    "q21_waiting_suppliers", "q2_min_cost_supplier",
    "copurchase_pagerank",
    "corpus_distinct_hll", "events_value_quantiles_kmv",
    "streaming_tumbling_counts",
    "ann_ivf_topk", "bigram_logprob",
    "dedup_simhash_resolve", "sample_mmr_diverse",
)


def resolve(name: str) -> dict:
    from waimak_spark.catalog import ALL_ENTRIES, RETIRED_ENTRIES

    entry = ALL_ENTRIES.get(name) or RETIRED_ENTRIES.get(name)
    if entry is None:
        raise KeyError(f"catalog entry {name} is neither live nor retired")
    return entry


class CatalogMix:
    name = "catalog_mix"
    round_size = len(FROZEN)

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "inputs")
        self.entries = {n: resolve(n) for n in FROZEN}
        self.input_rows: dict[str, int] = {}
        self.bad: set[str] = set()

    def prepare(self) -> dict:
        self.info = inputs.generate(self.ctx.seed, SCALE, self.data)
        return self.info

    def _release(self) -> None:
        from waimak_spark.functions.cache_registry import release_tracked

        release_tracked()
        self.ctx.spark.catalog.clearCache()

    def warm_up(self) -> None:
        """One untimed pass: records which tables each entry reads and
        checks its rows against the entry's DuckDB oracle."""
        con = checks.duck_with_views(self.data, inputs.TABLES)
        spark = self.ctx.spark
        orig = DataFrameReader.parquet
        for name, entry in self.entries.items():
            read: set[str] = set()

            def recording(reader, *paths, _read=read, **kw):
                _read.update(os.path.basename(p)[:-len(".parquet")]
                             for p in paths)
                return orig(reader, *paths, **kw)

            DataFrameReader.parquet = recording
            try:
                df = entry["fn"](spark, self.data)
            finally:
                DataFrameReader.parquet = orig
            got = [tuple(r) for r in df.collect()]
            want, cols = checks.duck_rows(con, entry["oracle"])
            if (sorted(df.columns) != sorted(cols)
                    or checks.normalise(got, df.columns)
                    != checks.normalise(want, cols)):
                print(f"flowbench: catalog entry {name} differs from its "
                      f"oracle", file=sys.stderr)
                self.bad.add(name)
            self.input_rows[name] = sum(self.info[t]["rows"] for t in read)
            self._release()

    def before_unit(self, i: int) -> None:
        self._release()

    def unit(self, i: int) -> int:
        name = FROZEN[i % len(FROZEN)]
        spark, tracer = self.ctx.spark, self.ctx.tracer
        group = f"entry:{name}:{i}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            rts = self.ctx.counter.count
            with tracer.span("functions", f"build:{name}", group=group) as s:
                df = self.entries[name]["fn"](spark, self.data)
            if s is not None:
                s.attrs["rts"] = self.ctx.counter.count - rts
            with tracer.span("spark", f"run:{name}", group=group):
                df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return self.input_rows[name]

    def check(self, units: list[int]) -> set[int]:
        return {i for i in units if FROZEN[i % len(FROZEN)] in self.bad}

    def extra_metrics(self, m: dict) -> dict:
        return {}

    def layer_metrics(self, units: list, log: dict) -> dict:
        out: dict[str, float] = {}
        for name in FROZEN:
            builds = [s for u in units for s in tracing.spans_named(u, f"build:{name}")]
            runs = [s for u in units for s in tracing.spans_named(u, f"run:{name}")]
            out[f"functions.{name}.build_s"] = tracing.summarise(
                [s.duration for s in builds])
            out[f"functions.{name}.run_s"] = tracing.summarise(
                [s.duration for s in runs])
            out[f"functions.{name}.rts"] = tracing.summarise(
                [s.attrs["rts"] for s in builds])
        return out
