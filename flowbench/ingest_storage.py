"""``ingest_storage``: one unit is one incremental ingestion cycle.

The write is ``extract_to_storage_from_rdbm`` against a benchmark-side
extractor that replaces only the JDBC boundary: it answers the extractor's
``where <last updated> > '<watermark>'`` query from the source table as it
stands after the cycle's seeded batch of inserts and updates.  Every
``COMPACT_EVERY``-th cycle the compaction decision fires.  After the write,
a read flow runs ``snapshot_from_storage`` and a ``load_from_storage``
range read over the cycle's hour, and both results are forced.  Hot
regions pile up between compactions, so read latency saw-tooths.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
from datetime import datetime, timedelta

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from waimak_spark import Waimak
from waimak_spark.dataflow import ParallelDataFlowExecutor
from waimak_spark.rdbm.actions import (RDBMExtractionTableConfig,
                                       extract_to_storage_from_rdbm)
from waimak_spark.rdbm.extractor import SQLServerExtractor

import checks
import inputs
import tracing

SCALE = 0.1
BATCH_ROWS = 5_000
UPDATE_SHARE = 0.3
#: seconds subtracted from the stored watermark before extracting; rows of
#: the previous batch inside this window are extracted again
OFFSET_S = 600
COMPACT_EVERY = 3
WARMUP_CYCLES = 6
TABLE = "events"
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props",
           "updated_at")


def cycle_hour(cycle: int) -> datetime:
    """Start of the hour whose ``updated_at`` values batch ``cycle`` holds."""
    return datetime(2024, 2, 1) + timedelta(hours=cycle)


class SourceExtractor(SQLServerExtractor):
    """SQL Server extractor whose JDBC reads are served from the source
    table's current state (a parquet file the benchmark rewrites after
    every batch), filtered by the watermark the extractor put in its
    query."""

    def __init__(self, spark, wl: "IngestStorage"):
        super().__init__(spark, "jdbc:sqlserver://flowbench")
        self.wl = wl

    def table_pks(self, schema: str, table: str):
        return ["event_id"]

    def _read_jdbc(self, table_or_query, predicates=None):
        with self.wl.ctx.tracer.span("rdbm", "rdbm.jdbc_read"):
            df = self.spark.read.parquet(self.wl.state_path)
            m = re.search(r"> '([^']+)'", table_or_query)
            if m:
                df = df.where(F.col("updated_at")
                              > F.lit(m.group(1)).cast("timestamp"))
            return df.withColumn("system_timestamp_of_extraction",
                                 F.lit(self.wl.extract_dt))


class IngestStorage:
    name = "ingest_storage"
    round_size = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "source")
        self.storage = os.path.join(ctx.work, "storage")
        self.tmp = os.path.join(ctx.work, "flowtmp")
        self.cycle = 0
        self.known_ids = 0
        self.input_bytes = 0
        self.batch_rows: dict[int, int] = {}
        self.extracted: dict[int, int] = {}
        self.compacted: dict[int, bool] = {}
        self.unit_cycle: dict = {}
        self.write_s: dict = {}
        self.read_s: dict = {}
        self.extractor = SourceExtractor(ctx.spark, self)
        self.config = {TABLE: RDBMExtractionTableConfig(
            TABLE, pk_cols=["event_id"], last_updated_column="updated_at")}

    # -- the source table ----------------------------------------------------
    def _add_batch(self, table) -> None:
        os.makedirs(self.src, exist_ok=True)
        path = os.path.join(self.src, f"batch_{self.cycle:05d}.parquet")
        pq.write_table(table, path)
        self.input_bytes += os.path.getsize(path)
        self.batch_rows[self.cycle] = table.num_rows
        self.known_ids = max(self.known_ids,
                             int(max(table.column("event_id").to_pylist())) + 1)
        old = getattr(self, "state_path", None)
        self.state_path = os.path.join(self.src, f"state_{self.cycle:05d}.parquet")
        self.duck.execute(
            f"copy ({self._latest_sql()} order by updated_at) "
            f"to '{self.state_path}' (format parquet)")
        if old:
            os.remove(old)
        self.extract_dt = cycle_hour(self.cycle) + timedelta(hours=1)

    def _latest_sql(self) -> str:
        return (f"select * from {self._batches(self.cycle)} "
                f"qualify row_number() over (partition by event_id "
                f"order by updated_at desc) = 1")

    def prepare(self) -> dict:
        import duckdb

        self.duck = duckdb.connect()
        self.duck.execute("set threads to 2")
        info = inputs.row_counts(SCALE)
        self.users = max(15, int(15_000 * SCALE))
        first = inputs.ingest_batch(self.ctx.seed, 0, info[TABLE], 0, 0.0,
                                    self.users)
        self._add_batch(first)
        return {"initial_rows": first.num_rows, "batch_rows": BATCH_ROWS,
                "update_share": UPDATE_SHARE, "offset_s": OFFSET_S,
                "compact_every": COMPACT_EVERY}

    def before_unit(self, i) -> None:
        self.cycle += 1
        self.unit_cycle[i] = self.cycle
        self._add_batch(inputs.ingest_batch(
            self.ctx.seed, self.cycle, BATCH_ROWS, self.known_ids,
            UPDATE_SHARE, self.users))

    def warm_up(self) -> None:
        self._write()                      # initial full load
        for w in range(WARMUP_CYCLES):
            self.before_unit(f"w{w}")
            self.unit(f"w{w}")

    # -- one unit ------------------------------------------------------------
    def _executor(self):
        return ParallelDataFlowExecutor(max_jobs=self.ctx.cores,
                                        reporter=self.ctx.reporter)

    def _decision(self, cycle: int):
        """Compacts every ``COMPACT_EVERY``-th cycle; records the appended
        row count and marks where the append ends inside the
        ``writeToStorage`` span."""
        tracer = self.ctx.tracer

        def decide(_regions, count, _ts) -> bool:
            due = cycle > 0 and cycle % COMPACT_EVERY == 0
            self.extracted[cycle] = count
            self.compacted[cycle] = due
            tracer.annotate(decided_at=time.time(), compact=due)
            return due

        return decide

    def _write(self) -> None:
        flow = Waimak.spark_flow(self.ctx.spark, self.tmp)
        flow = extract_to_storage_from_rdbm(
            flow, self.extractor, "dbo", self.storage, self.config,
            extract_dt=self.extract_dt, last_updated_offset=OFFSET_S,
            do_compaction=self._decision(self.cycle), table_names=[TABLE])
        flow.execute(self._executor())

    def _read(self) -> tuple:
        hour = cycle_hour(self.cycle)
        flow = Waimak.spark_flow(self.ctx.spark, self.tmp)
        flow = flow.snapshot_from_storage(self.storage, self.extract_dt, TABLE,
                                          output_prefix="snap")
        flow = flow.load_from_storage(self.storage, TABLE, from_ts=hour,
                                      to_ts=self.extract_dt,
                                      output_prefix="range")
        _executed, final = flow.execute(self._executor())
        return final.inputs.get("snap_events"), final.inputs.get("range_events")

    def unit(self, i) -> int:
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        with tracer.span("dataflow", "flow.execute:write"):
            self._write()
        t1 = time.perf_counter()
        with tracer.span("dataflow", "flow.execute:read"):
            snap, rng = self._read()
        with tracer.span("storage", "storage.snapshot"):
            snap.write.format("noop").mode("overwrite").save()
        with tracer.span("storage", "storage.all_between"):
            rng.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.write_s[i] = t1 - t0
        self.read_s[i] = t2 - t1
        return self.batch_rows[self.cycle]

    # -- checks (outside the timed window) ------------------------------------
    def _batches(self, upto: int) -> str:
        paths = [os.path.join(self.src, f"batch_{c:05d}.parquet")
                 for c in range(upto + 1)]
        return f"read_parquet({paths!r})"

    def _expected_extracted(self, cycle: int) -> int:
        """Rows the source holds after ``cycle`` whose ``updated_at`` is
        past the watermark: the previous cycles' max minus the offset."""
        prev_max = self.duck.execute(
            f"select max(updated_at) from {self._batches(cycle - 1)}"
        ).fetchone()[0]
        return self.duck.execute(
            f"select count(*) from (select * from {self._batches(cycle)} "
            f"qualify row_number() over (partition by event_id "
            f"order by updated_at desc) = 1) where updated_at > ?",
            [prev_max - timedelta(seconds=OFFSET_S)]).fetchone()[0]

    def check(self, units: list) -> set:
        bad = []
        for i in units:
            c = self.unit_cycle[i]
            want = self._expected_extracted(c)
            if self.extracted.get(c) != want:
                bad.append(f"cycle {c}: extracted {self.extracted.get(c)} "
                           f"!= {want}")
        snap, rng = self._read()
        out = os.path.join(self.ctx.work, "check")
        cols = ", ".join(COLUMNS)
        snap.select(*COLUMNS).write.mode("overwrite").parquet(f"{out}/snap")
        rng.select(*COLUMNS).distinct().write.mode("overwrite").parquet(
            f"{out}/range")
        latest = self._latest_sql().replace("select *", f"select {cols}", 1)
        batch = (f"select {cols} from read_parquet("
                 f"'{self.src}/batch_{self.cycle:05d}.parquet')")
        for name, expected in (("snap", latest), ("range", batch)):
            got = f"select {cols} from read_parquet('{out}/{name}/*.parquet')"
            diff = self.duck.execute(
                f"select (select count(*) from ({got} except all {expected})) + "
                f"(select count(*) from ({expected} except all {got}))"
            ).fetchone()[0]
            if diff:
                bad.append(f"{name} differs from DuckDB in {diff} rows")
        if bad:
            print(f"flowbench: ingest_storage mismatch: {bad}", file=sys.stderr)
            return set(units)
        return set()

    # -- metrics -------------------------------------------------------------
    def _storage_state(self) -> dict:
        files, data = checks.dir_bytes(self.storage)
        _tf, trash = checks.dir_bytes(os.path.join(self.storage, ".Trash"))
        from waimak_spark.storage.audit import open_tables
        from waimak_spark.storage.file_ops import FileStorageOps

        tables, _ = open_tables(FileStorageOps(self.ctx.spark, self.storage),
                                [TABLE])
        return {"storage.active_regions": len(tables[TABLE].active_region_ids()),
                "storage.files": files, "storage.bytes_on_disk": data,
                "storage.trash_bytes": trash}

    def extra_metrics(self, m: dict) -> dict:
        self.state = self._storage_state()
        return {
            "write_p50_s": statistics.median(self.write_s[i] for i in m["units"]),
            "read_p50_s": statistics.median(self.read_s[i] for i in m["units"]),
            "bytes_stored_per_input_byte":
                self.state["storage.bytes_on_disk"] / self.input_bytes,
            "cycles": {self.unit_cycle[i]: {
                "write_s": self.write_s[i], "read_s": self.read_s[i],
                "compacted": self.compacted[self.unit_cycle[i]]}
                for i in m["units"]},
        }

    def layer_metrics(self, units: list, log: dict) -> dict:
        per_unit = []
        for u in units:
            c = self.unit_cycle[u.attrs["index"]]
            actions = [s for s in tracing._walk(u)
                       if s.attrs.get("kind") == "action"]
            flows = tracing.spans_named(u, "flow.execute")
            writes = tracing.spans_named(u, "writeToStorage")
            compact_jobs = [j for w in writes if w.attrs.get("compact")
                            for j in tracing.jobs_under(w)
                            if j.start >= w.attrs["decided_at"]]
            busy = sum(a.duration for a in actions)
            per_unit.append({
                "dataflow.actions": len(actions),
                "dataflow.action_busy_s": busy,
                "dataflow.concurrency": busy / sum(f.duration for f in flows),
                "storage.append_s": sum(
                    w.attrs["decided_at"] - w.start for w in writes),
                "storage.append_rows": self.extracted[c],
                "storage.compact_s": sum(
                    w.end - w.attrs["decided_at"] for w in writes
                    if w.attrs.get("compact")),
                "storage.compactions": int(self.compacted[c]),
                "storage.bytes_rewritten": tracing.engine_metrics(
                    compact_jobs, log)["written_bytes"],
                "storage.snapshot_s": sum(
                    s.duration for s in tracing._walk(u)
                    if s.name in ("snapshotFromStorage", "storage.snapshot")),
                "storage.all_between_s": sum(
                    s.duration for s in tracing._walk(u)
                    if s.name in ("loadFromStorage", "storage.all_between")),
                "rdbm.extract_s": sum(
                    s.duration for s in tracing.spans_named(u, "extractFromRDBM")),
                "rdbm.rows_extracted": self.extracted[c],
            })
        out = {k: tracing.summarise([p[k] for p in per_unit])
               for k in per_unit[0]}
        cycles = [self.unit_cycle[u.attrs["index"]] for u in units]
        out["rdbm.useful_row_ratio"] = (
            sum(self.batch_rows[c] for c in cycles)
            / sum(self.extracted[c] for c in cycles))
        out.update(self.state)
        return out
