"""``etl_flow``: one unit is one execution of a 27-action flow under
``ParallelDataFlowExecutor(max_jobs=nproc)`` on the FAIR scheduler.

The flow opens eight parquet tables, runs seven ``sql``/``transform``
branches of uneven cost (one is a MinHash near-duplicate resolve over the
documents, so the ``functions`` layer shows up in a flow), checks two
labels for data quality (one alerts on the seeded share of null order
totals), cuts the plan with ``cache_as_parquet``, appends to an audit
table, and commits four labels through the staged committer with
``HiveDummyConnector`` DDL sync plus two labels through the manifest
committer.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from pyspark.sql import functions as F

from waimak_spark import Waimak
from waimak_spark.dataflow import (ParallelDataFlowExecutor,
                                   SequentialDataFlowExecutor)
from waimak_spark.dataquality import (CollectingAlertHandler,
                                      DataQualityCheck, completeness_check)
from waimak_spark.operators.commit import ParquetDataCommitter
from waimak_spark.operators.manifest_commit import ManifestParquetDataCommitter
from waimak_spark.operators.metastore import HiveDummyConnector
from waimak_spark.functions.dedup import (minhash_dedup_resolve,
                                          minhash_dedup_resolve_sql)
from waimak_spark.storage.audit import AuditTableInfo

import checks
import inputs
import tracing

SCALE = 0.1
NULL_TOTAL_SHARE = 0.02
SOURCES = ("orders", "customer", "lineitem", "part", "supplier", "nation",
           "events", "documents")
COMMITTED = ("cust_totals", "revenue_by_nation", "part_mix", "event_daily")
MANIFESTED = ("segment_year", "doc_clusters")

Q_ENRICHED = """
    select o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
           o.o_totalprice, o.o_orderdate as last_updated
    from orders o join customer c on o.o_custkey = c.c_custkey"""
Q_REVENUE = """
    select n.n_name, count(*) as lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) as revenue
    from lineitem l join supplier s on l.l_suppkey = s.s_suppkey
    join nation n on s.s_nationkey = n.n_nationkey
    group by n.n_name"""
Q_PART_MIX = """
    select p.p_type, p.p_brand, count(*) as lines,
           sum(l.l_quantity) as quantity
    from lineitem l join part p on l.l_partkey = p.p_partkey
    group by p.p_type, p.p_brand"""
Q_SEGMENT_YEAR = """
    select c_mktsegment, year(last_updated) as yr, count(*) as orders,
           round(sum(o_totalprice), 2) as total
    from enriched group by c_mktsegment, year(last_updated)"""

#: DuckDB statements that must equal the committed labels
ORACLES = {
    "cust_totals": """
        select o_custkey, count(*) as n_orders,
               round(sum(o_totalprice), 2) as total
        from orders join customer on o_custkey = c_custkey
        group by o_custkey""",
    "revenue_by_nation": """
        select n_name, count(*) as lines,
               round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue
        from lineitem join supplier on l_suppkey = s_suppkey
        join nation on s_nationkey = n_nationkey
        group by n_name""",
    "part_mix": """
        select p_type, p_brand, count(*) as lines, sum(l_quantity) as quantity
        from lineitem join part on l_partkey = p_partkey
        group by p_type, p_brand""",
    "event_daily": """
        select cast(ts as date) as day, event_type, count(*) as n,
               round(sum(value), 2) as value
        from events group by 1, 2""",
    "segment_year": """
        select c_mktsegment, year(o_orderdate) as yr, count(*) as orders,
               round(sum(o_totalprice), 2) as total
        from orders join customer on o_custkey = c_custkey
        group by 1, 2""",
    "doc_clusters": minhash_dedup_resolve_sql(),
}


class TracedCheck(DataQualityCheck):
    """Times a data-quality check's evaluation as a ``dataquality`` span."""

    def __init__(self, inner: DataQualityCheck, tracer: tracing.Tracer):
        self.inner = inner
        self.tracer = tracer

    def validate_check(self) -> None:
        self.inner.validate_check()

    def concat(self, other):
        other = other.inner if isinstance(other, TracedCheck) else other
        return TracedCheck(self.inner.concat(other), self.tracer)

    def get_alerts(self, label, df):
        with self.tracer.span("dataquality", f"dq:{label}"):
            return self.inner.get_alerts(label, df)


class EtlFlow:
    name = "etl_flow"
    warmup_units = 6
    round_size = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "inputs")
        self.units_dir = os.path.join(ctx.work, "units")
        self.handlers: dict[int, CollectingAlertHandler] = {}
        self.connectors: dict[int, HiveDummyConnector] = {}
        self.compare: dict = {}

    def prepare(self) -> dict:
        self.info = inputs.generate(self.ctx.seed, SCALE, self.data,
                                    NULL_TOTAL_SHARE)
        self.rows = sum(self.info[t]["rows"] for t in SOURCES)
        return self.info

    def warm_up(self) -> None:
        for w in range(self.warmup_units):
            self.unit(f"w{w}")

    def before_unit(self, i: int) -> None:
        pass

    def extra_metrics(self, m: dict) -> dict:
        return {}

    # -- one unit ------------------------------------------------------------
    def _decision(self):
        """Never compacts; marks where the append ends inside the
        ``writeToStorage`` span."""
        tracer = self.ctx.tracer

        def decide(_regions, _count, _ts) -> bool:
            tracer.annotate(decided_at=time.time())
            return False

        return decide

    @staticmethod
    def _near_dups(tracer: tracing.Tracer):
        def resolve(df):
            with tracer.span("functions", "functions.minhash_dedup_resolve"):
                return minhash_dedup_resolve(df)

        return resolve

    def build(self, key, tracer: tracing.Tracer):
        spark = self.ctx.spark
        base = os.path.join(self.units_dir, str(key))
        handler = CollectingAlertHandler()
        flow = Waimak.spark_flow(spark, os.path.join(base, "tmp"))
        for t in SOURCES:
            flow = flow.open_file_parquet(
                os.path.join(self.data, f"{t}.parquet"), t)
        flow = (flow
                .sql("orders", "customer", output="enriched", query=Q_ENRICHED)
                .transform("enriched", output="cust_totals",
                           fn=lambda df: df.groupBy("o_custkey").agg(
                               F.count("*").alias("n_orders"),
                               F.round(F.sum("o_totalprice"), 2).alias("total")))
                .sql("lineitem", "supplier", "nation",
                     output="revenue_by_nation", query=Q_REVENUE)
                .sql("lineitem", "part", output="part_mix", query=Q_PART_MIX)
                .transform("events", output="event_daily",
                           fn=lambda df: df.groupBy(
                               F.to_date("ts").alias("day"), "event_type").agg(
                               F.count("*").alias("n"),
                               F.round(F.sum("value"), 2).alias("value")))
                .sql("enriched", output="segment_year", query=Q_SEGMENT_YEAR)
                .transform("documents", output="doc_clusters",
                           fn=self._near_dups(tracer))
                .add_data_quality_check(
                    "enriched", TracedCheck(completeness_check(
                        ["o_totalprice"], warning_threshold=0.99), tracer),
                    handler)
                .add_data_quality_check(
                    "revenue_by_nation", TracedCheck(completeness_check(
                        ["revenue"], warning_threshold=0.99), tracer),
                    handler)
                .cache_as_parquet("enriched")
                .get_or_create_audit_table(
                    os.path.join(base, "storage"), "enriched",
                    metadata_retrieval=lambda t: AuditTableInfo(
                        t, ["o_orderkey"], {}, True))
                .write_to_storage("enriched", "last_updated",
                                  do_compaction=self._decision()))
        connector = HiveDummyConnector(flow.context, database="bench")
        flow = (flow
                .commit("publish", *COMMITTED)
                .push("publish", ParquetDataCommitter(
                    os.path.join(base, "out"), snapshot_folder=f"snap={key}",
                    metastore_connector=connector, metastore_db="bench"))
                .commit("mirror", *MANIFESTED)
                .push("mirror", ManifestParquetDataCommitter(
                    os.path.join(base, "manifest"))))
        return flow, handler, connector

    def unit(self, i: int) -> int:
        tracer = self.ctx.tracer
        with tracer.span("dataflow", "flow.build"):
            flow, handler, connector = self.build(i, tracer)
        with tracer.span("dataflow", "flow.execute"):
            flow.execute(ParallelDataFlowExecutor(
                max_jobs=self.ctx.cores, reporter=self.ctx.reporter))
        self.handlers[i] = handler
        self.connectors[i] = connector
        return self.rows

    # -- checks (outside the timed window) ------------------------------------
    def _expected(self, con) -> dict[str, str]:
        if not hasattr(self, "_oracle"):
            self._oracle = {lbl: checks.rows_hash(*checks.duck_rows(con, q))
                            for lbl, q in ORACLES.items()}
        return self._oracle

    def output_hashes(self, con, key) -> dict[str, str]:
        base = os.path.join(self.units_dir, str(key))
        got = {lbl: checks.parquet_dir_hash(
                   con, os.path.join(base, "out", lbl, f"snap={key}"))
               for lbl in COMMITTED}
        for lbl in MANIFESTED:
            got[lbl] = checks.parquet_dir_hash(
                con, os.path.join(base, "manifest", lbl))
        return got

    def check(self, units: list[int]) -> set[int]:
        con = checks.duck_with_views(self.data, SOURCES)
        expected = self._expected(con)
        n_orders = self.info["orders"]["rows"]
        failed = set()
        for i in units:
            got = self.output_hashes(con, i)
            bad = [lbl for lbl in expected if got[lbl] != expected[lbl]]
            alerts = self.handlers[i].alerts
            if len(alerts) != 1 or "o_totalprice" not in alerts[0].alert_message:
                bad.append(f"alerts={[a.alert_message for a in alerts]}")
            ddls = " ".join(d for b in self.connectors[i].ran_ddls for d in b)
            bad += [f"ddl:{lbl}" for lbl in COMMITTED if lbl not in ddls]
            stored = con.execute(
                "select count(*) from read_parquet('"
                + os.path.join(self.units_dir, str(i), "storage", "enriched")
                + "/**/*.parquet')").fetchone()[0]
            if stored != n_orders:
                bad.append(f"stored={stored}")
            if bad:
                print(f"flowbench: etl_flow unit {i} mismatch: {bad}",
                      file=sys.stderr)
                failed.add(i)
        return failed

    def cleanup(self, units: list[int]) -> None:
        for i in units:
            shutil.rmtree(os.path.join(self.units_dir, str(i)),
                          ignore_errors=True)

    # -- traced-run extras ----------------------------------------------------
    def compare_executors(self) -> dict:
        """The same seeded flow under the sequential executor and the
        parallel one at max_jobs 1, 2 and nproc: wall times and whether the
        committed outputs hash identically to the oracle in every setting."""
        cores = self.ctx.cores
        settings = {
            "sequential": lambda: SequentialDataFlowExecutor(),
            "parallel_1": lambda: ParallelDataFlowExecutor(max_jobs=1),
            "parallel_2": lambda: ParallelDataFlowExecutor(max_jobs=2),
            f"parallel_{cores}": lambda: ParallelDataFlowExecutor(max_jobs=cores),
        }
        con = checks.duck_with_views(self.data, SOURCES)
        expected = self._expected(con)
        walls: dict[str, float] = {}
        identical = True
        off = tracing.Tracer(False)
        for name, executor in settings.items():
            flow, _h, _c = self.build(name, off)
            t0 = time.perf_counter()
            flow.execute(executor())
            walls[name] = time.perf_counter() - t0
            identical &= self.output_hashes(con, name) == expected
            shutil.rmtree(os.path.join(self.units_dir, name), ignore_errors=True)
        self.compare = {"wall_s": walls, "outputs_identical": identical,
                        "sequential_s": walls["sequential"],
                        "speedup": walls["sequential"] / walls[f"parallel_{cores}"]}
        return self.compare

    def layer_metrics(self, units: list, log: dict) -> dict:
        per_unit = []
        for u in units:
            i = u.attrs["index"]
            actions = [s for s in tracing._walk(u)
                       if s.attrs.get("kind") == "action"]
            execute = tracing.spans_named(u, "flow.execute")[0]
            build = tracing.spans_named(u, "flow.build")[0]
            busy = sum(a.duration for a in actions)
            cp = tracing.critical_path(actions)
            intercepts = [a for a in actions if a.name.startswith("intercept:")]
            dq = tracing.spans_in_layer(u, "dataquality")
            dq_jobs = [j for s in dq for j in tracing.jobs_under(s)]
            cache_jobs = [j for a in intercepts for j in tracing.jobs_under(a)
                          if j not in dq_jobs]
            writes = tracing.spans_named(u, "writeToStorage")
            base = os.path.join(self.units_dir, str(i))
            per_unit.append({
                "dataflow.build_s": build.duration,
                "dataflow.actions": len(actions),
                "dataflow.action_busy_s": busy,
                "dataflow.ready_wait_s": tracing.ready_wait(actions, execute.start),
                "dataflow.critical_path_s": cp,
                "dataflow.concurrency": busy / execute.duration,
                "dataflow.overhead_s": execute.duration - cp,
                "dataflow.failed_actions": sum(
                    1 for a in actions if not a.attrs.get("ok", True)),
                "operators.cache_s": sum(a.duration for a in intercepts)
                                     - sum(s.duration for s in dq),
                "operators.cache_bytes": tracing.engine_metrics(
                    cache_jobs, log)["written_bytes"],
                "operators.commit_stage_s": sum(
                    a.duration for a in actions
                    if a.name.startswith(("commitStage:", "manifestStage:"))),
                "operators.commit_move_s": sum(
                    a.duration for a in actions
                    if a.name.startswith(("commitMove:", "manifestMove:"))),
                "operators.commit_finish_s": sum(
                    a.duration for a in actions
                    if a.name.startswith(("commitFinish:", "manifestFinish:"))),
                "operators.metastore_ddls": sum(
                    len(b) for b in self.connectors[i].ran_ddls),
                "operators.committed_bytes": (
                    checks.dir_bytes(os.path.join(base, "out"))[1]
                    + checks.dir_bytes(os.path.join(base, "manifest"))[1]),
                "dataquality.check_s": sum(s.duration for s in dq),
                "dataquality.alerts": len(self.handlers[i].alerts),
                "dataquality.jobs": len(dq_jobs),
                "storage.append_s": sum(
                    s.attrs.get("decided_at", s.end) - s.start for s in writes),
                "storage.append_rows": self.info["orders"]["rows"],
                "functions.minhash_dedup_resolve.build_s": sum(
                    s.duration for s in tracing.spans_in_layer(u, "functions")),
            })
        out = {k: tracing.summarise([p[k] for p in per_unit])
               for k in per_unit[0]}
        if self.compare:
            out["dataflow.sequential_s"] = self.compare["sequential_s"]
            out["dataflow.speedup"] = self.compare["speedup"]
        return out
