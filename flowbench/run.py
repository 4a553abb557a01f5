"""Flow benchmark for waimak_spark: one command, three workloads.

    python3 flowbench/run.py --workload etl_flow --seed 1 --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is the separate traced run that splits each unit's time into the
repository's layers.  Inputs are generated from ``--seed``; every output is
checked outside the timed window.  Human-readable lines go to stderr, the
full report to ``.flowbench_work/results/``, and the last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  See
flowbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload name -> (module, class)
WORKLOADS = {
    "etl_flow": ("etl_flow", "EtlFlow"),
    "ingest_storage": ("ingest_storage", "IngestStorage"),
    "catalog_mix": ("catalog_mix", "CatalogMix"),
}

END_TO_END = {
    "setup_s": "s",
    "wall_p50_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

LAYER_SHARES = {f"layer.{name}.share": "ratio" for name in (
    "dataflow", "operators", "dataquality", "storage", "rdbm", "functions",
    "spark", "bench")}
PER_LAYER = {
    **LAYER_SHARES,
    "trace.unit_p50_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.reconcile_error": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "py4j.round_trips": "count",
    "dataflow.actions": "count",
    "dataflow.concurrency": "ratio",
    "dataflow.speedup": "ratio",
    "operators.cache_bytes": "bytes",
    "operators.committed_bytes": "bytes",
    "operators.metastore_ddls": "count",
    "dataquality.alerts": "count",
    "dataquality.jobs": "count",
    "storage.append_rows": "count",
    "storage.compactions": "count",
    "storage.bytes_rewritten": "bytes",
    "storage.active_regions": "count",
    "storage.files": "count",
    "storage.bytes_on_disk": "bytes",
    "storage.trash_bytes": "bytes",
    "rdbm.rows_extracted": "count",
    "rdbm.useful_row_ratio": "ratio",
}

#: largest relative gap allowed between a traced unit's wall time and the
#: sum of its layer self times
RECONCILE_TOLERANCE = 0.05


def tail(samples: list[float]) -> tuple[float | None, str]:
    """The highest percentile with at least ten samples above it, and its
    name.  It is a tail only when it lies above the median, so with fewer
    than 22 samples it is undefined (``None``)."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11
    if k < n // 2:
        return None, f"undefined with {n} samples (needs 22)"
    return xs[k], f"p{100 * (k + 1) // n} of {n}"


class Context:
    def __init__(self, spark, cores, seed, work, tracer, reporter, counter):
        self.spark = spark
        self.cores = cores
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.reporter = reporter
        self.counter = counter


def traced_round(i: int, round_size: int) -> bool:
    """The traced run traces every other round; the rounds in between run
    untraced in the same session and give the tracing overhead."""
    return (i // round_size) % 2 == 0


def measure(wl, seconds: float, ctx, counter, traced: bool) -> dict:
    """Closed loop of units for ``seconds``.  A round of ``wl.round_size``
    units is started only while it is expected to end inside the window
    (the traced run always does at least two rounds, one traced and one
    not)."""
    import session

    walls, rows, failed, units, marks = [], 0, set(), [], {}
    ticks = session.cpu_ticks()
    t_window = time.perf_counter()
    i = 0
    round_t0 = t_window
    while True:
        wl.before_unit(i)
        trace_this = traced and traced_round(i, wl.round_size)
        ctx.tracer.enabled = trace_this
        if trace_this:
            marks[i] = (counter.count, session.jvm_gc_seconds(ctx.spark))
        t0 = time.perf_counter()
        try:
            with ctx.tracer.unit("bench", f"unit:{i}", index=i) as root:
                rows += wl.unit(i)
        except Exception:  # noqa: BLE001 - a failed unit is counted, not fatal
            traceback.print_exc()
            failed.add(i)
        walls.append(time.perf_counter() - t0)
        if trace_this:
            rts, gc = marks[i]
            root.attrs.update(
                wall=walls[-1], rts=counter.count - rts,
                gc_s=session.jvm_gc_seconds(ctx.spark) - gc)
        units.append(i)
        i += 1
        if i % wl.round_size == 0:
            now = time.perf_counter()
            if (now - t_window + (now - round_t0) > seconds
                    and not (traced and i < 2 * wl.round_size)):
                break
            round_t0 = now
    ctx.tracer.enabled = False
    return {"walls": walls, "rows": rows, "failed": failed, "units": units,
            "cpu": session.cpu_shares(ticks, session.cpu_ticks())}


def per_layer(wl, ctx, m: dict, log: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced units: the JSON set and the full
    report (module times included)."""
    import tracing

    units = ctx.tracer.units
    shares, errors, engine = [], [], []
    for u in units:
        jobs = tracing.attach_jobs(u, log["jobs"])
        st = tracing.self_times(u)
        wall = u.attrs["wall"]
        shares.append({k: v / wall for k, v in st.items()})
        errors.append(abs(sum(st.values()) - wall) / wall)
        e = tracing.engine_metrics(jobs, log)
        e["gc_s"] = u.attrs["gc_s"]
        e["py4j.round_trips"] = u.attrs["rts"]
        engine.append(e)
    traced_walls = [u.attrs["wall"] for u in units]
    plain = [w for i, w in zip(m["units"], m["walls"])
             if not traced_round(i, wl.round_size)]
    out = {f"layer.{k}.share": tracing.summarise([s[k] for s in shares])
           for k in tracing.LAYERS}
    out["trace.unit_p50_s"] = statistics.median(traced_walls)
    # the untraced rounds run in the traced session, with the py4j counter
    # and the event log on: this ratio is the cost of the spans alone
    out["trace.overhead_ratio"] = (
        statistics.median(traced_walls) / statistics.median(plain) - 1
        if plain else 0.0)
    out["trace.reconcile_error"] = max(errors)
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "driver_gap_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = tracing.summarise([e[k] for e in engine])
    out["spark.task_skew"] = max(e["task_skew"] for e in engine)
    out["py4j.round_trips"] = tracing.summarise(
        [e["py4j.round_trips"] for e in engine])
    modules = wl.layer_metrics(units, log)
    full = dict(out, **modules)
    for k in PER_LAYER:
        out.setdefault(k, modules.get(k, 0.0))
    return out, full


def run(args, work: str, t_start: float) -> dict:
    import session
    import tracing

    cores = session.host_cores()
    traced = bool(args.trace)
    counter = tracing.RoundTripCounter()
    if traced:
        counter.install()
    event_log = os.path.join(work, "eventlog") if traced else None
    spark = session.start(work, cores, event_log)
    tracer = tracing.Tracer(False)
    reporter = tracing.SpanReporter(tracer) if traced else None
    ctx = Context(spark, cores, args.seed, work, tracer, reporter, counter)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(ctx)
    t0 = time.perf_counter()
    info = wl.prepare()
    gen_s = time.perf_counter() - t0
    wl.warm_up()
    setup_s = time.perf_counter() - t_start
    session.load_probe(spark)       # the probe's own warm-up

    load_before = (session.load_average(), session.load_probe(spark))
    m = measure(wl, args.seconds, ctx, counter, traced)
    load_after = (session.load_average(), session.load_probe(spark))
    rss = session.peak_rss_mb(session.jvm_pid(spark))
    all_units = m["units"]
    t0 = time.perf_counter()
    failed = m["failed"] | wl.check(all_units)
    check_s = time.perf_counter() - t0
    extras = wl.extra_metrics(m)
    if traced and args.workload == "etl_flow":
        extras["executors"] = wl.compare_executors()
        if not extras["executors"]["outputs_identical"]:
            print("flowbench: committed outputs differ across executors",
                  file=sys.stderr)
            failed |= set(all_units)
    facts = session.host_facts(spark, cores)
    t0 = time.perf_counter()
    session.stop(spark)
    stop_s = time.perf_counter() - t0
    if traced:
        counter.uninstall()

    walls = m["walls"]
    tail_s, tail_name = tail(walls)
    e2e = {
        "setup_s": setup_s,
        "wall_p50_s": statistics.median(walls),
        "rows_per_s": m["rows"] / sum(walls),
        "peak_rss_mb": rss,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": facts,
        "load": {"loadavg_before": load_before[0],
                 "probe_before_s": load_before[1],
                 "loadavg_after": load_after[0],
                 "probe_after_s": load_after[1],
                 "window": m["cpu"]},
        "inputs": info, "input_generation_s": gen_s,
        "check_s": check_s, "stop_s": stop_s,
        "units": len(walls), "unit_walls_s": walls,
        "wall_tail_s": tail_s,
        "wall_tail_percentile": tail_name,
        "failed_ratio": len(failed) / len(all_units),
        "end_to_end": dict(e2e, **{k: v for k, v in extras.items()
                                   if not isinstance(v, dict)}),
        "extras": {k: v for k, v in extras.items() if isinstance(v, dict)},
    }
    results = os.path.join(ROOT, ".flowbench_work", "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results,
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if traced:
        log = tracing.parse_event_log(event_log)
        metrics, full = per_layer(wl, ctx, m, log)
        report["per_layer"] = full
        report["reconcile_tolerance"] = RECONCILE_TOLERANCE
        untraced = f"{stem[:-1]}0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["wall_p50_s"]
            report["overhead_vs_untraced_run"] = e2e["wall_p50_s"] / base - 1
        tracing.write_spans(f"{stem}.spans.jsonl", ctx.tracer.units)
        if metrics["trace.reconcile_error"] > RECONCILE_TOLERANCE:
            print(f"flowbench: layer self times miss the unit wall by "
                  f"{metrics['trace.reconcile_error']:.1%}", file=sys.stderr)
            failed |= set(all_units)
        units_of = PER_LAYER
    else:
        metrics = e2e
        units_of = END_TO_END
    with open(f"{stem}.json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"units={len(walls)} failed={len(failed)} "
          f"wall_tail_s={tail_s} ({tail_name}) host={facts}", file=sys.stderr)
    for k, v in report["end_to_end"].items():
        print(f"#   {k} = {v:.6g}", file=sys.stderr)
    if traced:
        for k, v in report["per_layer"].items():
            print(f"#   {k} = {v:.6g}", file=sys.stderr)
    return {
        "correct": not failed,
        "attempted": len(all_units),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units_of.items()},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the program by PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    try:
        import waimak_spark  # noqa: F401
    except ImportError as e:
        print(f"flowbench: waimak_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".flowbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None         # re-read TMPDIR (cached after first use)
    try:
        result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
