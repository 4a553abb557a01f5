"""Smoke test of the benchmark itself at scale 0.001 (a few minutes):

    python -m pytest flowbench/test_smoke.py -q

Each workload runs one round timed and one round traced, in process; the
test checks that every end-to-end and per-layer metric is reported with
its unit, that every output check passed, and that another seed changes
the inputs but not the metric names.
"""

from __future__ import annotations

import json

import pytest

import catalog_mix
import etl_flow
import ingest_storage
import inputs
import run


@pytest.fixture(autouse=True)
def tiny_scale(monkeypatch):
    for mod in (etl_flow, ingest_storage, catalog_mix):
        monkeypatch.setattr(mod, "SCALE", 0.001)
    monkeypatch.setattr(ingest_storage, "BATCH_ROWS", 200)


def bench(capsys, workload: str, seed: int, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", str(seed),
                     "--seconds", "0", "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_reports_every_metric_and_passes_its_checks(capsys, workload):
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        r = bench(capsys, workload, 7, trace)
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        assert {k: v["unit"] for k, v in r["metrics"].items()} == names
        assert all(isinstance(v["value"], (int, float))
                   for v in r["metrics"].values())


def test_seed_changes_inputs_not_metric_names(capsys):
    a = inputs.build_tables(1, 0.001, etl_flow.NULL_TOTAL_SHARE)
    b = inputs.build_tables(2, 0.001, etl_flow.NULL_TOTAL_SHARE)
    assert {t: a[t].num_rows for t in a} == {t: b[t].num_rows for t in b}
    assert any(not a[t].equals(b[t]) for t in ("orders", "lineitem", "events"))
    again = inputs.build_tables(1, 0.001, etl_flow.NULL_TOTAL_SHARE)
    assert all(a[t].equals(again[t]) for t in a)
    names = [set(bench(capsys, "etl_flow", s, 0)["metrics"]) for s in (1, 2)]
    assert names[0] == names[1] == set(run.END_TO_END)
