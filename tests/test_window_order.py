"""The catalog's window order as a pure function of the correctness
gate's record (catalog/window.py) — synthetic histories, no Spark."""

import json

from waimak_spark.catalog.window import correctness_history, window_order

GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": False, "err": "no_oracle"}


def test_never_seen_entries_first():
    history = [{"a": GREEN, "b": GREEN}, {"c": GREEN}]
    assert window_order(["a", "b", "c", "new"], history) == [
        "new", "a", "b", "c"]


def test_oldest_latest_green_round_first():
    history = [{"a": GREEN, "b": GREEN}, {"b": GREEN, "c": GREEN},
               {"c": GREEN}]
    # a: round 0, b: round 1, c: round 2
    assert window_order(["c", "b", "a"], history) == ["a", "b", "c"]


def test_only_red_rows_order_as_never_green():
    # an entry the gate could never check (no oracle) keeps its place at
    # the front, though it has a newer row than every green entry
    history = [{"a": GREEN}, {"a": GREEN, "rows_only": RED}]
    assert window_order(["a", "rows_only"], history) == ["rows_only", "a"]


def test_red_row_does_not_refresh_latest_green():
    history = [{"a": GREEN, "b": GREEN}, {"b": GREEN}, {"a": RED}]
    assert window_order(["b", "a"], history) == ["a", "b"]


def test_ties_keep_catalog_order():
    history = [{"x": GREEN, "y": GREEN, "z": GREEN}]
    assert window_order(["z", "x", "y", "n2", "n1"], history) == [
        "n2", "n1", "z", "x", "y"]


def test_no_history_gives_module_order(tmp_path):
    assert correctness_history(str(tmp_path)) == []
    names = ["q1", "b", "a"]
    assert window_order(names, correctness_history(str(tmp_path))) == names


def test_history_sorted_by_round_number(tmp_path):
    for rnd, name in ((10, "late"), (2, "early"), (9, "mid")):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
            json.dumps({name: GREEN}))
    history = correctness_history(str(tmp_path))
    assert [list(rows) for rows in history] == [["early"], ["mid"], ["late"]]
