"""The bench counter gate (``bench.compare_counters`` and the
``BENCH_PROFILE.json`` layout) as pure functions: no Spark session."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

_BENCH = pathlib.Path(__file__).resolve().parents[1] / "bench.py"


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


COMMITTED = {
    "q1_pricing_summary": {"jobs": 2, "stages": 3, "tasks": 9, "shuffle_records": 16},
    "q3_shipping_priority": {"jobs": 4, "stages": 6, "tasks": 21, "shuffle_records": 900},
}


def _with(name: str, **changes) -> dict:
    current = json.loads(json.dumps(COMMITTED))
    current[name].update(changes)
    return current


def test_equal_counters_pass(bench):
    gate, entry = bench.compare_counters(COMMITTED, _with("q1_pricing_summary"))
    assert gate == {"verdict": "PASS", "recorded": False, "up": [], "down": []}
    assert entry == COMMITTED


def test_fewer_stages_pass_and_are_reported(bench):
    current = _with("q3_shipping_priority", stages=5)
    gate, entry = bench.compare_counters(COMMITTED, current)
    assert gate["verdict"] == "PASS"
    assert gate["up"] == []
    assert gate["down"] == ["q3_shipping_priority.stages 6->5"]
    assert entry == current


def test_one_extra_exchange_fails_and_names_the_query(bench):
    # an extra exchange is one more stage, its tasks and its shuffle rows
    current = _with("q3_shipping_priority", stages=7, tasks=25, shuffle_records=1800)
    gate, entry = bench.compare_counters(COMMITTED, current)
    assert gate["verdict"] == "FAIL"
    assert gate["up"] == [
        "q3_shipping_priority.stages 6->7",
        "q3_shipping_priority.tasks 21->25",
        "q3_shipping_priority.shuffle_records 900->1800",
    ]
    assert entry == current  # the rewritten entry shows the new plan


def test_core_count_without_entry_records_and_passes(bench, tmp_path):
    path = tmp_path / "BENCH_PROFILE.json"
    path.write_text(bench.dump_profile({"sf0.1/c32": COMMITTED}))
    profile = bench.read_profile(str(path))
    gate, entry = bench.compare_counters(profile.get("sf0.1/c4"), COMMITTED)
    assert gate == {"verdict": "PASS", "recorded": True, "up": [], "down": []}
    assert entry == COMMITTED
    assert bench.read_profile(str(tmp_path / "missing.json")) == {}


def test_varying_counter_gates_on_its_range(bench):
    committed = _with("q3_shipping_priority", stages=[6, 7])
    # inside or overlapping the range: the range widens, no verdict change
    gate, entry = bench.compare_counters(committed, _with("q3_shipping_priority", stages=[7, 8]))
    assert (gate["verdict"], gate["up"]) == ("PASS", [])
    assert entry["q3_shipping_priority"]["stages"] == [6, 8]
    # every execution above every committed one: FAIL
    gate, entry = bench.compare_counters(committed, _with("q3_shipping_priority", stages=8))
    assert gate["up"] == ["q3_shipping_priority.stages [6, 7]->8"]
    assert entry["q3_shipping_priority"]["stages"] == 8


def test_profile_file_has_one_line_per_query_and_round_trips(bench, tmp_path):
    profile = {"sf0.1/c4": COMMITTED, "sf0.1/c32": _with("q1_pricing_summary", tasks=40)}
    text = bench.dump_profile(profile)
    assert json.loads(text) == profile
    for name in COMMITTED:
        assert sum(f'"{name}": ' in line for line in text.splitlines()) == 2
    # the writer is deterministic: equal counters give equal bytes
    assert bench.dump_profile(json.loads(text)) == text
