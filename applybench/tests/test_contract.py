"""BENCHMARK.json names exactly what run.py emits, and its workloads."""
import json
import os
import re

from applybench import run, spans, workloads
from applybench.workloads import Call

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _Run:
    """The fields of ``workloads.Run`` that the metric functions read."""

    def __init__(self):
        counts = {"spark_jobs": 4, "spark_stages": 9, "spark_tasks": 40,
                  "tasks_failed": 0}
        self.calls = [Call(0.0, 2.0, 100, [0], True, False, due=[0.0],
                           counts=counts),
                      Call(2.0, 3.0, 50, [1], True, True, due=[1.5],
                           counts=counts)]
        self.lookups = [0.01 * i for i in range(1, 101)]
        self.scans = [0.1] * 11
        self.failed = 0
        self.abandoned = 0
        self.layer = {"merge.read_files": 1,
                      "merge.rows_scanned_per_lookup": 10,
                      "merge.live_files": 16}
        self.window = {"t0": 0.0, "t1": 3.0, "cpu0": 0.0, "cpu1": 1.0,
                       "steal0": 0, "steal1": 0, "gc0": 0.0, "gc1": 0.1,
                       "idle_s": 0.5, "late": [0.0, 0.01]}


def test_file_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["applybench"]
    assert b["command"][1].startswith("applybench/")
    assert 1 <= b["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_workloads_match():
    assert {w["name"] for w in _bench()["workloads"]} == set(
        workloads.WORKLOADS)


def test_end_to_end_names_and_units_match():
    m, samples = run.end_to_end(_Run(), 20.0, 3 * 2**30)
    want = {x["name"]: x["unit"] for x in _bench()["end_to_end"]}
    assert {k: u for k, (_, u) in m.items()} == want
    assert samples["lookups"] == 100 and samples["lookup_p90_reportable"]
    assert all(v > 0 for v, _ in m.values())


def test_per_layer_names_and_units_match():
    tracer = spans.Tracer()
    setup = {"start_s": 5.0, "cold_batch_s": 8.0}
    m, _, notes = run.per_layer(_Run(), setup, tracer, 3 * 2**30)
    want = {x["name"]: x["unit"] for x in _bench()["per_layer"]}
    assert {k: run.unit_of(k) for k in m} == want
    assert "sources.split" in notes  # no spans: reported as not exercised
