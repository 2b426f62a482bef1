"""Tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run
from perfbench.trace import (
    METRIC_NAME,
    Span,
    Tracer,
    covered,
    parse_event_log,
    self_time,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def tick(self, dt):
        self.t += dt


# --- self-time arithmetic ---------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(1, 3), (2, 5)], 2.5, 4) == pytest.approx(1.5)
    assert covered([], 0, 1) == 0.0
    assert covered([(5, 6)], 0, 1) == 0.0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: children cover [1, 6]
        Span("a.inner", 1.5, 2.5, 1, "r"),  # grandchild: not the root's
    ]
    assert self_time(spans, 0) == pytest.approx(5.0)
    assert self_time(spans, 1) == pytest.approx(2.0)
    assert self_time(spans, 3) == pytest.approx(1.0)


def test_sticky_segments_and_nested_probes():
    clock = FakeClock()
    tr = Tracer(None, "t", clock=clock)

    def stage_a():
        clock.tick(1.0)

    def helper():
        clock.tick(0.5)

    def stage_b():
        clock.tick(0.25)
        inner()

    a = tr.wrap("a", stage_a)
    inner = tr.wrap("helper", helper, sticky=False)
    b = tr.wrap("b", stage_b)
    with tr.root("call"):
        clock.tick(0.125)  # before the first probe: the root's self time
        a()
        clock.tick(2.0)  # lazy work after a returns stays with a
        b()
        clock.tick(3.0)  # ... and with b, until the root closes
    seg = tr.segment_self_times("call")
    assert seg == {"a": pytest.approx(3.0), "b": pytest.approx(3.25)}
    assert tr.nested_times("call") == {"helper": pytest.approx(0.5)}
    assert tr.segment_order("call") == ["a", "b"]
    assert tr.root_self_time("call") == pytest.approx(0.125)
    # outside a root a probe is a plain call
    before = len(tr.spans)
    a()
    assert len(tr.spans) == before


def test_probes_restore_the_original_functions():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    orig = Mod.f
    tr = Tracer(None, "t", clock=FakeClock())
    with tr.probes([(Mod, "f", "f", True)]):
        assert Mod.f is not orig
        with tr.root("r"):
            assert Mod.f(1) == 2
    assert Mod.f is orig
    assert tr.segment_order("r") == ["f"]


# --- event log --------------------------------------------------------------

def test_event_log_parser_on_fixture():
    g = parse_event_log(os.path.join(HERE, "fixtures", "event_log.json"))
    assert set(g) == {"extract_stage", "manifest.build"}  # stage 3 has no group
    ex = g["extract_stage"]
    assert ex.cpu_s == pytest.approx(3.5)
    assert ex.shuffle_write_bytes == 1500
    assert ex.spill_bytes == 96
    assert (ex.arrow_bytes_in, ex.arrow_bytes_out) == (400, 900)
    assert ex.python_stage_s == pytest.approx(3.0)
    assert ex.python_stage_cpu_s == pytest.approx(3.0)
    assert ex.other_stage_s == pytest.approx(1.0)
    mb = g["manifest.build"]
    assert mb.shuffle_write_bytes == 4096
    assert mb.python_stage_s == 0.0 and mb.other_stage_s == pytest.approx(0.5)


# --- metric names -----------------------------------------------------------

def _all_metric_names():
    return list(run.END_TO_END) + list(run.per_layer_units())


def test_metric_names_match_the_pattern():
    names = _all_metric_names()
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.fullmatch(n), n
        assert n[0].isalnum() and len(n) <= 64, n
    assert len(run.per_layer_units()) <= 128


def test_benchmark_json_lists_the_reported_metrics():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not present")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["extract", "curate"]


# --- failed_frac ------------------------------------------------------------

def test_result_line_counts_failed_over_attempted():
    units = {"cycle_s": "s"}
    r = run.result_line([True, False, True], {"cycle_s": 1.5}, units)
    assert (r["attempted"], r["failed"], r["correct"]) == (3, 1, False)
    assert r["metrics"] == {"cycle_s": {"value": 1.5, "unit": "s"}}
    ok = run.result_line([True, True], {"cycle_s": 1.0}, units)
    assert ok["correct"] and ok["failed"] == 0
    bad = run.result_line([True], {"cycle_s": 1.0}, units, extra_ok=False)
    assert not bad["correct"] and bad["failed"] == 0
    none = run.result_line([], {"cycle_s": 1.0}, units)
    assert not none["correct"]  # nothing attempted is not a pass


def test_a_call_that_raises_counts_as_failed():
    from perfbench.workloads import Workload

    logged = []
    wl = Workload(None, "", 0, 1, logged.append)

    def boom():
        raise ValueError("boom")

    wall, cpu, out = wl._timed([lambda: 1, boom, lambda: 3])
    assert out == [1, None, 3]
    assert wall >= 0 and cpu >= 0
    assert len(logged) == 1 and "ValueError: boom" in logged[0]


# --- registry input tables ----------------------------------------------------

def test_tables_are_seeded():
    from perfbench.tables import build_tables

    a, b, c = build_tables(7), build_tables(7), build_tables(8)
    for name in a:
        assert a[name].drop(columns=["embedding"], errors="ignore").equals(
            b[name].drop(columns=["embedding"], errors="ignore")), name
    assert not a["documents"]["text"].equals(c["documents"]["text"])
    assert (a["documents"]["n_chars"] == a["documents"]["text"].str.len()).all()
