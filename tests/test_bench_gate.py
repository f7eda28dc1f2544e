"""Regression-gate invariants for bench.py (no Spark session needed).

These tests plant synthetic baselines, including unusable ones, and
assert the gate still finds a baseline and flags a 1.5× regression.
"""

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    if "bench" in sys.modules:
        return sys.modules["bench"]
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_flat_timings_reads_parsed_wrapper():
    b = _bench()
    wrapped = {"parsed": {"queries": {"q_a": 1.0}, "extended": {"q_b": 2.5}}}
    assert b._flat_timings(wrapped) == {"q_a": 1.0, "q_b": 2.5}


def test_flat_timings_reads_raw_object():
    b = _bench()
    raw = {"queries": {"q_a": 0.4}, "value": 0.4, "sf": 0.1}
    assert b._flat_timings(raw) == {"q_a": 0.4}


def test_unusable_override_falls_back_to_walk(tmp_path, monkeypatch):
    """A typo'd SPARK_GRAFT_BENCH_BASELINE must not turn the gate off:
    the walk over BENCH_r*.json still supplies the baseline."""
    b = _bench()
    (tmp_path / "BENCH_r97.json").write_text(
        json.dumps({"queries": {"q_agg_basic": 1.0}})
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BASELINE", str(tmp_path / "nope.json"))
    monkeypatch.setattr(b.os.path, "dirname", lambda p: str(tmp_path))
    name, flat = b._baseline()
    assert name == "BENCH_r97.json"
    assert flat == {"q_agg_basic": 1.0}


def test_baseline_walks_past_unusable_newest_file(tmp_path, monkeypatch):
    """Without an explicit override, an unusable newest file (no
    parsed dict) must fall back to the next
    newest instead of neutering the gate."""
    b = _bench()
    (tmp_path / "BENCH_r99.json").write_text(json.dumps({"parsed": None, "tail": ""}))
    (tmp_path / "BENCH_r98.json").write_text(
        json.dumps({"queries": {"q_agg_basic": 1.0}})
    )
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BASELINE", raising=False)
    monkeypatch.setattr(
        b.os.path, "dirname", lambda p: str(tmp_path)
    )
    name, flat = b._baseline()
    assert name == "BENCH_r98.json"
    assert flat == {"q_agg_basic": 1.0}


def test_spread_summary_and_regression_context():
    """Round 8: the run's own pass-spread distribution is summarized
    and each regression entry carries its query's spread ratio, so a
    flag can be read against the measured noise floor."""
    import bench as b

    b._SPREADS.clear()
    b._SPREADS.update({"q_a": 1.05, "q_b": 1.5, "q_c": 1.1})
    s = b._spread_summary()
    assert s["median"] == 1.1 and s["max"] == 1.5
    # regression on q_b must carry its own spread
    import json, os, tempfile
    prev = {"queries": {"q_b": 1.0}}
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "BENCH_r99.json")
        with open(path, "w") as fh:
            json.dump(prev, fh)
        os.environ["SPARK_GRAFT_BENCH_BASELINE"] = path
        try:
            name, regs = b._regressions({"q_b": 2.0})
        finally:
            del os.environ["SPARK_GRAFT_BENCH_BASELINE"]
    assert regs and regs[0]["query"] == "q_b"
    assert regs[0]["pass_spread"] == 1.5
    b._SPREADS.clear()


def test_calm_gate_flags_real_regression_and_cancels_ambient(
    tmp_path, monkeypatch
):
    """Round-9 (verdict item 4): with calm references on both sides,
    a planted 1.3x+ PLAN regression (query moves, control doesn't)
    still flags, while a machine-wide shift (query and control move
    in lockstep) is dismissed into ambient_dismissed — auditable, not
    silent."""
    b = _bench()
    prev = {
        "queries": {"q_real": 1.0, "q_ambient": 1.0},
        "controls": {"c:q_real": 0.10, "c:q_ambient": 0.10},
        "control_sec": 0.10,
    }
    path = tmp_path / "BENCH_r98.json"
    path.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BASELINE", str(path))
    b._CONTROLS.clear()
    # q_real: control flat (0.10), query 1.5x -> genuine regression
    # q_ambient: control ALSO 1.5x -> whole-machine shift, calm ~1.0
    b._CONTROLS.update({"q_real": 0.10, "q_ambient": 0.15})
    try:
        name, regs = b._regressions({"q_real": 1.5, "q_ambient": 1.5})
    finally:
        b._CONTROLS.clear()
    assert name == "BENCH_r98.json"
    assert [r["query"] for r in regs] == ["q_real"]
    assert regs[0]["basis"] == "normalized" and regs[0]["ratio_calm"] == 1.5
    assert [d["query"] for d in b._AMBIENT_DISMISSED] == ["q_ambient"]
    assert b._AMBIENT_DISMISSED[0]["ratio_calm"] == 1.0


def test_flat_timings_skips_calm_and_retime_sections():
    b = _bench()
    raw = {
        "queries": {"q_a": 0.4},
        "controls": {"c:q_a": 0.1},
        "retimes": {"q_a": {"first": 0.5, "retimed": 0.4}},
    }
    assert b._flat_timings(raw) == {"q_a": 0.4}


def test_control_smoothing_kills_single_run_noise():
    """Round-9: one outlier control run must not survive the windowed
    median — the q_gini case (0.066 adjacent control vs 0.11 run
    median flagged an unchanged, raw-FASTER query at 1.7x calm)."""
    b = _bench()
    b._CONTROLS.clear()
    b._CONTROLS.update({
        "q_a": 0.11, "q_b": 0.10, "q_gini": 0.066, "q_d": 0.12, "q_e": 0.11,
    })
    b._smooth_controls(window=5)
    assert b._CONTROLS["q_gini"] == 0.11  # median of the 5-window
    # neighbors keep sane values too (windows clipped at the edges)
    assert 0.10 <= b._CONTROLS["q_a"] <= 0.11
    b._CONTROLS.clear()


def test_calm_flag_requires_raw_movement():
    """A calm ratio inflated purely by control-reference noise (raw
    barely moved) must not flag; a genuine regression (raw and calm
    both up) must."""
    b = _bench()
    import json, os, tempfile
    prev = {
        "queries": {"q_noise": 1.0, "q_real": 1.0},
        "controls": {"c:q_noise": 0.12, "c:q_real": 0.10},
    }
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "BENCH_r98.json")
        with open(path, "w") as fh:
            json.dump(prev, fh)
        os.environ["SPARK_GRAFT_BENCH_BASELINE"] = path
        b._CONTROLS.clear()
        # q_noise: raw 1.05, control ref dropped 0.12->0.08 -> calm 1.6
        # q_real: raw 1.5, control flat -> calm 1.5
        b._CONTROLS.update({"q_noise": 0.08, "q_real": 0.10})
        try:
            name, regs = b._regressions({"q_noise": 1.05, "q_real": 1.5})
        finally:
            del os.environ["SPARK_GRAFT_BENCH_BASELINE"]
            b._CONTROLS.clear()
    assert [r["query"] for r in regs] == ["q_real"]


def test_zero_control_rejected_explicitly(tmp_path, monkeypatch):
    """Round-9 ADVICE: a control_sec of 0 (or a c: entry of 0) is an
    invalid reference, not a falsy one — _flat_controls must report it
    as missing deliberately, and _regressions must fall back to the
    raw-ratio basis instead of dividing by zero or silently degrading
    via truthiness."""
    b = _bench()
    import json

    # zero run-level control -> None; zero per-query entries dropped
    per_q, run_level = b._flat_controls(
        {"queries": {"q_a": 1.0}, "controls": {"c:q_a": 0.0}, "control_sec": 0}
    )
    assert run_level is None and per_q == {}
    # end-to-end: baseline with zero controls -> raw basis still flags
    prev = {
        "queries": {"q_real": 1.0},
        "controls": {"c:q_real": 0.0},
        "control_sec": 0.0,
    }
    path = tmp_path / "BENCH_r97.json"
    path.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BASELINE", str(path))
    b._CONTROLS.clear()
    b._CONTROLS.update({"q_real": 0.10})
    try:
        name, regs = b._regressions({"q_real": 1.5})
    finally:
        b._CONTROLS.clear()
    assert [r["query"] for r in regs] == ["q_real"]
    assert "ratio_calm" not in regs[0]  # raw basis, no bogus calm math


def test_calm_references_read_from_parsed_wrapper():
    """The c:-prefixed control keys and control_sec are read through
    the driver wrapper's parsed dict, and the timing reader never
    takes a c:-prefixed key for a query timing."""
    b = _bench()
    wrapped = {"parsed": {
        "controls": {"c:q_agg_basic": 0.12, "c:q_topk": 0.11},
        "queries": {"q_agg_basic": 1.0}, "control_sec": 0.115,
    }}
    per_q, run_level = b._flat_controls(wrapped)
    assert per_q == {"q_agg_basic": 0.12, "q_topk": 0.11}
    assert run_level == 0.115
    assert b._flat_timings(wrapped) == {"q_agg_basic": 1.0}


def test_timed_pass_runs_each_query_passes_times():
    B = _bench()

    class _Q:
        def __init__(self, log, name):
            self.log, self.name = log, name

        def __call__(self, spark, sf):
            self.log.append(self.name)
            return self

        def count(self):
            return 0

    log = []
    qs = {"q_a": _Q(log, "q_a"), "q_b": _Q(log, "q_b")}
    B._SPREADS.clear()
    out = B._timed_pass(qs, ["q_a", "q_b"], None, None, passes=1)
    assert set(out) == {"q_a", "q_b"}
    assert log == ["q_a", "q_b"]
    assert B._SPREADS == {}  # one pass measures no spread
    B._timed_pass(qs, ["q_a"], None, None)
    assert log.count("q_a") == 1 + B.PASSES
    B._SPREADS.clear()
