"""The benchmark's own tests: seeded inputs, metric names, traced span
tree, and a clean run of every workload at its smallest scale.

    python3 -m pytest perfbench/tests -q

Each workload test starts one benchmark process (a fresh Spark JVM), so
the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from spans import _metric_value  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("family,scale", [("tpch", 0.001), ("taxi", 500)])
def test_same_seed_same_input_hash(tmp_path, family, scale):
    _, a = gen.ensure(family, scale, 7, cache=str(tmp_path / "a"))
    _, b = gen.ensure(family, scale, 7, cache=str(tmp_path / "b"))
    _, c = gen.ensure(family, scale, 8, cache=str(tmp_path / "c"))
    assert a == b
    assert a["sha256"] != c["sha256"]


def test_declared_names_match_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_sql_metric_strings_parse():
    assert _metric_value("1,234") == 1234
    assert _metric_value("total (min, med, max (stageId: taskId))\n2.0 MiB (0.0 B, 1.0 MiB, 1.0 MiB (stage 3.0: task 7))") == 2.0
    assert _metric_value("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 0.7 s, 0.8 s (stage 3.0: task 7))") == 1500.0


def test_a_raising_round_is_counted_and_leaves_no_time():
    class Pipeline:
        def ingest_bronze(self, *args):
            raise RuntimeError("boom")

    rec = run.Recorder()
    assert run.etl_round(None, "in", "work", rec, (Pipeline(), None, None, None)) is None
    assert (rec.attempted, rec.failed, rec.times) == (1, 1, {})
    assert run.end_to_end(rec, 100, {"cpu": 1.0, "wall": 2.0}) == {"cpu_s": 0, "rows_per_cpu_s": 0.0, "setup_s": 1.0}


def _assert_span_tree(path: str, attempted: int) -> None:
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == attempted  # one root per operation
    for s in spans:
        kids = [c for c in spans if c["parent"] == s["id"]]
        assert sum(c["end"] - c["start"] for c in kids) <= s["end"] - s["start"] + 1e-6
        for c in kids:
            assert s["start"] <= c["start"] <= c["end"] <= s["end"]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_traced_at_smallest_scale(workload):
    res = _bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--tiny")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.start_s"] > 0
    # Python-worker time implies time in the stages that ran the workers
    assert (m["operators.py.worker_ms"] > 0) == (m["operators.py.stage_run_ms"] > 0)
    trace = os.path.join(gen.CACHE, "traces", f"{workload}-seed3.json")
    _assert_span_tree(trace, res["attempted"])


def test_untraced_run_prints_every_end_to_end_metric():
    res = _bench("--workload", "etl_medallion", "--seed", "3", "--seconds", "1", "--trace", "0", "--tiny")
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
