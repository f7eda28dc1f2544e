"""bench.py's timer: every execution is a cold-cache ``noop`` write
through perfbench's ``run_op``, traced into a per-id layer record."""

import importlib.util
import json
import os
import sys

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = 200


def _bench():
    if "bench" in sys.modules:
        return sys.modules["bench"]
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def _registry(spark):
    """Two fake ids: ``q_udf`` projects a Python UDF column that counts
    its calls, ``q_persist`` persists an intermediate on its first call
    and afterwards notes which of those RDDs are still persisted."""
    calls = spark.sparkContext.accumulator(0)

    def bump(x):
        calls.add(1)
        return x

    udf = F.udf(bump, LongType())

    def q_udf(spark, sf_dir):
        return spark.range(ROWS).select(udf("id").alias("v"))

    mine, leaked = set(), []

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def q_persist(spark, sf_dir):
        if not mine:
            before = persisted()
            df = spark.range(ROWS).withColumn("sq", F.col("id") * F.col("id")).persist()
            df.count()
            mine.update(persisted() - before)
            return df
        leaked.append(mine & persisted())
        return spark.range(ROWS)

    return {"q_udf": q_udf, "q_persist": q_persist}, calls, mine, leaked


def test_timed_pass_runs_each_query_passes_times(spark, sf_dir):
    B = _bench()
    log = []

    def fake(name):
        def fn(spark, sf):
            log.append(name)
            return spark.range(3)

        return fn

    fns = {"q_a": fake("q_a"), "q_b": fake("q_b")}
    out = B._timed_pass(spark, fns, sf_dir, passes=1)
    assert set(out) == {"q_a", "q_b"}
    # one untimed warm-up, then the timed passes, id by id
    assert log == ["q_a", "q_a", "q_b", "q_b"]
    log.clear()
    B._timed_pass(spark, {"q_a": fns["q_a"]}, sf_dir)
    assert log.count("q_a") == 1 + B.PASSES
    # the same plan, so the same jobs: each id counts only its own
    assert out["q_a"]["jobs"] == out["q_b"]["jobs"] >= 1


def test_projected_udf_evaluated_once_per_row_per_run(spark, sf_dir):
    B = _bench()
    qs, calls, _, _ = _registry(spark)
    B._timed_pass(spark, {"q_udf": qs["q_udf"]}, sf_dir, passes=2)
    # the warm-up and both timed runs evaluate the column on every row
    assert calls.value == 3 * ROWS


def test_warmup_persist_is_cleared_before_timed_runs(spark, sf_dir):
    B = _bench()
    qs, _, mine, leaked = _registry(spark)
    out = B._timed_pass(spark, {"q_persist": qs["q_persist"]}, sf_dir, passes=2)
    assert mine, "the warm-up call persisted nothing"
    assert leaked == [set(), set()]
    assert out["q_persist"] is not None


def test_payload_records_layers_and_failures(spark, sf_dir, monkeypatch, capsys):
    B = _bench()
    qs, _, _, _ = _registry(spark)
    payload = B.measure(spark, qs, sf_dir, [("queries", list(qs))], joins=False)
    assert payload["failed"] == 0
    for rec in payload["records"]["queries"].values():
        assert set(rec) == set(B.RECORD_KEYS)
    assert payload["records"]["queries"]["q_udf"]["jobs"] >= 1
    assert set(payload["queries"]) == set(qs)

    def q_raises(spark, sf_dir):
        return spark.range(3).select(F.udf(lambda x: 1 // 0, LongType())("id"))

    import __spark_entry__ as E

    monkeypatch.setattr(E, "queries", lambda: {**qs, "q_raises": q_raises})
    monkeypatch.setattr(B, "HEADLINE", [*qs, "q_raises"])
    monkeypatch.setattr(sys, "argv", ["bench.py", "--headline-only"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    assert B.main() != 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf", "failed"} <= set(line)
    assert line["failed"] == 1
    assert set(line["queries"]) == set(qs)
