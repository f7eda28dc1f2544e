"""Full-registry sf1 smoke: run EVERY queries() entry against the sf1
fixtures (tools/make_sf1.py, 10x the driver's bench scale) and report
ok/fail/timeout — the scale-robustness companion to the sf1 timing tier
in tools/scaling.py. Each id runs once through bench.py's timed action
(cold cache, result written to the ``noop`` sink), so a query whose
projected column raises reports FAIL, not OK.

Correctness at sf1 is covered transitively (the operators are oracle-
checked at sf0.01/sf0.1 and the sf1 fixtures are salted copies whose
within-copy structure is identical); what THIS sweep catches is the
failure class that only appears at volume: executor-memory blowups
(q_dedup_minhash OOM'd the 8g default driver before the 32g default
here), collect-sized state that stops fitting, and any stage whose
cost curve bends quadratic (the per-query watchdog turns that into a
TIMEOUT line instead of a hung run).

Usage: python tools/sf1_smoke.py [timeout_sec_per_query=180]
Round-9 result, under the former count() action: 306 ok, 0 fail,
0 timeout (slowest q_dedup_semantic 84.8 s — the documented fixed-k
n^2/k demonstration; its scale-k production variant
q_dedup_semantic_scaled runs 5.4 s).
"""

from __future__ import annotations

import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

SF1 = os.path.join(ROOT, "testdata_sf1")


def main() -> None:
    import __spark_entry__ as E
    from bench import run
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    if not os.path.isdir(SF1):
        sys.exit("sf1 fixtures missing — run: python tools/make_sf1.py")
    per_query = int(sys.argv[1]) if len(sys.argv) > 1 else 180

    spark = get_spark("sf1smoke")
    sc = spark.sparkContext
    ok = fail = timed = 0
    for name, fn in E.queries().items():
        sc.setJobGroup(name, name, interruptOnCancel=True)
        hit = [False]

        def cancel(n=name, h=hit):
            h[0] = True
            sc.cancelJobGroup(n)

        watchdog = threading.Timer(per_query, cancel)
        watchdog.start()
        rec = run.Recorder()
        try:
            # cold cache + noop write: every output column is evaluated
            run.run_op(spark, fn, name, SF1, rec)
        finally:
            watchdog.cancel()
        if hit[0]:
            print(f"TIMEOUT {name} >{per_query}s", flush=True)
            timed += 1
        elif rec.failed:
            print(f"FAIL {name} (error on stderr)", flush=True)
            fail += 1
        else:
            print(f"OK {name} {rec.times[name][0]:.1f}s", flush=True)
            ok += 1
    print(f"SUMMARY ok={ok} fail={fail} timeout={timed}", flush=True)
    sys.exit(1 if (fail or timed) else 0)


if __name__ == "__main__":
    main()
