"""Old vs new timed action, side by side, on one commit.

``bench.py`` times ``df.count()`` on a warm session; this benchmark
writes every result to the ``noop`` sink after ``clearCache()``. Under a
count Catalyst may prune projected columns (and the Python UDFs that
compute them), so the two numbers differ. This script times each id both
ways over the benchmark's sf0.1 star-schema tables (generator seed
``run.TPCH_SEED``), each cell the median of three runs after one
warm-up, and prints a markdown table:

    python3 perfbench/methodology.py q_agg_basic q_window_rank ...
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time

import run
from gen import ROOT, ensure

SF = 0.1
REPEATS = 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ids", nargs="+")
    args = ap.parse_args()
    run.configure_env()
    sys.path.insert(0, ROOT)
    tpch_dir, _ = ensure("tpch", SF, run.TPCH_SEED)
    spark, _ = run.start_spark()
    import __spark_entry__ as E

    Q = E.queries()
    actions = {
        "count": lambda df: df.count(),
        "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    }
    print("| id | count() s | noop s | noop / count |")
    print("| --- | ---: | ---: | ---: |")
    for qid in args.ids:
        Q[qid](spark, tpch_dir).write.format("noop").mode("overwrite").save()  # warm-up
        med = {}
        for name, act in actions.items():
            times = []
            for _ in range(REPEATS):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                act(Q[qid](spark, tpch_dir))
                times.append(time.perf_counter() - t0)
            med[name] = statistics.median(times)
        print(f"| {qid} | {med['count']:.2f} | {med['noop']:.2f} | {med['noop'] / med['count']:.2f} |", flush=True)
    run.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
