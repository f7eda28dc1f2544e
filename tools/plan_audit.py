"""Dump physical-plan scale indicators for every contract query → PLANS.md.

For each batch query: shuffle-exchange count, broadcast joins, pushed
filters, scan column pruning, whole-stage-codegen presence. The audit is
the '.explain and iterate' loop (BASELINE north star) made repeatable —
regressions show up as a diff of PLANS.md.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SKIP_PREFIXES = ("q_stream",)  # streaming plans are per-microbatch
SKIP = {"q_count", "q_source_discovery", "q_sink_append", "q_sink_partitioned", "q_sink_csv", "q_ddl_create"}  # driver-side actions / side-effects


def main() -> None:
    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark.plans import exchange_count, plan_string
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    # a checkpoint executes while its query is built and leaves only a
    # `Scan ExistingRDD` leaf in the final plan, so the plan of every
    # frame handed to localCheckpoint is recorded before it runs
    staged: list[tuple[str, str, int]] = []
    frame_type = type(spark.range(1))
    checkpoint = frame_type.localCheckpoint

    def spy(df, *args, **kwargs):
        staged.append((plan_string(df, "simple"), plan_string(df, "formatted"), exchange_count(df)))
        return checkpoint(df, *args, **kwargs)

    frame_type.localCheckpoint = spy
    rows = []
    for name, fn in E.queries().items():
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        staged.clear()
        try:
            df = fn(spark, sf)
            plans = staged + [(plan_string(df, "simple"), plan_string(df, "formatted"), exchange_count(df))]
            simple = "\n".join(p[0] for p in plans)
            formatted = "\n".join(p[1] for p in plans)
            rows.append(
                {
                    "name": name,
                    "exchanges": sum(p[2] for p in plans),
                    "bhj": simple.count("BroadcastHashJoin"),
                    "smj": simple.count("SortMergeJoin"),
                    "pushed": "PushedFilters: [" in formatted and "PushedFilters: []" not in formatted,
                    "codegen": "*(" in simple,
                    "topk": "TakeOrderedAndProject" in simple,
                }
            )
        except Exception as exc:  # pragma: no cover
            rows.append({"name": name, "error": f"{type(exc).__name__}: {exc}"})

    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n")
        fh.write(f"Scale indicators per contract query at `{sf}`. Exchanges = shuffle\n")
        fh.write("exchanges in the plans the query runs (lower = better); BHJ/SMJ =\n")
        fh.write("broadcast vs sort-merge joins; pushed = filters reached every parquet\n")
        fh.write("scan; codegen = whole-stage codegen stages visible pre-execution (AQE\n")
        fh.write("wraps most shuffle-bearing plans in AdaptiveSparkPlan, which hides\n")
        fh.write("`*(n)` markers until finalization — '-' there does NOT mean interpreted\n")
        fh.write("execution); topk = TakeOrderedAndProject (no global sort).\n\n")
        fh.write("Staged pipelines materialize with localCheckpoint(), which executes\n")
        fh.write("while the query is built and leaves one `Scan ExistingRDD` leaf in\n")
        fh.write("the final plan. Every column therefore covers the plan of each frame\n")
        fh.write("handed to localCheckpoint plus the final plan, all as planned before\n")
        fh.write("AQE runs; an iterative operator counts every iteration's plan.\n\n")
        fh.write("| query | exchanges | BHJ | SMJ | pushed filters | codegen | top-k |\n")
        fh.write("|---|---|---|---|---|---|---|\n")
        for r in rows:
            if "error" in r:
                fh.write(f"| {r['name']} | ERROR: {r['error']} | | | | | |\n")
            else:
                fh.write(
                    f"| {r['name']} | {r['exchanges']} | {r['bhj']} | {r['smj']} | "
                    f"{'Y' if r['pushed'] else '-'} | {'Y' if r['codegen'] else '-'} | {'Y' if r['topk'] else '-'} |\n"
                )
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
