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
    rows = []
    for name, fn in E.queries().items():
        if name.startswith(SKIP_PREFIXES) or name in SKIP:
            continue
        try:
            df = fn(spark, sf)
            simple = plan_string(df, "simple")
            formatted = plan_string(df, "formatted")
            rows.append(
                {
                    "name": name,
                    "exchanges": exchange_count(df),
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
        fh.write("exchanges in the final plan (lower = better); BHJ/SMJ = broadcast vs\n")
        fh.write("sort-merge joins; pushed = filters reached the parquet scan; codegen =\n")
        fh.write("whole-stage codegen stages visible pre-execution (AQE wraps most\n")
        fh.write("shuffle-bearing plans in AdaptiveSparkPlan, which hides `*(n)` markers\n")
        fh.write("until finalization — '-' there does NOT mean interpreted execution);\n")
        fh.write("topk = TakeOrderedAndProject (no global sort).\n\n")
        fh.write("CAVEAT — staged pipelines with persist(): the explain output\n")
        fh.write("re-prints each cached subtree at every reference, so exchange/join\n")
        fh.write("counts for multi-stage operators (q_dedup_minhash, q_dedup_pipeline,\n")
        fh.write("q_pagerank, and the persisted wave-4 miners q_assoc_rules,\n")
        fh.write("q_collocations_pmi, q_simhash_hamming, q_quantile_rollup,\n")
        fh.write("q_minhash_accuracy) are DISPLAY-inflated by an order of magnitude — they\n")
        fh.write("count printed occurrences, not executed shuffles (q_dedup_minhash\n")
        fh.write("runs ~2.5 s at sf0.1; 300 real exchanges would not). The per-stage\n")
        fh.write("plan shapes are pinned by tests/test_plans.py instead.\n\n")
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
