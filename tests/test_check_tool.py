"""Unit tests for the oracle checker's comparison core (tools/check.py).

Round-4 advice carry-over: the two symmetry paths must be pinned —
(a) a Spark-side DecimalType output is flagged exactly like a DuckDB
HUGEINT/DECIMAL, and (b) the values-match/differ verdict is reported
even when a type trap fires. Pure-function tests: no Spark, no DuckDB.
"""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check import compare_results, driver_canon, normalize  # noqa: E402


def _ok_case():
    return dict(
        scols=["k", "v"],
        sdtypes=["bigint", "double"],
        srows=[(1, 1.5), (2, 2.5)],
        ocols=["k", "v"],
        otypes=["BIGINT", "DOUBLE"],
        orows=[(2, 2.5), (1, 1.5)],  # order-insensitive
    )


def test_clean_match_no_problems():
    assert compare_results(**_ok_case()) == []


def test_duckdb_hugeint_trap_flagged():
    case = _ok_case()
    case["otypes"] = ["HUGEINT", "DOUBLE"]
    problems = compare_results(**case)
    assert any("type trap" in p and "oracle k:HUGEINT" in p for p in problems)


def test_spark_decimal_trap_flagged_symmetrically():
    """A Spark decimal(38,2) column must trip the trap even when the
    oracle side is clean — the driver hasher sees decimal128 from the
    SPARK result too."""
    case = _ok_case()
    case["sdtypes"] = ["bigint", "decimal(38,2)"]
    problems = compare_results(**case)
    assert any("type trap" in p and "spark v:decimal(38,2)" in p for p in problems)


def test_value_verdict_reported_when_trap_fires_and_values_agree():
    """Trap + agreeing values → both the trap AND the 'values DO agree'
    diagnostic, so the reader knows the fix is a cast, not a logic bug."""
    case = _ok_case()
    case["otypes"] = ["HUGEINT", "DOUBLE"]
    problems = compare_results(**case)
    assert any("values DO agree" in p for p in problems)


def test_value_verdict_reported_when_trap_fires_and_values_differ():
    """Trap + differing values → the values-differ diagnostic with the
    first diffs, not just the trap (locates the bad column)."""
    case = _ok_case()
    case["otypes"] = ["HUGEINT", "DOUBLE"]
    case["orows"] = [(1, 1.5), (2, 99.0)]
    problems = compare_results(**case)
    assert any("type trap" in p for p in problems)
    assert any("values differ" in p for p in problems)


def test_rowcount_and_column_mismatches():
    case = _ok_case()
    case["orows"] = [(1, 1.5)]
    assert any("rowcount" in p for p in compare_results(**case))
    case = _ok_case()
    case["ocols"] = ["k", "other"]
    assert any("columns" in p for p in compare_results(**case))


def test_nonscalar_spark_array_column_flagged():
    """r5 driver ERRs (q_agg_collect_list / q_multimodal_features): an
    array-typed final column must fail the LOCAL sweep — the driver's
    pandas canonicalizer crashes on list cells."""
    case = _ok_case()
    case["sdtypes"] = ["bigint", "array<bigint>"]
    case["srows"] = [(1, [1, 2]), (2, [3])]
    case["orows"] = [(1, [1, 2]), (2, [3])]
    problems = compare_results(**case)
    assert any("non-scalar output" in p and "spark v:array<bigint>" in p for p in problems)


def test_nonscalar_oracle_list_column_flagged():
    case = _ok_case()
    case["otypes"] = ["BIGINT", "BIGINT[]"]
    problems = compare_results(**case)
    assert any("non-scalar output" in p and "oracle v:BIGINT[]" in p for p in problems)


def test_driver_canon_crashes_on_list_cells_like_the_driver():
    """The replicated canonicalizer must raise exactly where the driver
    does (pandas sort_values → factorize → unhashable list)."""
    import pytest

    driver_canon(["k", "v"], [(1, 1.5), (2, 2.5)])  # scalars fine
    with pytest.raises(TypeError):
        driver_canon(["k", "v"], [(1, [1, 2]), (2, [3])])


def test_normalize_rounds_and_handles_sentinels():
    import decimal
    import math

    assert normalize(1.23456789012) == round(1.23456789012, 9)
    assert normalize(float("nan")) == "NaN"
    assert normalize(-0.0) == 0.0
    assert normalize(decimal.Decimal("1.5")) == 1.5
    assert normalize((1.0, None)) == (1.0, None)
    assert not math.isnan(normalize(2.0))
