"""Driver-conditions rehearsal: run contract queries under a VANILLA
SparkSession, the way the driver does.

The driver builds its own generic session — NOT ``session.get_spark`` —
so none of our correctness confs (ANSI off, UTC timezone, nanos shim)
and no worker ``PYTHONPATH`` are pre-applied at the session level. That
is exactly how the round-3 NTZ cast crash slipped a green local gate:
queries depended on a conf only ``get_spark`` set.
``session.configure_session``, which every ``queries()`` id and every
``catalog.load_table`` call runs, must prepare the session, and every
query must work from a cold generic session.

This script spawns the comparison in THIS process but builds the session
with zero repo-specific configs (master + a small shuffle-partition
count only, which the driver also sets), then runs the oracle comparison
from tools/check.py over the first N registry keys (default: the
driver-budget prefix of 50).

Usage: python tools/vanilla_check.py [sf_dir] [n_prefix|query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check import TABLES, compare_results  # noqa: E402


def vanilla_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rest = sys.argv[2:]
    n_prefix = 50
    only: set[str] = set()
    for a in rest:
        if a.isdigit():
            n_prefix = int(a)
        else:
            only.add(a)

    import __spark_entry__ as E

    spark = vanilla_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    names = list(qs)[:n_prefix] if not only else [n for n in qs if n in only]
    passed = failed = skipped = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf)
            scols = sdf.columns
            sdtypes = [f.dataType.simpleString() for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {exc}")
            failed += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            skipped += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {type(exc).__name__}: {exc}")
            failed += 1
            continue
        problems = compare_results(scols, sdtypes, srows, ocols, otypes, orows)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed += 1
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\nVANILLA SESSION: {passed} ok, {failed} fail, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
