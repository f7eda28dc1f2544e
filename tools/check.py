"""Local correctness harness mimicking the driver's oracle comparison.

For every ``queries()`` entry: run the Spark query; if ``oracle_sql()``
has a twin, run it in DuckDB over the same parquet tables and compare
row count + column-name set + order-insensitive normalized values.
Queries without an oracle get a rows-only sanity run.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return normalize(v.item())
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


def driver_canon(cols, rows):
    """Replicate the driver's pandas canonicalization exactly (r5 verdict:
    the driver builds a pandas frame and ``sort_values`` over every
    column; factorizing a column of unhashable cells — list/dict — raises
    ``TypeError: unhashable type``). Run it here so the local sweep fails
    the same way the driver does instead of passing on a tuple-based
    normalization the driver never uses."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    pdf = pdf[sorted(cols)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    return pdf


def _nonscalar_fields(scols, sdtypes, ocols, otypes):
    """Top-level Array/Map/Struct columns on either side — the driver's
    canonicalizer crashes on these even when values agree."""
    bad = [
        f"spark {c}:{t}"
        for c, t in zip(scols, sdtypes)
        if t.startswith(("array<", "map<", "struct<"))
    ]
    bad += [
        f"oracle {c}:{t}"
        for c, t in zip(ocols, otypes)
        if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST"))
    ]
    return bad


def compare_results(
    scols: list[str],
    sdtypes: list[str],
    srows: list[tuple],
    ocols: list[str],
    otypes: list[str],
    orows: list[tuple],
) -> list[str]:
    """Pure comparison core (unit-testable without Spark/DuckDB):
    returns the list of problems, empty = OK.

    - Type traps fire SYMMETRICALLY: DuckDB HUGEINT/DECIMAL *or* Spark
      DecimalType — the driver's value hasher is type-sensitive, so a
      decimal128 on either side hash-mismatches identical values (the
      r2 q_sql_tpch_q12 episode).
    - The values-match/differ verdict is reported even when a type trap
      fires (that diagnostic is what locates the bad column).

    ``sdtypes`` are Spark ``simpleString()`` forms, ``otypes`` DuckDB
    type names upper-cased.
    """
    problems: list[str] = []
    traps = [
        f"oracle {c}:{t}"
        for c, t in zip(ocols, otypes)
        if "HUGEINT" in t or t.startswith("DECIMAL")
    ]
    traps += [
        f"spark {c}:{t}" for c, t in zip(scols, sdtypes) if t.startswith("decimal")
    ]
    if traps:
        problems.append(
            "type trap (driver hasher sees decimal128): "
            + ", ".join(traps) + " — CAST to BIGINT/DOUBLE"
        )
    nonscalar = _nonscalar_fields(scols, sdtypes, ocols, otypes)
    if nonscalar:
        problems.append(
            "non-scalar output (driver canonicalizer crashes on list/struct"
            " cells): " + ", ".join(nonscalar)
            + " — to_json or unpack to scalar columns"
        )
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
    if len(srows) == len(orows) and sorted(scols) == sorted(ocols):
        s_norm = df_to_rows(scols, srows)
        o_norm = df_to_rows(ocols, orows)
        if s_norm != o_norm:
            diffs = [(a, b) for a, b in zip(s_norm, o_norm) if a != b][:3]
            problems.append(f"values differ; first diffs: {diffs}")
        elif traps:
            problems.append("(normalized values DO agree — trap is type-only)")
    return problems


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; generated tiers (sf1) are
        # Spark-written DIRECTORIES of part files — glob those
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = E.queries()
    oracles = E.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {exc}")
            failed += 1
            continue
        if name not in oracles:
            try:
                driver_canon(scols, srows)
            except Exception as exc:
                print(f"FAIL  {name}: driver canonicalizer crash: {type(exc).__name__}: {exc}")
                failed += 1
                continue
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
        sdtypes = [f.dataType.simpleString() for f in sdf.schema.fields]
        problems = compare_results(scols, sdtypes, srows, ocols, otypes, orows)
        # belt-and-braces: run the driver's actual pandas canonicalization
        # so any unhashable cell the type fence misses crashes HERE, not
        # in the driver rotation window
        for side, cols, rows in (("spark", scols, srows), ("oracle", ocols, orows)):
            try:
                driver_canon(cols, rows)
            except Exception as exc:
                problems.append(
                    f"driver canonicalizer crash ({side}): {type(exc).__name__}: {exc}"
                )
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed += 1
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\n{passed} ok, {failed} fail, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
