"""Output checks, recomputed in DuckDB over the generated inputs.

Registry ids are compared with their ``__spark_entry__.oracle_sql()`` twin
through ``tools/check.py``'s ``compare_results`` (row count, column set,
order-insensitive normalized values). The medallion round is recomputed
from the source files: bronze per-month counts under the half-open
``[month_start - 1h, next_month)`` rule, Q1 and Q2, and the versioned
table's snapshot totals.
"""

from __future__ import annotations

import glob
import importlib.util
import os

import duckdb

from gen import GOLD_COLS, ROOT, TOLERANCE_HOURS

_spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check)
compare_results = _check.compare_results


def _connect(tpch_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    if tpch_dir:
        for path in sorted(glob.glob(os.path.join(tpch_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_registry(tpch_dir: str, results: dict) -> dict[str, list[str]]:
    """``results``: id -> (columns, simple-string types, rows) from Spark.
    Returns id -> problems (empty when the id matches its oracle)."""
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = _connect(tpch_dir)
    out = {}
    for qid, (scols, stypes, srows) in results.items():
        if qid not in oracles:
            out[qid] = ["no oracle"]
            continue
        rel = con.sql(oracles[qid])
        otypes = [str(t).upper() for t in rel.types]
        out[qid] = compare_results(scols, stypes, srows, list(rel.columns), otypes, rel.fetchall())
    con.close()
    return out


def _kept_sql(source_dir: str) -> str:
    """Rows the bronze filter keeps, with the file's month bounds."""
    return f"""
        WITH src AS (
            SELECT *, regexp_extract(filename, '(\\d{{4}})-(\\d{{2}})', ['y', 'm']) AS ym
            FROM read_parquet('{source_dir}/*.parquet', filename = true)
        ), bounded AS (
            SELECT *, make_timestamp(CAST(ym.y AS BIGINT), CAST(ym.m AS BIGINT), 1, 0, 0, 0) AS m0
            FROM src
        )
        SELECT * EXCLUDE (ym, m0, filename) FROM bounded
        WHERE tpep_pickup_datetime >= m0 - INTERVAL {TOLERANCE_HOURS} HOUR
          AND tpep_pickup_datetime < m0 + INTERVAL 1 MONTH
    """


_Q2 = """
    WITH w AS (
        SELECT year(tpep_pickup_datetime) AS pickup_year,
               month(tpep_pickup_datetime) AS pickup_month,
               day(tpep_pickup_datetime) AS pickup_day,
               hour(tpep_pickup_datetime) AS pickup_hour,
               AVG(CAST(Passenger_count AS INT)) OVER (PARTITION BY year(tpep_pickup_datetime),
                   month(tpep_pickup_datetime), day(tpep_pickup_datetime)) AS d,
               AVG(CAST(Passenger_count AS INT)) OVER (PARTITION BY year(tpep_pickup_datetime),
                   month(tpep_pickup_datetime), day(tpep_pickup_datetime),
                   hour(tpep_pickup_datetime)) AS h
        FROM {src}
    )
    SELECT DISTINCT pickup_year, pickup_month, pickup_day, pickup_hour,
           round(d, 6), round(h, 6)
    FROM w ORDER BY ALL
"""


def _rounded(rows):
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows)


def check_etl(inputs: str, out: dict, versions: dict) -> list[str]:
    """Recompute the medallion round from the generated source files and
    compare with what the pipeline wrote under ``out`` (paths of bronze,
    q1 and q2 CSVs) and the versioned snapshot totals in ``versions``
    (``{"v1": (rows, sum), "latest": (rows, sum)}`` read back by Spark)."""
    con = _connect()
    con.execute(f"CREATE TEMP VIEW kept AS {_kept_sql(inputs + '/source')}")
    con.execute(f"CREATE TEMP VIEW late AS {_kept_sql(inputs + '/late')}")
    con.execute(f"CREATE TEMP VIEW bronze AS SELECT * FROM read_parquet('{out['bronze']}/*.parquet')")
    problems = []

    per_month = """SELECT year(tpep_pickup_datetime), month(tpep_pickup_datetime), count(*)
                   FROM {} GROUP BY ALL ORDER BY ALL"""
    want = con.sql(per_month.format("kept")).fetchall()
    got = con.sql(per_month.format("bronze")).fetchall()
    if want != got:
        problems.append(f"bronze per-month counts differ: want {want[:3]}.. got {got[:3]}..")

    q1 = """SELECT year(tpep_pickup_datetime), month(tpep_pickup_datetime), round(avg(Total_amount), 6)
            FROM kept GROUP BY ALL ORDER BY ALL"""
    got_q1 = con.sql(
        f"SELECT pickup_year, pickup_month, round(avg_total_amount, 6) "
        f"FROM read_csv('{out['q1']}/*.csv', header = true) ORDER BY ALL"
    ).fetchall()
    if _rounded(con.sql(q1).fetchall()) != _rounded(got_q1):
        problems.append("q1 differs from the DuckDB recomputation")

    got_q2 = con.sql(
        f"SELECT pickup_year, pickup_month, pickup_day, pickup_hour, "
        f"round(avg_passenger_count_day, 6), round(avg_passenger_count_hour, 6) "
        f"FROM read_csv('{out['q2']}/*.csv', header = true) ORDER BY ALL"
    ).fetchall()
    if _rounded(con.sql(_Q2.format(src="kept")).fetchall()) != _rounded(got_q2):
        problems.append("q2 differs from the DuckDB recomputation")

    cols = ", ".join(GOLD_COLS)
    corr = f"read_parquet('{inputs}/corrections.parquet')"
    # versions count from 0: v0 is the gold append, v1 adds the late month
    con.execute(f"CREATE TEMP VIEW v1 AS SELECT {cols} FROM kept UNION ALL SELECT {cols} FROM late")
    snap = {
        "v1": "SELECT count(*), round(sum(Total_amount), 2) FROM v1",
        "latest": f"""
            SELECT count(*), round(sum(Total_amount), 2) FROM (
                SELECT * FROM v1 ANTI JOIN {corr} c USING (tpep_pickup_datetime)
                UNION ALL SELECT {cols} FROM {corr})
        """,
    }
    for name, sql in snap.items():
        want_n, want_sum = con.sql(sql).fetchone()
        got_n, got_sum = versions[name]
        if want_n != got_n or abs(want_sum - got_sum) > 0.005:
            problems.append(f"versioned {name}: want {want_n} rows / {want_sum}, got {got_n} / {got_sum}")
    con.close()
    return problems
