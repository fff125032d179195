#!/usr/bin/env python3
"""Cross-check the benchmark's query outputs against the DuckDB oracle.

    python3 perfbench/crosscheck.py [workload ...]

For each workload (default: all three) this runs one short benchmark
run that also writes every query op's result as parquet, then runs the
op's oracle SQL (`SparkEntry.oracleSql`) in DuckDB over the same sf
tables and compares the two as multisets of rows (columns in name
order, floating values to 6 significant digits). Ops without an oracle
are held to their row-count bound SQL (`SparkEntry.rowBoundSql`) where
there is one. The expected digests in perfbench/expected/ are
digests of these same outputs, so a pass here ties them to the oracle.
Exits 1 if any op disagrees.
"""
import datetime
import decimal
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import SF_DIR, WORKLOADS, BUILD  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
DIGITS = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "0" if v == 0 else str(DIGITS.create_decimal(v).normalize())
    if isinstance(v, decimal.Decimal):
        return str(DIGITS.create_decimal(v).normalize())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int((v - datetime.datetime(1970, 1, 1)) / datetime.timedelta(microseconds=1))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return v


def rows(con, sql):
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(norm(r[i]) for i in order) for r in rel.fetchall()), key=repr)


def check(workload):
    dump = os.path.join(BUILD, "crosscheck", workload)
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--dump", dump], cwd=ROOT)
    if r.returncode != 0:
        print(f"FAIL {workload}: benchmark run failed")
        return False
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(dump, "row_bounds.json")) as f:
        bounds = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    ok = True
    for out in sorted(glob.glob(os.path.join(dump, "*", ""))):
        op = os.path.basename(os.path.dirname(out))
        if op not in oracle:
            n = con.sql(f"SELECT count(*) FROM '{out}*.parquet'").fetchone()[0]
            if op in bounds:
                lo, hi = con.sql(bounds[op]).fetchone()
                ok &= lo <= n <= hi
                print(f"{'PASS' if lo <= n <= hi else 'FAIL'} {op:26s} {n} rows, oracle row bound [{lo}, {hi}]")
            else:
                print(f"---- {op:26s} {n} rows, no oracle SQL (lake_ingest: checked against drops.py)")
            continue
        spark_cols, spark_rows = rows(con, f"SELECT * FROM '{out}*.parquet'")
        duck_cols, duck_rows = rows(con, oracle[op])
        if spark_cols != duck_cols:
            verdict = f"columns {spark_cols} vs oracle {duck_cols}"
        elif spark_rows != duck_rows:
            diff = next((a, b) for a, b in zip(spark_rows + [None] * len(duck_rows), duck_rows + [None] * len(spark_rows)) if a != b)
            verdict = f"rows {len(spark_rows)} vs oracle {len(duck_rows)}; first difference {diff}"
        else:
            verdict = None
        ok &= verdict is None
        print(f"{'PASS' if verdict is None else 'FAIL'} {op:26s} {verdict or f'{len(spark_rows)} rows'}")
    shutil.rmtree(dump, ignore_errors=True)
    return ok


def main():
    ok = all([check(w) for w in (sys.argv[1:] or WORKLOADS)])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
