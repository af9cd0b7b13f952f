"""Local emulation of the driver correctness gate:
runs each __spark_entry__.queries() entry on Spark at sf0.01 and the
matching oracle_sql() in DuckDB, comparing row count, column names, and
order-insensitive values.

Usage: python tools/check_entry.py SF_DIR [--only q1,q2,...]

SF_DIR holds the fixture tables as <table>.parquet; the gate itself
runs at sf0.01.

Prints one PASS/FAIL line per query with its Spark seconds, then
`N/M passed`; exits non-zero on any failure.
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry_mod

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    return sorted(out)


def main():
    argv = sys.argv[1:]
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    if len(argv) != 1:
        sys.exit(__doc__)
    sf_dir = argv[0]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("entry-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.stdout.reconfigure(line_buffering=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    sqls = entry_mod.oracle_sql()
    failures = checked = 0
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name} [{time.time() - t0:.2f}s]: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        secs = time.time() - t0
        if name not in sqls:
            print(f"OK?  {name} [{secs:.2f}s]: rows-only ({len(s_rows)} rows, no oracle)")
            continue
        try:
            rel = con.sql(sqls[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name} [{secs:.2f}s]: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name} [{secs:.2f}s]: columns spark={s_cols} duck={d_cols}")
            ok = False
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name} [{secs:.2f}s]: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            ok = False
        else:
            ms = rows_to_multiset(s_cols, s_rows)
            md = rows_to_multiset(d_cols, d_rows)
            if ms != md:
                diff = [(a, b) for a, b in zip(ms, md) if a != b][:3]
                print(f"FAIL {name} [{secs:.2f}s]: value mismatch, first diffs: {diff}")
                ok = False
        if ok:
            print(f"PASS {name} [{secs:.2f}s] ({len(s_rows)} rows)")
        else:
            failures += 1
    print(f"\n{checked - failures}/{checked} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
