"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Each query argument is an entry name or an fnmatch glob over the names
(quote it for the shell), e.g. 'ft_agg_*' 'ft_geo_*' ft_sorted_topk.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, int):
        return float(v) if -2**52 < v < 2**52 else v
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from data_prepper_spark.envtune import apply_malloc_tuning

    apply_malloc_tuning()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle_check")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
            _show_diff(sr, dr)
            n_fail += 1
            continue
        if sr != dr:
            print(f"FAIL {name}: values differ")
            _show_diff(sr, dr)
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sr)} rows")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


def _show_diff(sr, dr):
    ss, ds = set(sr), set(dr)
    for x in list(ss - ds)[:3]:
        print(f"   spark-only: {x}")
    for x in list(ds - ss)[:3]:
        print(f"   duck-only:  {x}")


if __name__ == "__main__":
    main()
