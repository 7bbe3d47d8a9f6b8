"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin via DuckDB
on the same parquet, compare row count, schema width, and exact values
(columns sorted by name, rows sorted)."""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df):
    cols = sorted(df.columns)
    out = df[cols].copy()
    rows = [tuple(r) for r in out.itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda t: tuple(str(x) for x in t))


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def main():
    import duckdb
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    import __spark_entry__ as entrymod

    # the Spark workers import the engine too (the UDF-backed queries): they
    # inherit PYTHONPATH from the session's environment, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(got)} rows "
                  f"[{time.time()-t0:.1f}s] (no oracle)")
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        gc, gr = normalize(got)
        wc, wr = normalize(want)
        status = "ok"
        if gc != wc:
            status = f"SCHEMA MISMATCH spark={gc} duck={wc}"
        elif len(gr) != len(wr):
            status = f"ROWCOUNT MISMATCH spark={len(gr)} duck={len(wr)}"
        else:
            for i, (a, b) in enumerate(zip(gr, wr)):
                if not all(values_equal(x, y) for x, y in zip(a, b)):
                    status = f"VALUE MISMATCH row {i}: spark={a} duck={b}"
                    break
        mark = "ok   " if status == "ok" else "FAIL "
        if status != "ok":
            failures.append(name)
        print(f"{mark}{name}: {len(gr)} rows [{time.time()-t0:.1f}s]"
              + ("" if status == "ok" else f" — {status}"))

    print()
    if failures:
        print("FAILED:", ", ".join(failures))
        sys.exit(1)
    print("all oracle pairs match")


if __name__ == "__main__":
    main()
