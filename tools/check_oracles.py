"""Local replica of the driver's correctness gate: run every
queries() entry on Spark at sf0.01 and its oracle_sql() in DuckDB,
compare row count, schema width, and order-insensitive values."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main():
    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        checked += 1
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERROR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"[SQL-ERROR ] {name}: {str(e)[:300]}")
            continue
        g, x = norm(got), norm(exp)
        if list(g.columns) != list(x.columns):
            failures.append(name)
            print(f"[SCHEMA    ] {name}: spark={list(g.columns)} oracle={list(x.columns)}")
            continue
        if len(g) != len(x):
            failures.append(name)
            print(f"[ROWCOUNT  ] {name}: spark={len(g)} oracle={len(x)}")
            continue
        mismatch = None
        for c in g.columns:
            a, b = g[c].to_numpy(), x[c].to_numpy()
            if np.issubdtype(np.asarray(a).dtype, np.floating) or np.issubdtype(np.asarray(b).dtype, np.floating):
                ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
                if not ok:
                    d = np.abs(a.astype(float) - b.astype(float))
                    mismatch = (c, float(np.nanmax(d)), int((d > 0).sum()))
                    break
            else:
                if not (a == b).all():
                    bad = (a != b)
                    mismatch = (c, f"{a[bad][:3]} vs {b[bad][:3]}", int(bad.sum()))
                    break
        if mismatch:
            failures.append(name)
            print(f"[VALUES    ] {name}: col={mismatch[0]} err={mismatch[1]} n_bad={mismatch[2]}")
        else:
            print(f"[OK        ] {name}: {len(g)} rows")

    print(f"\n{checked - len(failures)}/{checked} queries match")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
