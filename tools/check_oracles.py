"""Driver-mimic: run each __spark_entry__ query against its DuckDB oracle.

Compares row count, column names, and order-insensitive values (sorted by
all columns, NaN-safe) at sf0.01 — the same contract the round driver
checks. Run: python tools/check_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STRICT = "--strict" in sys.argv
argv = [a for a in sys.argv if a != "--strict"]
SF_DIR = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
ONLY = argv[2].split(",") if len(argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def dtype_classes(df: pd.DataFrame) -> dict[str, str]:
    """Engine-neutral dtype class per column, BEFORE normalization.

    The round driver's value-hash is typed: a DuckDB HUGEINT sum that
    fetchdf() materializes as float64 hashes differently from Spark's
    bigint even when every value is equal (round-2 false-red root cause).
    normalize() used to erase exactly that difference — so compare the
    classes first and fail loudly on int-vs-float skew.
    """
    out = {}
    for c in df.columns:
        d = df[c]
        if pd.api.types.is_datetime64_any_dtype(d):
            out[c] = "datetime"
        elif pd.api.types.is_bool_dtype(d):
            out[c] = "bool"
        elif pd.api.types.is_integer_dtype(d):
            out[c] = "int"
        elif pd.api.types.is_float_dtype(d):
            out[c] = "float"
        else:
            out[c] = "object"
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            if not STRICT:
                df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entrymod
    from feasts_spark.session import get_spark

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")), app_name="oracle_check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {exc}")
            continue
        el = time.time() - t0
        if name not in oracles:
            ok = len(got) >= 0
            print(f"rows-only {name}: {len(got)} rows  ({el:.1f}s)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {exc}")
            continue
        dg, de = dtype_classes(got), dtype_classes(exp)
        dmis = {
            c: (dg.get(c), de.get(c))
            for c in set(dg) | set(de)
            if dg.get(c) != de.get(c)
        }
        if dmis:
            failures.append(name)
            print(f"FAIL {name}: dtype-class mismatch (spark, oracle): {dmis}")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            continue
        try:
            if STRICT:
                # Mimic the round driver: bitwise value-hash parity.
                pd.testing.assert_frame_equal(
                    g, e, check_dtype=False, check_exact=True
                )
            else:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, atol=1e-9)
            print(f"OK   {name}: {len(g)} rows  ({el:.1f}s)")
        except AssertionError as exc:
            failures.append(name)
            msg = str(exc).splitlines()
            print(f"FAIL {name}: value mismatch: " + " | ".join(msg[:3]))
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
