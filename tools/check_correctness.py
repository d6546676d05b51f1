"""Local stand-in for the driver's correctness gate: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the
same sf dir, compare row count + column names + order-insensitive
values. Usage: python tools/check_correctness.py [sf_dir] [names...]

Each query runs in a process of its own, with a fresh JVM and Spark
session on local[nproc]: one session for all 83 queries grew the
driver JVM past 9 GB at sf0.1 and was killed on a 15 GB host.

REQUIRED PER-ROUND GATE (no names = all queries): the driver stamps
only the first 50 registry names each round, so the full sweep here
is what keeps the rotated-to-the-back queries value-checked every
round — run it green before shipping a round."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif s.dtype == object:
            df[c] = s.astype(str)
        else:
            try:
                df[c] = s.astype("int64")
            except (TypeError, ValueError):
                df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def check_query(sf_dir: str, name: str) -> bool:
    """One query against its oracle, in a fresh session; prints one
    verdict line."""
    import __spark_entry__ as entrymod
    from pdfextraction_spark.session import build_session

    fn = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    spark = build_session(f"correctness-{name}",
                          master=f"local[{len(os.sched_getaffinity(0))}]")
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        print(f"[FAIL] {name}: spark error: {e}")
        return False
    finally:
        spark.stop()
    if name not in oracles:
        print(f"[rows-only] {name}: {len(got)} rows, "
              f"cols={sorted(got.columns)}")
        return True
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    try:
        exp = con.execute(oracles[name]).df()
    except Exception as e:  # noqa: BLE001
        print(f"[FAIL] {name}: duckdb error: {e}")
        return False
    for c in sorted(set(got.columns) & set(exp.columns)):
        if str(got[c].dtype) != str(exp[c].dtype):
            print(f"[warn] {name}.{c}: spark dtype {got[c].dtype} "
                  f"!= duckdb dtype {exp[c].dtype}")
    g, e = _normalize(got), _normalize(exp)
    if list(g.columns) != list(e.columns):
        print(f"[FAIL] {name}: columns {list(g.columns)} != {list(e.columns)}")
        return False
    if len(g) != len(e):
        print(f"[FAIL] {name}: rows {len(g)} != {len(e)}")
        return False
    if not g.equals(e):
        neq = (g != e) & ~(g.isna() & e.isna())
        bad_cols = [c for c in g.columns if neq[c].any()]
        print(f"[FAIL] {name}: value mismatch in {bad_cols}")
        for c in bad_cols[:2]:
            i = int(np.flatnonzero(neq[c].to_numpy())[0])
            print(f"    {c}[{i}]: spark={g[c].iloc[i]!r} duckdb={e[c].iloc[i]!r}")
        return False
    print(f"[OK]   {name}: {len(g)} rows")
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    if len(only) == 1:
        return 0 if check_query(sf_dir, only[0]) else 1

    import __spark_entry__ as entrymod

    names = [n for n in entrymod.queries() if not only or n in only]
    failures = []
    start = time.perf_counter()
    for name in names:
        rc = subprocess.run([sys.executable, os.path.abspath(__file__),
                             sf_dir, name]).returncode
        if rc != 0:
            if rc < 0:
                print(f"[FAIL] {name}: process killed by signal {-rc}")
            failures.append(name)
    print(f"swept {len(names)} queries in "
          f"{time.perf_counter() - start:.0f} s")
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
