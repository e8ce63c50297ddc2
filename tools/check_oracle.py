"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Scale note: the gate (and the driver's) runs at sf0.01. Most queries also
verify at sf0.1, but the docs_neardup_methods ORACLE recomputes exact
ground truth via an exhaustive shingle-hash self-join — inherently
Ω(Σ doc-frequency²) pairs — and at sf0.1 DuckDB's spill for it can exceed
~60 GB of temp disk; with insufficient free space the ORACLE side fails
with an IO error while the Spark side (LSH-bucketed, never all-pairs) is
unaffected. The DuckDB temp directory is pinned below so the spill lands
on the big volume and is attributable.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

# this checkout's root, so a second clone grades its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v) if not isinstance(v, float) else f"{v:.6f}")
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
            out[c] = out[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as mod
    from sap_spark.config import get_spark

    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    # pinned, attributable spill location (see module docstring); the
    # default is a cwd-relative .tmp that survives crashes as mystery GBs
    con.execute("SET temp_directory='/tmp/duckdb_oracle_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = mod.queries(), mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            got = normalize(sdf.toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?   {name}: rows-only check, {len(got)} rows")
            if len(got) == 0:
                failures.append(name)
            continue
        try:
            exp = normalize(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        elif value_hash(got) != value_hash(exp):
            problems.append("value hash mismatch")
            merged = got[sorted(got.columns)].merge(
                exp[sorted(exp.columns)], how="outer", indicator=True
            )
            diff = merged[merged["_merge"] != "both"]
            print(diff.head(6).to_string())
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(got)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
