#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json against DuckDB views over
<sfDir>/*.parquet, loads the corresponding Spark parquet dump, sorts columns
by name, and compares row counts, schemas (loosely), and values.

Usage: check_oracle.py <sfDir> <outDir>
"""
import json
import os
import sys

import duckdb
import pandas as pd

# DuckDB's default memory limit is 80% of host RAM, which a recursive closure
# (q143) can exhaust before spilling; cap it at half of RAM and spill to /tmp.
MEMORY_LIMIT = f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2 >> 20}MB"
SPILL_DIR = "/tmp/check_oracle_spill"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize tz-aware → naive, bytes → hex for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT, "temp_directory": SPILL_DIR})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            want = norm(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            got = norm(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: values differ: {str(e).splitlines()[-1][:200]}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail / {len(oracle)} oracled")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
