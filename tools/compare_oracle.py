#!/usr/bin/env python3
"""Local pre-check of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables and compare against the Spark parquet dumps
produced by graft.Verify. Usage:
    python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

The exit status follows the tolerant compare (floats rounded to 6 places).
A result set that passes it is compared again with floats at full repr;
a difference there prints an `EXACT` line with the sha256 of each side's
sorted exact rows, so a red that hides below 1e-6 is visible locally.
"""
import hashlib
import json
import math
import sys
from collections import Counter

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols, exact=False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                elif not exact:
                    v = round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def sha(rows):
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql)
            want_cols = [d[0] for d in want.description]
            want_rows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_bad += 1
            continue
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [d[0] for d in got.description]
            got_rows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result missing {e}")
            n_bad += 1
            continue
        if sorted(got_cols) != sorted(want_cols):
            print(f"FAIL {name}: cols spark={sorted(got_cols)} oracle={sorted(want_cols)}")
            n_bad += 1
            continue
        a, b = canon(got_rows, got_cols), canon(want_rows, want_cols)
        if a == b:
            print(f"OK   {name}: {len(a)} rows")
            n_ok += 1
            ea, eb = canon(got_rows, got_cols, True), canon(want_rows, want_cols, True)
            if ea != eb:
                k = sum((Counter(ea) - Counter(eb)).values())
                print(f"EXACT {name}: {k} rows differ only below 1e-6; "
                      f"sha256 spark={sha(ea)} oracle={sha(eb)}")
        else:
            n_bad += 1
            sa, sb = set(a), set(b)  # hoisted: per-element set() rebuild was quadratic
            diff_a = [x for x in a if x not in sb][:3]
            diff_b = [x for x in b if x not in sa][:3]
            print(f"FAIL {name}: {len(a)} vs {len(b)} rows; spark-only={diff_a} oracle-only={diff_b}")
    print(f"== {n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
