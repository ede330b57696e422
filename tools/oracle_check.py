#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify first
(writes <out>/<name>.parquet + <out>/oracle_sql.json), then this script
runs each oracle SQL in DuckDB over the same tables and compares.

Compare semantics (conservative superset of the driver's): columns sorted
by name, rows sorted by all columns, exact value equality (floats exact).

graft.Verify also writes each SQL under a "<name>.parquet" alias key for
the driver; those aliases are skipped, so a clean full run reads 246/246.
Exits 1 if any query fails, so a script can use it as a gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [name ...]
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        if name.endswith(".parquet") or (only and name not in only):
            continue
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}.parquet/*.parquet'")
            s_cols, s_rows = canon(spark_rel.columns, spark_rel.fetchall())
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {str(e)[:160]}"
            continue
        try:
            duck_rel = con.sql(sql)
            # SUM(BIGINT) etc. widen to HUGEINT (int128); that round-trips
            # as float64 through arrow-style readers and breaks the
            # driver's value hash even when every value is equal. Force
            # the oracle SQL to CAST back down instead.
            hug = [c for c, t in zip(duck_rel.columns, duck_rel.types)
                   if "INT128" in str(t) or "HUGEINT" in str(t)]
            if hug:
                results[name] = f"HUGEINT-COLS {hug} (add CAST(... AS BIGINT))"
                continue
            d_cols, d_rows = canon(duck_rel.columns, duck_rel.fetchall())
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e)[:160]}"
            continue
        if s_cols != d_cols:
            results[name] = f"SCHEMA-MISMATCH spark={s_cols} duck={d_cols}"
        elif len(s_rows) != len(d_rows):
            results[name] = f"ROWCOUNT spark={len(s_rows)} duck={len(d_rows)}"
        elif s_rows != d_rows:
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
            results[name] = (f"VALUES {len(diffs)}/{len(s_rows)} differ; "
                             f"first: spark={diffs[0][0]} duck={diffs[0][1]}"[:400])
        else:
            results[name] = "OK"
    for name in only - results.keys():
        results[name] = "NOT-IN-ORACLE"
    n_ok = sum(1 for v in results.values() if v == "OK")
    for name, v in sorted(results.items()):
        print(("PASS " if v == "OK" else "FAIL ") + name + ("" if v == "OK" else "  " + v))
    print(f"\n{n_ok}/{len(results)} OK")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
