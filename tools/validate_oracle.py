#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB correctness gate.

Runs each oracle SQL from Verify's oracle_sql.json against DuckDB views over
the same sf dir, and compares with the Spark result parquet: column names
(sorted), each column's pandas dtype (DuckDB `.df()` against the parquet's
`to_pandas()`), row count, and the rows sorted by all columns. A list-typed
DuckDB column is a FAIL on its own: a pandas sort cannot order its values.
Usage: validate_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_lists = [c[0] for c in res.description if c[1] == "list"]
            d_rows = res.fetchall()
            d_types = con.execute(sql).df().dtypes
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        try:
            tbl = pq.read_table(f"{out_dir}/{name}")
            s_cols = tbl.column_names
            s_rows = [tuple(tbl.column(c)[i].as_py() for c in s_cols)
                      for i in range(tbl.num_rows)]
            s_types = tbl.to_pandas().dtypes
        except Exception as e:
            print(f"FAIL {name}: spark parquet error: {e}")
            n_bad += 1
            continue
        dc, dr = canon(d_cols, d_rows)
        sc, sr = canon(s_cols, s_rows)
        dtype_diff = [f"{c}: spark={s_types[c]} duckdb={d_types[c]}"
                      for c in dc if dc == sc and str(d_types[c]) != str(s_types[c])]
        if dc != sc:
            print(f"FAIL {name}: columns spark={sc} duckdb={dc}")
            n_bad += 1
        elif d_lists:
            print(f"FAIL {name}: list-typed duckdb columns {sorted(d_lists)}")
            n_bad += 1
        elif dtype_diff:
            print(f"FAIL {name}: dtypes differ: {'; '.join(dtype_diff)}")
            n_bad += 1
        elif len(dr) != len(sr):
            print(f"FAIL {name}: rows spark={len(sr)} duckdb={len(dr)}")
            n_bad += 1
        elif dr != sr:
            diffs = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b][:3]
            print(f"FAIL {name}: values differ at sorted-rows {diffs}")
            for i in diffs[:2]:
                print(f"   spark : {sr[i]}")
                print(f"   duckdb: {dr[i]}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(sr)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
