#!/usr/bin/env python3
"""Compare two graft.Verify output dirs, query by query.

Each query's parquet result reduces to an order-free digest: its schema
(column names and arrow types, in order) plus its rows normalized and
sorted the way validate_oracle.py compares them (`norm`/`canon`: doubles
rounded to 9 dp, columns by name, rows sorted). oracle_sql.json is
compared byte for byte. Prints one line per difference and a summary;
exits 1 if anything differs (a query on one side only counts).
Usage: compare_verify.py <outA> <outB>
"""
import hashlib, os, sys
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from validate_oracle import canon


def digest(path):
    tbl = pq.read_table(path)
    cols = tbl.column_names
    rows = [tuple(tbl.column(c)[i].as_py() for c in cols)
            for i in range(tbl.num_rows)]
    h = hashlib.sha256(str(tbl.schema.to_string()).encode())
    for row in canon(cols, rows)[1]:
        h.update(repr(row).encode())
    return h.hexdigest(), tbl.num_rows


def queries(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def main(a, b):
    bad = 0
    qa, qb = queries(a), queries(b)
    for name in sorted(qa ^ qb):
        print(f"ONLY {'A' if name in qa else 'B'}: {name}")
        bad += 1
    same = 0
    for name in sorted(qa & qb):
        (da, na), (db, nb) = digest(os.path.join(a, name)), digest(os.path.join(b, name))
        if da != db:
            print(f"DIFF {name}: rows A={na} B={nb}")
            bad += 1
        else:
            same += 1
    with open(os.path.join(a, "oracle_sql.json"), "rb") as fa, \
            open(os.path.join(b, "oracle_sql.json"), "rb") as fb:
        sql_same = fa.read() == fb.read()
    if not sql_same:
        print("DIFF oracle_sql.json")
        bad += 1
    print(f"== {same}/{len(qa | qb)} result tables identical, "
          f"oracle_sql.json {'identical' if sql_same else 'differs'} ==")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
