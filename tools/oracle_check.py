#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, driver-side
deps only: duckdb + pyarrow). Usage:

    ./run_local.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
    python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/verify_out [qname ...]

For each query: run the oracle SQL in DuckDB over the same parquet tables,
compare row count, column names (sorted), and exact values against the
Spark-written parquet result.
"""
import json, sys, math

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        try:
            odf = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        try:
            sdf = pq.read_table(f"{out_dir}/{name}")
        except OSError:
            print(f"FAIL {name}: no Spark result")
            n_fail += 1
            continue
        ocols, scols = sorted(odf.column_names), sorted(sdf.column_names)
        if ocols != scols:
            print(f"FAIL {name}: schema oracle={ocols} spark={scols}")
            n_fail += 1
            continue
        # Arrow dtype drift is a driver-gate killer even when values are
        # equal (r4: every hash-FAIL was a DuckDB HUGEINT/decimal128(38,0)
        # vs Spark int64 mismatch). int32-vs-int64 is tolerated (proven
        # benign in r4 gates); anything decimal-flavored is a hard fail.
        otypes = {f.name: str(f.type) for f in odf.schema}
        stypes = {f.name: str(f.type) for f in sdf.schema}
        tdiffs = [(c, stypes[c], otypes[c]) for c in ocols
                  if stypes[c] != otypes[c]
                  and {stypes[c], otypes[c]} != {"int32", "int64"}]
        if tdiffs:
            print(f"FAIL {name}: arrow dtype drift (col, spark, oracle): {tdiffs}")
            n_fail += 1
            continue
        if odf.num_rows != sdf.num_rows:
            print(f"FAIL {name}: rows oracle={odf.num_rows} spark={sdf.num_rows}")
            n_fail += 1
            continue
        orows = [tuple(canon(c[i].as_py()) for c in odf.select(ocols).columns)
                 for i in range(odf.num_rows)]
        srows = [tuple(canon(c[i].as_py()) for c in sdf.select(scols).columns)
                 for i in range(sdf.num_rows)]
        if orows != srows:
            bad = next(i for i, (a, b) in enumerate(zip(orows, srows)) if a != b)
            print(f"FAIL {name}: first diff at row {bad}:")
            print(f"  oracle: {orows[bad]}")
            print(f"  spark : {srows[bad]}")
            n_fail += 1
            continue
        print(f"pass {name} ({odf.num_rows} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
