#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir> [names]

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle_sql.json query in DuckDB against the sfDir tables, and compares:
row count, column names (sorted), and a hash of the sorted value matrix.
`names` (comma-separated; default: $SPARK_GRAFT_QUERIES, the subset
graft.Verify was asked to dump) limits the check to those rows.
"""
import json
import os
import sys
import duckdb
import math


def canon(rows, cols):
    # sort columns by name, then rows by stringified values
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(round(v, 9)))
            else:
                vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["documents", "embeddings", "events", "lineitem", "orders",
              "customer", "supplier", "part", "nation", "region"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sys.argv[3] if len(sys.argv) > 3 else os.environ.get("SPARK_GRAFT_QUERIES", "")
    if names.strip():
        wanted = {n.strip() for n in names.split(",") if n.strip()}
        unknown = sorted(wanted - oracle.keys())
        if unknown:
            sys.exit(f"unknown query names: {', '.join(unknown)}")
        oracle = {n: q for n, q in oracle.items() if n in wanted}
    npass = nfail = nmiss = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.execute(
                f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            scols = [d[0] for d in spark_rel.description]
            srows = spark_rel.fetchall()
        except Exception as e:
            print(f"MISS  {name}: no spark output ({e})")
            nmiss += 1
            continue
        try:
            duck_rel = con.execute(sql)
            dcols = [d[0] for d in duck_rel.description]
            drows = duck_rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle sql error: {e}")
            nfail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(dcols)}")
            nfail += 1
            continue
        s, d = canon(srows, scols), canon(drows, dcols)
        if len(s) != len(d):
            print(f"FAIL  {name}: rows {len(s)} != {len(d)}")
            nfail += 1
        elif s != d:
            diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
            print(f"FAIL  {name}: values differ, e.g. {diffs}")
            nfail += 1
        else:
            print(f"PASS  {name} ({len(s)} rows)")
            npass += 1
    print(f"\n{npass} pass, {nfail} fail, {nmiss} missing")
    sys.exit(1 if (nfail or nmiss) else 0)


if __name__ == "__main__":
    main()
