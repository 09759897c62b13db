#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle SQL and diff values (column-name sorted,
row-sorted)."""
import argparse, sys, json, glob, math

ap = argparse.ArgumentParser(description=__doc__)
ap.add_argument("sfdir", nargs="?", default="/root/testdata/sf0.001",
                help="scale-factor directory of the input parquet tables")
ap.add_argument("outdir", nargs="?", default="/tmp/verify_r1",
                help="graft.Verify's output directory")
args = ap.parse_args()
sfdir, outdir = args.sfdir, args.outdir

import duckdb  # after parsing, so --help needs no DuckDB

con = duckdb.connect()
for t in ["documents", "embeddings", "lineitem", "orders", "customer",
          "events", "part", "supplier", "nation", "region"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        fails += 1
        continue
    sdf = con.sql(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df()
    ocols = sorted(odf.columns)
    scols = sorted(sdf.columns)
    if ocols != scols:
        print(f"FAIL {name}: schema {scols} vs oracle {ocols}")
        fails += 1
        continue
    o = odf[ocols].sort_values(ocols).reset_index(drop=True)
    s = sdf[scols].sort_values(scols).reset_index(drop=True)
    if len(o) != len(s):
        print(f"FAIL {name}: rows {len(s)} vs oracle {len(o)}")
        fails += 1
        continue
    mismatch = None
    for c in ocols:
        ov, sv = o[c].tolist(), s[c].tolist()
        for i, (a, b) in enumerate(zip(ov, sv)):
            ok = (a == b) or (isinstance(a, float) and isinstance(b, float)
                              and (math.isclose(a, b, rel_tol=0, abs_tol=0)))
            if not ok:
                mismatch = (c, i, a, b)
                break
        if mismatch:
            break
    if mismatch:
        c, i, a, b = mismatch
        print(f"FAIL {name}: col {c} row {i}: spark={b!r} oracle={a!r}")
        fails += 1
    else:
        print(f"PASS {name} ({len(s)} rows)")
# rows-only entries
import os
for d in sorted(glob.glob(f"{outdir}/q_*")):
    name = os.path.basename(d)
    if name not in oracle:
        n = con.sql(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
        print(f"ROWS {name}: {n}")
sys.exit(1 if fails else 0)
