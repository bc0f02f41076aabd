#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Runs each oracle_sql.json query in DuckDB over the sf parquet tables,
loads the corresponding Spark result parquet, sorts columns by name and
rows by all columns, and compares exactly (driver-style hash parity).
Dev tool only — the shipped Scala library never depends on this.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        # the oracle and the Spark-output read fail for different
        # reasons (e.g. DuckDB out of temp space vs a bad Spark write):
        # report which side failed
        try:
            duck = con.execute(oracle[name])
            dcols = [d[0] for d in duck.description]
            drows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            sq = con.execute(
                f"SELECT * FROM read_parquet({files!r})")
            scols = [d[0] for d in sq.description]
            srows = sq.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output error: {e}")
            n_fail += 1
            continue
        if sorted(dcols) != sorted(scols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            n_fail += 1
            continue
        _, dc = canon(drows, dcols)
        _, sc = canon(srows, scols)
        if len(dc) != len(sc):
            print(f"FAIL {name}: rows spark={len(sc)} duck={len(dc)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sc, dc)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(sc)} rows differ; first @%d\n  spark={a}\n  duck ={b}" % i)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sc)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
