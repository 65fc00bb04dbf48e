#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB over the fixture tables in
<sfDir>, and compares: row count, column names, and values (sorted by all
columns, exact for non-floats, tolerant then exact for floats — reported
separately so we know if a hash-style exact compare would pass).
"""
import json, math, sys
import duckdb

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchall()
            gcols = [d[0] for d in con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet' LIMIT 0").description]
            exp = con.sql(sql).fetchall()
            ecols = [d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description]
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            failures += 1
            continue
        if sorted(gcols) != sorted(ecols):
            print(f"FAIL {name}: columns differ: spark={sorted(gcols)} oracle={sorted(ecols)}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows differ: spark={len(got)} oracle={len(exp)}")
            failures += 1
            continue
        # align column order by name, then sort rows
        gidx = [gcols.index(c) for c in sorted(gcols)]
        eidx = [ecols.index(c) for c in sorted(ecols)]
        # Sort key rounds floats to the comparison tolerance so a last-ulp
        # difference can't flip two rows' order and misalign the zip pairing
        # (which would turn an approx-equal result into a spurious FAIL).
        def key(row):
            return tuple(
                "\0N" if v is None
                else f"{v:.9g}" if isinstance(v, float)
                else str(v)
                for v in row)
        g = sorted([tuple(r[i] for i in gidx) for r in got], key=key)
        e = sorted([tuple(r[i] for i in eidx) for r in exp], key=key)
        exact = g == e
        approx = True
        first_diff = None
        for rg, re_ in zip(g, e):
            for vg, ve in zip(rg, re_):
                if vg == ve:
                    continue
                if isinstance(vg, float) and isinstance(ve, float) and \
                   math.isclose(vg, ve, rel_tol=1e-9, abs_tol=1e-9):
                    continue
                approx = False
                if first_diff is None:
                    first_diff = (vg, ve)
        if exact:
            print(f"PASS {name} ({len(got)} rows, exact)")
        elif approx:
            print(f"WARN {name} ({len(got)} rows): approx-equal only (float ulps) — driver hash may fail")
        else:
            print(f"FAIL {name}: values differ, e.g. {first_diff}")
            failures += 1
    if not oracle:
        # an empty dump (e.g. a filter that matched nothing) compares
        # nothing; passing it would certify an unchecked run
        print("FAIL: oracle_sql.json names no queries; nothing was compared")
        failures += 1
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
