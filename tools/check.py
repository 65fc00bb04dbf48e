#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching SQL from oracle_sql.json in DuckDB over the fixture tables in
<sfDir>, and compares: row count, column names, and values (sorted by all
columns, exact for non-floats, tolerant then exact for floats — reported
separately so we know if a hash-style exact compare would pass). Each
PASS/WARN/FAIL line ends with the oracle's DuckDB wall time; the five
slowest oracles are listed at the end.
"""
import json, math, sys, time
import duckdb

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    oracle_s = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.perf_counter()
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchall()
            gcols = [d[0] for d in con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet' LIMIT 0").description]
            t0 = time.perf_counter()
            exp = con.sql(sql).fetchall()
            ecols = [d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description]
        except Exception as e:
            oracle_s[name] = time.perf_counter() - t0
            print(f"FAIL {name}: exec error: {e} [oracle {oracle_s[name]:.2f} s]")
            failures += 1
            continue
        oracle_s[name] = time.perf_counter() - t0
        took = f"[oracle {oracle_s[name]:.2f} s]"
        if sorted(gcols) != sorted(ecols):
            print(f"FAIL {name}: columns differ: spark={sorted(gcols)} oracle={sorted(ecols)} {took}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows differ: spark={len(got)} oracle={len(exp)} {took}")
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
            print(f"PASS {name} ({len(got)} rows, exact) {took}")
        elif approx:
            print(f"WARN {name} ({len(got)} rows): approx-equal only (float ulps) — a hash compare may fail {took}")
        else:
            print(f"FAIL {name}: values differ, e.g. {first_diff} {took}")
            failures += 1
    if oracle_s:
        print("slowest oracles:")
        for name, s in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]:
            print(f"  {s:8.2f} s  {name}")
    if not oracle:
        # an empty dump (e.g. a filter that matched nothing) compares
        # nothing; passing it would certify an unchecked run
        print("FAIL: oracle_sql.json names no queries; nothing was compared")
        failures += 1
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
