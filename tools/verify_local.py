#!/usr/bin/env python3
"""Dev-only harness mirroring the driver's t2 oracle gate.

Usage: python3 tools/verify_local.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs
the matching oracle_sql.json entry in DuckDB against the same sf tables,
sorts columns by name and rows by value, and compares cell-by-cell.
NOT part of the shipped library (driver-side python is allowed for dev
tooling only).
"""
import sys, os, json, math
import duckdb

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return v
    return v

def nonscalar_cols(cols, types):
    """Columns the driver's pandas harness cannot hash: its row sort
    throws `unhashable type: numpy.ndarray` on any list/struct/map cell
    (the r9 idx1/idx2/idx3 red rows). This gate must be EXACTLY as
    strict — a local pass that normalizes list cells hides the class."""
    bad = []
    for c, t in zip(cols, types):
        s = str(t)
        if s.endswith("[]") or s.startswith(("STRUCT", "MAP", "LIST", "UNION")):
            bad.append(c)
    return bad

def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out

def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(close(x, y) for x, y in zip(a, b))
    return a == b

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    dirs = set(d for d in os.listdir(out_dir)
               if os.path.isdir(os.path.join(out_dir, d)))
    # queries.json names the queries graft.Verify dumped (all of them
    # unless it was given a subset): compare exactly those, so a crashed
    # query is a FAIL-miss and an unselected one is not; fall back to
    # output dirs + oracle keys for dirs written before queries.json
    qpath = os.path.join(out_dir, "queries.json")
    if os.path.exists(qpath):
        names = sorted(set(json.load(open(qpath))))
    else:
        names = sorted(dirs | set(oracles))
    n_pass = n_fail = n_noracle = 0
    for name in names:
        if name not in dirs:
            print(f"  [FAIL-miss] {name}: no spark output dir (query crashed?)")
            n_fail += 1
            continue
        path = os.path.join(out_dir, name)
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            print(f"  [FAIL-miss] {name}: no parquet files in the spark "
                  f"output dir (query crashed mid-write?)")
            n_fail += 1
            continue
        srel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        sbad = nonscalar_cols(srel.columns, srel.types)
        if sbad:
            print(f"  [FAIL-type] {name}: spark output columns {sbad} are "
                  f"non-scalar — the driver's pandas sort_values throws on "
                  f"array cells; serialize through Fns.strJoin (a3/a4 "
                  f"convention)")
            n_fail += 1
            continue
        r = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        scols = [d[0] for d in r.description]
        srows = r.fetchall()
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(srows)} rows"
                  + ("  !! EMPTY" if not srows else ""))
            n_noracle += 1
            continue
        try:
            # The driver's compare goes through arrow/pandas, where DuckDB
            # HUGEINT (e.g. sum(BIGINT)) and DECIMAL degrade to float64 and
            # break the hash even though fetchall()'s Python ints compare
            # equal here. Flag them so the class is caught locally.
            rel = con.sql(oracles[name])
            wide = [c for c, t in zip(rel.columns, rel.types)
                    if str(t) in ("HUGEINT", "UHUGEINT")
                    or str(t).startswith("DECIMAL")]
            if wide:
                print(f"  [FAIL-type] {name}: oracle columns {wide} are "
                      f"HUGEINT/DECIMAL — CAST them (driver hashes via "
                      f"pandas where these become float64)")
                n_fail += 1
                continue
            obad = nonscalar_cols(rel.columns, rel.types)
            if obad:
                print(f"  [FAIL-type] {name}: oracle columns {obad} are "
                      f"non-scalar — use a string aggregate "
                      f"(array_to_string) so the driver can hash them")
                n_fail += 1
                continue
            q = con.execute(oracles[name])
            ocols = [d[0] for d in q.description]
            orows = q.fetchall()
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"  [FAIL-cols] {name}: spark={sc} duckdb={oc}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"  [FAIL-rows] {name}: spark={len(sr)} duckdb={len(orr)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
        if bad:
            soft = all(close(a, b) for _, a, b in bad)
            tag = "NEAR" if soft else "FAIL-vals"
            print(f"  [{tag:9}] {name}: {len(bad)}/{len(sr)} rows differ; "
                  f"first: spark={bad[0][1]} duckdb={bad[0][2]}")
            n_fail += 1
            continue
        n_pass += 1
        print(f"  [pass     ] {name}: {len(sr)} rows")
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
