#!/usr/bin/env python3
"""Local correctness self-check, mimicking the driver's DuckDB-oracle gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB over the
parquet tables in <sfDir>, and compares with the Spark parquet result at
<verifyOutDir>/<name>/ — rows/schema/value compare with columns sorted by
name and rows sorted by all columns. A Spark result directory with no
oracle entry is a failure too: an un-oracled query is an unchecked one.
"""
import sys, json, glob, math, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # ScaleGen snapshots are Spark-written DIRECTORIES of part files
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    dumps = {d for d in os.listdir(out_dir)
             if os.path.isdir(os.path.join(out_dir, d))}
    for name in sorted(dumps - oracles.keys()):
        print(f"FAIL {name}: spark output has no oracle entry")
        n_fail += 1
    for name, sql in sorted(oracles.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            oc = con.execute(sql)
            ocols = [d[0] for d in oc.description]
            orows = oc.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        sc = con.execute(
            f"SELECT * FROM read_parquet({files!r})")
        scols = [d[0] for d in sc.description]
        srows = sc.fetchall()
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        a, b = norm(srows, [c.lower() for c in scols]), norm(orows, [c.lower() for c in ocols])
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} oracle={len(b)}")
            n_fail += 1
            continue
        bad = [(x, y) for x, y in zip(a, b) if x != y]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(a)} row mismatches; first: spark={bad[0][0]} oracle={bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
