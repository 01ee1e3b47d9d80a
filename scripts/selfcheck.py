#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 scripts/selfcheck.py <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
the raw testdata tables, sorts columns by name (the driver's convention),
and compares row-for-row. A query that graft.Verify recorded as failed
(<verifyOutDir>/<name>.failed.json) fails with the recorded cause. Exit
code = number of mismatched queries.
"""
import sys, json, math, os
import duckdb

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"  # normalize -0.0
        return repr(v)
    return repr(v)

def table_repr(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return [tuple(cols[i] for i in order)] + out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    fails = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        res_dir = os.path.join(out_dir, name)
        failed = os.path.join(out_dir, f"{name}.failed.json")
        if os.path.exists(failed) or not os.path.isdir(res_dir):
            # a failure record means this run wrote no result, even if an
            # older run's result is still in the directory
            cause = ""
            if os.path.exists(failed):
                rec = json.load(open(failed))
                top = f"{rec['exception']}: {rec['message']}"
                cause = f"; verify failed: {top}"
                if rec["root_cause"] != top:
                    cause += f" (root cause {rec['root_cause']})"
            print(f"FAIL {name}: no spark output{cause}"); fails += 1; continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
            s_cols = [d[0] for d in s.description]; s_rows = s.fetchall()
            o = con.execute(oracle[name])
            o_cols = [d[0] for d in o.description]; o_rows = o.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); fails += 1; continue
        if sorted(s_cols) != sorted(o_cols):
            print(f"FAIL {name}: cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
            fails += 1; continue
        st, ot = table_repr(s_rows, s_cols), table_repr(o_rows, o_cols)
        if st != ot:
            fails += 1
            ndiff = sum(1 for a, b in zip(st, ot) if a != b) + abs(len(st) - len(ot))
            print(f"FAIL {name}: rows spark={len(s_rows)} oracle={len(o_rows)}, {ndiff} differing")
            for i, (a, b) in enumerate(zip(st, ot)):
                if a != b:
                    print(f"  row {i}:\n    spark : {a}\n    oracle: {b}")
                    break
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
    print(f"\n{fails} failures")
    sys.exit(min(fails, 100))

main()
