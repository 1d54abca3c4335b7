#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark parquet dumped by graft.Verify,
and compare rows/schema/values (columns sorted by name, rows sorted).

Usage: python3 devtools/parity.py /root/testdata/sf0.01 /tmp/vout [query...]

Dev tooling only (mirrors the driver harness); not part of the library.
"""
import sys, json, glob, os
import duckdb

def load_spark(con, path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(None if v != v else v for v in r) for r in df.itertuples(index=False)]
    # normalize float-ish values for hashing comparability
    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        return v
    return sorted([tuple(norm(v) for v in r) for r in rows], key=lambda t: tuple(str(x) for x in t))

def main():
    sfdir, vout = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{vout}/oracle_sql.json"))
    n_pass = n_fail = n_noor = 0
    for name in sorted(os.listdir(vout)):
        qdir = os.path.join(vout, name)
        if not os.path.isdir(qdir):
            continue
        if only and name not in only:
            continue
        failed = os.path.join(qdir, "_FAILED")
        if os.path.exists(failed):
            print(f"{name}: VERIFY FAILED: {open(failed).readline().strip()}")
            n_fail += 1
            continue
        spark_df = load_spark(con, qdir)
        if spark_df is None:
            print(f"{name}: NO PARQUET OUTPUT")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"{name}: NO_ORACLE (spark rows={len(spark_df)})")
            n_noor += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        s, o = canon(spark_df), canon(odf)
        scols, ocols = sorted(spark_df.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"{name}: SCHEMA MISMATCH spark={scols} oracle={ocols}")
            n_fail += 1
        elif len(s) != len(o):
            print(f"{name}: ROWS MISMATCH spark={len(s)} oracle={len(o)}")
            n_fail += 1
        elif s != o:
            diffs = [(a, b) for a, b in zip(s, o) if a != b][:5]
            print(f"{name}: VALUE MISMATCH (rows={len(s)}), first diffs:")
            for a, b in diffs:
                print(f"   spark={a}\n  oracle={b}")
            n_fail += 1
        else:
            print(f"{name}: PASS ({len(s)} rows)")
            n_pass += 1
    print(f"\npass={n_pass} fail={n_fail} no_oracle={n_noor}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
