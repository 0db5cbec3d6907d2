"""Compare every Spark query output written by graft.Verify against its DuckDB oracle.

Usage: python3 tools/check_oracle.py [SF_DIR] [VERIFY_OUT]

Prints MATCH / MISMATCH / MISSING / ERROR per query, then an `N/M MATCH`
total. Exits 1 unless every oracle-backed query matches.
"""
import duckdb, json, glob, sys, hashlib
sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['documents','embeddings','events','lineitem','orders','customer','part','supplier','nation','region']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
def canon(df):
    df = df[sorted(df.columns)]
    rows = sorted(df.astype(str).values.tolist())
    return hashlib.md5(json.dumps(rows).encode()).hexdigest(), len(rows)
matched = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f'{out}/{name}/*.parquet')
    if not files:
        print(f'{name}: MISSING (no parquet output under {out}/{name})')
        continue
    try:
        odf = con.execute(sql).df()
        sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        oh, on = canon(odf); sh, sn = canon(sdf)
        status = 'MATCH' if oh == sh else 'MISMATCH'
        print(f'{name}: {status} (oracle {on} rows, spark {sn} rows)')
        if oh == sh:
            matched += 1
        else:
            oc = sorted(odf.columns); sc = sorted(sdf.columns)
            if oc != sc: print('  cols differ:', oc, 'vs', sc)
            else:
                o = set(map(tuple, odf[oc].astype(str).values.tolist()))
                s = set(map(tuple, sdf[sc].astype(str).values.tolist()))
                for r in list(o - s)[:2]: print('  oracle-only:', [str(x)[:80] for x in r])
                for r in list(s - o)[:2]: print('  spark-only :', [str(x)[:80] for x in r])
    except Exception as e:
        print(f'{name}: ERROR {e}')
print(f'{matched}/{len(oracle)} MATCH')
sys.exit(0 if oracle and matched == len(oracle) else 1)
