"""Local replica of the driver's DuckDB-oracle compare."""
import duckdb, json, glob, os, sys
import pandas as pd, hashlib

def compare(outdir, sfdir, only=None):
    con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        t = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d): continue
        if only and name not in only: continue
        spark_df = pd.read_parquet(d)
        if name not in oracles:
            results[name] = "no_oracle"
            # mimic the driver's rows-only sanity sort (the crash ADVICE flagged)
            try:
                spark_df.sort_values(by=list(spark_df.columns))
                results[name] = "no_oracle(sortable)"
            except Exception as e:
                results[name] = f"no_oracle(SORT CRASH: {e})"
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {e}"; continue
        s = spark_df.reindex(sorted(spark_df.columns), axis=1)
        o = odf.reindex(sorted(odf.columns), axis=1)
        if list(s.columns) != list(o.columns):
            results[name] = f"SCHEMA MISMATCH {list(s.columns)} vs {list(o.columns)}"; continue
        if len(s) != len(o):
            results[name] = f"ROWS {len(s)} vs {len(o)}"; continue
        def h(df):
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
            return hashlib.md5(df.round(9).to_csv(index=False).encode()).hexdigest()
        try:
            hm = h(s) == h(o)
        except Exception as e:
            results[name] = f"HASH CRASH: {e}"; continue
        results[name] = "OK" if hm else "HASH MISMATCH"
    return results

if __name__ == "__main__":
    outdir, sfdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    res = compare(outdir, sfdir, only)
    ok = sum(v == "OK" for v in res.values())
    rows_only = sum(v == "no_oracle(sortable)" for v in res.values())
    bad = {k: v for k, v in res.items() if v not in ("OK", "no_oracle(sortable)")}
    print(f"{len(res)} compared: {ok} hash-match, {rows_only} rows-only, {len(bad)} problems")
    for k, v in bad.items(): print(" ", k, "->", v[:300])
