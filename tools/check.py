#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <name>/ parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same sf tables,
canonicalizes both sides (columns sorted by name, rows sorted by all
columns, values stringified), and reports row/schema/value match.
A query whose result and oracle are both empty FAILS: empty == empty
checks nothing.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for stable compare; normalize float formatting
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.10g}"
        return str(v)
    out = df.map(cell)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL  {name}: no parquet output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracles:
            status = "ROWS_ONLY" if len(spark_df) > 0 else "ROWS_ONLY(EMPTY!)"
            print(f"{status:22s}{name}: {len(spark_df)} rows")
            n_rows_only += 1
            continue
        try:
            oracle_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}"); n_fail += 1; continue
        # emulate the driver's TYPE-SENSITIVE value hash: an oracle
        # SUM(BIGINT) coming back as HUGEINT->float64 while Spark emits
        # int64 is a driver FAIL even when the stringified values match
        # (the exact r7 s4/t_corpus_report/t_mix_domains failure mode)
        kinds = lambda df: {c: df[c].dtype.kind for c in df.columns}
        ka, kb = kinds(spark_df), kinds(oracle_df)
        tmism = [c for c in sorted(set(ka) & set(kb)) if ka[c] != kb[c]]
        if tmism:
            print(f"FAIL  {name}: dtype-kind mismatch "
                  f"{[(c, ka[c], kb[c]) for c in tmism]}")
            n_fail += 1; continue
        if len(spark_df) == 0 and len(oracle_df) == 0:
            # two empty results agree on nothing: the query checks nothing
            print(f"FAIL  {name}: both sides empty (vacuous oracle)")
            n_fail += 1; continue
        a, b = canon(spark_df), canon(oracle_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1; continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}"); n_fail += 1; continue
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            i = diff.idxmax()
            print(f"FAIL  {name}: value mismatch at row {i}:")
            print(f"      spark : {a.loc[i].to_dict()}")
            print(f"      oracle: {b.loc[i].to_dict()}")
            n_fail += 1; continue
        print(f"PASS  {name}: {len(a)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
