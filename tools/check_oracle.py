#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify, then
compare each query's parquet output against its DuckDB oracle SQL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    # every gate with output or oracle SQL counts: Verify writes no
    # directory for a gate that throws, so a gate with oracle SQL but no
    # output FAILS instead of dropping out of the denominator
    written = {d for d in os.listdir(outdir)
               if os.path.isdir(os.path.join(outdir, d))}
    declared = sorted(written | set(oracle))
    ok = bad = weak = 0
    for name in declared:
        if name not in written:
            print(f"[FAIL] {name}: no output directory (gate crashed?)"); bad += 1; continue
        files = glob.glob(os.path.join(outdir, name, "*.parquet"))
        if not files:
            print(f"[FAIL] {name}: no parquet output"); bad += 1; continue
        got = con.sql(f"SELECT * FROM read_parquet('{os.path.join(outdir,name)}/*.parquet')").df()
        if name not in oracle:
            status = "rows>0" if len(got) > 0 else "EMPTY"
            print(f"[weak] {name}: no oracle, rows={len(got)} ({status})")
            weak += 1
            if len(got) == 0: bad += 1
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}"); bad += 1; continue
        # driver semantics: sort columns by name, then compare values
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            print(f"[FAIL] {name}: column mismatch got={gcols} exp={ecols}"); bad += 1; continue
        g, e = got[gcols], exp[ecols]
        if len(g) != len(e):
            print(f"[FAIL] {name}: row count {len(g)} vs {len(e)}"); bad += 1; continue
        import pandas as pd
        gs = g.sort_values(by=gcols, kind="mergesort").reset_index(drop=True)
        es = e.sort_values(by=ecols, kind="mergesort").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(gs, es, check_dtype=False, check_exact=True)
            # the driver's hash is dtype-sensitive (r1: DuckDB HUGEINT vs
            # Spark int64) — flag dtype drift even when values match
            dt = [(c, str(gs[c].dtype), str(es[c].dtype)) for c in gcols
                  if str(gs[c].dtype) != str(es[c].dtype)]
            if dt:
                print(f"[FAIL] {name}: values equal but dtype mismatch {dt}")
                bad += 1
            else:
                print(f"[ ok ] {name}: rows={len(g)}"); ok += 1
        except AssertionError as ex:
            first = str(ex).split("\n")
            print(f"[FAIL] {name}: value mismatch: {' / '.join(first[:4])}")
            bad += 1
    print(f"\n{ok} ok, {weak} weak (no oracle), {bad} FAILED of {len(declared)} queries")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
