#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Runs each oracle SQL from <outdir>/oracle_sql.json against the testdata parquet
tables, loads the corresponding Spark result parquet, sorts columns by name and
rows by all columns, and compares values (exact for non-floats, tiny tolerance
report for floats so we can see how close the hash-match would be).

Each PASS/FAIL line whose Spark result loaded ends in `md5=<hex>`, a digest of
that result's column names, dtypes and sorted rows. Run the script on the
outputs of two builds and `diff` the two listings to see which gates moved.
"""
import hashlib, json, math, sys
import duckdb

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def digest(df):
    """md5 over column names, dtypes and rows (df already sorted by all columns).
    itertuples yields Python scalars, whose repr is exact (floats round-trip)."""
    h = hashlib.md5(repr([(c, str(t)) for c, t in df.dtypes.items()]).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            bad += 1
            continue
        try:
            act = duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            bad += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        act = act.reindex(sorted(act.columns), axis=1)
        act = act.sort_values(by=list(act.columns), na_position="first").reset_index(drop=True)
        md5 = f"md5={digest(act)}"
        if list(exp.columns) != list(act.columns):
            print(f"FAIL {name}: columns differ: oracle={list(exp.columns)} spark={list(act.columns)} {md5}")
            bad += 1
            continue
        if len(exp) != len(act):
            print(f"FAIL {name}: rows differ: oracle={len(exp)} spark={len(act)} {md5}")
            bad += 1
            continue
        exp = exp.sort_values(by=list(exp.columns), na_position="first").reset_index(drop=True)
        mism = []
        for c in exp.columns:
            ev = [norm(v) for v in exp[c].tolist()]
            av = [norm(v) for v in act[c].tolist()]
            for i, (e, a) in enumerate(zip(ev, av)):
                same = (e == a) or (e is None and a is None) or \
                    (isinstance(e, float) and isinstance(a, float) and
                     (e == a or abs(e - a) < 1e-9)) or \
                    (e != e and a != a)  # both NaN-ish for pandas NaT etc
                try:
                    import pandas as pd
                    if pd.isna(e) and pd.isna(a):
                        same = True
                except Exception:
                    pass
                if not same:
                    mism.append((c, i, e, a))
                    break
        if mism:
            print(f"FAIL {name}: first mismatches: {mism[:3]} {md5}")
            bad += 1
        else:
            print(f"PASS {name} ({len(exp)} rows, {len(exp.columns)} cols) {md5}")
            ok += 1
    print(f"== {ok} pass / {bad} fail ==")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
