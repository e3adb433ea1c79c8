#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle check.

Usage: check_oracle.py <sfDir> <verifyOutDir>

Registers each parquet table by name, runs every SQL in
oracle_sql.json, and compares against the Spark-written parquet in
<verifyOutDir>/<name>/ — columns sorted by name, rows sorted, values
hashed. Prints PASS/FAIL per query.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # The wc_wordcount_text oracle pins the DRIVER's verify SF (sf0.01)
    # in its staged-text path — the oracle contract has no sfDir
    # parameter. When sweeping other SFs locally, rewrite the staged
    # path to the SF under test (same basename_hash scheme as
    # Staging.pathFor).
    import hashlib, pathlib
    def stage_path(d):
        ap = str(pathlib.Path(d).resolve())
        key = hashlib.md5(ap.encode()).hexdigest()[:8]
        return f"/root/repo/target/graft_text_corpus/{pathlib.Path(ap).name}_{key}"
    driver_stage = stage_path("/root/testdata/sf0.01")
    this_stage = stage_path(sf_dir)
    n_pass = n_fail = 0
    import re as _re
    def retarget(sql):
        if driver_stage != this_stage:
            sql = sql.replace(driver_stage, this_stage)
        # pointer layout (r15): the dumped SQL embeds a committed
        # `v-<nonce>` version dir — or, when the SQL was dumped before
        # the text staging committed, the `v-*` fallback glob, which
        # under one-generation retention can match a displaced sibling
        # and double-read (ADVICE r15 #1). Re-resolve EITHER form to
        # THIS stage's committed version via its _CURRENT pointer,
        # also when the SF under test is the driver's own.
        cur_file = os.path.join(this_stage, "_CURRENT")
        if os.path.exists(cur_file):
            cur = open(cur_file).read().strip()
            sql = _re.sub(_re.escape(this_stage) + r"/v-(\d+|\*)",
                          f"{this_stage}/{cur}", sql)
        return sql
    for name, sql in sorted(oracle.items()):
        sql = retarget(sql)
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"MISSING spark output: {name}")
            n_fail += 1
            continue
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        spark = pd.concat([pd.read_parquet(f) for f in sorted(spark_files)])
        d, s = canon(duck), canon(spark)
        if list(d.columns) != list(s.columns):
            print(f"FAIL {name}: columns duck={list(d.columns)} spark={list(s.columns)}")
            n_fail += 1
            continue
        if len(d) != len(s):
            print(f"FAIL {name}: rows duck={len(d)} spark={len(s)}")
            n_fail += 1
            continue
        if not d.equals(s):
            neq = (d != s).any(axis=1)
            print(f"FAIL {name}: {neq.sum()} differing rows; first:")
            idx = neq[neq].index[:3]
            print("  duck :", d.loc[idx].to_dict("records"))
            print("  spark:", s.loc[idx].to_dict("records"))
            n_fail += 1
            continue
        print(f"PASS {name} ({len(d)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
