"""Rehearse the driver's CORRECTNESS gate on the current _PRIORITY
prefix (or on names passed as argv): run queries()[name] and oracle_sql()[name] at sf0.01, then
canonicalize BOTH results the way the r05 traceback shows the driver
does (pandas DataFrame -> sort_values on all columns -> per-column
factorize) and compare codes + uniques. Catches list cells, dtype-path
divergence (HUGEINT/decimal), and NaN-ordering surprises that
check_oracle's tuple compare may coerce away."""
import datetime
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
from local_data_pipeline_spark.session import TABLES, get_spark

SF = "/root/testdata/sf0.01"

def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    out = {}
    for c in df.columns:
        codes, uniques = pd.factorize(df[c], use_na_sentinel=True)
        # normalize uniques to python objects w/ float unification
        u = []
        for v in list(uniques):
            if isinstance(v, (np.integer,)):
                u.append(int(v))
            elif isinstance(v, (np.floating, float)):
                u.append(round(float(v), 9))
            elif isinstance(v, datetime.date) or isinstance(v, pd.Timestamp):
                # Spark collect() yields datetime.date for DATE columns
                # while duckdb .df() yields Timestamp(midnight); the
                # driver hash-matched such pairs (holt_winters r05), so
                # unify here too.
                u.append(pd.Timestamp(v))
            else:
                u.append(v)
        out[c] = (codes.tolist(), u)
    return out

spark = get_spark(app_name="rehearse")
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs = entry.queries(); oracles = entry.oracle_sql()
names = sys.argv[1:] or list(qs)[:50]
bad = 0
for name in names:
    try:
        sdf = qs[name](spark, SF)
        spdf = pd.DataFrame([r.asDict() for r in sdf.collect()], columns=sdf.columns)
        if name not in oracles:
            # rows-only query: no twin to compare, but the Spark result
            # must still survive the driver's pandas canonicalization
            # (factorize throws on list/dict cells, mixed dtypes, ...).
            canon(spdf)
            print(f"ROWS  {name} ({len(spdf)} rows, canonicalized ok)")
            continue
        opdf = con.sql(oracles[name]).df()
        c1, c2 = canon(spdf), canon(opdf)
        if list(c1) != list(c2):
            print(f"COLS  {name}: {list(c1)} vs {list(c2)}"); bad += 1; continue
        mism = [c for c in c1 if c1[c] != c2[c]]
        if mism:
            print(f"HASH  {name}: mismatched cols {mism}")
            for c in mism[:1]:
                a,b = c1[c], c2[c]
                print("   spark uniques[:5]:", a[1][:5])
                print("   duck  uniques[:5]:", b[1][:5])
            bad += 1
        else:
            print(f"OK    {name} ({len(spdf)} rows)")
    except Exception as e:
        print(f"ERR   {name}: {str(e)[:200]}"); bad += 1
print(f"\n{bad} problems over {len(names)}")
sys.exit(1 if bad else 0)
