"""Driver-style correctness sweep: Spark vs DuckDB, sorted-column
value-hash compare (uint64 views for floats, -0.0 normalized).

    python tools/driver_check.py [SF_DIR] [QUERY ...]

Sweeps every query when no names follow the scale-factor directory."""
import json, sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as e
from esda_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            v = pdf[c].astype(np.float64).to_numpy().copy()
            v[v == 0.0] = 0.0  # collapse -0.0
            pdf[c] = v
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype(np.int64)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return pdf

def vhash(pdf):
    h = 0
    for c in pdf.columns:
        v = pdf[c].to_numpy()
        if np.issubdtype(v.dtype, np.floating):
            v = v.view(np.uint64)
        b = pd.util.hash_array(np.ascontiguousarray(v)).sum()
        h ^= int(b) & ((1<<64)-1)
    return h

q = e.queries(); s = e.oracle_sql()
# the named queries, or every query; rows-only ones report NO_ORACLE below
window = sys.argv[2:] or list(q)
unknown = [k for k in window if k not in q]
if unknown:
    sys.exit(f"unknown queries: {unknown}")

spark = get_spark("check", parallelism=8, shuffle_partitions=8)
con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

fails = []
for key in window:
    if key not in s:
        print(f"{key}: NO_ORACLE (rows-only query)", flush=True)
        continue
    try:
        got = norm(q[key](spark, SF).toPandas())
        want = norm(con.sql(s[key]).df())
        ok_rows = len(got) == len(want)
        ok_schema = list(got.columns) == list(want.columns)
        ok_hash = ok_rows and ok_schema and vhash(got) == vhash(want)
        status = "OK" if (ok_rows and ok_schema and ok_hash) else \
            f"rows={ok_rows} schema={ok_schema} hash={ok_hash}"
        if status != "OK":
            fails.append((key, status))
        print(f"{key}: {status}", flush=True)
    except Exception as ex:
        fails.append((key, f"ERR {type(ex).__name__}: {ex}"))
        print(f"{key}: ERR {ex}", flush=True)
print("=== FAILS:", json.dumps(fails))
spark.stop()
