"""DuckDB oracle for the batch workloads, compared the way tools/check.py
compares: columns sorted by name, rows normalised (doubles at %.9g) and
sorted, and no int/float drift between the Spark output's declared types
and the oracle's. Expected results depend only on the fixtures, so they are
computed once per build and kept as a digest of the normalised rows.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq
import pyarrow.types as patypes

TABLES = ["events", "orders", "lineitem", "documents"]
FLOAT_TYPES = ("FLOAT", "DOUBLE", "REAL", "FLOAT4", "FLOAT8")


def norm(v):
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def summary(df):
    """Column names, row count and digest of a result frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(norm(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return {"columns": list(df.columns), "rows": len(rows), "digest": h}


def connect(fixtures):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    return con


def expected(fixtures, sql_by_name, out_dir):
    """Run each oracle SQL once and keep its summary and output types."""
    os.makedirs(out_dir, exist_ok=True)
    con = connect(fixtures)
    for name, sql in sql_by_name.items():
        s = summary(con.execute(sql).fetchdf())
        s["floaty"] = {r[0]: str(r[1]).upper() in FLOAT_TYPES
                       for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump(s, f)


def compare(name, output_dir, expected_dir):
    """None when the Spark output matches the oracle, else the reason."""
    files = sorted(glob.glob(f"{output_dir}/*.parquet"))
    if not files:
        return "no output"
    with open(os.path.join(expected_dir, name + ".json")) as f:
        exp = json.load(f)
    got = summary(duckdb.connect().execute(
        f"SELECT * FROM parquet_scan('{output_dir}/*.parquet')").fetchdf())
    if got["columns"] != exp["columns"]:
        return f"columns {got['columns']} vs {exp['columns']}"
    drift = [f.name for f in pq.read_schema(files[0])
             if (patypes.is_integer(f.type) or patypes.is_floating(f.type))
             and f.name in exp["floaty"]
             and patypes.is_floating(f.type) != exp["floaty"][f.name]]
    if drift:
        return f"int/float drift in {drift}"
    if got["rows"] != exp["rows"]:
        return f"rows {got['rows']} vs {exp['rows']}"
    if got["digest"] != exp["digest"]:
        return "row values differ"
    return None
