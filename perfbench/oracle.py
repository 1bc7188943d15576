"""Compares query results with the engine's DuckDB oracle SQL.

The benchmark's warm-up pass writes each query's result as parquet plus a
manifest (``oracle.json``: tables directory, results directory, and each
query's ``SparkEntry.oracleSql``). Each oracle runs in DuckDB over the same
generated tables, and is compared with the helpers of the repo's own
oracle harness, ``tools/check_oracle.py``: columns by name, column types,
row count, rows as sorted multisets, values exactly.
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon, eq, types_of  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents"]


def compare(query, con, results_dir, sql):
    """Returns None if the result matches the oracle, else the reason."""
    spark_sql = f"SELECT * FROM '{results_dir}/{query}/*.parquet'"
    s = con.execute(spark_sql)
    s_cols = [d[0] for d in s.description]
    s_rows = s.fetchall()
    d = con.execute(sql)
    d_cols = [x[0] for x in d.description]
    d_rows = d.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns: engine {sorted(s_cols)}, oracle {sorted(d_cols)}"
    s_types, d_types = types_of(con, spark_sql), types_of(con, f"({sql})")
    bad = [(c, s_types.get(c), d_types.get(c)) for c in sorted(s_cols)
           if s_types.get(c) != d_types.get(c)]
    if bad:
        return f"column types (name, engine, oracle): {bad}"
    if len(s_rows) != len(d_rows):
        return f"rows: engine {len(s_rows)}, oracle {len(d_rows)}"
    for i, (a, b) in enumerate(zip(canon(s_rows, s_cols), canon(d_rows, d_cols))):
        if not all(eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: engine {a}, oracle {b}"
    return None


def check_manifest(path):
    """Runs every oracle of a manifest; returns {query: reason} for failures
    and the number of queries compared."""
    with open(path) as f:
        m = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{m['tables']}/{t}.parquet/*.parquet'")
    fails = {}
    for q, sql in m["queries"].items():
        try:
            why = compare(q, con, m["results"], sql)
        except Exception as e:  # an oracle or a result that cannot be read fails the check
            why = f"error: {e}"
        if why:
            fails[q] = why
    return fails, len(m["queries"])
