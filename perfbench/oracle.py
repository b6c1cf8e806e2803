"""Compare registry query results with their DuckDB oracle SQL.

The comparison is the repository's oracle gate (tools/oracle_check.py):
same column names, same DuckDB types, same row count, and equal cells after
sorting columns by name and rows by value, floats compared exactly.
"""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=repr)


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def _types(con, sql):
    return {r[0]: r[1].upper() for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def check(data_dir, dump_dir, oracle_sql):
    """Returns {query name: None if it matches, else the first difference}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        if not glob.glob(f"{dump_dir}/{name}/*.parquet"):
            out[name] = "no Spark result"
            continue
        spark_sql = f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')"
        try:
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
            s = con.execute(spark_sql)
            scols = [d[0] for d in s.description]
            srows = s.fetchall()
            if sorted(scols) != sorted(ocols):
                out[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
            elif len(srows) != len(orows):
                out[name] = f"rows {len(srows)} != {len(orows)}"
            elif _types(con, spark_sql) != _types(con, sql):
                out[name] = "column types differ"
            else:
                bad = next((i for i, (a, b) in enumerate(zip(_canon(srows, scols), _canon(orows, ocols)))
                            if not all(_cell_eq(x, y) for x, y in zip(a, b))), None)
                out[name] = None if bad is None else f"values differ at sorted row {bad}"
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = f"error: {str(e).splitlines()[0][:200]}"
    return out
