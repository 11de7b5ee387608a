"""DuckDB oracle check of the engine's outputs.

Each op with an oracle query (`SparkEntry.oracleSql`) has its output
written as parquet by the run; the same query runs in DuckDB over the same
generated input tables. The comparison follows the engine's oracle gate:
same column names, same row count, same type family per column, and equal
cell values (columns in name order, rows in result order, floats compared
exactly). DuckDB results are cached per input dir, so they are computed
once per (seed, size).
"""
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gen import TABLES


def type_family(t):
    for fam, pred in (("decimal", pa.types.is_decimal), ("int", pa.types.is_integer),
                      ("float", pa.types.is_floating), ("bool", pa.types.is_boolean),
                      ("string", lambda x: pa.types.is_string(x) or pa.types.is_large_string(x)),
                      ("binary", lambda x: pa.types.is_binary(x) or pa.types.is_large_binary(x)),
                      ("date", pa.types.is_date), ("timestamp", pa.types.is_timestamp),
                      ("list", lambda x: pa.types.is_list(x) or pa.types.is_large_list(x)),
                      ("struct", pa.types.is_struct)):
        if pred(t):
            return fam
    return str(t)


def compare(spark_tbl, duck_tbl):
    """None when the tables agree, else a one-line reason."""
    s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} vs {duck_tbl.num_rows}"
    for c in s_cols:
        st, dt = spark_tbl.schema.field(c).type, duck_tbl.schema.field(c).type
        if type_family(st) != type_family(dt):
            return f"type of {c}: {st} vs {dt}"
    for c in s_cols:
        for i, (a, b) in enumerate(zip(spark_tbl.column(c).to_pylist(),
                                       duck_tbl.column(c).to_pylist())):
            if a != b:
                return f"col {c} row {i}: {a!r} vs {b!r}"
    return None


def oracle_table(con, cache_dir, name, sql):
    path = os.path.join(cache_dir, f"{name}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    tbl = con.execute(sql).fetch_arrow_table()
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return tbl


def check(check_dir, input_dir, cache_dir):
    """{op: reason} for every op whose output disagrees with its oracle."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        queries = json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, t + '.parquet')}')")
    failures = {}
    for name, sql in sorted(queries.items()):
        try:
            spark_tbl = pq.read_table(os.path.join(check_dir, name))
        except Exception as e:  # the run wrote no output for this op
            failures[name] = f"no output: {e}"
            continue
        try:
            reason = compare(spark_tbl, oracle_table(con, cache_dir, name, sql))
        except Exception as e:
            reason = f"oracle error: {e}"
        if reason:
            failures[name] = reason
    return failures
