"""Check query results against DuckDB running each query's oracle SQL over
the same tables, with the type and value rules of tools/compare.py:
same column names, row count, canonical arrow types, and equal cells in
row order."""
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def canon_type(t):
    """Canonical type name; variants tools/compare.py treats as equal collapse."""
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_timestamp(t):
        return f"timestamp[tz={t.tz}]"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ", ".join(f"{t.field(i).name}: {canon_type(t.field(i).type)}"
                          for i in range(t.num_fields))
        return f"struct<{inner}>"
    return str(t)


def _equal(a, b):
    if a == b or (a is None and b is None):
        return True
    return isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)


def compare(spark_tbl, duck):
    """None when the tables match, else a one-line reason."""
    scols, dcols = sorted(spark_tbl.column_names), sorted(duck.column_names)
    if scols != dcols:
        return f"columns {scols} != {dcols}"
    if spark_tbl.num_rows != duck.num_rows:
        return f"rows {spark_tbl.num_rows} != {duck.num_rows}"
    for c in scols:
        st, dt = canon_type(spark_tbl.schema.field(c).type), canon_type(duck.schema.field(c).type)
        if st != dt:
            return f"type of {c}: {st} != {dt}"
    for c in scols:
        for i, (a, b) in enumerate(zip(spark_tbl.column(c).to_pylist(), duck.column(c).to_pylist())):
            if not _equal(a, b):
                return f"{c} row {i}: {a!r} != {b!r}"
    return None


def check_all(tables_dir, results_dir, oracle_sql, timed_rows, names):
    """[(query, reason or None)] for every name. A result must have the row
    count of the query's timed executions; rows-only queries (no oracle
    SQL) must return at least one row."""
    con = duckdb.connect()
    for f in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM read_parquet('{f}')")
    out = []
    for name in names:
        d = os.path.join(results_dir, name)
        try:
            got = pq.read_table(d)
            if got.num_rows != timed_rows.get(name):
                out.append((name, f"result has {got.num_rows} rows, timed runs {timed_rows.get(name)}"))
            elif name in oracle_sql:
                out.append((name, compare(got, con.execute(oracle_sql[name]).fetch_arrow_table())))
            else:
                out.append((name, None if got.num_rows > 0 else "no rows"))
        except Exception as e:  # unreadable output or oracle error is a failed check
            out.append((name, f"{type(e).__name__}: {e}"))
    con.close()
    return out
