"""DuckDB oracle check of the inventory's cold-pass results.

Same rule as the repo's differential checker: column names (sorted), DuckDB
logical column types, row count, then every cell in row order, floats
compared exactly. A query whose result is missing or unreadable fails.
"""
import glob
import json
import math

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def check(data_dir, out_dir):
    """Return {query: failure message} for every mismatching query."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/results/{name}/*.parquet"))
        if not files:
            failures[name] = "no result parquet"
            continue
        try:
            s_q = con.sql("SELECT * FROM read_parquet($files)", params={"files": files})
            s_cols, s_types, s_rows = list(s_q.columns), [str(t) for t in s_q.types], s_q.fetchall()
            d_q = con.sql(sql)
            d_cols, d_types, d_rows = list(d_q.columns), [str(t) for t in d_q.types], d_q.fetchall()
        except Exception as ex:  # an unreadable result or a broken oracle is a failure
            failures[name] = str(ex)
            continue
        msg = compare(s_rows, s_cols, s_types, d_rows, d_cols, d_types)
        if msg:
            failures[name] = msg
    return failures


def compare(s_rows, s_cols, s_types, d_rows, d_cols, d_types):
    """Empty string when equal, else what differs first."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    cols = sorted(s_cols)
    for c in cols:
        st, dt = s_types[s_cols.index(c)], d_types[d_cols.index(c)]
        if st != dt:
            return f"column {c} type differs: spark={st} duck={dt}"
    if len(s_rows) != len(d_rows):
        return f"row counts differ: spark={len(s_rows)} duck={len(d_rows)}"
    s_ix = [s_cols.index(c) for c in cols]
    d_ix = [d_cols.index(c) for c in cols]
    for rn, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for c, si, di in zip(cols, s_ix, d_ix):
            if not cell_eq(sr[si], dr[di]):
                return f"row {rn} col {c}: spark={sr[si]!r} duck={dr[di]!r}"
    return ""


def cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb
    if isinstance(a, (int, str, bool)) or isinstance(b, (int, str, bool)):
        return a == b
    return str(a) == str(b)
