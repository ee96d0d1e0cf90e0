"""Untimed correctness check: each query's dumped result against its oracle
SQL run in DuckDB over the same derived tables. Same comparison as the
repo's DuckDB oracle gate: column-name set, row count, then the rows sorted
after aligning columns by name, exact first and with a 1e-9 relative
tolerance on floats second. A query without oracle SQL is checked for
rows only: its result must be readable."""
import decimal
import glob
import math
import os

import duckdb

import inputs


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def approx_eq(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        try:
            return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(a)))
        except (TypeError, ValueError):
            return False
    return False


def compare(con, files, sql):
    ours = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
    our_cols = [d[0] for d in con.description]
    if sql is None:
        return True, f"{len(ours)} rows (rows only)"
    theirs = con.execute(sql).fetchall()
    their_cols = [d[0] for d in con.description]
    if sorted(our_cols) != sorted(their_cols):
        return False, f"columns {sorted(our_cols)} vs oracle {sorted(their_cols)}"
    oi = [our_cols.index(c) for c in sorted(our_cols)]
    ti = [their_cols.index(c) for c in sorted(their_cols)]
    a = sorted((tuple(norm(r[i]) for i in oi) for r in ours), key=repr)
    b = sorted((tuple(norm(r[i]) for i in ti) for r in theirs), key=repr)
    if len(a) != len(b):
        return False, f"rows {len(a)} vs oracle {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb and not all(approx_eq(x, y) for x, y in zip(ra, rb)):
            cols = sorted(our_cols)
            diffs = [(cols[j], x, y) for j, (x, y) in enumerate(zip(ra, rb)) if x != y]
            return False, f"row {i} differs: {diffs[:3]}"
    return True, f"{len(a)} rows match"


def check(data_dir, dump_dir, queries, oracle_sql, dumped):
    """Returns [(query, ok, message)] for every query of the workload."""
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    out = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(dump_dir, q, "*.parquet")))
        if not dumped.get(q) or not files:
            out.append((q, False, "no result dumped"))
            continue
        try:
            ok, msg = compare(con, files, oracle_sql.get(q))
        except duckdb.Error as e:
            ok, msg = False, f"oracle error: {str(e)[:200]}"
        out.append((q, ok, msg))
    con.close()
    return out
