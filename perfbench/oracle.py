"""Output comparison for the analytics checks.

Results are compared the way the repo's DuckDB correctness gate compares
them: columns sorted by name, rows sorted by every column, values equal
exactly (floats too; NaN equals NaN).
"""
import hashlib
import math


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def _read(con, files):
    return con.execute(f"SELECT * FROM read_parquet({sorted(files)!r})").fetchdf()


def compare(con, files, sql):
    """(ok, detail): the engine's parquet output against DuckDB running `sql`."""
    try:
        got, want = _norm(_read(con, files)), _norm(con.execute(sql).fetchdf())
    except Exception as e:  # a query DuckDB cannot run is a failed check
        return False, f"error: {e}"
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _equal(g, w):
                return False, f"col {c} row {i}: engine={g!r} duckdb={w!r}"
    return True, f"{len(got)} rows"


def rows_hash(con, files):
    """Order-insensitive hash of a parquet output's rows."""
    df = _norm(_read(con, files))
    h = hashlib.sha256(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()
