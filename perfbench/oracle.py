"""Output checks against DuckDB, run outside every timed region.

Rows are compared order-insensitively after the same normalisation the
repository's oracle harness applies: columns sorted by name, floats
rounded to 9 places with -0.0 folded into 0.0, NaN spelled out.
"""

from __future__ import annotations

import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def norm_rows(cols, rows) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    return sorted(cols_a) == sorted(cols_b) and norm_rows(cols_a, rows_a) == norm_rows(
        cols_b, rows_b
    )


def close_rows(cols_a, rows_a, cols_b, rows_b, rel: float = 1e-9) -> bool:
    """Order-insensitive equality with a relative tolerance on floats, for
    sums of doubles that two engines fold in different orders."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    order = sorted(cols_a)
    ia = [list(cols_a).index(c) for c in order]
    ib = [list(cols_b).index(c) for c in order]

    def key(row):
        return tuple(repr(v) for v in row if not isinstance(v, float))

    a = sorted((tuple(r[i] for i in ia) for r in rows_a), key=key)
    b = sorted((tuple(r[i] for i in ib) for r in rows_b), key=key)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


def connect(data_dir: str, threads: int = 2):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'"
        )
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
