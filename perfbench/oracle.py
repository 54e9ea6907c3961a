"""Result check against the workload's DuckDB oracles (``workload.ORACLES``).

A query's collected rows match when the column names agree (as a set), the
row counts agree, and the rows agree as a multiset after every float is
rounded to 6 places — the same rule the repository's own oracle-parity
check applies.
"""

from __future__ import annotations

import math
import os


def open_oracle(data_dir: str, tables) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v

    return sorted(
        (tuple(nv(r[i]) for i in order) for r in rows), key=repr
    )


def mismatch(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark result matches the oracle, else a reason."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if _norm(rows, cols) != _norm(drows, dcols):
        return "values differ from oracle"
    return None
