"""Oracle check: a query's Spark result against its ``ORACLE_SQL`` entry
run by DuckDB over the same fixture tables, compared in an
order-insensitive canonical form (columns sorted case-insensitively by
name, floats rounded to 9 places, rows sorted)."""

from __future__ import annotations

import math

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canon(cols: list[str], rows: list[tuple]) -> list[str]:
    # Case-insensitive column order with the exact name, then position,
    # as tiebreaks, so 'Username' and 'username' zip against each other.
    order = sorted(range(len(cols)), key=lambda i: (cols[i].lower(), cols[i], i))
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else (0.0 if v == 0 else round(v, 9))
            vals.append(v)
        out.append(repr(tuple(vals)))
    return sorted(out)


class Oracle:
    """DuckDB connection with one view per fixture table."""

    def __init__(self, sf_dir: str, threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def mismatch(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches the oracle, else why not."""
        rel = self.con.sql(sql)
        d_cols, d_rows = rel.columns, rel.fetchall()
        if sorted(map(str.lower, cols)) != sorted(map(str.lower, d_cols)):
            return f"columns {cols} vs {d_cols}"
        if len(rows) != len(d_rows):
            return f"row count {len(rows)} vs {len(d_rows)}"
        diffs = [(a, b) for a, b in zip(canon(cols, rows), canon(d_cols, d_rows)) if a != b]
        return f"first diffs {diffs[:2]}" if diffs else None

    def close(self) -> None:
        self.con.close()
