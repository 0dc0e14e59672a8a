"""DuckDB twins and the row normalisation used to compare against them.

``norm_cell``/``norm_rows`` reproduce the normalisation of the engine's
oracle gate (``tools/check_oracles.py``): floats to 9 significant digits,
timestamps to microseconds, rows order-insensitive and columns sorted by
name. They are kept here rather than imported so the benchmark measures
every commit with the same check.
"""

from __future__ import annotations

import math
from pathlib import Path


def norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def same(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Equal column-name sets and equal normalised row multisets."""
    return (sorted(cols_a) == sorted(cols_b)
            and norm_rows(cols_a, rows_a) == norm_rows(cols_b, rows_b))


class Twin:
    """A DuckDB connection with one view per parquet table in ``data``."""

    def __init__(self, data: Path, tables=(), history: Path | None = None):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data / (t + '.parquet')}')")
        if history is not None:
            self.con.execute(
                "CREATE VIEW history AS SELECT * FROM read_parquet("
                f"'{history}/**/*.parquet', hive_partitioning = true)")

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
