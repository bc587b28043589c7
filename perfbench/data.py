"""Seeded benchmark inputs.

``perfbench/base`` holds the repo's sf0.01 synthetic tables (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``). A run's
inputs are a row-order permutation of every base table chosen by the
seed: the same seed always gives the same files, and every seed gives the
same multiset of rows, so the DuckDB oracle's answers do not depend on the
seed while any output that depends on input row order does.
"""

from __future__ import annotations

import os

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def generate(seed: int, out_dir: str) -> dict[str, dict[str, int]]:
    """Write each base table to ``out_dir`` with its rows in the order
    of ``hash(row number, seed)`` and return ``{table: {rows, bytes}}``.

    DuckDB runs single-threaded so file layout (one row group per table,
    as in the base files) is the same on every call.
    """
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        stats = {}
        for t in TABLES:
            src = os.path.join(BASE_DIR, f"{t}.parquet")
            dst = os.path.join(out_dir, f"{t}.parquet")
            con.execute(
                f"COPY (SELECT * EXCLUDE (file_row_number) "
                f"FROM read_parquet('{src}', file_row_number = true) "
                f"ORDER BY hash(file_row_number, {int(seed)}::BIGINT), file_row_number"
                f") TO '{dst}' (FORMAT PARQUET)"
            )
            rows = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
            stats[t] = {"rows": int(rows), "bytes": os.path.getsize(dst)}
        return stats
    finally:
        con.close()
