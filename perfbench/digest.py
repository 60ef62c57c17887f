"""Result digests shared by `run.py` (Spark results) and `pin.py` (DuckDB
oracle results).

A result is read exactly as `scripts/check.py` reads it (`frame`: pandas
`fetchdf()`, columns sorted by name, cells through `norm_cell`), then the
column names and every row are hashed in order: two results share a
digest iff check.py would call them equal.
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check import TABLES, frame  # noqa: E402


def digest(con, sql):
    """(digest, row count) of a query's result."""
    cols, rows = frame(con, sql)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for row in rows:
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest(), len(rows)


def parquet_digest(con, path):
    return digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
