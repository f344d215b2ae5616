"""The engine's 60-bit hash, in every form an operator needs.

h60(x) is the first 15 hex digits of md5(x) read as a BIGINT: always
non-negative, and identical across Spark, DuckDB and Python, so an
operator keyed on it can be hash-checked against its DuckDB oracle and
reproduced on the driver. This module is the only place that knows the
format; operators pass the md5 argument in their own dialect's syntax.

A NULL argument hashes to NULL in both SQL forms (md5(NULL) is NULL and
the Spark/DuckDB casts propagate it), so NULL-skipping aggregates such
as ``bit_xor`` and ``min`` skip those rows on both sides.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60_sql(expr: str, dialect: str) -> str:
    """SQL text of h60(expr) for ``dialect`` "spark" or "duckdb"."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    if dialect == "duckdb":
        return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"
    raise ValueError(f"unknown SQL dialect {dialect!r}")


def h60_col(col) -> Column:
    """h60 of a Spark column (or column name) as a long column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_py(data: bytes) -> int:
    """h60 of raw bytes, computed in Python."""
    return int(hashlib.md5(data).hexdigest()[:15], 16)
