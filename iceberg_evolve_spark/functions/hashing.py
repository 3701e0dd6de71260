"""Portable deterministic hashing shared by the dedup/fingerprint operators.

The 60-bit hash is defined as: take the first 15 hex chars of ``md5(s)`` and read
them as an unsigned integer. It is engine-portable — the same value is computable
in Spark (``conv(substr(md5(s),1,15),16,10)``) and in DuckDB
(``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``) — which is what lets the DuckDB
oracle check MinHash/SimHash results *bit-for-bit* instead of rows-only.

60 bits (not 64) so the value always fits in a signed BIGINT in both engines.
md5 is used as a uniform mixer, not for security.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Seed separator — chosen to never occur in whitespace-tokenized text.
SEP = "|#|"


def hash60(col: Column | str) -> Column:
    """60-bit portable hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash60_seeded(col: Column | str, seed: int) -> Column:
    """Seeded variant: hash60(s + SEP + seed) — one independent-ish hash family
    member per seed, as used by MinHash."""
    c = F.col(col) if isinstance(col, str) else col
    return hash60(F.concat(c, F.lit(f"{SEP}{seed}")))


def hash60_sql(expr: str) -> str:
    """DuckDB SQL text computing the identical value (for oracle queries)."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
