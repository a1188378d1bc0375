"""Hash-stable numeric helpers for cross-engine comparison.

Floating-point SUM order differs between engines (Spark partial
aggregation vs DuckDB), so any double aggregate is hash-fragile.  The
driver's correctness gate hash-compares values; these helpers convert
money/quantity doubles to exact integer domains *per row* (deterministic
regardless of summation order) so aggregates compare exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Money double -> exact integer cents (per-row, order-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def ppm(col: Column | str) -> Column:
    """Double -> parts-per-million bigint (used for rank values etc.)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 1_000_000).cast("long")


def md5_60(col: Column) -> Column:
    """The 60-bit integer from the first 15 hex digits of md5(col): the
    hash family of every deterministic sampler, sketch and MinHash here,
    because any engine reproduces it (DuckDB spells it
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# DuckDB SQL spellings of the same conversions (sum(bigint) is HUGEINT in
# DuckDB, so oracle SQL must CAST the final sum back to BIGINT).
CENTS_SQL = "CAST(ROUND({col} * 100) AS BIGINT)"
PPM_SQL = "CAST(ROUND({col} * 1000000) AS BIGINT)"
