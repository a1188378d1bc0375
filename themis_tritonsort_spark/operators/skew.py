"""Skew-mitigation operators.

The reference fights skew with sampled range boundaries (phase 0) and
the combiner's in-map aggregation (AggregatingHashCounter.h:285-368).
Spark gives us AQE skew-join splitting and partial aggregation for
free; what AQE does NOT fix is a single hot GROUP BY key whose partial
aggregates are still huge.  This helper implements the standard salting
pattern for that case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 32, count_col: str = "cnt"
) -> DataFrame:
    """Two-stage count for skewed keys: count per (key, salt), then sum
    per key.  The first shuffle spreads a hot key over ``salt_buckets``
    reducers; the second aggregates ``salt_buckets`` rows per key.

    (For plain counts Spark's partial aggregation usually suffices; the
    pattern matters for high-cardinality-input aggregates — collect,
    distinct-merge — where map-side partials stay large.)
    """
    salt = (F.spark_partition_id() % salt_buckets).alias("__salt")
    partial = (
        df.select(*key_cols, salt)
        .groupBy(*key_cols, "__salt")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("__c").cast("long").alias(count_col))
