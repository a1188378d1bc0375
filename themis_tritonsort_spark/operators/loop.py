"""The one lifecycle every iterative operator shares (the reference
runs each iteration through one driver loop, ``run_in_sequence``).

The round bodies differ; the steps around them do not.  This is the
only place in the package that calls ``persist``, and the one owner of
the rule that sends a graph small enough for one partition to the
driver instead of through a distributed loop.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Hold ``df`` MEMORY_AND_DISK for the block and unpersist it on
    every exit path.  A result that leaves the block must already be
    materialized (a counted or eager checkpoint): the release drops
    the blocks its lineage would read."""
    held = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield held
    finally:
        held.unpersist()


def until_converged(what: str, max_rounds: int) -> Iterator[int]:
    """Round numbers 0..max_rounds-1, then raise: a loop that must
    converge never returns a partial result.  A loop that breaks or
    returns at its fixed point never reaches the raise."""
    yield from range(max_rounds)
    raise RuntimeError(
        f"{what} did not converge in {max_rounds} rounds; "
        "raise max_iterations"
    )


def advisory_bytes(spark: SparkSession) -> int:
    """``spark.sql.adaptive.advisoryPartitionSizeInBytes`` as the
    session's SQLConf reads it: Spark's own byte-string parse ('64m',
    '1t', plain digits = bytes) and its fallback to the legacy
    ``targetPostShuffleInputSize``.  The one size a partition is
    meant to hold, for every sizing decision here."""
    entry = spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    return int(spark._jsparkSession.sessionState().conf().getConf(entry))


def driver_bytes(spark: SparkSession) -> int:
    """The most a relation may hold to be finished on the driver: the
    advisory partition size (:func:`advisory_bytes`), and never more
    than ``spark.driver.maxResultSize`` / 8.  maxResultSize is Spark's
    own limit on what one action may bring to the driver (0 = none).
    The graph kernels' numpy peak measured 3.3-5.1x the rows x width
    measure of their canonical edge pairs (1M pairs, random and chain
    graphs), plus 0.7x for the Arrow table, so under the cap the
    driver path holds less than one action may return.  At Spark's
    defaults (64m, 1g) the advisory size binds."""
    limit = advisory_bytes(spark)
    conf = getattr(spark._jvm.org.apache.spark.internal.config, "package$")
    cap = spark._jsc.sc().conf().get(getattr(conf, "MODULE$").MAX_RESULT_SIZE())
    return min(limit, int(cap) // 8) if int(cap) > 0 else limit


def driver_table(df: DataFrame, rows: int | None = None) -> pa.Table | None:
    """``df`` as an Arrow table when it fits one partition, else None.

    The reference's rule: a partition that fits runs in memory, and
    only what does not fit pays the external phase.  "Fits" is rows x
    the UnsafeRow width of the (fixed-width) columns, 8 B of null bits
    per 64 fields plus 8 B per field (24 B for two longs), against
    :func:`driver_bytes`, so no knob is added.
    The caller passes ``rows`` when an earlier job already counted
    ``df``; otherwise this counts it, so ``df`` should be materialized
    (persisted or checkpointed) for the count and the collect to share.
    """
    if rows is None:
        rows = df.count()
    n = len(df.columns)
    width = 8 * ((n + 63) // 64) + 8 * n
    if rows * width > driver_bytes(df.sparkSession):
        return None
    return df.toArrow()
