"""The one lifecycle every iterative operator shares (the reference
runs each iteration through one driver loop, ``run_in_sequence``).

The round bodies differ; these two steps around them do not.  This is
the only place in the package that calls ``persist``.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
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
