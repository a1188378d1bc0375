"""Global sort with observable order (reference GraySort, §2.5 O7) and
sorted-stream merge (Q12, Merger O4).

The reference's 4-phase sort (sample boundaries -> range shuffle ->
per-partition sort -> merge oversized) is exactly Spark's
``repartitionByRange + sortWithinPartitions``: RangePartitioner *is*
phase 0, the shuffle *is* phase 1, Tungsten's external sorter *is*
phases 2/3 (``workers/sorter/Sorter.cc:49-144``,
``workers/merger/Merger.cc:47-254``).

Because the correctness gate hash-compares an unordered multiset, a
sort's output must carry its order as data.  ``with_global_rank``
attaches a global 1-based position WITHOUT a single-partition window:
it range-partitions, ranks within partitions, then offsets each
partition by the cumulative count of preceding partitions (the classic
scalable zipWithIndex, all JVM-side).  The per-partition count table is
tiny (numPartitions rows) so the offset join is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__ts_pid"
_RN = "__ts_rn"
_CNT = "__ts_cnt"
_OFF = "__ts_off"


def _with_partition_offset(
    df: DataFrame,
    order_cols: list[str | Column],
    local: Column,
    total: Column,
    out_col: str,
    num_partitions: int | None,
) -> DataFrame:
    """Range-partition ``df`` by ``order_cols``, evaluate the
    partition-local running value ``local`` (a window over ``_PID``),
    and add to it the exclusive running sum of the per-partition
    ``total`` over the preceding partitions: one range shuffle + one
    broadcast join of a numPartitions-row offset table."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism

    ranged = df.repartitionByRange(num_partitions, *order_cols)
    ranged = ranged.withColumn(_PID, F.spark_partition_id())
    # Materialize the locally ranked relation once: the totals branch
    # below otherwise re-executes the scan AND the range shuffle
    # (physical-plan exchange reuse does not fire across the two
    # branches) — one scan, one shuffle total.
    ranked = ranged.withColumn(_RN, local).localCheckpoint(eager=False)

    totals = ranked.groupBy(_PID).agg(total.alias(_CNT))
    # numPartitions rows: a global window here is fine (it is the phase-0
    # boundary metadata, not data).
    offsets = totals.withColumn(
        _OFF,
        F.coalesce(
            F.sum(_CNT).over(
                Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(_PID, _OFF)

    return (
        ranked.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, (F.col(_OFF) + F.col(_RN)).cast("long"))
        .drop(_PID, _RN, _OFF)
    )


def with_global_rank(
    df: DataFrame,
    order_cols: list[str | Column],
    rank_col: str = "pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Totally order ``df`` by ``order_cols`` (must be a total order —
    include a unique tiebreaker) and attach a global 1-based rank.

    Scale: one range shuffle + one tiny broadcast join.  No global
    window, no driver collect of data rows.
    """
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return _with_partition_offset(
        df, order_cols, F.row_number().over(w), F.count(F.lit(1)), rank_col,
        num_partitions,
    )


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach the INCLUSIVE running sum of ``value_col`` over the total
    order given by ``order_cols`` (include a unique tiebreaker) —
    the distributed prefix sum, same shape as with_global_rank: range
    shuffle + partition-local running sum + broadcast per-partition
    offsets.  No global window, no driver data collect; the offset
    table is numPartitions rows.
    """
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    running = F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return _with_partition_offset(
        df, order_cols, running, F.sum(value_col), out_col, num_partitions
    )


def merge_sorted(dfs: list[DataFrame], order_cols: list[str], rank_col: str = "pos") -> DataFrame:
    """Merge pre-sorted inputs into one totally ordered stream
    (reference merge job: SinglePartitionMergingPartitionFunction X5 +
    Merger O4, ``job_spec_generators/merge_files.py``).

    Spark-first: a k-way heap merge is how you implement this on one
    node; on a cluster the right plan is union + range-shuffle sort,
    which Tungsten executes as merge-sort over already-sorted runs.
    Columns must align across inputs.
    """
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return with_global_rank(out, order_cols, rank_col=rank_col)
