"""Iterative PageRank with the reference's exact semantics.

Reference (``functions/map/PageRankMapFunction.cc:8-43`` and
``functions/reduce/PageRankReduceFunction.cc:6-64``):

  map:    a vertex with out-degree d > 0 sends rank/d to each neighbor;
          a vertex with d == 0 (dangling) sends its whole rank to
          ITSELF.  The structural (adjacency) tuple is always re-emitted.
  reduce: new_rank(v) = sum of received contributions (0.0 when only the
          structural tuple arrived).  A vertex that receives
          contributions but has no structural tuple is CREATED with an
          empty adjacency list (PageRankReduceFunction.cc:42-53) — the
          dangling-page rule.

Note: no damping factor and no normalization — plain power iteration.

Spark-first formulation: the "reduce that merges rank tuples with the
structural tuple" is a sum-aggregate joined full-outer with the vertex
table (SURVEY §2.7 R8).  Adjacency stays a static edge relation; only
the small (vid, rank) relation iterates, exactly like the classic
Spark PageRank, so each iteration is one shuffle on vid.  The deduped
edge relation is computed once (a lazy local checkpoint) and read by
every iteration.  Under AQE the checkpoint reports no partitioning, so
each iteration's join exchanges or broadcasts it again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int,
    src: str = "src",
    dst: str = "dst",
    init_rank: float = 1.0,
) -> DataFrame:
    """Run ``iterations`` rounds of reference-rule PageRank over a
    distinct edge list.  Returns (vid long, rank double).

    Initial vertex set = distinct sources (they own structural tuples);
    destinations without structure get created by the dangling rule on
    the first iteration, after which the vertex set is stable.
    """
    # Static side of every iteration's join, computed once.  Under AQE
    # the checkpoint reports no partitioning, so a hash repartition
    # before it would be lost: each iteration's join shuffles (or
    # broadcasts) this side either way.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    # ranks: (vid, rank, deg) — deg carried in the iterating state so
    # each round needs no extra join against the degree table (created
    # dangling vertices get deg 0 and keep it; the vertex set and
    # degrees are stable after round 1, matching the reference).
    ranks = deg.select(
        F.col("src").alias("vid"),
        F.lit(float(init_rank)).alias("rank"),
        F.col("deg"),
    )

    for _ in range(iterations):
        # ONE shuffle per iteration: contributions (edge scatter +
        # dangling self-send) and the vertex skeleton (vid, deg) are
        # tagged into one union and merged by a single groupBy — the
        # exact shape of the reference reduce, which sees rank tuples
        # and the structural tuple in one key-group
        # (PageRankReduceFunction.cc:245-286).  The former
        # full-outer-join formulation shuffled twice per round.
        scatter = (
            ranks.where(F.col("deg") > 0)
            .join(e, ranks.vid == e.src)
            .select(
                F.col("dst").alias("vid"),
                (F.col("rank") / F.col("deg")).alias("c"),
                F.lit(None).cast("long").alias("d"),
            )
        )
        self_keep = ranks.where(F.col("deg") == 0).select(
            "vid", F.col("rank").alias("c"), F.lit(None).cast("long").alias("d")
        )
        skeleton = ranks.select(
            "vid", F.lit(None).cast("double").alias("c"), F.col("deg").alias("d")
        )
        merged = scatter.unionByName(self_keep).unionByName(skeleton)
        # Contribution-only vertices are CREATED with no out-edges
        # (dangling rule, PageRankReduceFunction.cc:42-53): their max(d)
        # is null -> deg 0.  Structure-only vertices sum no c -> rank 0.
        ranks = merged.groupBy("vid").agg(
            F.coalesce(F.sum("c"), F.lit(0.0)).alias("rank"),
            F.coalesce(F.max("d"), F.lit(0)).cast("long").alias("deg"),
        )
        # Break the ever-growing lineage each round (each ranks refers
        # to the previous one three times — unchecked, the plan tree
        # grows 3^iterations).
        ranks = ranks.localCheckpoint(eager=False)

    return ranks.select("vid", "rank")
