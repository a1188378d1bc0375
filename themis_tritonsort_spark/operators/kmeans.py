"""K-means (reference Q9): Lloyd iterations with driver-held centers.

Reference (``functions/map/KMeansMapFunction.cc:188-214``,
``functions/reduce/KMeansReduceFunction.cc:300-345``): the map task
assigns each point to the nearest center by squared L2 (centers read
from a shared param file = a broadcast); the reduce computes per-cluster
element-wise means and appends the new centers back to the shared file
(= collect k*dim doubles to the driver each round).

Spark-first: assignment is a JVM-side expression over the broadcast
centers array (no Python UDF, no crossJoin row blowup — the argmin
folds over a literal array of centers), means via groupBy + per-dim
avg.  Only k*dim scalars ever hit the driver.
"""

from __future__ import annotations

from contextlib import nullcontext

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.names import sql_column
from ..functions.vectors import as_double
from .loop import persisted

# Above this many center*dim literals the expression-tree form costs
# more in analysis/codegen than the Arrow round-trip of the numpy form.
_LITERAL_BUDGET = 4096


def sql_double(x: float) -> str:
    """Exact double literal for a SQL expression string: Python's
    shortest round-trip repr through CAST(string AS DOUBLE), which the
    JVM parses correctly rounded — the folded Literal is bit-identical
    to ``F.lit(float(x))``.  Used by the single-``F.expr`` construction
    paths below (guide §4: the per-element ``F.lit`` form costs one
    py4j round trip PER NUMBER — ~0.6 s per 512-literal center set per
    loop iteration, all driver-side client overhead)."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite center component: {x!r}")
    return f"CAST('{v!r}' AS DOUBLE)"


def centers_sql(centers: list[list[float]]) -> str:
    """``array(array(...), ...)`` SQL literal for a center/codeword set
    — ONE py4j string instead of k*dim client-side ``F.lit`` calls."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(sql_double(x) for x in c) + ")"
            for c in centers
        )
        + ")"
    )


def _assign_sql(vec_col: str, centers: list[list[float]]) -> str:
    """The literal-path assignment as ONE SQL expression string —
    exactly the expression tree the per-``F.lit`` form builds (same
    zip_with/aggregate fold, same struct tie order), constructed with
    a single py4j call and parsed/folded in the JVM in milliseconds."""
    return (
        f"array_min(transform({centers_sql(centers)}, (c, i) -> "
        f"struct(aggregate(zip_with(CAST({sql_column(vec_col)} AS ARRAY<DOUBLE>), c, "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) AS d, i AS cid))).cid"
    )


def _assign_numpy(
    df: DataFrame, vec_col: str, centers: list[list[float]], out_col: str
) -> DataFrame:
    """Arrow-batched argmin for large center sets: one
    (batch x dim) @ (dim x k) matmul per batch (||v-c||^2 =
    ||v||^2 - 2 v.c + ||c||^2; ||v||^2 is constant per row so argmin
    needs only the last two terms).  numpy argmin takes the FIRST
    minimum -> lowest cid on exact ties, same rule as the literal form
    (float summation order differs, so near-ties can assign
    differently — document as the approximate-scale path)."""
    c = np.asarray(centers, dtype=np.float64)  # k x dim
    c_t = c.T
    c_sq = (c * c).sum(axis=1)  # k

    @F.pandas_udf("long")
    def nearest(vs: pd.Series) -> pd.Series:
        m = np.asarray(vs.tolist(), dtype=np.float64)
        scores = c_sq - 2.0 * (m @ c_t)  # batch x k
        return pd.Series(scores.argmin(axis=1).astype("int64"))

    return df.withColumn(out_col, nearest(as_double(F.col(vec_col))))


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centers: list[list[float]],
    out_col: str = "cluster",
    strategy: str = "auto",
) -> DataFrame:
    """Nearest-center (squared L2) assignment; ties -> lowest center id
    (matching the reference's strict-< argmin scan in id order,
    KMeansMapFunction.cc:188-214).

    strategy: 'literal' folds centers into the plan (JVM-side, exact
    left-fold arithmetic — the oracle-parity path), 'numpy' uses an
    Arrow-batched matmul (the large-k path: a 65k-cell IVF codebook
    cannot be a Catalyst literal), 'auto' picks by k*dim.

    The literal form is array_min over (dist, cid) structs computed by
    ONE transform lambda: struct ordering is lexicographic, so the min
    is the smallest distance with the lowest cid on ties, and the fold
    is compiled once regardless of k.
    """
    if strategy == "auto":
        strategy = (
            "literal"
            if len(centers) * len(centers[0]) <= _LITERAL_BUDGET
            else "numpy"
        )
    if strategy == "numpy":
        return _assign_numpy(df, vec_col, centers, out_col)
    # ONE transform lambda over a nested centers literal: the distance
    # fold is compiled once and looped over centers at eval time,
    # instead of k unrolled copies of the fold in the expression tree —
    # same arithmetic (sequential left fold per center, so bit-identical
    # to the per-center form), much cheaper analysis/codegen for large k.
    # Built as ONE F.expr string (r12, guide §4): the per-element
    # F.lit/lambda construction cost k*dim py4j round trips — ~0.6 s of
    # driver-side client time per call at k=8, dim=64, dominating every
    # Lloyd iteration — while the parsed expression tree (and therefore
    # the plan, the fold arithmetic, and the tie rule) is identical.
    return df.withColumn(out_col, F.expr(_assign_sql(vec_col, centers)))


def lloyd(
    df: DataFrame,
    vec_col: str,
    k: int,
    iterations: int,
    initial_centers: list[list[float]],
    persist_input: bool = True,
) -> tuple[DataFrame, list[list[float]]]:
    """Full Lloyd loop.  Returns (assignments DataFrame, final centers).

    Each iteration: one broadcast-expression assignment pass + one
    groupBy shuffle of (cluster, vec) -> per-dimension means.  Empty
    clusters keep their previous center (reference behavior: a center
    with no points simply gets no update appended for it).

    ``persist_input`` (default True) holds a VECTOR-ONLY projection
    of the input (:func:`~.loop.persisted`) for the iteration loop —
    the canonical Lloyd optimization: without it every iteration's
    means job re-derives the corpus from source.  Every iteration job
    is eager (the means collect), so the projection is released before
    returning; the returned assignments derive from the ORIGINAL ``df``.
    """
    dim = len(initial_centers[0])
    centers = [list(map(float, c)) for c in initial_centers]
    # Projected under an internal alias: selecting a nested ``s.v``
    # directly would surface it as a top-level ``v``.
    vecs = df.select(F.col(vec_col).alias("__v"))
    # Per-dimension means as ONE expr string (r12, guide §4): the
    # 64-call `F.avg(v[i])` construction cost ~0.5 s/iteration of py4j
    # client time; `array(avg(v[0]), ..)` is the same 64 independent
    # avg aggregates (identical partial/final arithmetic), only
    # projected into an array after aggregation.
    means_sql = (
        "array("
        + ",".join(
            f"avg(CAST(__v AS ARRAY<DOUBLE>)[{i}])" for i in range(dim)
        )
        + ") AS __ms"
    )
    held = persisted(vecs) if persist_input else nullcontext(vecs)
    with held as vecs:
        for _ in range(iterations):
            assigned = assign_clusters(vecs, "__v", centers)
            means = (
                assigned.groupBy("cluster")
                .agg(F.expr(means_sql))
                .collect()
            )
            new_centers = list(centers)
            for row in means:
                new_centers[row["cluster"]] = [
                    float(x) for x in row["__ms"]
                ]
            centers = new_centers
    return assign_clusters(df, vec_col, centers), centers
