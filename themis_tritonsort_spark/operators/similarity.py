"""Similarity search over embedding columns (beyond-reference).

  brute_force_topk — exact cosine top-k: broadcast the (small) query
      set against the corpus, JVM-side fold for the dot product, window
      rank per query.  The baseline and the oracle-checkable path.
  ivf_topk — IVF-style pruned search: cluster the corpus once (k-means
      centroids), then probe only the nprobe nearest centroids per
      query.  The 100 TB path: candidate set shrinks by
      ~nprobe/n_centroids, at a recall cost; exact within probed cells.

Embeddings are array<float>; all math is done in double with a
deterministic left-fold (see functions.vectors) so results are
reproducible across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, icos_ppm, idot, micro_quantize
from .dedup import cap_hot_buckets, lsh_candidate_pairs
from .kmeans import assign_clusters
from .loop import persisted


def _top_k(
    candidates: DataFrame, score: Column, k: int, *extra: Column
) -> DataFrame:
    """The *_topk tail: rank each query's candidates 1..k by descending
    ``score`` (kept as ``__cos``), ties by ascending neighbor id, and
    return (query_id, neighbor_id, rank, *extra)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("__cos", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            *extra,
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k for each query vector.

    Returns (query_id, neighbor_id, rank) with rank 1..k by descending
    cosine, ties broken by ascending neighbor id.  The query side is
    broadcast (it is small by construction); the corpus side streams —
    no shuffle of the corpus at all, and the per-query top-k heap is the
    window aggregate, which AQE executes partially per partition.

    The ranking cosine is the ENGINE-EXACT micro-quantized cos_ppm
    (functions.vectors.micro_quantize / icos_ppm — exact integer dots,
    one deterministic IEEE division): a float fold's last ppm depends
    on summation order across engines, and a rank is exactly the kind
    of output a 1-ppm flip silently reorders.  ppm resolution tie
    groups are broken by the ascending-id rule, so the ranking is
    bit-reproducible by any SQL engine.  Zero-norm vectors (no
    direction) are excluded from both sides.
    """
    from ..functions.vectors import icos_ppm

    qid = query_id_col or id_col
    q = _micro_sided(queries, qid, vec_col, "query_id").withColumnsRenamed(
        {"__q": "__qq", "__n": "__qn"}
    )
    joined = _micro_sided(corpus, id_col, vec_col, "neighbor_id").crossJoin(
        F.broadcast(q)
    )
    joined = joined.where(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(
        joined,
        icos_ppm(F.col("__q"), F.col("__n"), F.col("__qq"), F.col("__qn")),
        k,
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding-model training:
    for each query (anchor), the top-k most-cosine-similar corpus items
    whose label DIFFERS from the anchor's — the negatives that sit
    closest to the decision boundary and carry the most gradient
    signal (the standard mining step behind dense retrievers and
    contrastive encoders).

    Returns (query_id, neighbor_id, rank, cos_ppm), rank 1..k by
    descending cosine, ties by ascending neighbor id.  Same plan shape
    as brute_force_topk — the anchor set broadcasts (it is small by
    construction: you mine for a training batch, not the corpus), the
    corpus streams with no shuffle, and the per-anchor top-k is a
    partial window aggregate.  The label inequality prunes BEFORE the
    cosine is computed, so same-label pairs cost a comparison, not a
    fold.

    cos_ppm is the engine-exact micro-quantized cosine (see
    brute_force_topk) — both the emitted value and the rank it orders
    are bit-reproducible across engines.  Zero-norm vectors are
    excluded from both sides."""
    from ..functions.vectors import icos_ppm, idot, micro_quantize

    qid = query_id_col or id_col
    q = (
        queries.select(
            F.col(qid).alias("query_id"),
            micro_quantize(F.col(vec_col)).alias("__qq"),
            F.col(label_col).alias("__qlab"),
        )
        .withColumn("__qn", idot(F.col("__qq"), F.col("__qq")))
        .where(F.col("__qn") > 0)
    )
    joined = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            micro_quantize(F.col(vec_col)).alias("__q"),
            F.col(label_col).alias("__clab"),
        )
        .withColumn("__n", idot(F.col("__q"), F.col("__q")))
        .where(F.col("__n") > 0)
        .crossJoin(F.broadcast(q))
        .where(F.col("__clab") != F.col("__qlab"))
    )
    return _top_k(
        joined,
        icos_ppm(F.col("__q"), F.col("__n"), F.col("__qq"), F.col("__qn")),
        k,
        F.col("__cos").alias("cos_ppm"),
    )


def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-center / farthest-point traversal (Gonzalez 1985) —
    the diverse-subset selection step of a training-data pipeline:
    pick the item farthest (min squared-L2 distance to the already
    chosen set, maximized) from the current selection, k times,
    seeded with the smallest id.  A 2-approximation to the k-center
    objective and the standard coreset/diversity heuristic.

    Returns (sel_rank, id, dist_micro): selection order 1..k and the
    row's min squared distance to the prior selection at the moment it
    was chosen (micro-units; 0 for the seed).

    Scale shape: k passes over the corpus, each a narrow projection
    (squared-L2 to ONE new center, literal-folded into codegen like
    k-means assignment) plus a 1-row argmax reduce — no shuffle of the
    corpus, driver state is k centers (the same centers-sized collect
    budget as Lloyd iterations).  Distances are quantized to integer
    micros BEFORE the argmax so the selection is reproducible across
    engines (ties broken by ascending id), making the whole greedy
    trajectory oracle-checkable.

    Each step's distance expression is ONE F.expr string (r12, guide
    §4): the per-element ``F.lit`` center array cost dim py4j round
    trips per step of driver-side client time; the parsed fold is the
    identical l2_sq (zip_with + sequential aggregate) * 1e6 rounding."""
    from .kmeans import sql_double

    base = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    ).where(F.col("__v").isNotNull())
    spark = df.sparkSession
    schema = "sel_rank long, id long, dist_micro long"
    with persisted(base) as base:
        seed = base.orderBy("__id").limit(1).collect()
        if not seed:
            return spark.createDataFrame([], schema=schema)
        chosen = [(1, int(seed[0]["__id"]), 0)]
        center = seed[0]["__v"]
        cur = base.withColumn("__md", F.lit(None).cast("long"))
        for step in range(2, k + 1):
            c_sql = "array(" + ",".join(sql_double(x) for x in center) + ")"
            d_new = F.expr(
                f"CAST(round(aggregate(zip_with(CAST(`__v` AS ARRAY<DOUBLE>), "
                f"{c_sql}, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + x) * 1000000.0D, 0) AS BIGINT)"
            )
            cur = cur.withColumn("__md", F.least(F.coalesce("__md", d_new), d_new))
            cur = cur.where(~F.col("__id").isin([c[1] for c in chosen[-1:]]))
            # lineage stays k-deep (k is small); localCheckpoint if k grows
            top = cur.orderBy(F.col("__md").desc(), F.col("__id").asc()).limit(1).collect()
            if not top:
                break  # fewer than k rows: the whole corpus is selected
            chosen.append((step, int(top[0]["__id"]), int(top[0]["__md"])))
            center = top[0]["__v"]
    return spark.createDataFrame(chosen, schema=schema)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    query_id_col: str | None = None,
) -> DataFrame:
    """Cosine top-k over int8 scalar-quantized vectors — the
    embedding-compression search path (functions.vectors.sq8_quantize).

    Same join/rank shape as brute_force_topk, but both sides are
    quantized map-side BEFORE the join: the per-row payload crossing
    the broadcast is 8 bytes/dim -> 1 byte-ish/dim, and the scoring
    inner loop is an exact integer dot product (idot) with one final
    double normalization.  At 100 TB this is what makes the scan side
    memory-bandwidth-bound instead of FLOP-bound; recall loss vs the
    exact path is the quantization error only.

    Zero vectors (no direction) are excluded from both sides.  Returns
    (query_id, neighbor_id, rank), ties by ascending neighbor id —
    integer dot products tie more often than exact cosines, and the
    tiebreak keeps the result deterministic across engines.
    """
    from ..functions.vectors import idot, sq8_quantize

    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), sq8_quantize(F.col(vec_col)).alias("__qq")
    ).withColumn("__qn", idot(F.col("__qq"), F.col("__qq")))
    q = q.where(F.col("__qn") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        sq8_quantize(F.col(vec_col)).alias("__cq"),
    ).withColumn("__cn", idot(F.col("__cq"), F.col("__cq")))
    c = c.where(F.col("__cn") > 0)
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _top_k(
        joined,
        idot(F.col("__cq"), F.col("__qq")).cast("double")
        / (F.sqrt(F.col("__cn").cast("double")) * F.sqrt(F.col("__qn").cast("double"))),
        k,
    )


def _probed_cells(
    queries: DataFrame,
    qid: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """(query_id, __qvec, cell): each query's ``nprobe`` nearest cells
    by the same literal-fold distance and (distance, cell-id) tie order
    as assign_clusters — so the probe set is bit-consistent with the
    corpus's cell assignment.

    The per-centroid struct array is ONE F.expr string (r12, guide §4):
    the per-center ``_dist_sq`` construction cost k*dim py4j round
    trips of driver-side client time; the parsed transform builds the
    identical (d, cell) structs (same fold, same int cell ids)."""
    from .kmeans import centers_sql

    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("__qvec"))
    cells_sql = (
        f"transform({centers_sql(centroids)}, (c, i) -> "
        f"struct(aggregate(zip_with(CAST(`__qvec` AS ARRAY<DOUBLE>), c, "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) AS d, i AS cell))"
    )
    dists = q.select(
        "query_id",
        "__qvec",
        F.expr(cells_sql).alias("__cells"),
    )
    return dists.select(
        "query_id",
        "__qvec",
        F.explode(F.slice(F.array_sort("__cells"), 1, nprobe)).alias("__pc"),
    ).select("query_id", "__qvec", F.col("__pc.cell").alias("cell"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: list[list[float]],
    nprobe: int = 2,
    query_id_col: str | None = None,
    cell_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` cells (by centroid
    distance) per query.  Same output shape as brute_force_topk; recall
    < 1 by design.  Corpus is assigned to cells once — at scale this is
    the partition/bucketing key (see build_ivf_storage /
    ivf_topk_pruned), so a probe touches ~nprobe/len(centroids) of the
    data.

    ``cell_col`` names a pre-computed cell-assignment column on the
    corpus (e.g. the partition column of an IVF storage table); when
    absent, cells are assigned in-plan from the centroid literals.

    The within-cell ranking cosine is the engine-exact micro-quantized
    cos_ppm (see brute_force_topk); cell assignment / probe selection
    keep the literal-fold float L2 of assign_clusters (both engines
    replay the identical expression, and an argmin over well-separated
    centroid distances is far from rounding boundaries — unlike a
    ppm-rounded rank).  Zero-norm corpus vectors are excluded.
    """
    from ..functions.vectors import icos_ppm, idot, micro_quantize

    qid = query_id_col or id_col
    if cell_col is None:
        assigned = assign_clusters(corpus, vec_col, centroids, out_col="cell")
        cell_src = "cell"
    else:
        assigned = corpus
        cell_src = cell_col
    cells = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            micro_quantize(F.col(vec_col)).alias("__q"),
            F.col(cell_src).alias("cell"),
        )
        .withColumn("__n", idot(F.col("__q"), F.col("__q")))
        .where(F.col("__n") > 0)
    )

    probed = _probed_cells(queries, qid, vec_col, centroids, nprobe).select(
        "query_id",
        "cell",
        micro_quantize(F.col("__qvec")).alias("__qq"),
    ).withColumn("__qn", idot(F.col("__qq"), F.col("__qq"))).where(
        F.col("__qn") > 0
    )

    joined = cells.join(F.broadcast(probed), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _top_k(
        joined,
        icos_ppm(F.col("__q"), F.col("__n"), F.col("__qq"), F.col("__qn")),
        k,
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: every (id_a < id_b) with
    cosine >= threshold.  Output (id_a, id_b, cos_ppm).

    This is the exact baseline — the candidate space IS O(n^2) by
    definition (hyperplane_lsh_neardup is the approximate 100 TB
    path) — but the n^2 work is organized as a block-pair matmul, not
    a theta self-join: rows are hashed into ``n_blocks`` blocks, each
    row is replicated to the ``n_blocks`` block-pairs it belongs to
    (communication n*B rows, quadratic only in compute, never in
    shuffle), and each (p, q) group computes its cross-block cosine
    matrix with ONE Arrow-batched numpy matmul instead of a codegen'd
    per-pair array fold — on dim-64 vectors this is ~100x less
    per-pair overhead.  The matmul PREFILTER runs over the SAME
    micro-quantized vectors the exact rescore uses, so its only gap
    vs the integer cos_ppm is the final half-up rounding (< 1 ppm)
    plus float matmul noise — a 2e-6 slack covers it for ANY input
    norms (a float-vs-quantized slack would depend on the corpus's
    norm distribution).  Survivors (a tiny fraction by construction —
    they are the near-duplicates) are re-scored with the ENGINE-EXACT
    integer cosine (functions.vectors.icos_ppm), and the threshold is
    applied to the integer cos_ppm — so both the emitted values and
    the boundary pairs are bit-identical on any engine (a float
    fold's last ppm depends on summation order, and a threshold is
    exactly where that flips a row in or out).

    Each unordered pair is scored exactly once: a cross-block pair
    {x, y} lands in the single group (min_blk, max_blk), and
    same-block pairs take the index upper triangle.
    """
    from ..functions.vectors import icos_ppm

    quant = _micro_sided(df, id_col, vec_col, "__id")
    b = int(n_blocks)
    # Row with block k joins every pair (p, q), p <= q, with p==k or
    # q==k: (k, q) for q in k..B-1 plus (p, k) for p in 0..k-1.
    # NB sequence(0, __blk - 1) would be DESCENDING [0, -1] for block 0
    # (Spark auto-negates the step), duplicating the (0, 0) membership —
    # generate 0..__blk and filter the self entry instead.
    membership = F.expr(
        f"concat("
        f"  transform(sequence(__blk, {b - 1}),"
        f"            q -> struct(__blk as p, q as q)),"
        f"  filter(transform(sequence(0, __blk),"
        f"                   p -> struct(p as p, __blk as q)),"
        f"         s -> s.p < __blk))"
    )
    blocked = (
        quant.withColumn("__blk", F.pmod(F.xxhash64("__id"), F.lit(b)).cast("int"))
        .withColumn("__pq", F.explode(membership))
        .select("__id", "__q", "__blk", F.col("__pq.p").alias("p"), F.col("__pq.q").alias("q"))
    )
    # prefilter slack: icos_ppm >= t_ppm iff the quantized cosine is
    # >= (t_ppm - 0.5) / 1e6, i.e. within 1 ppm of the threshold;
    # float64 matmul noise on exactly-representable int64 inputs is
    # orders below that.  2e-6 therefore bounds the gap for any norms.
    slack = float(threshold) - 2e-6

    def block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = key
        a_side = pdf[pdf["__blk"] == p]
        b_side = a_side if p == q else pdf[pdf["__blk"] == q]
        if a_side.empty or b_side.empty:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64")})
        # the quantized ints are exactly representable in float64, so
        # this is the same cosine the integer rescore computes, up to
        # matmul rounding noise
        ma = np.asarray(a_side["__q"].tolist(), dtype=np.float64)
        mb = ma if p == q else np.asarray(b_side["__q"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            ua = ma / np.linalg.norm(ma, axis=1, keepdims=True)
            ub = ua if p == q else mb / np.linalg.norm(mb, axis=1, keepdims=True)
            mask = ua @ ub.T >= slack
        if p == q:
            # index upper triangle: each unordered pair once
            mask = np.triu(mask, k=1)
        ii, jj = np.nonzero(mask)
        ids_a = a_side["__id"].to_numpy()[ii]
        ids_b = b_side["__id"].to_numpy()[jj]
        return pd.DataFrame({
            "id_a": np.minimum(ids_a, ids_b),
            "id_b": np.maximum(ids_a, ids_b),
        })

    cand = blocked.groupBy("p", "q").applyInPandas(
        block_pairs, schema="id_a long, id_b long"
    )
    va = quant.select(
        F.col("__id").alias("id_a"),
        F.col("__q").alias("__qa"),
        F.col("__n").alias("__na"),
    )
    vb = quant.select(
        F.col("__id").alias("id_b"),
        F.col("__q").alias("__qb"),
        F.col("__n").alias("__nb"),
    )
    ppm_threshold = int(round(float(threshold) * 1e6))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_ppm",
            icos_ppm(
                F.col("__qa"), F.col("__na"), F.col("__qb"), F.col("__nb")
            ),
        )
        .where(F.col("cos_ppm") >= ppm_threshold)
        .select("id_a", "id_b", "cos_ppm")
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers: list[list[float]],
    threshold: float,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with k-means, then mark
    any item whose cosine to a LOWER-id item in the SAME cluster
    reaches ``threshold`` as a duplicate.  Output
    (id, cluster, is_dup) — one row per input, all integers.

    Scale: the clustering IS the blocking structure — the pairwise
    stage is an equi-join on the cluster id, so candidate pairs are
    bounded per cluster (sum of cluster-size^2), never
    corpus-quadratic.  ``max_cluster`` is the cardinality guard for
    when k does NOT grow with the corpus: a cluster of m rows emits
    m(m-1)/2 candidates, so one hot cluster (fixed k on a growing
    corpus, or a degenerate embedding mode) re-creates the quadratic
    blow-up the clustering was meant to prevent.  With the guard, a
    cluster larger than ``max_cluster`` is deterministically re-split
    into ceil(size / max_cluster) sub-blocks on ``id mod n_splits``
    (pure integer arithmetic — oracle-reproducible; requires a
    numeric id), and pairs are only compared within a sub-block:
    candidates per cluster drop to ~size^2/n_splits, bounded by
    ~size*max_cluster.  Cross-sub-block duplicates are missed — the
    standard bounded-candidate tradeoff (same contract as
    lsh_candidate_pairs(max_bucket=...), which drops hot buckets
    outright; re-splitting keeps partial recall instead).  The split
    needs one window count over the cluster key before the pair join.
    Centers broadcast (literal fold for small k, Arrow matmul for
    IVF-sized codebooks — see assign_clusters).  The single-pass
    lower-id rule keeps the operator deterministic and one extra
    shuffle over assignment; the paper's greedy-sequential variant
    needs per-cluster iteration for marginal additional removal.

    Nearest-center assignment reuses operators/kmeans.py
    assign_clusters (strict-< argmin in center order,
    KMeansMapFunction.cc:188-214)."""
    assigned = assign_clusters(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, centers
    )
    # Engine-exact duplicate test: micro-quantize once map-side, carry
    # the integer self-dot, and compare icos_ppm against the ppm
    # threshold.  A float cosine here is a cross-engine threshold
    # hazard (summation-order ulps flip >= at the boundary — the q141
    # r05 class); integer dots are associative, so both engines agree
    # bit-for-bit.  Zero-norm vectors have no direction and can never
    # be duplicates: they are excluded from the pair join below (not
    # from the output row set).
    thr_ppm = int(round(threshold * 1e6))
    sided = assigned.select(
        F.col(id_col).alias("__id"),
        F.col("cluster").alias("__cl"),
        micro_quantize(F.col(vec_col)).alias("__q"),
    ).withColumn("__n", idot(F.col("__q"), F.col("__q")))
    if max_cluster is not None:
        w = Window.partitionBy("__cl")
        n_splits = F.expr(f"(__csz + {max_cluster - 1}) div {max_cluster}")
        sided = (
            sided.withColumn("__csz", F.count(F.lit(1)).over(w))
            .withColumn("__sub", F.col("__id").cast("long") % n_splits)
            .drop("__csz")
        )
    else:
        sided = sided.withColumn("__sub", F.lit(0).cast("long"))
    # The fully-derived per-row relation (assignment + quantize + split
    # window) feeds BOTH sides of the pair join AND the final output
    # row set: checkpoint HERE so the k*dim distance fold, the O(dim)
    # quantize, and the per-cluster count window each run once per row
    # — persisting only the assignment (the pre-r09 shape) recomputed
    # the quantize+window subtree once per join side, measured ~2x the
    # whole-op wall-clock at 64x sf0.1.
    sided = sided.localCheckpoint(eager=False)
    nzs = sided.where(F.col("__n") > 0)
    a = nzs.select(
        F.col("__id").alias("__ida"),
        F.col("__cl").alias("__cla"),
        F.col("__sub").alias("__suba"),
        F.col("__q").alias("__qa"),
        F.col("__n").alias("__na"),
    )
    b = nzs.select(
        F.col("__id").alias("__idb"),
        F.col("__cl").alias("__clb"),
        F.col("__sub").alias("__subb"),
        F.col("__q").alias("__qb"),
        F.col("__n").alias("__nb"),
    )
    cos_ppm = icos_ppm(
        F.col("__qa"), F.col("__na"), F.col("__qb"), F.col("__nb")
    )
    dups = (
        a.join(
            b,
            (F.col("__cla") == F.col("__clb"))
            & (F.col("__suba") == F.col("__subb"))
            & (F.col("__ida") < F.col("__idb")),
        )
        .where(cos_ppm >= F.lit(thr_ppm))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        sided.select(
            F.col("__id").alias(id_col),
            F.col("__cl").cast("long").alias("cluster"),
        )
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("__dup"), F.lit(0)).cast("long").alias("is_dup"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian random hyperplanes (sign-LSH for cosine)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_lsh_neardup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 13,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate near-duplicate pairs via sign-random-projection LSH.

    Each vector gets an n_planes-bit signature (sign of the dot with a
    fixed Gaussian hyperplane — charikar sign-LSH: P[bit match] =
    1 - angle/pi); signatures are split into ``bands``, vectors sharing
    any band bucket become candidates, and candidates are verified with
    the exact cosine.  Same output shape as cosine_neardup_pairs but
    recall < 1 by design: the candidate join is on (band, bucket) — at
    scale that is a hash shuffle of n_rows * bands small rows instead of
    the O(n^2) cross product.

    Tuning: recall for a pair at angle θ is 1-(1-p^r)^bands with
    p = 1-θ/π and r = n_planes/bands bits per band.  Few bits per band
    (the default 16/4) means high recall even at low thresholds but
    coarse buckets — right for modest corpora.  At scale use wide
    signatures (e.g. n_planes=64, bands=8): for genuinely near-duplicate
    pairs (cos >= 0.9, p ≈ 0.86) recall stays ~0.94 while random
    near-orthogonal pairs (p ≈ 0.5) collide in a band with chance
    2^-8 — the candidate set stays ~linear instead of quadratic.

    Scale shape: the band join carries ONLY (id, band, bucket) rows —
    vectors never enter the shuffle; candidates are the MinHash path's
    own symmetric self-join (operators/dedup.py lsh_candidate_pairs,
    hot-bucket guard ``max_bucket`` included), deduped as bare id pairs,
    and the vectors are fetched back by two hash joins for the exact
    verify.  Signatures come from sign_band_rows (an Arrow-batched
    float matmul).  The verify is an Arrow-batched INTEGER einsum over
    micro-quantized vectors: exact int64 dots, then the same single
    IEEE sqrt/div/floor as the JVM fold functions.vectors.icos_ppm, so
    cos_ppm is BIT-IDENTICAL to cosine_neardup_pairs'.  It is the one
    verify path because it measured faster than the fold on the 64-plane
    sf0.1 bench config (1.77-1.83 s vs 1.86-1.96 s median, local[4]).
    """
    sided = df.select(
        F.col(id_col).alias("doc"), as_double(F.col(vec_col)).alias("__v")
    )
    band_rows = sign_band_rows(
        sided, "doc", "__v", _hyperplanes(dim, n_planes, seed), bands
    )
    cand = lsh_candidate_pairs(band_rows, max_bucket).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    quant = _micro_sided(df, id_col, vec_col, "__id")
    va = quant.select(
        F.col("__id").alias("id_a"),
        F.col("__q").alias("__qa"),
        F.col("__n").alias("__na"),
    )
    vb = quant.select(
        F.col("__id").alias("id_b"),
        F.col("__q").alias("__qb"),
        F.col("__n").alias("__nb"),
    )

    @F.pandas_udf("long")
    def icos_batch(
        qa: pd.Series, na: pd.Series, qb: pd.Series, nb: pd.Series
    ) -> pd.Series:
        # integer einsum over the quantized vectors: exact int64 dots
        # (per-term <= ~4e11, dim-bounded sums far from overflow), then
        # the same single IEEE sqrt/mul/div/floor as icos_ppm — the
        # numpy result is bit-identical to the JVM fold's
        ma = np.asarray(qa.tolist(), dtype=np.int64)
        mb = np.asarray(qb.tolist(), dtype=np.int64)
        d = np.einsum("ij,ij->i", ma, mb).astype(np.float64)
        den = np.sqrt(na.to_numpy().astype(np.float64)) * np.sqrt(
            nb.to_numpy().astype(np.float64)
        )
        return pd.Series(np.floor(1e6 * d / den + 0.5).astype(np.int64))

    # marked nondeterministic only so Catalyst cannot push the cos_ppm
    # filter below the projection computing it: a pushed filter
    # inlines the call and the verify runs twice per candidate pair
    icos_batch = icos_batch.asNondeterministic()
    ppm_threshold = int(round(float(threshold) * 1e6))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_ppm", icos_batch("__qa", "__na", "__qb", "__nb"))
        .where(F.col("cos_ppm") >= ppm_threshold)
        .select("id_a", "id_b", "cos_ppm")
    )


def build_ivf_storage(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> None:
    """Materialize the IVF index as cell-partitioned parquet: assign
    every corpus vector to its nearest centroid and write with the cell
    as a Hive partition column.  At 100 TB this makes the codebook the
    STORAGE layout — a probe's cell filter becomes PartitionFilters at
    the scan, so only ~nprobe/n_cells of the files are listed and read;
    everything else is pruned before any I/O (the same
    layout-IS-the-partitioning move as TritonSort's phase-one logical
    disks, ``mapreduce/workers/writer/BaseWriter.cc:349``)."""
    from ..sources.bucketed import write_partitioned

    cells = assign_clusters(corpus, vec_col, centroids, out_col="cell")
    write_partitioned(
        cells.select(id_col, vec_col, "cell"), path, ["cell"]
    )


def ivf_topk_pruned(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: list[list[float]],
    nprobe: int = 2,
    query_id_col: str | None = None,
) -> DataFrame:
    """IVF probe against a build_ivf_storage table, reading ONLY the
    probed cells' files.  The union of probed cell ids (at most
    n_queries * nprobe ints — metadata-scale) is collected and pushed
    as a partition IN-filter, which Spark turns into PartitionFilters
    at the parquet scan; the per-query restriction to its own nprobe
    cells then happens in the broadcast cell join, so results are
    identical to ivf_topk on the full corpus.  The probe-cell job runs
    the same literal-fold argmin as the storage-side assignment, so the
    filter provably covers every joined cell."""
    qid = query_id_col or id_col
    probed = _probed_cells(queries, qid, vec_col, centroids, nprobe)
    cell_union = sorted(
        r["cell"] for r in probed.select("cell").distinct().collect()
    )
    corpus = spark.read.parquet(path).where(F.col("cell").isin(cell_union))
    return ivf_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        centroids=centroids,
        nprobe=nprobe,
        query_id_col=query_id_col,
        cell_col="cell",
    )


def build_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iterations: int = 3,
    query_id_col: str | None = None,
) -> DataFrame:
    """End-to-end IVF: train the cell codebook on the corpus itself
    (Lloyd, seeded by the first n_cells corpus vectors in id order —
    deterministic), then run the pruned probe search.  This is the
    self-contained form of ivf_topk for when no external codebook
    exists; at scale you train on a sample and reuse the codebook
    across queries (it is just a list of floats).
    """
    from .kmeans import lloyd

    seeds = [
        [float(x) for x in r[vec_col]]
        for r in corpus.orderBy(id_col).limit(n_cells).collect()
    ]
    _, centroids = lloyd(
        corpus, vec_col, k=n_cells, iterations=train_iterations,
        initial_centers=seeds,
    )
    return ivf_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k,
        centroids=centroids, nprobe=nprobe, query_id_col=query_id_col,
    )


# ---------------------------------------------------------------- PQ
def pq_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebook: split the dimension
    into ``m`` subspaces and use the sub-vectors of the ``k`` lowest-id
    vectors as the per-subspace codewords — the same seeded-codebook
    discipline as queries._seed_centers, so a SQL oracle rebuilds the
    identical codebook.  Returns ``[m][k][dim/m]``.  (Offline, each
    subspace's codewords can be refined with operators/kmeans.lloyd —
    the encode/score path below takes ANY codebook.)"""
    rows = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need {k} seed vectors, got {len(rows)}")
    dim = len(rows[0]["__v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [list(r["__v"][s * sub : (s + 1) * sub]) for r in rows]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebook: list[list[list[float]]]
) -> DataFrame:
    """Encode each vector as ``m`` small codes — argmin codeword per
    subspace, strict-< in codeword order (the assign_clusters tie
    rule).  Pure map-side: the codebook is a broadcast row, the output
    is (id, codes array<int>) at ~log2(k) bits per subspace — the
    64-dim float32 embedding becomes 8 bytes.  At 100 TB the encoded
    corpus is what sits on disk; raw vectors are only kept for a
    re-rank tier."""
    m, sub = len(codebook), len(codebook[0][0])
    v = as_double(F.col(vec_col))
    # The codebook rides as BROADCAST DATA (a one-row relation), not as
    # a plan literal: a [m][k][sub] literal tree puts m*k*sub nodes
    # through Catalyst analysis (seconds of fixed latency, and a k=256
    # production codebook would be impossible), while the data form
    # keeps the plan constant-size.  One nested transform computes all
    # codes: the distance fold compiles once and loops over
    # (subspace, codeword) at eval time — the assign_clusters trick
    # squared.
    cbdf = df.sparkSession.createDataFrame(
        [([[list(map(float, w)) for w in codebook[s]] for s in range(m)],)],
        "__cb: array<array<array<double>>>",
    )
    codes = F.transform(
        F.col("__cb"),
        lambda cb_s, s: F.array_min(
            F.transform(
                cb_s,
                lambda w, c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.slice(v, s * F.lit(sub) + F.lit(1), sub),
                            w,
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    ).alias("d"),
                    c.alias("c"),
                ),
            )
        )["c"],
    )
    return df.crossJoin(F.broadcast(cbdf)).select(
        F.col(id_col), codes.cast("array<int>").alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: list[list[list[float]]],
    k: int,
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search (the FAISS ADC recipe): queries
    stay full-precision, the corpus is scanned as codes, and each
    (query, subspace) contributes via a k-entry lookup table built
    once on the driver — so the corpus-side cost per row is m array
    lookups + m-1 adds, no vector math at all.

    Scoring proxy: approx_dot(q, v) / approx_norm(v) — the cosine
    numerator from the LUTs and the vector norm reconstructed from its
    codewords; the query's own norm is constant per query and cannot
    change its ranking, so it is never computed (and never has to
    match an oracle bit-for-bit).  Sums over subspaces are written in
    fixed s=0..m-1 order on both engines.

    Returns (query_id, neighbor_id, rank), ties by ascending neighbor
    id (quantized scores tie often; determinism over recall).
    """
    qid = query_id_col or id_col
    m, sub = len(codebook), len(codebook[0][0])
    nsq_lut = [
        [sum(x * x for x in w) for w in codebook[s]] for s in range(m)
    ]
    qrows = (
        queries.select(
            F.col(qid).alias("__qid"), as_double(F.col(vec_col)).alias("__qv")
        )
        .orderBy("__qid")
        .collect()
    )
    qids = [r["__qid"] for r in qrows]
    luts = [
        [
            [
                sum(r["__qv"][s * sub + i] * w[i] for i in range(sub))
                for w in codebook[s]
            ]
            for s in range(m)
        ]
        for r in qrows
    ]
    # LUTs + norms travel as one broadcast row (same rationale as the
    # codebook in pq_encode: constant-size plan, any m/k/query count).
    auxdf = corpus.sparkSession.createDataFrame(
        [(nsq_lut, qids, luts)],
        "__nsq_lut: array<array<double>>, __qids: array<bigint>,"
        " __luts: array<array<array<double>>>",
    )
    seq = F.sequence(F.lit(0), F.lit(m - 1))

    def _lookup(tbl: Column, s: Column) -> Column:
        return F.element_at(
            F.element_at(tbl, s + F.lit(1)),
            F.element_at(F.col("codes"), s + F.lit(1)) + F.lit(1),
        )

    enc = (
        pq_encode(corpus, id_col, vec_col, codebook)
        .withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(auxdf))
    )
    enc = enc.withColumn(
        "__nsq",
        F.aggregate(
            seq,
            F.lit(0.0),
            lambda acc, s: acc + _lookup(F.col("__nsq_lut"), s),
        ),
    ).where(F.col("__nsq") > 0)
    scored = enc.select(
        "neighbor_id",
        F.explode(
            F.zip_with(
                F.col("__qids"),
                F.col("__luts"),
                lambda q, lut: F.struct(
                    q.alias("query_id"),
                    (
                        F.aggregate(
                            seq,
                            F.lit(0.0),
                            lambda acc, s: acc + _lookup(lut, s),
                        )
                        / F.sqrt(F.col("__nsq"))
                    ).alias("__score"),
                ),
            )
        ).alias("__q"),
    ).select("neighbor_id", "__q.query_id", "__q.__score")
    scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def pq_codebook_refined(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    iterations: int = 2,
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebook: seed with pq_codebook, then run
    ``iterations`` of k-means PER SUBSPACE over the sliced sub-vectors
    (operators/kmeans.lloyd — broadcast assignment + one groupBy per
    round).  This is how a production codebook is actually trained;
    the seeded variant exists for oracle replay.  Deterministic for a
    fixed input + seed set, so recall comparisons are reproducible.

    The double-cast vector column is held ONCE (:func:`~.loop.persisted`)
    for all m subspace loops, whose every job is eager, so nothing
    stays cached after the call."""
    from .kmeans import lloyd

    seeded = pq_codebook(df, id_col, vec_col, m, k)
    sub = len(seeded[0][0])
    refined = []
    with persisted(df.select(as_double(F.col(vec_col)).alias("__fv"))) as base:
        for s in range(m):
            subdf = base.select(
                F.slice(F.col("__fv"), s * sub + 1, sub).alias("__sv")
            )
            _, centers = lloyd(
                subdf, "__sv", k, iterations, seeded[s], persist_input=False
            )
            refined.append(centers)
    return refined


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: list[list[list[float]]],
    k: int,
    shortlist: int = 100,
    query_id_col: str | None = None,
) -> DataFrame:
    """Two-tier PQ search — the deployable shape: pq_topk produces a
    ``shortlist`` of candidates per query from codes alone, then ONLY
    those rows are re-scored with the engine-exact integer cosine
    (micro-quantize + icos_ppm) and re-ranked to ``k``.
    On uniform-random embeddings (PQ's adversarial case) this lifts
    recall@10 from ~0.3 (codes only) to ~0.9 at shortlist=100.

    Scale: tier 1 scans codes (bytes/vector); tier 2 joins the
    (queries x shortlist)-row candidate set — broadcast — back to the
    corpus for full vectors, so full-precision math touches
    ~shortlist/N of the data.  Same output contract as the other
    *_topk operators."""
    qid = query_id_col or id_col
    # Materialized once (r12, guide §5): the shortlist feeds TWO
    # broadcasts below (its distinct neighbor ids against the corpus,
    # then the (query, neighbor) pairs themselves), and the two
    # subtrees differ, so neither exchange reuse nor cache matching
    # fires — without the barrier the whole tier-1 scan (encode +
    # LUT scoring + window rank over the corpus) executed twice.
    # The relation is <= queries x shortlist rows at any scale.
    short = (
        pq_topk(
            corpus, queries, id_col, vec_col, codebook, shortlist,
            query_id_col,
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    # Exact tier-2 re-score under the integer discipline: micro-quantize
    # both sides and rank on icos_ppm — an emitted rank must never hang
    # on a float fold whose summation order another engine can disagree
    # with by an ulp (the q141 r05 class).  Zero-norm rows have no
    # direction and drop out of the rerank (they can't out-rank a real
    # neighbor anyway).  ORDER MATTERS: the raw corpus joins the
    # broadcast shortlist FIRST and only the ~queries x shortlist
    # survivors are quantized/self-dotted — quantizing before the join
    # would put the O(dim) transform+fold on every corpus row and void
    # the tier-2 contract below (full-precision math on ~shortlist/N
    # of the data).  The barrier is a pushdown BARRIER, not a speed
    # cache: without it Catalyst inlines _micro_sided's __n > 0 filter
    # (quantize + integer fold and all) and pushes it below the join
    # onto every corpus row — the exact O(N*dim) work this join order
    # exists to avoid.  The barrier is a lazy local checkpoint
    # (ADVICE r07 tradeoff, A/B-measured at sf0.1: 6.5 s vs 8.5 s for a
    # persisted InMemoryRelation, which pays columnar encode +
    # CacheManager substitution).  Its blocks are non-replicated — an
    # executor loss after materialization fails the job (rerun the
    # query).  Survivors are <= queries x shortlist rows, so the
    # materialization is tiny; the oracle also filters nn > 0 after its
    # shortlist join.
    surv = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        )
        .join(F.broadcast(short.select("neighbor_id").distinct()), "neighbor_id")
        .localCheckpoint(eager=False)
    )
    vecs = _micro_sided(surv, "neighbor_id", "__v", "neighbor_id")
    qv = _micro_sided(queries, qid, vec_col, "query_id").select(
        "query_id", F.col("__q").alias("__qq"), F.col("__n").alias("__qn")
    )
    cand = vecs.join(F.broadcast(short), "neighbor_id").join(
        F.broadcast(qv), "query_id"
    )
    return _top_k(
        cand,
        icos_ppm(F.col("__q"), F.col("__n"), F.col("__qq"), F.col("__qn")),
        k,
    )


def _micro_sided(
    df: DataFrame, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(out_id, __q, __n): micro-quantized vector + integer self-dot,
    zero-norm rows dropped (a zero vector has no direction; dividing
    by its norm is NULL in Spark but engine-dependent elsewhere —
    excluding it map-side keeps every downstream value engine-exact)."""
    from ..functions.vectors import idot, micro_quantize

    return (
        df.select(
            F.col(id_col).alias(out_id),
            micro_quantize(F.col(vec_col)).alias("__q"),
        )
        .withColumn("__n", idot(F.col("__q"), F.col("__q")))
        .where(F.col("__n") > 0)
    )


def margin_select(
    scored: DataFrame,
    k: int = 4,
    min_margin_micro: int | None = None,
) -> DataFrame:
    """The margin arithmetic of ``margin_pair_mine`` over an
    already-scored candidate table (query_id, neighbor_id, cos_ppm) —
    the seam that lets ANY candidate generator (brute bipartite scan,
    sign-LSH buckets, a PQ shortlist) feed the same selection:

        margin_micro = cos_ppm * 2e6 div (avg_fwd_ppm + avg_bwd_ppm)

    with avg_fwd over each query's top-k candidates and avg_bwd over
    each neighbor's top-k candidates; each query keeps its best-margin
    neighbor (ties by ascending neighbor_id).  All arithmetic is
    integer over cos_ppm, so the selection is engine-exact given
    engine-exact cos_ppm inputs.

    Scale shape: the candidate table is checkpointed (it feeds the
    forward window, the backward window, and the final join); fwd and
    fwd_stats are ~k rows per query — the broadcast-sized side — while
    bwd_stats is neighbor-cardinality and therefore STREAMS through a
    hash join (never broadcast: at corpus scale it cannot fit)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    # positive candidates only: margin is meaningless across
    # anti-correlated pairs, and keeping every integer strictly
    # positive makes div/floor-div agree across engines
    scored = scored.where(F.col("cos_ppm") > 0)
    # checkpointed: three consumers (forward ranks, backward stats, the
    # margin join) — without it the scoring scan executes once
    # per consumer (measured 18.5 s -> ~6 s at sf0.1 on the brute
    # path).  Three longs per candidate pair, tiny next to the vectors.
    scored = scored.localCheckpoint(eager=False)
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("neighbor_id").asc()
    )
    fwd = scored.withColumn("__r", F.row_number().over(wf)).where(
        F.col("__r") <= k
    )
    fwd_stats = fwd.groupBy("query_id").agg(
        F.expr("sum(cos_ppm) div count(*)").alias("avg_fwd_ppm")
    )
    wb = Window.partitionBy("neighbor_id").orderBy(
        F.col("cos_ppm").desc(), F.col("query_id").asc()
    )
    bwd_stats = (
        scored.withColumn("__r", F.row_number().over(wb))
        .where(F.col("__r") <= k)
        .groupBy("neighbor_id")
        .agg(F.expr("sum(cos_ppm) div count(*)").alias("avg_bwd_ppm"))
    )
    # fwd (+ its per-query stats) is the ~k-rows-per-query side and
    # broadcasts; bwd_stats has one row per corpus vector with any
    # positive candidate and must NOT be broadcast at scale — the
    # hinted build side of this join is the small one.
    margined = (
        F.broadcast(fwd.join(F.broadcast(fwd_stats), "query_id"))
        .join(bwd_stats, "neighbor_id")
        .where(F.col("avg_fwd_ppm") + F.col("avg_bwd_ppm") > 0)
        .withColumn(
            "margin_micro",
            F.expr("cos_ppm * 2000000 div (avg_fwd_ppm + avg_bwd_ppm)"),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("margin_micro").desc(), F.col("neighbor_id").asc()
    )
    best = (
        margined.withColumn("__m", F.row_number().over(wm))
        .where(F.col("__m") == 1)
        .select("query_id", "neighbor_id", "cos_ppm", "margin_micro")
    )
    if min_margin_micro is not None:
        best = best.where(F.col("margin_micro") >= min_margin_micro)
    return best


def margin_pair_mine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    query_id_col: str | None = None,
    min_margin_micro: int | None = None,
) -> DataFrame:
    """Margin-based nearest-neighbor pair mining (the bitext-mining
    scorer of Artetxe & Schwenk 2019, "Margin-based Parallel Corpus
    Mining with Multilingual Sentence Embeddings"): plain cosine top-1
    over-matches HUB vectors — points that are everyone's nearest
    neighbor — so each candidate's cosine is renormalized by the mean
    of both endpoints' k-NN cosines:

        margin(x, y) = cos(x, y) / ((avg_fwd(x) + avg_bwd(y)) / 2)

    and each query keeps its best-margin neighbor.  A hub's avg_bwd is
    high, so pairs into it need to beat the hub's typical similarity,
    not just other candidates.  Output: (query_id, neighbor_id,
    cos_ppm, margin_micro), one row per query with a positive-margin
    candidate.

    Engine-exact END TO END: vectors are micro-quantized map-side
    (functions.vectors.micro_quantize) so cos_ppm itself is derived
    from exact integer dot products (icos_ppm) — a float fold here
    once differed from DuckDB's list_dot_product by 1 ppm on a
    rounding boundary and the margin division amplified that into a
    different best neighbor.  Zero-norm vectors are excluded on both
    sides.  Downstream margin arithmetic is integer over cos_ppm
    (margin_select).

    Scale: this variant scores the FULL query x corpus bipartite
    product — the exact small-fixture baseline.  The query matrix
    ships to executors in the kernel closure (it is batch-sized by
    contract, like kmeans centers) and the corpus streams — no corpus
    shuffle — with scoring as ONE Arrow-batched int64 matmul per
    corpus batch instead of a per-pair codegen fold (~3x on dim-64:
    the integer matmul is exact, so cos_ppm is bit-identical to the
    fold's).  Still O(|Q| * |C|) compute: for real corpora use
    ``margin_pair_mine_ann``, which feeds sign-LSH candidates through
    the same ``margin_select`` arithmetic.

    NOTE: collecting the query side makes CONSTRUCTING this DataFrame
    run a small Spark job (scan + quantize of the query set) — unlike
    the other catalog operators, whose build is free until an action.
    The driver-side state is the same batch-sized budget the previous
    broadcast-join form shipped per executor.
    """
    qid = query_id_col or id_col
    q_local = _micro_sided(queries, qid, vec_col, "query_id").collect()
    spark = corpus.sparkSession
    schema = "query_id long, neighbor_id long, cos_ppm long"
    if not q_local:
        scored = spark.createDataFrame([], schema=schema)
        return margin_select(scored, k=k, min_margin_micro=min_margin_micro)
    qids = np.array([r["query_id"] for r in q_local], dtype=np.int64)
    qm = np.array([r["__q"] for r in q_local], dtype=np.int64)  # m x d
    qn = np.array([r["__n"] for r in q_local], dtype=np.float64)
    qden = np.sqrt(qn)  # exact-int inputs -> correctly-rounded sqrt

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.asarray(pdf["__q"].tolist(), dtype=np.int64)  # b x d
            cn = pdf["__n"].to_numpy().astype(np.float64)
            nids = pdf["neighbor_id"].to_numpy()
            d = cm @ qm.T  # exact int64 bipartite dots (b x m)
            # the same single IEEE ops as icos_ppm, elementwise:
            # floor(1e6 * d / (sqrt(cn) * sqrt(qn)) + 0.5)
            den = np.sqrt(cn)[:, None] * qden[None, :]
            ppm = np.floor(
                1e6 * d.astype(np.float64) / den + 0.5
            ).astype(np.int64)
            keep = nids[:, None] != qids[None, :]
            bi, qi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": nids[bi],
                    "cos_ppm": ppm[bi, qi],
                }
            )

    scored = _micro_sided(corpus, id_col, vec_col, "neighbor_id").mapInPandas(
        score, schema=schema
    )
    return margin_select(scored, k=k, min_margin_micro=min_margin_micro)


def micro_planes(dim: int, n_planes: int, seed: int) -> list[list[int]]:
    """Sign-LSH hyperplanes quantized to integer micro-units.  The
    quantization only perturbs each plane's direction by ~1e-6 — sign
    LSH tolerates that freely — and buys engine-exactness: a signature
    bit becomes the sign of an EXACT integer dot product, so any SQL
    engine given the same integer constants derives bit-identical
    buckets (a float-dot signature could flip a bit near a hyperplane
    across engines, silently changing the candidate set)."""
    return [
        [int(np.floor(1e6 * x + 0.5)) for x in p]
        for p in _hyperplanes(dim, n_planes, seed)
    ]


def sign_band_rows(
    sided: DataFrame,
    id_name: str,
    vec_name: str,
    planes: list[list[float]] | list[list[int]],
    bands: int,
) -> DataFrame:
    """(id, band, band_sig) sign-LSH band rows: bit_j = [v . plane_j >=
    0], band_sig packs n_planes/bands bits per band.  ONLY the three
    small columns come out: vectors never enter the candidate shuffle.

    The planes' dtype picks the matmul: float planes (_hyperplanes) a
    float64 one over raw vectors; integer planes (micro_planes) an int64
    one over micro-quantized vectors — numpy integer arithmetic is exact
    and associative, so those signs (hence buckets) are bit-identical to
    any engine's integer dots.  Arrow-batched numpy (one (batch x dim) @
    (dim x n_planes) matmul per batch): the n_planes-fold Catalyst
    expression it replaces evaluated higher-order functions per element
    and was ~10x slower, and the literal-folded integer form cost
    seconds of codegen per plan — the sanctioned Pandas-UDF exception
    for genuinely numeric kernels.  The planes ship inside the UDF
    closure (dim * n_planes numbers, like kmeans centers)."""
    planes_m = np.asarray(planes).T  # dim x n_planes
    n_planes = planes_m.shape[1]
    if n_planes % bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by bands ({bands})"
        )
    rpb = n_planes // bands
    weights = (1 << np.arange(rpb)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def band_buckets(vs: pd.Series) -> pd.Series:
        m = np.asarray(vs.tolist(), dtype=planes_m.dtype)  # batch x dim
        bits = (m @ planes_m >= 0).astype(np.int64)  # batch x n_planes
        packed = bits.reshape(len(m), bands, rpb) @ weights
        return pd.Series(list(packed))

    return sided.select(
        id_name, F.posexplode(band_buckets(vec_name)).alias("band", "band_sig")
    )


def margin_pair_mine_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 4,
    query_id_col: str | None = None,
    min_margin_micro: int | None = None,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 13,
    max_bucket: int | None = None,
) -> DataFrame:
    """``margin_pair_mine`` fed by sign-LSH retrieved candidates — the
    100 TB path.  The brute variant scores |Q| x |C| pairs, which at
    100x data is 10,000x work; here candidates come from an integer-
    exact sign-LSH bucket join, so corpus work is LINEAR: each corpus
    row computes ``bands`` band rows (id, band, bucket — 3 small
    columns, vectors never enter the shuffle) and joins the BROADCAST
    query band rows; only surviving distinct pairs fetch their vectors
    back for exact icos_ppm re-scoring, and ``margin_select`` runs the
    identical integer margin arithmetic over them.

    Approximation contract: recall < 1 by design (a true neighbor
    sharing no band bucket is missed) and the k-NN stat tables
    (avg_fwd/avg_bwd) aggregate over RETRIEVED candidates, as in
    production bitext mining — so margins are relative to the
    candidate pool, exactly the Artetxe-Schwenk setting at scale.
    Signatures, cosines, and margins are all integer-exact
    (micro_planes / micro_quantize / icos_ppm), so the whole pipeline
    — including which candidates exist — is reproducible by any SQL
    engine given the same plane constants.

    ``max_bucket`` drops hot band buckets before the join (same skew
    guard and same no-extra-shuffle window as hyperplane_lsh_neardup).

    Tuning mirrors hyperplane_lsh_neardup: the default 16 planes / 4
    bands (4 bits per band) suits modest corpora; at scale widen to
    e.g. 64/8 so random pairs collide at 2^-8 per band and the
    candidate set stays ~linear in the corpus.
    """
    from ..functions.vectors import icos_ppm

    qid = query_id_col or id_col
    planes_micro = micro_planes(dim, n_planes, seed)
    qsided = _micro_sided(queries, qid, vec_col, "query_id")
    csided = _micro_sided(corpus, id_col, vec_col, "neighbor_id")
    qband = sign_band_rows(qsided, "query_id", "__q", planes_micro, bands)
    cband = cap_hot_buckets(
        sign_band_rows(csided, "neighbor_id", "__q", planes_micro, bands),
        max_bucket,
    )
    cand = (
        cband.join(
            F.broadcast(qband.withColumnsRenamed({"band": "__qb", "band_sig": "__qk"})),
            (F.col("band") == F.col("__qb"))
            & (F.col("band_sig") == F.col("__qk"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvecs = qsided.withColumnsRenamed({"__q": "__qq", "__n": "__qn"})
    scored = (
        cand.join(csided, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            icos_ppm(
                F.col("__q"), F.col("__n"), F.col("__qq"), F.col("__qn")
            ).alias("cos_ppm"),
        )
    )
    return margin_select(scored, k=k, min_margin_micro=min_margin_micro)
