"""Connected components over a pair/edge relation (beyond-reference).

The finishing step of every near-duplicate pipeline: candidate pairs
from MinHash-LSH / sign-LSH / Jaccard (operators.dedup, .similarity)
form an undirected graph whose components are the duplicate CLUSTERS —
one canonical representative (the minimum id) survives per component.

Algorithm: iterative minimum-label propagation.  Each round every
vertex adopts the smallest label among itself and its neighbors; a
component converges in O(diameter) rounds (near-dup clusters are
near-cliques, so 2-4 rounds in practice).  Each round is ONE groupBy
shuffle over the undirected edge list + the label relation — the same
tagged-union merge shape as operators.pagerank, and the same
localCheckpoint lineage control.

At 100 TB: the edge list is pre-partitioned and persisted once; only
the (vid, label) relation iterates.  Persisted, not checkpointed: under
AQE a checkpoint of the repartitioned edges reports no partitioning,
so every round would exchange them again (measured on q46 at sf0.1:
49 jobs instead of 38).  No loop here writes session conf.

Graphs that fit one partition finish on the driver.  The reference
runs a partition through its in-memory phase whenever it fits and sends
only what does not fit to the external phase; the loops here do the
same.  :func:`connected_components`, :func:`connected_components_star`
and :func:`kcore_vertices` count their distinct canonical edge pairs
once (:func:`~.loop.driver_table`: rows x UnsafeRow width against
``spark.sql.adaptive.advisoryPartitionSizeInBytes``, capped by
``spark.driver.maxResultSize``; :func:`~.loop.driver_bytes`).  When
they fit, they collect them as Arrow and run the SAME round rule in
numpy, with rounds from the same :func:`~.loop.until_converged`, so
the output is bit-identical and ``max_iterations`` raises on both
paths alike.  The result comes back as a local relation with the
loop's exact schema (a JVM LocalTableScan, no Python worker).  At
gate scale this turns q86's 30 one-stage jobs into 6.

For adversarial long-chain graphs use
:func:`connected_components_star` (alternating large-star/small-star
contraction, O(log n) rounds); near-dup graphs do not need it — their
near-clique components converge in 2-4 min-label rounds at a cheaper
per-round cost.
"""

from __future__ import annotations

from contextlib import ExitStack

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import md5_60
from .loop import advisory_bytes, driver_table, persisted, until_converged


def sized_edge_npart(relation: DataFrame, cap: int) -> int:
    """Scale-adaptive partition count for a loop-persisted edge
    relation (guide §2.2; the round rules' "derive partitioning from
    input size, not a core count"): estimated bytes over the advisory
    partition size (:func:`~.loop.advisory_bytes`), clamped to [1, cap]
    where ``cap`` is the caller's defaultParallelism — the pre-r12
    static choice, kept as the ceiling so an overestimate reproduces
    the old behavior.

    Sized from the optimizer's estimate, which errs both ways.  It errs
    HIGH on join/explode pipelines (q134's LSH-pair relation estimates
    ~300 GB at sf0.1) and then clamps to cap.  It errs LOW on
    parquet-sourced edges, because it starts from the COMPRESSED file
    size: lineitem's edges estimate 24,258 B at sf0.001 for 4,065
    distinct canonical pairs, and 215,682 B at sf0.01 for 44,680
    (715 KB at 16 B a pair), 3-8x low.  A low estimate only costs
    parallelism here, but it is why :func:`~.loop.driver_table` counts
    rows instead of trusting this estimate: sending a graph to one
    process on an underestimate could overrun it.  Locally this is
    what stops a 32-task-per-stage loop over a megabyte-scale graph
    from being task-launch-bound (measured: the q134 CC loop 4.1 s ->
    3.4 s at sf0.1 with identical output).
    """
    try:
        est = int(
            str(
                relation._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:  # noqa: BLE001 — introspection surprise: old behavior
        return cap
    return max(1, min(cap, -(-est // advisory_bytes(relation.sparkSession))))


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected graph's distinct canonical (a < b) pairs,
    self-loops dropped: the edge set every graph operator here starts
    from, and the one the one-partition rule counts."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _both_ways(canon: DataFrame) -> DataFrame:
    """Both orientations (s, d) of canonical pairs."""
    return canon.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        canon.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )


def _undirected_edges(canon: DataFrame) -> DataFrame:
    """Both-orientations (s, d) edge set of the undirected graph,
    repartitioned on the propagation key — the static side every
    iterative op here persists for its loop and joins against each
    round.

    Canonicalize-then-mirror (r11, guide §2.3/§2.4): the former
    ``union(half, half-flipped).distinct()`` evaluated the caller's
    whole edge-derivation pipeline in BOTH union branches (only the
    scan-side exchange below the window is reusable, the window sort
    itself ran twice) and shuffled 2|E| rows through the distinct.
    Deduping the canonical (least, greatest) form first
    (:func:`_canonical_edges`) runs the pipeline's expensive tail once
    and halves the distinct's exchange; mirroring afterwards is two
    projections of the SAME deduplicated subtree, whose identical
    exchanges Spark reuses.  Canonical distinct == directed distinct
    of the undirected graph (a != b rows only), so the resulting edge
    set is identical.

    The partition count is size-derived via :func:`sized_edge_npart`,
    capped at the session's defaultParallelism.
    """
    mirrored = _both_ways(canon)
    cap = canon.sparkSession.sparkContext.defaultParallelism
    return mirrored.repartition(sized_edge_npart(mirrored, cap=cap), "s")


def _counted_edges(
    held: ExitStack, edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, pa.Table | None]:
    """The one-partition rule for the loops over both orientations.
    Counts the canonical pairs (a lazy local checkpoint, so the count
    materializes them once for whichever path follows) and collects
    them when they fit (:func:`~.loop.driver_table`).  Returns ``(e,
    table)``.  On a fit, ``table`` holds the pairs and ``e`` is their
    both-orientations view, read for the result's schema only: the
    driver path takes no persist and no exchange beyond the distinct,
    and the pairs' blocks are released before this returns.
    Otherwise ``table`` is None and ``e`` is the loop's
    :func:`_undirected_edges`, persisted on ``held`` but not yet
    materialized: the caller's first action fills it from the counted
    pairs, whose blocks ``held`` keeps until the loop exits."""
    canon = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    table = driver_table(canon)
    if table is not None:
        _release_local_checkpoint(canon)
        return _both_ways(canon), table
    held.callback(_release_local_checkpoint, canon)
    return held.enter_context(persisted(_undirected_edges(canon))), None


def _both_ways_ids(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """Canonical Arrow pairs as both-orientations (s, d) id arrays."""
    a, b = _ids(table, "a"), _ids(table, "b")
    return np.concatenate([a, b]), np.concatenate([b, a])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 10,
) -> DataFrame:
    """Label every vertex of the undirected graph with its component's
    minimum vertex id.  Returns (vid long, component long).

    Converges early when a round changes no label (checked against a
    driver-side count of changed labels — a scalar, not data).

    An edge set that fits one partition (:func:`~.loop.driver_table`)
    runs the same rounds on the driver (:func:`_min_label_rounds`);
    ``max_iterations`` binds there too.

    Cache lifecycle: the both-orientations edge set is held by
    :func:`~.loop.persisted` for the loop only; every round's count
    materializes its checkpoint, so the result never reads it.
    """
    # Undirected: materialize BOTH orientations once, partitioned by the
    # propagation source — each round is then ONE join (src side
    # co-located with the persisted partitioning) instead of two.
    with ExitStack() as held:
        e, table = _counted_edges(held, edges, src, dst)
        labels = e.select(F.col("s").alias("vid")).distinct().withColumn(
            "label", F.col("vid")
        )
        if table is not None:
            vids, comps = _min_label_rounds(*_both_ways_ids(table), max_iterations)
            schema = _min_label_round(e, labels, labels).select(
                "vid", F.col("label").alias("component")
            ).schema
            return _local(e.sparkSession, schema, vids, comps)
        # Fill the persist first: round 1 reads e three times (the
        # join, `active` and `labels`), and under AQE each unfilled
        # cache scan is its own job that recomputes the exchange (33
        # jobs instead of 32 on a 10^5-edge graph).
        e.count()
        # Frontier (delta) propagation — r11, guide §2.2 (shuffle fewer
        # bytes): only vertices whose label CHANGED last round need to
        # offer this round.  Labels are min-monotone, so an offer from an
        # unchanged u is always dominated: by induction every neighbor v
        # already satisfies label(v) <= u's previous (= current) label
        # from the round u last offered.  Per-round labels are therefore
        # BIT-IDENTICAL to the all-offers form (the omitted terms never
        # win the min), and so are the round count and the convergence
        # path — but late rounds join |delta|-many probe rows against the
        # edge set instead of |V| (near-clique dedup graphs converge
        # exponentially: measured changed-counts 2337/2301/1777/293/15/
        # 1/0, so rounds 4+ shuffled edge-sized offers for an
        # almost-empty frontier).  Round 1 offers from every vertex, as
        # before.
        active = labels
        for _ in until_converged("connected_components", max_iterations):
            merged = _min_label_round(e, labels, active).localCheckpoint(
                eager=False
            )
            changed_rows = merged.where(F.col("label") != F.col("old"))
            labels = merged.select("vid", "label")
            # next round's frontier: a filtered read of the SAME
            # checkpoint blocks labels reads — no extra materialization
            active = changed_rows.select("vid", "label")
            # The count materializes this round's checkpoint, so labels
            # no longer read the edge lineage once the edges are freed.
            if changed_rows.count() == 0:
                break

    return labels.select("vid", F.col("label").alias("component"))


def _min_label_round(
    e: DataFrame, labels: DataFrame, active: DataFrame
) -> DataFrame:
    """One min-label round: (vid, label, old) with every label lowered
    to the least label its active neighbors offer."""
    # Each active vertex offers its label to its neighbors; every
    # vertex keeps its own.  The keep row carries the previous label in
    # `old`, so after the min-groupBy the convergence check is a
    # filter-count on the checkpointed result — no extra join per round
    # (min ignores the NULL `old` on propagated rows; every vid has
    # exactly one keep row, so `old` IS the previous label).
    offered = e.join(active, e.s == active.vid).select(
        F.col("d").alias("vid"),
        F.col("label"),
        F.lit(None).cast("long").alias("old"),
    )
    keep = labels.select("vid", "label", F.col("label").alias("old"))
    return (
        offered.unionByName(keep)
        .groupBy("vid")
        .agg(F.min("label").alias("label"), F.min("old").alias("old"))
    )


def _ids(table: pa.Table, col: str) -> np.ndarray:
    return table.column(col).to_numpy().astype(np.int64, copy=False)


def _local(spark, schema, *columns: np.ndarray) -> DataFrame:
    """Driver-computed columns as a local relation with ``schema``, the
    loop's exact output schema: a LocalTableScan in the JVM."""
    table = pa.table(
        {f.name: pa.array(c, pa.int64()) for f, c in zip(schema.fields, columns)}
    )
    return spark.createDataFrame(table, schema)


def _min_label_rounds(
    s: np.ndarray, d: np.ndarray, max_iterations: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`connected_components`' rounds on the driver, over the
    both-orientations edge arrays: each round sets every label to the
    minimum of its own and its neighbors', until a round changes none."""
    vids, si = np.unique(s, return_inverse=True)
    di = np.searchsorted(vids, d)
    labels = vids
    for _ in until_converged("connected_components", max_iterations):
        lowered = labels.copy()
        np.minimum.at(lowered, di, labels[si])
        if np.array_equal(lowered, labels):
            return vids, labels
        labels = lowered


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's storage blocks immediately instead of
    at Python-GC + ContextCleaner time.  PySpark exposes no handle to
    the checkpointed RDD, so reach through the JVM plan (the
    checkpointed Dataset's analyzed plan IS the LogicalRDD wrapping
    it).  Best-effort by design: on any plan-shape surprise the
    blocks simply revert to the old GC-time release — never fail the
    query over cleanup."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    O(log n)-round variant for ADVERSARIAL graph shapes.  Same output
    contract as :func:`connected_components`: (vid long, component
    long) for every vertex of the edge relation, component = the
    minimum member id.

    When to use which: min-label propagation converges in O(diameter)
    rounds — 2-4 on near-dup pair graphs (near-cliques), where its
    cheaper per-round shape wins.  A long-CHAIN graph (linked-list
    link structure, sessionized event chains, adversarial crawls)
    makes diameter the bound: a 10^6-hop chain needs 10^6 min-label
    rounds but ~log^2(n) star rounds, because star contraction
    HALVES-or-better the tree height each alternation instead of
    moving labels one hop.

    Per alternation: large-star points every neighbor v > u at
    min(N(u) + {u}) (keeps connectivity, strictly reduces large-end
    heights); small-star re-roots every v <= u and u itself at the
    minimum.  Both are one groupBy (per-vertex min over the adjacency)
    plus one co-keyed join emitting re-targeted edges — edge-sized
    shuffles, no corpus blowup: the emitted set never exceeds the
    adjacency size, and every round's distinct() prunes the
    contracted duplicates.

    Convergence: each alternation's materializing job also returns a
    (count, xor-of-xxhash64-row-hashes) fingerprint; when it repeats,
    ONE exceptAll probe confirms set equality exactly (the fingerprint
    is necessary, the probe makes it sufficient — no reliance on the
    2^-64 collision odds, and no per-round probe shuffle).  The fixed
    point is a forest of depth-1 stars rooted at component minima.
    Lineage is cut per alternation (localCheckpoint materialized by
    the fingerprint job), and each superseded round's checkpoint
    blocks are released the moment the next round materializes
    (:func:`_release_local_checkpoint`), so live storage stays ~2
    edge-sized block sets regardless of round count; nothing leaks
    into the session (the same self-releasing discipline as the other
    iterative ops here), and it writes no session conf.

    An edge set that fits one partition (:func:`~.loop.driver_table`,
    sized by the count the first fingerprint job already returns, so
    the check costs no job) runs the same alternations on the driver
    (:func:`_star_rounds`); ``max_iterations`` binds there too.
    """
    # canonical a < b, deduped; star edges stay canonical thereafter
    # (emissions always point a high vertex at a strictly smaller root)
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)

    def fingerprint(cur: DataFrame) -> tuple[int, int]:
        # One fused job per alternation: materializes the round's
        # checkpoint AND yields (count, xor-of-row-hashes).  The edge
        # count alone cannot detect convergence (star forests keep it
        # CONSTANT — e.g. per-user chains: n_events - n_users edges
        # every round), and an exceptAll probe per round costs a
        # shuffle; XOR over xxhash64 of the distinct rows is
        # order-insensitive, one aggregate, and exact-confirmed below
        # before the loop exits.
        row = cur.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(a, b))").alias("f"),
        ).collect()[0]
        return row["c"], row["f"]

    def vertices(cur: DataFrame) -> DataFrame:
        return (
            cur.select(F.col("a").alias("vid"))
            .unionAll(cur.select(F.col("b").alias("vid")))
            .distinct()
        )

    def resolve(verts: DataFrame, cur: DataFrame) -> DataFrame:
        # fixed point: (root, leaf) stars.  Every vertex resolves
        # through the leaf->root map; roots (and any vertex whose edges
        # contracted away) fall back to themselves.
        leafmap = cur.select(F.col("b").alias("vid"), F.col("a").alias("__root"))
        return verts.join(leafmap, "vid", "left").select(
            F.col("vid").cast("long"),
            F.coalesce(F.col("__root"), F.col("vid")).cast("long").alias("component"),
        )

    prev = fingerprint(e)
    table = driver_table(e, rows=prev[0])
    if table is not None:
        _release_local_checkpoint(e)
        vids, comps = _star_rounds(_ids(table, "a"), _ids(table, "b"), max_iterations)
        schema = resolve(vertices(e), e).schema
        return _local(e.sparkSession, schema, vids, comps)
    # Original vertex set, captured as vertex-sized checkpoint blocks
    # read off e's FIRST materialization (the fingerprint job above):
    # the final resolve join needs every vertex of the input, but by
    # then the loop has superseded (and released) e's blocks and
    # re-deriving from `edges` would recompute the caller's whole edge
    # pipeline a second time (q144: the events window) — r11, guide
    # §2.4.  Eager: materialized NOW, while e's blocks are live.
    verts = vertices(e).localCheckpoint(eager=True)

    def star(cur: DataFrame, large: bool) -> DataFrame:
        # Canonical form lets both stars skip the doubled adjacency
        # (r11, guide §2.3): with every edge (a, b) satisfying a < b,
        # a vertex u's neighborhood minimum m(u) = min(N(u) + {u}) is
        # least(u, min{x : (x, u) in cur}) — out-neighbors are all
        # > u, so only the incoming side can beat u.  One |E|-row
        # groupBy replaces the 2|E|-row union+groupBy, and each star
        # joins |E| rows instead of 2|E|.
        min_in = cur.groupBy("b").agg(F.min("a").alias("__mn"))
        if large:
            # Large-star: neighbors v > u re-point at m(u).  In
            # canonical form those (u, v) adjacency rows are exactly
            # the edges (a, b) themselves, so the emission is
            # (m(a), b) with m(a) = least(a, __mn(a)) (least skips
            # the null __mn of vertices with no incoming edge).
            # m(a) <= a < b keeps the output canonical with no
            # self-loops, and no dedup is needed — one emission per
            # edge.  NOT checkpointed: the small-star half reads this
            # relation twice, but both reads sit on the SAME
            # hashpartitioning(b) exchange (identical subplans), so
            # exchange reuse computes it once; lineage stays bounded
            # because e itself is checkpointed each round.
            return cur.join(
                min_in.select(F.col("b").alias("a"), "__mn"), "a", "left"
            ).select(F.least("a", "__mn").alias("a"), "b")
        # Small-star: each center u re-roots its not-larger neighbors
        # and itself at m(u).  Centers with any incoming edge have
        # m(u) = __mn(u) (< u always); centers without incoming edges
        # would emit only the filtered (u, u) row, so min_in IS the
        # center list: edge rows emit (__mn(b), a), centers (__mn(b), b).
        out = cur.join(min_in, "b").select(
            F.col("__mn").alias("a"), F.col("a").alias("b")
        ).unionAll(min_in.select(F.col("__mn").alias("a"), "b"))
        return (
            out.where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    for _ in until_converged("connected_components_star", max_iterations):
        e_new = star(star(e, large=True), large=False)
        fp = fingerprint(e_new)
        if fp == prev and e_new.exceptAll(e).limit(1).count() == 0:
            # fingerprint match is necessary, the exceptAll probe
            # makes it sufficient — run once, at the (apparent)
            # fixed point
            _release_local_checkpoint(e)
            e = e_new
            break
        # the probe (when it ran) was this round's last read of the
        # superseded e; only e_new's blocks stay live
        _release_local_checkpoint(e)
        e, prev = e_new, fp
    return resolve(verts, e)


def _star_rounds(
    a: np.ndarray, b: np.ndarray, max_iterations: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`connected_components_star`'s alternations on the driver,
    over canonical (a < b) edge arrays: large-star then small-star,
    each exactly as the loop's ``star`` computes it, until the edge
    set repeats; then the same leaf->root resolve."""

    def pairs(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # the loop's `.distinct()`, as unique rows sorted by (x, y)
        keep = x != y
        x, y = x[keep], y[keep]
        order = np.lexsort((y, x))
        x, y = x[order], y[order]
        first = np.ones(len(x), bool)
        first[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1])
        return x[first], y[first]

    def min_in(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # (each y, the least x pointing at it): the loop's `min_in`
        order = np.lexsort((x, y))
        ys, first = np.unique(y[order], return_index=True)
        return ys, x[order][first]

    def alternation(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # large-star: (least(x, min_in(x)), y), a missing min_in being
        # the left join's null that least skips
        keys, mn = min_in(x, y)
        if len(keys):
            pos = np.minimum(np.searchsorted(keys, x), len(keys) - 1)
            x = np.where(keys[pos] == x, np.minimum(x, mn[pos]), x)
        # small-star: every edge (x, y) becomes (min_in(y), x), and every
        # center y adds (min_in(y), y)
        centers, mn = min_in(x, y)
        return pairs(
            np.concatenate([mn[np.searchsorted(centers, y)], mn]),
            np.concatenate([x, centers]),
        )

    cur = pairs(a, b)
    for _ in until_converged("connected_components_star", max_iterations):
        nxt = alternation(*cur)
        if all(np.array_equal(p, q) for p, q in zip(nxt, cur)):
            break
        cur = nxt
    verts = np.union1d(a, b)
    roots = ~np.isin(verts, cur[1])
    return (
        np.concatenate([cur[1], verts[roots]]),
        np.concatenate([cur[0], verts[roots]]),
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 10,
) -> DataFrame:
    """Group near-duplicate pairs into clusters: (vid, canonical_id)
    with canonical_id = the cluster's minimum member id.  Feed with the
    output of lsh_candidate_pairs / hyperplane_lsh_neardup /
    jaccard_pairs; rows NOT in any pair are untouched (they are their
    own canonical), so only the pair graph is processed.
    """
    cc = connected_components(
        pairs, src=id_a, dst=id_b, max_iterations=max_iterations
    )
    return cc.select("vid", F.col("component").alias("canonical_id"))


def _oriented_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> tuple[DataFrame, DataFrame]:
    """Enumerate every triangle of the undirected graph EXACTLY ONCE as
    (u, w1, w2) — the three corners, with u the minimum corner in the
    (degree, id) total order and w1 < w2 — returning ``(triangles,
    degrees)`` so callers reuse the checkpointed degree relation for
    their own degree work.  The reused relations are lazy local
    checkpoints: computed once, owned by the result's lineage.  The
    compact-forward
    discipline shared by the per-vertex counts, the global count, and
    the clustering coefficient: orient each canonical edge from its
    lower-(degree, id) endpoint to the higher one, build wedges only
    from OUT-edges (fan-out capped at O(sqrt(|E|)) under any skew — a
    celebrity vertex contributes ~|E| wedges, not degree^2), close each
    wedge against the canonical edge set.  Each triangle has exactly
    one corner from which both others are out-neighbors, so no dedup
    pass is needed.

    Join discipline: no broadcasts, ever — the vertex and edge tables
    both scale with the data, and the broadcasts AQE (or a hint) would
    pick at test scale OOM by construction at target scale (see
    triangle_total_degree_oriented's docstring for the measured
    failures).  The degree attach is hinted SHUFFLE_HASH (the build
    side is one partition's slice of the vertex table — bounded, and
    it skips re-sorting the edge set twice, measured ~15% faster than
    merge at gate scale); the closing join is hinted sort-merge (both
    sides edge-sized).
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    # Checkpointed (r11, guide §5): the relation feeds BOTH degree-attach
    # builds, and the r11 plan audit showed the join-key renames (a vs
    # b) pushing different isnotnull filters into the two subtrees, so
    # neither exchange reuse nor cache-plan matching fired — the whole
    # 2|E|-row union+aggregate (and its two e scans) executed twice per
    # query.  Vertex-sized.
    degrees = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    da = degrees.select(F.col("v").alias("a"), F.col("deg").alias("__da")).hint(
        "shuffle_hash"
    )
    db = degrees.select(F.col("v").alias("b"), F.col("deg").alias("__db")).hint(
        "shuffle_hash"
    )
    withdeg = e.join(da, "a").join(db, "b")
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    # Checkpointed (r11, guide §5): BOTH sides of the wedge self-join
    # are this relation under different aliases, and the r11 plan audit
    # showed the aliased sides defeating exchange reuse — the whole
    # degree-attach chain (two shuffled-hash joins over e) executed
    # once PER SIDE.  Edge-sized, same class as e.
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select("u", F.col("w").alias("w1"))
    o2 = oriented.select("u", F.col("w").alias("w2")).hint("merge")
    # each unordered out-pair once; w1 < w2 makes the pair id-canonical,
    # so it probes the canonical edge set directly.  The self-join is
    # hinted sort-merge: BOTH sides are the full oriented edge set
    # (data-sized), and with real table stats Catalyst otherwise
    # broadcasts one of them — caught in r10 by the sf0.001 plan audit
    # (the r09 tiny-fixture plan test missed it; the broadcast-OOM
    # failure class is the measured one in
    # triangle_total_degree_oriented's docstring).  Sort-merge spills;
    # a data-sized hashed relation does not.
    pairs = o1.join(o2, "u").where(F.col("w1") < F.col("w2"))
    # Closing probe hinted SHUFFLE_HASH (r11, guide §3.1): the build
    # side is one partition's slice of the canonical edge set — the
    # same bounded-slice memory class as the degree attach above, NOT
    # the whole-relation broadcast r10 measured OOMing — while the
    # sort-merge pin paid a full sort of the WEDGE relation (the
    # enumerator's largest) on the probe side.  Broadcast stays banned
    # (the hint, like the others, pins the planner away from it).
    closing = e.select(F.col("a").alias("w1"), F.col("b").alias("w2")).hint(
        "shuffle_hash"
    )
    return pairs.join(closing, ["w1", "w2"], "left_semi"), degrees


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts over the undirected, canonicalized
    edge set (self-loops dropped, (a, b) with a < b, distinct).
    Returns (vid, n_triangles) where each triangle {a < b < c} is
    attributed to its SMALLEST vertex id — a deterministic attribution
    both engines reproduce.  The total triangle count is
    ``sum(n_triangles)``.

    r09: enumerates via the shared degree-oriented
    :func:`_oriented_triangles` (each triangle exactly once, all three
    corners in hand), then attributes with ``least(u, w1, w2)`` — the
    earlier raw-id node-iterator paid the sum-of-degrees-squared wedge
    blowup that degree orientation caps at O(sqrt(|E|)) per key.
    """
    tris, _ = _oriented_triangles(edges, src, dst)
    return tris.groupBy(
        F.least(F.col("u"), F.col("w1"), F.col("w2")).alias("vid")
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_total_degree_oriented(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count via degree orientation — the 100 TB
    variant of triangle_counts.  Returns a single row (n_triangles).

    Every edge is oriented from its lower-(degree, id) endpoint to the
    higher one; wedges are built only from each vertex's OUT-edges, so
    per-key fan-out is bounded by the max out-degree, which degree
    orientation caps at O(sqrt(|E|)) regardless of how skewed the raw
    degree distribution is (the compact-forward algorithm).  A single
    celebrity vertex with 10^8 followers contributes 10^16 wedges to
    the id-oriented join but only ~|E| to this one.  The total is
    orientation-invariant, so this is exact — it just cannot attribute
    triangles to a *specific* vertex like triangle_counts does.

    Plan: one degree aggregate (vertex-sized), shuffle-hash-joined
    back onto the edge set, one wedge self-join on the oriented
    source, one closing merge semi-join against the canonical edge
    set, one global count — all via the shared
    :func:`_oriented_triangles` enumerator.  The joins are hinted
    away from broadcast on purpose: both the vertex table and the
    edge set scale with the data (terabytes at web scale), so any
    broadcast of them is wrong by construction — and measured, not
    hypothetical: a forced F.broadcast of the degree table OOMed the
    driver at 64x replicas (1.28M vertices x two hinted builds), and
    with no hint AQE broadcast-converted the CLOSING side too (58M
    sorted long-pairs compress under the 64 MB shuffle threshold) and
    died building a >1 GB hashed relation.  The probe tool caught
    both; the only broadcast this operator should ever do is none.
    """
    tris, _ = _oriented_triangles(edges, src, dst)
    return tris.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def triangle_total_doulion(
    edges: DataFrame,
    p_ppm: int = 250_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Approximate global triangle count by sparsified exact counting
    (DOULION — Tsourakakis, Kang, Miller, Faloutsos, KDD 2009): keep
    each canonical edge with probability ``p = p_ppm / 1e6``, count
    triangles EXACTLY on the sampled subgraph via the shared
    degree-oriented enumerator, and scale the count by ``1/p^3``.
    Each triangle survives iff all three of its edges do
    (probability p^3), so the estimator is unbiased; relative error
    concentrates as O(1/(p^1.5 * sqrt(T))) for T true triangles, i.e.
    tighter the more triangles the graph actually has.  Returns a
    single row (n_triangles_est long).

    This is the documented crawl-scale fallback for the exact triangle
    family: on ONE giant connected component, exact counting's wedge
    volume grows O(|E|^1.5) no matter how it is oriented — inherent to
    the problem, not to the plan (see PLANS.md).  Sampling at p cuts
    the edge set to p*|E| and the dominant wedge term by ~p^2 (expected
    oriented fan-out shrinks by p, wedges per vertex by ~p^2), so
    p = 1/4 buys a ~16x wedge reduction for a 64x variance scale —
    the standard knob when a user needs "how many triangles, roughly"
    on a web-crawl-sized graph rather than an exact census.

    Determinism: the keep decision is a pure hash of the canonical
    pair — the md5-derived 60-bit integer family every sampling
    operator here uses (``conv(substr(md5(a:b),1,15),16,10) % 1e6 <
    p_ppm``) — not an RNG, so the estimate is a reproducible function
    of the graph, independent of partitioning, and the DuckDB oracle
    replays it bit-for-bit.  ``p_ppm`` must divide 1e6 so the scale
    factor (1e6/p_ppm)^3 is integer-exact (hash-stable output).
    """
    if not 0 < p_ppm <= 1_000_000 or 1_000_000 % p_ppm:
        raise ValueError(
            f"p_ppm must divide 1,000,000 and lie in (0, 1e6], got {p_ppm}"
        )
    inv = 1_000_000 // p_ppm
    a = F.least(F.col(src), F.col(dst)).cast("string")
    b = F.greatest(F.col(src), F.col(dst)).cast("string")
    hv = md5_60(F.concat_ws(":", a, b))
    sampled = edges.where(hv % 1_000_000 < F.lit(p_ppm))
    tris, _ = _oriented_triangles(sampled, src, dst)
    return tris.agg(
        (F.count(F.lit(1)) * F.lit(inv**3)).cast("long").alias(
            "n_triangles_est"
        )
    )


def kcore_vertices(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Vertices of the undirected graph's k-core — the maximal subgraph
    where every vertex keeps degree >= k — with their in-core degree:
    (vid long, deg long).  Peel semantics (the greatest fixpoint: drop
    everything under degree k, repeat until a round drops nothing;
    removal order cannot change the answer).  The web-graph curation
    cut: k-core membership is a cheap page-quality/connectivity signal
    at crawl scale.

    Scale shape — DELTA peeling, not edge-set rewriting.  The naive
    loop rescans and rewrites the surviving EDGE set every round (scan
    + two anti-joins + a checkpoint write of edge-sized data x rounds,
    the superlinear term SCALE_PROBE flagged at alpha_hi 1.24).  Here
    the edge set is persisted ONCE, partitioned by source, and each
    round touches only vertex-sized state plus the peel frontier:

      * `deg` — a (vertex, degree) relation, maintained incrementally:
        when a vertex drops, each surviving neighbor's degree falls by
        its edge count to the dropped set.  The decrement join scans
        edges incident to the FRONTIER (one co-partitioned join + a
        frontier-sized groupBy), so late rounds cost almost nothing.
      * edges to vertices dropped in EARLIER rounds need no masking:
        their decrements target vertices no longer present in `deg`,
        so the left join discards them — the algebra self-filters.
      * the full edge relation is COMPACTED to survivors only when the
        peel has removed >= half the vertices alive at the last
        compaction (amortized O(log V) compactions), keeping the
        frontier scans from paying for long-gone vertices without
        re-writing edges every round.

    Final `deg` at the fixpoint IS the in-core degree: every non-core
    vertex drops exactly once, decrementing each surviving neighbor
    exactly once.  Lineage is cut per round on the vertex-sized
    relation only (localCheckpoint); convergence is a driver-side
    scalar count.

    An edge set that fits one partition (:func:`~.loop.driver_table`)
    runs the same peel rounds on the driver (:func:`_kcore_rounds`);
    ``max_iterations`` binds there too.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    npart = spark.sparkContext.defaultParallelism

    def result(deg: DataFrame) -> DataFrame:
        return deg.select(
            F.col("s").cast("long").alias("vid"),
            F.col("deg").cast("long").alias("deg"),
        )

    with ExitStack() as held:
        e, table = _counted_edges(held, edges, src, dst)
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        if table is not None:
            vids, degs = _kcore_rounds(*_both_ways_ids(table), k, max_iterations)
            return _local(spark, result(deg).schema, vids, degs)
        deg = deg.localCheckpoint(eager=False)
        dropped_since_compact = 0
        for _ in until_converged("kcore_vertices", max_iterations):
            # ONE driver action per round: alive + frontier size off the
            # checkpointed vertex relation (scalars, not data).  `drop`
            # itself is a re-filter of the same cached RDD — cheap, and
            # not worth a checkpoint of its own.
            counts = deg.agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum((F.col("deg") < k).cast("long")).alias("__nd"),
            ).collect()[0]
            alive = counts["__n"] - (counts["__nd"] or 0)
            n_drop = counts["__nd"] or 0
            if n_drop == 0:
                return result(deg)
            drop = deg.where(F.col("deg") < k).select("s")
            # Degree decrements from the frontier's incident edges; the
            # left join onto surviving vertices drops decrements aimed
            # at already-peeled ones.
            dec = (
                e.join(drop, "s")
                .groupBy("d")
                .agg(F.count(F.lit(1)).alias("__dec"))
                .withColumnRenamed("d", "s")
            )
            deg = (
                deg.join(drop, "s", "left_anti")
                .join(dec, "s", "left")
                .select(
                    "s",
                    (
                        F.col("deg") - F.coalesce(F.col("__dec"), F.lit(0))
                    ).alias("deg"),
                )
                .localCheckpoint(eager=False)
            )
            dropped_since_compact += n_drop
            if alive and dropped_since_compact >= alive:
                survivors = deg.select("s")
                kept = (
                    e.join(survivors, "s", "semi")
                    .join(survivors.withColumnRenamed("s", "d"), "d", "semi")
                    .repartition(npart, "s")
                )
                e_new = held.enter_context(persisted(kept))
                e_new.count()
                # free the superseded set now, not when the stack unwinds
                e.unpersist()
                e = e_new
                dropped_since_compact = 0


def _kcore_rounds(
    s: np.ndarray, d: np.ndarray, k: int, max_iterations: int
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`kcore_vertices`' peel rounds on the driver, over the
    both-orientations edge arrays: each round drops every surviving
    vertex of degree < k and decrements its surviving neighbors, until
    a round drops nothing."""
    vids, si = np.unique(s, return_inverse=True)
    di = np.searchsorted(vids, d)
    deg = np.bincount(si, minlength=len(vids))
    alive = np.ones(len(vids), bool)
    for _ in until_converged("kcore_vertices", max_iterations):
        drop = alive & (deg < k)
        if not drop.any():
            return vids[alive], deg[alive]
        alive &= ~drop
        deg -= np.bincount(di[drop[si]], minlength=len(vids))


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection: every vertex
    starts labeled with its own id and each round SIMULTANEOUSLY adopts
    the most frequent label among its neighbors (ties to the smallest
    label).  Returns (vid long, label long) after exactly ``rounds``
    rounds.

    Fixed round count, not a convergence loop, on purpose: synchronous
    LP can 2-cycle on bipartite-ish structure, so "until no change" may
    never hold; a fixed horizon is the standard formulation and makes
    the result a pure deterministic function of the graph.  Communities
    in near-dup/link graphs stabilize in 3-5 rounds.

    Scale shape: the both-orientations edge set is materialized ONCE,
    partitioned by the neighbor-reading side, and persisted.  Each
    round joins it against the previous round's labels, a lazy
    checkpoint that reports no partitioning, so they do NOT arrive
    partitioned by vid.  One round's final plan (lineitem edges, sf0.01
    and sf0.1, local[4]) reads the edges from the cache with no
    exchange, broadcasts the vertex-sized labels, and shows ONE
    shuffle: hashpartitioning(vid) of the (vertex x avg-degree)
    neighbor rows, on which the (vid, label) count and the per-vid
    argmax both run — never the corpus.  The argmax is
    max(struct(cnt, -label)), a partial-aggregatable expression — no
    row_number window, so a celebrity vertex's neighbor list partial-
    aggregates map-side instead of sorting on one executor.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    spark = edges.sparkSession
    npart = spark.sparkContext.defaultParallelism
    with persisted(
        _undirected_edges(_canonical_edges(edges, src, dst))
    ) as e:
        labels = (
            e.select(F.col("s").alias("vid"))
            .distinct()
            .withColumn("label", F.col("vid"))
        )
        for _ in range(rounds):
            # One exchange per round: repartition the neighbor-label rows
            # by vid ONCE; HashPartitioning(vid) satisfies the clustering
            # of BOTH downstream aggregates (groupBy(vid,label) needs only
            # same-key co-location, groupBy(vid) matches exactly), so the
            # count and the argmax run exchange-free on top of it.
            nbr = (
                e.join(labels, e.s == labels.vid)
                .select(F.col("d").alias("vid"), "label")
                .repartition(npart, "vid")
            )
            counts = nbr.groupBy("vid", "label").agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            labels = (
                counts.groupBy("vid")
                .agg(F.max(F.struct(F.col("__cnt"), (-F.col("label")).alias("__neg"))).alias("__best"))
                .select("vid", (-F.col("__best.__neg")).alias("label"))
                .localCheckpoint(eager=False)
            )
        # The intermediate rounds checkpoint lazily; the FINAL one is
        # eager so the result reads vertex-sized blocks, not the edges
        # released on exit.  The caller's action would have done this
        # exact work anyway — the cost moves, it doesn't grow.
        return labels.select(
            F.col("vid").cast("long"), F.col("label").cast("long")
        ).localCheckpoint(eager=True)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "vid",
) -> DataFrame:
    """Multi-source breadth-first hop distance: (vid long, hop int) for
    every vertex reachable from ``seeds`` within ``rounds`` undirected
    hops (seeds themselves at hop 0).  The classic frontier-expansion
    formulation of iterative graph traversal (cf. the reference's
    iterative network jobs, e.g. PageRank's per-superstep scatter,
    /root/reference/src/tritonsort/mapreduce/functions/map/PageRankMapFunction.cc
    — same superstep discipline, different per-round operator).

    Scale shape: the both-orientations edge set is built ONCE,
    pre-partitioned on the frontier-matching key, and persisted, so
    each round's expansion join co-locates against it without
    re-shuffling the graph.  Per round the moving data is the frontier
    x avg-degree neighbor set (one exchange for its dedup) and the
    visited-set anti-join — both bounded by the vertex set, never the
    corpus.  ``localCheckpoint`` cuts the per-round lineage exactly as
    in :func:`label_propagation`; frontiers SHRINK as the graph
    saturates, so late rounds are cheap.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    with persisted(
        _undirected_edges(_canonical_edges(edges, src, dst))
    ) as e:
        dist = (
            seeds.select(F.col(seed_col).alias("vid"))
            .distinct()
            .withColumn("hop", F.lit(0))
            .localCheckpoint(eager=False)
        )
        frontier = dist.select("vid")
        for i in range(1, rounds + 1):
            reached = (
                e.join(frontier.withColumnRenamed("vid", "s"), "s")
                .select(F.col("d").alias("vid"))
                .distinct()
            )
            fresh = (
                reached.join(dist.select("vid"), "vid", "left_anti")
                .withColumn("hop", F.lit(i))
                .localCheckpoint(eager=False)
            )
            dist = dist.unionByName(fresh).localCheckpoint(eager=False)
            frontier = fresh.select("vid")
        # Eager final checkpoint, as in label_propagation.
        return dist.select(
            F.col("vid").cast("long"), F.col("hop").cast("int")
        ).localCheckpoint(eager=True)


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex local clustering coefficient: (vid, deg, n_tri,
    lcc_ppm) for every vertex of degree >= 2, where lcc = 2 * t(v) /
    (deg * (deg - 1)) and t(v) counts the triangles INCIDENT to v
    (each triangle credited to all three corners, unlike
    :func:`triangle_counts`' smallest-corner attribution).  The
    canonical web-graph connectivity/quality signal.

    Exactness: t and deg are exact longs; the coefficient is ONE
    double division of two exactly-representable integers, rounded to
    ppm — reproducible on any IEEE engine.  Plan (r09): the shared
    degree-oriented enumerator :func:`_oriented_triangles` (each
    triangle exactly once, per-key wedge fan-out capped at
    O(sqrt(|E|)) under any skew — the earlier node-iterator paid the
    sum-of-degrees-squared blowup) + a 3-way corner explode that is
    triangle-sized, + one degree aggregate over the same checkpointed
    canonical edge set.
    """
    tris, degrees = _oriented_triangles(edges, src, dst)
    per_vertex = (
        tris.select(
            F.explode(
                F.array(F.col("u"), F.col("w1"), F.col("w2"))
            ).alias("vid")
        )
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    # The enumerator already built and checkpointed this exact relation
    # for its degree orientation — read it instead of re-aggregating
    # the edge set a third time (r11, guide §5).
    deg = degrees.select(F.col("v").alias("vid"), "deg")
    num = (F.col("n_tri") * F.lit(2_000_000)).cast("double")
    den = (F.col("deg") * (F.col("deg") - 1)).cast("double")
    return (
        deg.where(F.col("deg") >= 2)
        .join(per_vertex, "vid", "left_outer")
        .na.fill({"n_tri": 0})
        .select(
            F.col("vid").cast("long"),
            F.col("deg").cast("long"),
            F.col("n_tri").cast("long"),
            F.round(num / den).cast("long").alias("lcc_ppm"),
        )
    )
