"""Unit tests for operator semantics (the reference's gtest analog:
small fixtures, exact expected outputs — SURVEY §5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from themis_tritonsort_spark.functions.names import sql_column
from themis_tritonsort_spark.functions.text import tokens
from themis_tritonsort_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    simhash64,
)
from themis_tritonsort_spark.operators.kmeans import assign_clusters, lloyd
from themis_tritonsort_spark.operators.sessionize import sessionize_pdf
from themis_tritonsort_spark.operators.similarity import brute_force_topk, ivf_topk
from themis_tritonsort_spark.operators.sort import merge_sorted, with_global_rank


# --- tokenizer: reference WordTokenizer semantics (WordTokenizer.cc:27-69)
@pytest.mark.parametrize(
    "text,expected",
    [
        ("hello world", ["hello", "world"]),
        ("a  b..c", ["a", "b", "c"]),
        # the scanner consumes only the backslash of "\n"; the n starts
        # the next word (WordTokenizer.cc:35-39)
        (r"line one\nline two", ["line", "one", "nline", "two"]),
        ("tail\\", ["tail\\"]),  # lone trailing backslash is word material
        (r"\nstart", ["nstart"]),
        ('x(y)z?w;q/r,s."t', ["x", "y", "z", "w", "q", "r", "s", "t"]),
        ("", []),
        ("trailing word", ["trailing", "word"]),  # no terminator: counted
    ],
)
def test_tokenizer_reference_vectors(spark, text, expected):
    row = spark.createDataFrame([(text,)], "t string").select(
        tokens("t").alias("w")
    ).first()
    assert row["w"] == expected


# --- sessionization: reference anchor-reset rule
# (ClickLogSessionSummarizerReduceFunction.cc:20-64)
def test_sessionize_anchor_reset_rule():
    # clicks at t=0,15,99: 15-0 < 20 no emit; 99-0 >= 20 -> emit (0,99),
    # anchor resets; nothing left -> exactly one session.
    pdf = pd.DataFrame({"u": [1, 1, 1], "ts": [0, 15, 99], "url": ["a", "b", "c"]})
    out = sessionize_pdf(pdf, "ts", "url", 20, ["u"])
    assert out.to_dict("records") == [
        {"u": 1, "first_ts": 0, "last_ts": 99, "first_url": "a", "last_url": "c"}
    ]


def test_sessionize_closing_click_not_new_anchor():
    # After emission the NEXT click anchors: 0,25 emits (0,25); 26,30
    # anchor=26, 30-26 < 20 -> no second session.  The textbook gap rule
    # would differ; this is the reference's exact behavior.
    pdf = pd.DataFrame(
        {"u": [1] * 4, "ts": [0, 25, 26, 30], "url": list("abcd")}
    )
    out = sessionize_pdf(pdf, "ts", "url", 20, ["u"])
    assert out.to_dict("records") == [
        {"u": 1, "first_ts": 0, "last_ts": 25, "first_url": "a", "last_url": "b"}
    ]


def test_sessionize_trailing_clicks_emit_nothing():
    pdf = pd.DataFrame({"u": [1, 1], "ts": [0, 5], "url": ["a", "b"]})
    out = sessionize_pdf(pdf, "ts", "url", 20, ["u"])
    assert len(out) == 0


# --- global rank: totality, contiguity, binary-sort parity
def test_with_global_rank_is_contiguous_total_order(spark):
    df = spark.range(1000).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("uid")
    )
    out = with_global_rank(df, ["k", "uid"], rank_col="pos", num_partitions=7)
    rows = out.orderBy("pos").collect()
    assert [r["pos"] for r in rows] == list(range(1, 1001))
    keys = [(r["k"], r["uid"]) for r in rows]
    assert keys == sorted(keys)


def test_with_global_rank_chained_leaves_no_cache(spark):
    # Chained sorts must not accumulate Dataset caches: each sort's
    # reused intermediate is a lazy local checkpoint, so the session's
    # CacheManager stays empty with no release call, and every RDD the
    # loop left persistent is a checkpoint owned by a result's lineage
    # (freed by the ContextCleaner with it).
    jsc = spark.sparkContext._jsc
    baseline = set(jsc.getPersistentRDDs().keys())
    df = spark.range(200).select(
        (F.col("id") * 31 % 97).alias("k"), F.col("id").alias("uid")
    )
    for i in range(3):
        out = with_global_rank(df, ["k", "uid"], rank_col="pos", num_partitions=4)
        rows = out.orderBy("pos").collect()
        assert [r["pos"] for r in rows] == list(range(1, 201))
        keys = [(r["k"], r["uid"]) for r in rows]
        assert keys == sorted(keys)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        # chain: the next sort orders by the previous one's rank
        df = out.select(((F.col("pos") * 7 + i) % 53).alias("k"), "uid")
    left = {
        k: v
        for k, v in jsc.getPersistentRDDs().items()
        if k not in baseline
    }
    assert left, "with_global_rank stopped materializing its ranked relation?"
    assert all(v.rdd().isCheckpointed() for v in left.values())


def test_with_global_prefix_sum_matches_single_window(spark):
    from themis_tritonsort_spark.operators.sort import with_global_prefix_sum

    df = spark.range(500).select(
        (F.col("id") * 7919 % 500).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 13 + 1).alias("v"),
    )
    got = {
        (r["k"], r["uid"]): r["prefix_sum"]
        for r in with_global_prefix_sum(
            df, ["k", "uid"], "v", num_partitions=7
        ).collect()
    }
    rows = sorted(df.collect(), key=lambda r: (r["k"], r["uid"]))
    run = 0
    for r in rows:
        run += r["v"]
        assert got[(r["k"], r["uid"])] == run


def test_binary_sort_shorter_prefix_first(spark):
    # Comparison.h:15-30: on common prefix, shorter key sorts first.
    df = spark.createDataFrame(
        [(b"ab",), (b"a",), (b"abc",), (b"",), (b"b",)], "key binary"
    )
    got = [bytes(r["key"]) for r in df.sort("key").collect()]
    assert got == [b"", b"a", b"ab", b"abc", b"b"]


def test_merge_sorted_interleaves(spark):
    a = spark.createDataFrame([(1,), (3,), (5,)], "ts long")
    b = spark.createDataFrame([(2,), (4,), (6,)], "ts long")
    out = merge_sorted([a, b], ["ts"], rank_col="pos").orderBy("pos").collect()
    assert [r["ts"] for r in out] == [1, 2, 3, 4, 5, 6]


# --- dedup
def test_exact_duplicates_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique"), (4, "same text")],
        "doc_id long, text string",
    )
    out = exact_duplicates(df, "doc_id", "text").collect()
    assert {r["doc_id"] for r in out} == {1, 2, 4}
    assert all(r["canonical_id"] == 1 and r["group_size"] == 3 for r in out)


def test_jaccard_pairs_exact_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),  # J(1,2) = 3/5
            (3, "x y z w"),
        ],
        "doc_id long, text string",
    )
    out = jaccard_pairs(df, "doc_id", "text", n=1, min_jaccard=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["inter_size"], r["union_size"]) == (1, 2, 3, 5)
    # prefix filter and brute force must agree
    brute = jaccard_pairs(
        df, "doc_id", "text", n=1, min_jaccard=0.5, prefix_filter=False
    ).collect()
    assert len(brute) == 1 and brute[0] == r


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    d12 = bin(rows[1] ^ rows[2]).count("1")
    d13 = bin(rows[1] ^ rows[3]).count("1")
    assert d12 < d13


# --- kmeans
def test_assign_clusters_argmin_and_ties(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [5.0, 0.0])],
        "id long, v array<double>",
    )
    centers = [[0.0, 0.0], [10.0, 0.0]]
    got = {
        r["id"]: r["cluster"]
        for r in assign_clusters(df, "v", centers).collect()
    }
    # point 2 is equidistant -> lowest center id wins (reference argmin)
    assert got == {0: 0, 1: 1, 2: 0}


def test_assign_clusters_nested_field(spark):
    """A nested vector column is referenced as F.col reads it: ``s.v``
    is field ``v`` of struct ``s``."""
    df = spark.createDataFrame(
        [(0, ([0.0, 0.0],)), (1, ([10.0, 0.0],)), (2, ([5.0, 0.0],))],
        "id long, s struct<v: array<double>>",
    )
    got = {
        r["id"]: r["cluster"]
        for r in assign_clusters(df, "s.v", [[0.0, 0.0], [10.0, 0.0]]).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0}


def test_assign_clusters_backtick_in_name(spark):
    """A column named ``a`b`` is passed the way F.col takes it
    (backtick-quoted, inner backtick doubled) and resolves."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [5.0, 0.0])],
        "id long, `a``b` array<double>",
    )
    got = {
        r["id"]: r["cluster"]
        for r in assign_clusters(df, "`a``b`", [[0.0, 0.0], [10.0, 0.0]]).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0}


@pytest.mark.parametrize(
    "name,quoted",
    [
        ("v", "`v`"),
        ("s.v", "`s`.`v`"),
        ("`s`.v", "`s`.`v`"),
        ("`x.y`", "`x.y`"),
        ("`a``b`", "`a``b`"),
    ],
)
def test_sql_column_splits_like_f_col(name, quoted):
    assert sql_column(name) == quoted


@pytest.mark.parametrize("name", ["a`b", "`a", "`a`b", "s..v", "s."])
def test_sql_column_rejects_what_f_col_rejects(spark, name):
    with pytest.raises(ValueError):
        sql_column(name)
    with pytest.raises(AnalysisException):
        spark.range(1).select(F.col(name))


def test_lloyd_converges_two_blobs(spark):
    pts = [(i, [float(i % 2 * 100 + (i % 5)), 0.0]) for i in range(40)]
    df = spark.createDataFrame(pts, "id long, v array<double>")
    assigned, centers = lloyd(df, "v", k=2, iterations=3,
                              initial_centers=[[0.0, 0.0], [1.0, 0.0]])
    got = {r["id"]: r["cluster"] for r in assigned.collect()}
    for i, c in got.items():
        assert c == (0 if i % 2 == 0 else 1)
    assert abs(centers[0][0] - 2.0) < 1e-9 and abs(centers[1][0] - 102.0) < 1e-9


def test_lloyd_nested_vector_column(spark):
    """A ``struct<v: array<double>>`` column named ``s.v`` gives the same
    centers and assignments as the same vectors in a flat column."""
    pts = [(i, [float(i % 2 * 100 + (i % 5)), 0.0]) for i in range(40)]
    flat = spark.createDataFrame(pts, "id long, v array<double>")
    nested = spark.createDataFrame(
        [(i, (v,)) for i, v in pts], "id long, s struct<v: array<double>>"
    )
    init = [[0.0, 0.0], [1.0, 0.0]]
    a_flat, c_flat = lloyd(flat, "v", k=2, iterations=3, initial_centers=init)
    a_nested, c_nested = lloyd(
        nested, "s.v", k=2, iterations=3, initial_centers=init
    )
    assert c_nested == c_flat
    assert sorted((r["id"], r["cluster"]) for r in a_nested.collect()) == sorted(
        (r["id"], r["cluster"]) for r in a_flat.collect()
    )


def test_lloyd_iteration_cache_is_scoped_and_value_neutral(spark):
    """lloyd's iteration working set (vector-only projection) persists
    for the loop and is ALWAYS unpersisted before returning — no
    caller-owned cache contract (unlike pq_rerank_topk's lazy-result
    barrier) — and the cached path computes the same centers as the
    uncached path."""
    pts = [(i, [float(i % 2 * 100 + (i % 5)), 0.0]) for i in range(40)]
    df = spark.createDataFrame(pts, "id long, v array<double>")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    _, c_cached = lloyd(df, "v", k=2, iterations=3,
                        initial_centers=[[0.0, 0.0], [1.0, 0.0]])
    assert jsc.getPersistentRDDs().size() == before, "leaked cache"
    _, c_plain = lloyd(df, "v", k=2, iterations=3,
                       initial_centers=[[0.0, 0.0], [1.0, 0.0]],
                       persist_input=False)
    # same arithmetic either way: the cache stores the projection's
    # VALUES, the means fold order per partition is unchanged
    assert c_cached == c_plain


# --- similarity: IVF recall vs brute force
def test_ivf_topk_subset_of_brute(spark):
    import random

    rng = random.Random(42)
    corpus = [
        (i, [rng.gauss(cx, 1.0), rng.gauss(0, 1.0)])
        for i, cx in ((i, (i % 4) * 20.0) for i in range(80))
    ]
    df = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    qs = df.where(F.col("vec_id") < 2)
    centroids = [[0.0, 0.0], [20.0, 0.0], [40.0, 0.0], [60.0, 0.0]]
    brute = brute_force_topk(df, qs, "vec_id", "embedding", k=5).collect()
    ivf = ivf_topk(df, qs, "vec_id", "embedding", k=5, centroids=centroids, nprobe=4).collect()
    # nprobe = all cells -> identical results
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in ivf) == sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in brute
    )


def test_assign_clusters_numpy_matches_literal(spark, sf_dir):
    """The large-k numpy path must agree with the literal (oracle-
    parity) path on real data — random vectors have no exact distance
    ties, so float summation-order differences cannot flip the argmin
    here."""
    from themis_tritonsort_spark.operators.kmeans import assign_clusters

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centers = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 6).orderBy("vec_id").collect()
    ]
    lit = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, "embedding", centers, strategy="literal").collect()
    }
    npy = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, "embedding", centers, strategy="numpy").collect()
    }
    assert lit == npy and len(lit) > 0


def test_build_ivf_recall_floor(spark, sf_dir):
    """Self-trained IVF with nprobe=half-the-cells must recover most of
    the exact top-k (deterministic: seeded centroids, fixed data)."""
    from themis_tritonsort_spark.operators.similarity import build_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in build_ivf_topk(
            emb, queries, "vec_id", "embedding", k=10, n_cells=8, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_cohort_fused_agg_equals_set_ops(spark, sf_dir):
    """q54's fused conditional aggregate (1 scan, 1 shuffle) must equal
    the literal DataFrame.intersect/subtract formulation (6 scans,
    3 shuffles) — the set-op API coverage witness."""
    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.queries import q54_yearly_cohorts

    od = table(spark, sf_dir, "orders")

    def active(year):
        return od.where(F.year("o_orderdate") == year).select(
            F.col("o_custkey").alias("custkey")
        )

    a, b = active(1995), active(1996)
    set_form = (
        a.intersect(b)
        .select(F.lit("both").alias("cohort"), "custkey")
        .unionByName(
            a.subtract(b).select(F.lit("only_1995").alias("cohort"), "custkey")
        )
        .unionByName(
            b.subtract(a).select(F.lit("only_1996").alias("cohort"), "custkey")
        )
    )
    expected = {(r["cohort"], r["custkey"]) for r in set_form.collect()}
    fused = {
        (r["cohort"], r["custkey"])
        for r in q54_yearly_cohorts(spark, sf_dir).collect()
    }
    assert fused == expected and len(fused) > 0


def test_triangle_counts_known_graph(spark):
    from themis_tritonsort_spark.operators.components import triangle_counts

    # K4 on {1,2,3,4} has 4 triangles: 123,124,134 at vid 1; 234 at 2.
    # Vertex 5 hangs off 1 (no triangle); edge given reversed + dup.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1), (2, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["vid"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 1}


def test_triangle_total_degree_oriented_matches_exact(spark):
    from themis_tritonsort_spark.operators.components import (
        triangle_counts,
        triangle_total_degree_oriented,
    )

    # K4 + pendant (4 triangles), with duplicates/reversals thrown in.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1), (2, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_total_degree_oriented(df).collect()[0]["n_triangles"] == 4

    # a skewed star + rim: hub 0 connects to 1..12, rim edges close
    # consecutive spokes -> 12 triangles, all through the hub; the
    # degree-oriented total must match the id-oriented per-vertex sum.
    star = [(0, i) for i in range(1, 13)]
    rim = [(i, i % 12 + 1) for i in range(1, 13)]
    sdf = spark.createDataFrame(star + rim, ["src", "dst"])
    exact = sum(
        r["n_triangles"] for r in triangle_counts(sdf).collect()
    )
    got = triangle_total_degree_oriented(sdf).collect()[0]["n_triangles"]
    assert got == exact == 12


def test_funnel_steps_strict_ordering(spark):
    from datetime import datetime

    from themis_tritonsort_spark.operators.sessionize import funnel_steps

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full funnel in order -> 3
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # user 2: purchase BEFORE click -> stops at 2
        (2, t(1), "view"), (2, t(3), "click"), (2, t(2), "purchase"),
        # user 3: click at the SAME instant as view -> strict > blocks
        (3, t(1), "view"), (3, t(1), "click"),
        # user 4: only irrelevant events -> absent from output
        (4, t(1), "error"),
        # user 5: click with no prior view -> 0
        (5, t(1), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user_id"]: r["stage"]
        for r in funnel_steps(
            df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert out == {1: 3, 2: 2, 3: 1, 5: 0}


def test_graph_ops_cache_ownership(spark, monkeypatch, graph_paths):
    """ADVICE r09 cache discipline: the iterative graph ops
    (connected_components, kcore_vertices, label_propagation, bfs_hops)
    materialize internally and release EVERY persist they take before
    returning; pagerank, connected_components_star and the triangle
    family take no persist at all (their reused relations are lazy
    local checkpoints owned by the result's lineage).  After every op
    the session's CacheManager is empty, with no clearCache().
    connected_components and kcore_vertices persist only on their
    distributed loop: a graph that fits one partition finishes on the
    driver with no persist, so both paths run here."""
    from themis_tritonsort_spark.operators import components as C
    from themis_tritonsort_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["vid"])

    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is an
    # abstract facade; classic sessions instantiate a subclass)
    DataFrame = type(edges)
    taken: list = []
    orig = DataFrame.persist

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        taken.append(out)
        return out

    monkeypatch.setattr(DataFrame, "persist", spy)

    def cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # self-releasing ops: every persist taken is released on return
    # (the two with a driver path take none there)
    for path in graph_paths:
        for call in (
            lambda: C.connected_components(edges).collect(),
            lambda: C.kcore_vertices(edges, k=2).collect(),
        ):
            taken.clear()
            call()
            if path == "loop":
                assert taken, "op stopped persisting its edge set?"
            else:
                assert taken == []
            assert not any(cached(h) for h in taken)
            assert cache_empty()
        taken.clear()
        C.connected_components_star(edges).collect()
        assert taken == []
        assert cache_empty()
    for call in (
        lambda: C.label_propagation(edges, rounds=2).collect(),
        lambda: C.bfs_hops(edges, seeds, rounds=2).collect(),
    ):
        taken.clear()
        call()
        assert taken, "op stopped persisting its edge set?"
        assert not any(cached(h) for h in taken)
        assert cache_empty()

    # checkpoint-only ops: no persist is taken at all
    taken.clear()
    pagerank(edges, iterations=3).collect()
    assert taken == []
    assert cache_empty()

    # lazy triangle family: no persist is taken, and the answer is the
    # exact one (the single triangle {1, 2, 3}) on every read
    for op, want in (
        (lambda: C.triangle_counts(edges), [(1, 1)]),
        (lambda: C.triangle_total_degree_oriented(edges), [(1,)]),
        (
            lambda: C.local_clustering_coefficient(edges),
            [(1, 2, 1, 1_000_000), (2, 2, 1, 1_000_000), (3, 3, 1, 333_333)],
        ),
    ):
        taken.clear()
        out = op()
        assert sorted(map(tuple, out.collect())) == want
        assert sorted(map(tuple, out.collect())) == want
        assert taken == []
        assert cache_empty()


def test_persist_only_in_the_loop_helper():
    """One owner for caches: ``.persist(`` appears in the package only
    inside ``operators/loop.py``, whose ``persisted`` context manager
    releases on every exit path.  Any other call site could leak."""
    import re
    from pathlib import Path

    import themis_tritonsort_spark

    root = Path(themis_tritonsort_spark.__file__).parent
    sites = {
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.persist\(", line)
    }
    assert sites and all(s.startswith("operators/loop.py:") for s in sites), (
        sorted(sites)
    )


def _package_sites(match) -> list[str]:
    """"path:function" of every AST node of the package's code (not its
    strings) that ``match`` accepts, named by the outermost enclosing
    function."""
    import ast
    from pathlib import Path

    import themis_tritonsort_spark

    root = Path(themis_tritonsort_spark.__file__).parent
    sites = []

    def walk(node, owner, where):
        for child in ast.iter_child_nodes(node):
            fn = owner
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                fn = child.name
            if match(child):
                sites.append(f"{where}:{fn}")
            walk(child, fn, where)

    for path in sorted(root.rglob("*.py")):
        walk(ast.parse(path.read_text()), None, str(path.relative_to(root)))
    return sites


def test_each_lsh_decision_exists_once():
    """One LSH candidate path: the MinHash affine family (its 7919
    constant), the hot-bucket cap window and the sign-LSH Arrow band
    kernel each live in exactly one function of the package.  (The
    oracle SQL in queries.py spells the family in strings, which this
    AST scan does not read.)"""
    import ast

    def call(node, attr, first):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
            and bool(node.args)
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == first
        )

    assert set(
        _package_sites(lambda n: isinstance(n, ast.Constant) and n.value == 7919)
    ) == {"operators/dedup.py:_minhash"}
    assert _package_sites(lambda n: call(n, "partitionBy", "band")) == [
        "operators/dedup.py:cap_hot_buckets"
    ]
    assert _package_sites(lambda n: call(n, "pandas_udf", "array<long>")) == [
        "operators/similarity.py:sign_band_rows"
    ]


def test_until_converged_raises_only_when_rounds_run_out():
    from themis_tritonsort_spark.operators.loop import until_converged

    def first_at_least(limit, max_rounds):
        for r in until_converged("probe", max_rounds):
            if r >= limit:
                return r

    assert first_at_least(2, 5) == 2
    seen = []
    for r in until_converged("probe", 3):
        seen.append(r)
        if r == 2:
            break
    assert seen == [0, 1, 2]
    with pytest.raises(RuntimeError, match="probe did not converge in 3 rounds"):
        first_at_least(3, 3)
    with pytest.raises(RuntimeError, match="probe did not converge in 0 rounds"):
        list(until_converged("probe", 0))


def test_star_cc_and_kcore_raise_when_out_of_rounds(spark, graph_paths):
    """Both operators must raise, not return a partial answer, when
    max_iterations is too small — and leave no cache behind."""
    from themis_tritonsort_spark.operators.components import (
        connected_components_star,
        kcore_vertices,
    )

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["src", "dst"]
    )
    for _ in graph_paths:
        with pytest.raises(
            RuntimeError, match="connected_components_star did not converge in 1"
        ):
            connected_components_star(chain, max_iterations=1)
        assert cache_empty()

        # the cascade graph of test_kcore_peel_cascade_and_compaction: its
        # pendant path peels one vertex per round
        cycle = [(i, i + 1) for i in range(1, 6)] + [(6, 1)]
        path = [(6, 100)] + [(100 + i, 101 + i) for i in range(12)]
        edges = spark.createDataFrame(cycle + path, ["src", "dst"])
        with pytest.raises(RuntimeError, match="kcore_vertices did not converge in 2"):
            kcore_vertices(edges, k=2, max_iterations=2)
        assert cache_empty()


def test_kcenter_select_releases_its_cache_when_the_loop_raises(
    spark, monkeypatch
):
    from themis_tritonsort_spark.operators import kmeans
    from themis_tritonsort_spark.operators.similarity import kcenter_select

    def boom(x):
        raise ValueError("injected")

    monkeypatch.setattr(kmeans, "sql_double", boom)
    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="injected"):
        kcenter_select(df, id_col="vec_id", vec_col="embedding", k=3)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_triangle_total_doulion(spark):
    """DOULION sparsified triangle count: p=1 degenerates to the exact
    count; p<1 counts triangles on the md5-deterministic subgraph and
    scales by the integer (1/p)^3 — replicated here brute-force in
    Python on the same hash family, so the test pins BOTH the sampling
    discipline and the estimator arithmetic."""
    import hashlib
    from itertools import combinations

    from themis_tritonsort_spark.operators.components import (
        triangle_total_doulion,
        triangle_total_degree_oriented,
    )

    # K6 minus one edge: 16 triangles, enough edges that p=1/2 keeps a
    # nontrivial strict subset.
    verts = [1, 2, 3, 4, 5, 6]
    all_edges = [e for e in combinations(verts, 2) if e != (5, 6)]
    df = spark.createDataFrame(all_edges, ["src", "dst"])

    exact = triangle_total_degree_oriented(df).collect()[0]["n_triangles"]
    assert exact == 16

    # p = 1: every edge kept, scale 1 -> the exact count
    got = triangle_total_doulion(df, p_ppm=1_000_000).collect()[0]
    assert got["n_triangles_est"] == exact

    # p = 1/2: replay the hash-sampling in Python and brute-force the
    # sampled subgraph's triangles; the operator must match count * 8.
    def kept(a, b, p_ppm):
        h = hashlib.md5(f"{a}:{b}".encode()).hexdigest()[:15]
        return int(h, 16) % 1_000_000 < p_ppm

    sampled = {e for e in all_edges if kept(*e, 500_000)}
    assert 0 < len(sampled) < len(all_edges)  # a strict, nonempty subset
    tris = sum(
        1
        for t in combinations(verts, 3)
        if all(tuple(sorted(p)) in sampled for p in combinations(t, 2))
    )
    got = triangle_total_doulion(df, p_ppm=500_000).collect()[0]
    assert got["n_triangles_est"] == tris * 8

    # invalid p: zero, >1e6, or not a divisor of 1e6
    import pytest as _pytest

    for bad in (0, 1_000_001, 300_000):
        with _pytest.raises(ValueError, match="p_ppm"):
            triangle_total_doulion(df, p_ppm=bad)


def test_connected_components_frontier_matches_union_find(spark, graph_paths):
    """Frontier (delta) min-label propagation (r11) must label every
    vertex with its component minimum — pinned against a brute-force
    union-find on a shape that exercises the frontier's edge cases: a
    20-hop chain (many rounds whose late frontiers are tiny, including
    rounds where previously-changed vertices go quiet and must NOT
    re-offer), two cliques bridged by a single edge (a changed vertex
    re-activating an already-converged region), and an isolated
    self-loop vertex."""
    from themis_tritonsort_spark.operators.components import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(100, 120)]  # chain, min = 100
    edges += [(a, b) for a in range(5) for b in range(5) if a < b]
    edges += [(a, b) for a in range(50, 55) for b in range(50, 55) if a < b]
    edges += [(4, 50)]  # bridge: second clique must drain to 0
    edges += [(200, 200)]  # self-loop only: vertex filtered out entirely
    edges += [(119, 118), (100, 101)]  # duplicate + mirrored rows

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}

    df = spark.createDataFrame(edges, ["src", "dst"])
    for _ in graph_paths:
        got = {
            (r["vid"], r["component"])
            for r in connected_components(df, max_iterations=50).collect()
        }
        assert got == want


def test_connected_components_star_matches_min_label(spark, graph_paths):
    """The alternating large-star/small-star variant must produce the
    identical (vid, component) relation as min-label propagation on an
    arbitrary graph — same minimum-id component contract."""
    from themis_tritonsort_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    # seeded pseudo-random graph: 120 vertices, ~150 hash-derived edges
    # (several components of mixed shape), plus a self-loop and dups
    edges = [((i * 7919) % 120, (i * 104729 + 13) % 120) for i in range(150)]
    edges += [(5, 5), (17, 3), (3, 17)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for _ in graph_paths:
        want = {
            (r["vid"], r["component"])
            for r in connected_components(df, max_iterations=50).collect()
        }
        got = {
            (r["vid"], r["component"])
            for r in connected_components_star(df).collect()
        }
        assert got == want


def test_connected_components_star_handles_long_chains(spark, graph_paths):
    """The adversarial shape the variant exists for: a 300-hop chain.
    Min-label needs diameter rounds (raises at max_iterations=10);
    star contraction converges in O(log n) alternations and labels
    every vertex with the chain's minimum."""
    import pytest as _pytest

    from themis_tritonsort_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, ["src", "dst"])

    for _ in graph_paths:
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iterations=10).collect()

        out = connected_components_star(df, max_iterations=12).collect()
        assert len(out) == 301
        assert all(r["component"] == 0 for r in out)
        assert {r["vid"] for r in out} == set(range(301))


def test_connected_components_star_releases_checkpoint_blocks(spark, graph_paths):
    """ADVICE r10: superseded alternations' localCheckpoint blocks are
    released inside the loop, not left for GC + ContextCleaner — after
    the call returns and the result is consumed, at most the final
    round's block sets may linger, never ~2 per alternation.  The
    chain fits one partition, so only the "loop" pass runs the
    alternations; the "driver" pass pins that it leaves no more."""
    import gc

    from themis_tritonsort_spark.operators.components import (
        connected_components_star,
    )

    sc = spark.sparkContext

    def n_stored() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    # a 64-hop chain forces several alternations (the shape that would
    # otherwise accumulate 2 block sets per round)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    for _ in graph_paths:
        # settle any leftovers from earlier tests in the shared session
        gc.collect()
        base = n_stored()
        out = connected_components_star(df, max_iterations=12)
        assert out.count() == 65
        # everything superseded was released in-loop; only the fixed-point
        # round's sets (large-star mid + final e, <= 2) may remain until
        # their Python handles die
        assert n_stored() - base <= 2


@pytest.mark.parametrize(
    "name", ["q86_kcore", "q144_chain_components", "q46_dedup_clusters"]
)
def test_graph_queries_identical_on_both_paths(spark, sf_dir, graph_paths, name):
    """Over parquet-sourced edges, the driver path and the distributed
    loop return the same rows and the same StructType, nullability
    included: the path is a physical choice, not a semantic one."""
    from themis_tritonsort_spark.queries import CATALOG

    got = {}
    for path in graph_paths:
        out = CATALOG[name](spark, sf_dir)
        assert _jvm_schema(out) == out.schema
        got[path] = (out.schema, sorted(map(tuple, out.collect())))
    assert got["driver"] == got["loop"]


def _jvm_schema(df):
    """The schema the JVM plan reports (``df.schema`` may be a cached
    Python copy)."""
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(df._jdf.schema().json()))


def test_graph_ops_on_an_empty_edge_set(spark, graph_paths):
    """No edges: every graph operator returns no rows, with its usual
    schema, on both paths."""
    from themis_tritonsort_spark.operators.components import (
        connected_components,
        connected_components_star,
        kcore_vertices,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    for _ in graph_paths:
        for op, extra in [
            (connected_components, ("component", True)),
            (connected_components_star, ("component", True)),
            (lambda e: kcore_vertices(e, k=2), ("deg", False)),
        ]:
            out = op(edges)
            assert out.collect() == []
            assert [(f.name, f.nullable) for f in _jvm_schema(out)] == [
                ("vid", True),
                extra,
            ]


def test_driver_table_is_rows_times_width_against_the_driver_bytes(spark):
    """The one-partition rule: rows x UnsafeRow width (24 B for two
    longs) against the advisory partition size, which is capped at
    spark.driver.maxResultSize / 8 (1g by default) so a large advisory
    size cannot send more to the driver than one action may return."""
    from themis_tritonsort_spark.operators.loop import driver_bytes, driver_table

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    session = spark.newSession()
    pairs = session.range(3).selectExpr("id AS a", "id + 1 AS b")
    session.conf.set(key, "48b")
    assert driver_bytes(session) == 48
    assert driver_table(pairs.limit(2)).num_rows == 2
    assert driver_table(pairs) is None
    # the caller's count is trusted: no job, the same answer
    assert driver_table(pairs, rows=3) is None
    session.conf.set(key, "1t")
    assert driver_bytes(session) == (1 << 30) // 8
    session.conf.set(key, "64m")
    assert driver_bytes(session) == 64 << 20


@pytest.mark.parametrize(
    "name, budget", [("q86_kcore", 10), ("q144_chain_components", 20)]
)
def test_graph_query_job_budget(spark, sf_dir, name, budget):
    """Jobs launched to build and collect a graph query, counted from
    the status tracker the way the benchmark counts them.  A graph that
    fits one partition finishes on the driver; the distributed loops
    ran 46 (q86) and 68 (q144) one-stage jobs here."""
    from themis_tritonsort_spark.queries import CATALOG

    tracker = spark.sparkContext.statusTracker()
    mark = max(tracker.getJobIdsForGroup(None), default=-1)
    CATALOG[name](spark, sf_dir).collect()
    jobs = sum(1 for j in tracker.getJobIdsForGroup(None) if j > mark)
    assert jobs <= budget, f"{name} launched {jobs} jobs (budget {budget})"


# --- the MinHash family, pinned against a pure-Python reference
def _reference_band_sigs(
    text: str, n: int, num_hashes: int, bands: int
) -> dict[int, str]:
    """{band: band_sig} for one document, in plain Python: reference-F1
    tokens, distinct word n-gram shingles, base hash md5[:15] mod
    2^31-1, affine mins h_i(x) = ((2i+1)x + 7919i) mod (2^31-1), and
    band digest md5("hh:mh|hh:mh|...").  No shingle: no bands."""
    import hashlib
    import re

    from themis_tritonsort_spark.functions.text import TOKEN_SPLIT_REGEX

    prime = 2147483647
    toks = [
        w for w in re.split(TOKEN_SPLIT_REGEX, text.replace("\\n", "\x01n")) if w
    ]
    shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    xs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % prime
        for s in shingles
    ]
    if not xs:
        return {}
    mh = [
        min(((2 * h + 1) * x + 7919 * h) % prime for x in xs)
        for h in range(num_hashes)
    ]
    rpb = num_hashes // bands
    return {
        b: hashlib.md5(
            "|".join(
                f"{h:02d}:{mh[h]}" for h in range(b * rpb, (b + 1) * rpb)
            ).encode()
        ).hexdigest()
        for b in range(bands)
    }


def test_minhash_band_buckets_matches_python_reference(spark):
    """The batch aggregate and the per-row (stream) form of the MinHash
    family both equal the pure-Python reference, band for band."""
    from themis_tritonsort_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_doc_bands,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over the lazy cat",
        3: "pack my box with five dozen liquor jugs",
        4: "",  # empty doc: no bands on any path
        5: "the quick brown fox jumps over the lazy dog",
        6: 'mixed."punct",/cases(x)?y;z a\\nb café',
        7: "single",  # fewer tokens than n: no shingle, no bands
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    want = sorted(
        (d, b, sig)
        for d, t in texts.items()
        for b, sig in _reference_band_sigs(t, 2, 8, 4).items()
    )
    key = lambda r: (r["doc"], r["band"], r["band_sig"])  # noqa: E731
    for build in (minhash_band_buckets, minhash_doc_bands):
        got = build(docs, "doc_id", "text", n=2, num_hashes=8, bands=4)
        assert sorted(map(key, got.collect())) == want, build.__name__
    # identical docs collide in every band
    sigs = {(d, b): sig for d, b, sig in want}
    assert len(want) == 5 * 4
    assert all(sigs[(1, b)] == sigs[(5, b)] for b in range(4))


def test_minhash_band_buckets_rejects_nondividing_bands(spark):
    from themis_tritonsort_spark.operators.dedup import minhash_band_buckets

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_band_buckets(docs, "doc_id", "text", n=1, num_hashes=8, bands=3)
