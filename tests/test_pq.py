"""Product-quantization ANN (operators/similarity.py: pq_*) — encode
semantics, the two-tier re-rank recall ladder, and codebook refinement.
End-to-end oracle parity is q84/q85 in test_queries_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from themis_tritonsort_spark.data import table
from themis_tritonsort_spark.operators.similarity import (
    brute_force_topk,
    pq_codebook,
    pq_codebook_refined,
    pq_encode,
    pq_rerank_topk,
    pq_topk,
)

SF = "/root/testdata/sf0.001"


def _recall(spark, topk_df, exact_pairs):
    got = {(r["query_id"], r["neighbor_id"]) for r in topk_df.collect()}
    return len(got & exact_pairs) / len(exact_pairs)


def test_pq_codebook_shape_and_determinism(spark):
    emb = table(spark, SF, "embeddings")
    cb1 = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)
    cb2 = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8
    assert cb1 == cb2


def test_pq_encode_seed_vectors_hit_own_code(spark):
    # Seed vector c's sub-vector IS codeword c in every subspace, so
    # its distance is exactly 0 there; with distinct codewords the
    # argmin must return c itself.
    emb = table(spark, SF, "embeddings")
    cb = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(
            emb.where(F.col("vec_id") < 16), "vec_id", "embedding", cb
        ).collect()
    }
    for c in range(16):
        assert codes[c] == [c] * 8


def test_pq_recall_ladder(spark):
    # Uniform-random embeddings are PQ's adversarial case; the ladder
    # still has to hold: codes-only search finds a usable shortlist,
    # and exact re-rank of that shortlist recovers most of the truth.
    emb = table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, "vec_id", "embedding", 10).collect()
    }
    cb = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)
    r_pq = _recall(
        spark, pq_topk(emb, q, "vec_id", "embedding", cb, 10), exact
    )
    r_rr = _recall(
        spark,
        pq_rerank_topk(emb, q, "vec_id", "embedding", cb, 10, shortlist=50),
        exact,
    )
    assert r_pq >= 0.25
    assert r_rr >= 0.6
    assert r_rr > r_pq


def test_pq_refined_codebook_same_contract(spark):
    emb = table(spark, SF, "embeddings")
    cb = pq_codebook_refined(
        emb, "vec_id", "embedding", m=8, k=16, iterations=1
    )
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    # refined codebook still encodes every vector to a valid code
    codes = pq_encode(emb, "vec_id", "embedding", cb)
    bad = codes.where(
        F.exists("codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0


def test_pq_rerank_subset_of_shortlist(spark):
    emb = table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 2)
    cb = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)
    short = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, q, "vec_id", "embedding", cb, 30).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_rerank_topk(
            emb, q, "vec_id", "embedding", cb, 10, shortlist=30
        ).collect()
    }
    assert rer <= short


def test_kcore_planted_graph(spark, graph_paths):
    from themis_tritonsort_spark.operators.components import kcore_vertices

    # K4 on {1,2,3,4} plus a pendant chain 4-5-6: the 3-core is exactly
    # the K4 (peeling 6 then 5 then nothing; 4 keeps degree 3).
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        ["src", "dst"],
    )
    for _ in graph_paths:
        core = {
            r["vid"]: r["deg"] for r in kcore_vertices(edges, k=3).collect()
        }
        assert core == {1: 3, 2: 3, 3: 3, 4: 3}
        # k=1 keeps every non-isolated vertex with its full degree
        all1 = {r["vid"]: r["deg"] for r in kcore_vertices(edges, k=1).collect()}
        assert all1 == {1: 3, 2: 3, 3: 3, 4: 4, 5: 2, 6: 1}
        # collapse: no 5-core in this graph
        assert kcore_vertices(edges, k=5).count() == 0


def test_kcore_peel_cascade_and_compaction(spark, graph_paths):
    """A long pendant path forces one-vertex-per-round peel cascades
    (each removal exposes the next endpoint), exercising the delta
    peel's incremental decrements across many rounds, and the mass
    drop relative to the small surviving core trips the edge-set
    compaction branch.  The 2-core must be exactly the cycle, with
    in-core degree 2 everywhere — including the attachment vertex,
    whose degree must have been decremented by its peeled path
    neighbor exactly once."""
    from themis_tritonsort_spark.operators.components import kcore_vertices

    cycle = [(i, i + 1) for i in range(1, 6)] + [(6, 1)]
    path = [(6, 100)] + [(100 + i, 101 + i) for i in range(12)]
    edges = spark.createDataFrame(cycle + path, ["src", "dst"])
    for _ in graph_paths:
        core = {r["vid"]: r["deg"] for r in kcore_vertices(edges, k=2).collect()}
        assert core == {v: 2 for v in range(1, 7)}
        # the pure path has no 2-core at all once the cycle is removed
        path_only = spark.createDataFrame(path, ["src", "dst"])
        assert kcore_vertices(path_only, k=2).count() == 0


def test_kcore_rejects_bad_k(spark):
    import pytest

    from themis_tritonsort_spark.operators.components import kcore_vertices

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        kcore_vertices(edges, k=0)
