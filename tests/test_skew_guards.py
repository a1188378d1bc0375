"""Skew-stress tests for the dedup/LSH guards.

The 100 TB failure mode these exist for: ONE pathological hot key — a
boilerplate band bucket or a ubiquitous shingle — turns candidate
generation quadratic (k docs in a bucket emit k(k-1)/2 pairs).  These
tests plant that key deliberately and assert the caps bound the
candidate-pair count while preserving recall on genuine duplicates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from themis_tritonsort_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_band_buckets,
)

N_HOT = 20  # 10% of the corpus is one identical hot document
N_DOCS = 200


def _skewed_docs(spark):
    """200 docs: ids 0..19 all share IDENTICAL text (the planted hot
    key); ids 20.. are unique."""
    rows = []
    for i in range(N_DOCS):
        if i < N_HOT:
            text = "boilerplate licence header text repeated verbatim"
        else:
            text = f"unique document u{i}a u{i}b u{i}c u{i}d u{i}e"
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_band_bucket_cap_bounds_candidates(spark):
    docs = _skewed_docs(spark)
    buckets = minhash_band_buckets(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=4
    )

    uncapped = lsh_candidate_pairs(buckets).count()
    capped_df = lsh_candidate_pairs(buckets, max_bucket=10)
    capped = capped_df.count()

    hot_quadratic = N_HOT * (N_HOT - 1) // 2  # 190
    # without the guard, the hot cluster alone forces k(k-1)/2 pairs
    assert uncapped >= hot_quadratic
    # with the guard the degenerate bucket is dropped entirely
    assert capped < hot_quadratic / 2
    assert capped_df.where(
        (F.col("doc_a") < N_HOT) & (F.col("doc_b") < N_HOT)
    ).count() == 0


def test_hot_bucket_cap_keeps_normal_buckets(spark):
    # two genuine near-dup docs in an otherwise unique corpus must
    # still collide after the cap (the guard drops DEGENERATE buckets,
    # not signal)
    rows = [(i, f"unique document u{i}a u{i}b u{i}c u{i}d") for i in range(50)]
    rows.append((1000, "a genuinely duplicated document body here"))
    rows.append((1001, "a genuinely duplicated document body here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    buckets = minhash_band_buckets(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=4
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(buckets, max_bucket=10).collect()
    }
    assert (1000, 1001) in pairs


def _boilerplate_docs(spark):
    """Every doc ends with the same 5-word boilerplate tail; ids
    (i, i + 1000) are true duplicates of each other."""
    rows = []
    for i in range(100):
        body = f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f"
        tail = "standard footer text appears everywhere"
        rows.append((i, f"{body} {tail}"))
        if i < 10:  # plant 10 true duplicate pairs
            rows.append((i + 1000, f"{body} {tail}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_max_df_bounds_naive_jaccard_candidates(spark):
    docs = _boilerplate_docs(spark)
    # the naive shared-shingle join: every doc shares the footer
    # trigrams with every other doc -> quadratic candidates
    uncapped = jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.9, prefix_filter=False
    )
    capped = jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        min_jaccard=0.9,
        prefix_filter=False,
        max_df=20,
    )
    got_uncapped = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    got_capped = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # both find exactly the 10 planted duplicate pairs in the OUTPUT
    # (the exact intersection stage filters false candidates)...
    expected = {(i, i + 1000) for i in range(10)}
    assert got_uncapped == expected
    assert got_capped == expected


def test_max_df_prunes_candidate_stage_not_just_output(spark):
    """The guard must bound the INTERMEDIATE pair count — planted hot
    shingles shared by all docs may not reach the shared-shingle
    join."""
    docs = _boilerplate_docs(spark)
    from themis_tritonsort_spark.operators.dedup import _doc_shingle_sets

    n_docs = docs.count()
    # reproduce the candidate stage with and without the guard
    docsets = _doc_shingle_sets(docs, "doc_id", "text", 3)
    sh = docsets.select("doc", F.explode("set").alias("shingle"))
    naive_cands = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc"), F.col("b.doc"))
        .distinct()
        .count()
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 20)
        .select("shingle")
    )
    filtered = sh.join(F.broadcast(hot), "shingle", "left_anti")
    capped_cands = (
        filtered.alias("a")
        .join(filtered.alias("b"), "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc"), F.col("b.doc"))
        .distinct()
        .count()
    )
    quadratic = n_docs * (n_docs - 1) // 2
    assert naive_cands == quadratic  # the footer makes it all-pairs
    assert capped_cands < n_docs  # near-linear after the guard


def test_semdedup_max_cluster_resplits_hot_cluster(spark):
    """Plant ONE hot k-means cluster (all 12 identical vectors land on
    the same center) and assert max_cluster re-splits it: pairs are
    only compared within an id%n_splits sub-block, so each sub-block's
    lowest id survives instead of just the global lowest — the
    candidate count drops from m(m-1)/2 to ~m*max_cluster/2 while the
    split stays deterministic."""
    from themis_tritonsort_spark.operators.similarity import semdedup

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = [[1.0, 2.0, 3.0, 4.0], [-9.0, -9.0, -9.0, -9.0]]

    uncapped = semdedup(df, "vec_id", "embedding", centers, 0.99)
    survivors = {
        r["vec_id"]
        for r in uncapped.where(F.col("is_dup") == 0).collect()
    }
    assert survivors == {0}  # one hot cluster: only the global min

    # cap 4 over 12 rows -> n_splits = 3, sub = vec_id % 3: each
    # sub-block {0,3,6,9}/{1,4,7,10}/{2,5,8,11} keeps its own min
    capped = semdedup(
        df, "vec_id", "embedding", centers, 0.99, max_cluster=4
    )
    survivors = {
        r["vec_id"] for r in capped.where(F.col("is_dup") == 0).collect()
    }
    assert survivors == {0, 1, 2}


def test_hot_bucket_cap_on_embedding_lsh(spark):
    # 20 identical embeddings collide in EVERY band bucket; the cap
    # must drop those buckets while a genuine near-dup pair in the
    # unique remainder still collides
    import numpy as np

    from themis_tritonsort_spark.operators.similarity import (
        hyperplane_lsh_neardup,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(N_HOT)]  # hot cluster
    for i in range(N_HOT, 100):
        rows.append((i, list(map(float, rng.normal(size=4)))))
    v = list(map(float, rng.normal(size=4)))
    rows.append((1000, v))
    rows.append((1001, [x * 1.001 for x in v]))  # planted true near-dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(threshold=0.99, dim=4, n_planes=8, bands=4)
    uncapped = hyperplane_lsh_neardup(df, "vec_id", "embedding", **kw)
    capped = hyperplane_lsh_neardup(
        df, "vec_id", "embedding", max_bucket=10, **kw
    )
    got_uncapped = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    hot_quadratic = N_HOT * (N_HOT - 1) // 2
    assert len(got_uncapped) >= hot_quadratic
    assert all(not (a < N_HOT and b < N_HOT) for a, b in got_capped)
    assert (1000, 1001) in got_capped
