"""Unit tests for the temporal joins and embedding near-dup operators
(the oracle suite checks them end-to-end; these pin the semantics on
hand-built frames)."""

from __future__ import annotations

from pyspark.sql import functions as F

from themis_tritonsort_spark.operators.similarity import (
    cosine_neardup_pairs,
    hyperplane_lsh_neardup,
)
from themis_tritonsort_spark.operators.temporal import asof_join, range_join_bucketed


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d"), (3, 9, "e")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 101), (2, 8, 102)],
        "k long, rts long, payload long",
    )
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="rts",
                    right_cols=["payload"])
    got = {(r["k"], r["ts"]): (r["payload"], r["asof_ts"]) for r in out.collect()}
    assert got == {
        (1, 5): (100, 5),      # right row AT left ts matches (inclusive)
        (1, 10): (100, 5),     # latest of the earlier rows
        (1, 20): (101, 15),
        (2, 7): (None, None),  # right row is later -> no match
        (3, 9): (None, None),  # key absent on the right
    }
    assert out.count() == left.count()  # left-outer: no row loss


def test_asof_join_matches_naive_on_random_data(spark):
    import random

    rnd = random.Random(11)
    left = [(rnd.randrange(6), rnd.randrange(0, 500), i) for i in range(200)]
    # unique (key, ts) on the right: deterministic as-of target
    right_keys = {(rnd.randrange(6), rnd.randrange(0, 500)) for _ in range(120)}
    right = [(k, ts, 1000 + i) for i, (k, ts) in enumerate(sorted(right_keys))]

    ldf = spark.createDataFrame(left, "k long, ts long, lid long")
    rdf = spark.createDataFrame(right, "k long, rts long, payload long")
    out = {
        (r["k"], r["ts"], r["lid"]): (r["payload"], r["asof_ts"])
        for r in asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="rts",
                           right_cols=["payload"]).collect()
    }
    # brute-force reference: max rts <= ts per key
    by_key: dict = {}
    for k, rts, payload in right:
        by_key.setdefault(k, []).append((rts, payload))
    for k, ts, lid in left:
        best = max(
            ((rts, p) for rts, p in by_key.get(k, []) if rts <= ts),
            default=(None, None),
        )
        want = (best[1], best[0])
        assert out[(k, ts, lid)] == want, (k, ts, lid)
    assert len(out) == len(left)


def test_range_join_bucketed_matches_naive(spark):
    import random

    rnd = random.Random(7)
    pts = [(rnd.randrange(5), i, rnd.randrange(0, 1000)) for i in range(300)]
    ivs = [
        (rnd.randrange(5), 1000 + i, lo, lo + rnd.randrange(1, 120))
        for i, lo in enumerate(rnd.randrange(0, 950) for _ in range(80))
    ]
    left = spark.createDataFrame(pts, "k long, pid long, ts long")
    right = spark.createDataFrame(ivs, "k long, rid long, lo long, hi long")

    bucketed = range_join_bucketed(
        left, right, key="k", left_ts="ts", right_lo="lo", right_hi="hi", bucket=64
    )
    naive = left.join(right, "k").where(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))
    )
    got = sorted((r["pid"], r["rid"]) for r in bucketed.collect())
    want = sorted((r["pid"], r["rid"]) for r in naive.collect())
    assert got == want and len(want) > 0


def test_range_join_bucketed_negative_timestamps(spark):
    # pre-epoch timestamps: floor-division bucketing must keep ts=-1 and
    # ts=+1 in different buckets (cast-truncation would merge them)
    left = spark.createDataFrame(
        [(1, 10, -130), (1, 11, -1), (1, 12, 1), (1, 13, 50)],
        "k long, pid long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 100, -140, -60), (1, 101, -10, 10), (1, 102, 0, 64)],
        "k long, rid long, lo long, hi long",
    )
    got = sorted(
        (r["pid"], r["rid"])
        for r in range_join_bucketed(
            left, right, key="k", left_ts="ts", right_lo="lo", right_hi="hi",
            bucket=64,
        ).collect()
    )
    assert got == [(10, 100), (11, 101), (12, 101), (12, 102), (13, 102)]


def test_lsh_neardup_subset_of_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_ppm"]
        for r in cosine_neardup_pairs(emb, "vec_id", "embedding", 0.3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos_ppm"]
        for r in hyperplane_lsh_neardup(
            emb, "vec_id", "embedding", 0.3, dim=64, n_planes=16, bands=8
        ).collect()
    }
    assert set(approx) <= set(exact)  # LSH never invents a pair
    assert len(exact) > 0
    assert len(approx) >= len(exact) // 2  # sane recall at 8 bands of 2 bits
    for pair, ppm in approx.items():
        # numpy (pairwise) vs Catalyst-fold (sequential) summation may
        # differ in the last ulp -> at most 1 ppm after rounding
        assert abs(ppm - exact[pair]) <= 1


def test_connected_components_known_graph(spark, graph_paths):
    from themis_tritonsort_spark.operators.components import connected_components

    # components: {1,2,3,4} (chain), {10,11}, isolated via self-loop: none
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (5, 5)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    for _ in graph_paths:
        got = {
            r["vid"]: r["component"]
            for r in connected_components(edf).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark, graph_paths):
    from themis_tritonsort_spark.operators.components import connected_components

    n = 40  # diameter 39 > default max_iterations exercises the cap path
    edges = [(i, i + 1) for i in range(n)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    for _ in graph_paths:
        got = {
            r["vid"]: r["component"]
            for r in connected_components(edf, max_iterations=50).collect()
        }
        assert set(got.values()) == {0} and len(got) == n + 1


def test_asof_join_null_payload_not_backfilled(spark):
    # a NULL payload in the MATCHING right row must stay NULL, not be
    # backfilled from an older right row (all right columns must come
    # from the same right row)
    left = spark.createDataFrame([(1, 3, 7)], "k long, ts long, lid long")
    right = spark.createDataFrame(
        [(1, 1, 5), (1, 2, None)], "k long, rts long, payload long"
    )
    rows = asof_join(left, right, key="k", left_ts="ts", right_ts="rts",
                     right_cols=["payload"]).collect()
    assert len(rows) == 1
    assert rows[0]["asof_ts"] == 2 and rows[0]["payload"] is None


def test_sessionize_rejects_nonpositive_threshold(spark):
    import pytest

    from themis_tritonsort_spark.operators.sessionize import (
        _scan_spans,
        sessionize,
    )

    ev = spark.createDataFrame([(1, 0, "a")], "user_id long, ts long, url string")
    with pytest.raises(ValueError):
        sessionize(ev, "user_id", "ts", "url", threshold=0)
    import numpy as np

    with pytest.raises(ValueError):
        _scan_spans(np.array([5, 5]), 0)


def test_gap_fill_locf_semantics(spark):
    from datetime import datetime

    from themis_tritonsort_spark.operators.temporal import gap_fill

    # user 1: readings at 00:10 (5.0) and 03:20 (7.0) -> hours 01,02
    # synthesized carrying 500 cents; user 2: single reading, no fill.
    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 5.0),
            (1, datetime(2024, 1, 1, 3, 20), 7.0),
            (2, datetime(2024, 1, 1, 9, 0), 1.5),
        ],
        ["user_id", "ts", "value"],
    )
    out = sorted(
        (r["user_id"], r["bucket_epoch_us"], r["value_cents"], r["filled"])
        for r in gap_fill(df, "user_id", "ts", "value").collect()
    )
    h = 3_600_000_000  # one hour in microseconds
    t0 = int(datetime(2024, 1, 1).timestamp()) * 1_000_000
    assert out == [
        (1, t0 + 0 * h, 500, 0),
        (1, t0 + 1 * h, 500, 1),
        (1, t0 + 2 * h, 500, 1),
        (1, t0 + 3 * h, 700, 0),
        (2, t0 + 9 * h, 150, 0),
    ]
