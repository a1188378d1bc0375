"""Operators must be total over empty inputs (no rows is the steady
state of many partitions at 100 TB — filters, empty buckets, idle
keys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from themis_tritonsort_spark.operators.dedup import jaccard_pairs, minhash_band_buckets
from themis_tritonsort_spark.operators.sessionize import sessionize
from themis_tritonsort_spark.operators.similarity import (
    cosine_neardup_pairs,
    hyperplane_lsh_neardup,
)
from themis_tritonsort_spark.operators.sort import with_global_rank
from themis_tritonsort_spark.operators.temporal import asof_join, range_join_bucketed


def test_empty_inputs_yield_empty_outputs(spark):
    no_docs = spark.createDataFrame([], "doc_id long, text string")
    no_events = spark.createDataFrame([], "user_id long, ts long, url string, eid long")
    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    no_right = spark.createDataFrame([], "user_id long, rts long, payload long")
    no_iv = spark.createDataFrame([], "user_id long, lo long, hi long")

    assert jaccard_pairs(no_docs, "doc_id", "text", n=1, min_jaccard=0.5).count() == 0
    assert (
        minhash_band_buckets(no_docs, "doc_id", "text", n=1, num_hashes=4, bands=2).count()
        == 0
    )
    assert cosine_neardup_pairs(no_vecs, "vec_id", "embedding", 0.5).count() == 0
    assert (
        hyperplane_lsh_neardup(
            no_vecs, "vec_id", "embedding", 0.5, dim=4, n_planes=4, bands=2
        ).count()
        == 0
    )
    assert (
        sessionize(no_events, "user_id", "ts", "url", threshold=10).count() == 0
    )
    assert with_global_rank(no_events, ["user_id", "ts", "eid"]).count() == 0
    assert (
        asof_join(
            no_events.select("user_id", "ts", "eid"),
            no_right, key="user_id", left_ts="ts", right_ts="rts",
            right_cols=["payload"],
        ).count()
        == 0
    )
    assert (
        range_join_bucketed(
            no_events.select("user_id", F.col("ts")),
            no_iv, key="user_id", left_ts="ts", right_lo="lo", right_hi="hi",
            bucket=10,
        ).count()
        == 0
    )


def test_empty_inputs_new_round3_ops(spark):
    from themis_tritonsort_spark.operators.components import (
        triangle_total_degree_oriented,
    )
    from themis_tritonsort_spark.operators.sort import with_global_prefix_sum
    from themis_tritonsort_spark.operators.textstats import pack_sequences

    no_chunks = spark.createDataFrame(
        [], "doc_id long, chunk_idx long, n_chunk_tokens long"
    )
    assert (
        pack_sequences(
            no_chunks, "doc_id", "chunk_idx", "n_chunk_tokens", budget=64
        ).count()
        == 0
    )
    assert (
        with_global_prefix_sum(
            no_chunks, ["doc_id", "chunk_idx"], "n_chunk_tokens"
        ).count()
        == 0
    )
    no_edges = spark.createDataFrame([], "src long, dst long")
    # a global count over nothing is a single zero row, not zero rows
    rows = triangle_total_degree_oriented(no_edges).collect()
    assert len(rows) == 1 and rows[0]["n_triangles"] == 0


def test_asof_empty_right_keeps_all_left(spark):
    left = spark.createDataFrame([(1, 5, 7)], "k long, ts long, lid long")
    right = spark.createDataFrame([], "k long, rts long, payload long")
    rows = asof_join(left, right, key="k", left_ts="ts", right_ts="rts",
                     right_cols=["payload"]).collect()
    assert len(rows) == 1 and rows[0]["payload"] is None


def test_empty_inputs_mixture_and_shards(spark):
    from themis_tritonsort_spark.operators.sampling import shuffle_shards
    from themis_tritonsort_spark.operators.textstats import surprisal_mixture

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert shuffle_shards(no_docs, "doc_id", n_shards=4).count() == 0
    assert surprisal_mixture(no_docs, "doc_id", "text").count() == 0


def test_round4_operators_total_over_empty_inputs(spark):
    from themis_tritonsort_spark.operators.multimodal import (
        extract_features,
        media_block_sums,
        ppm_from_documents,
        resize_media,
    )
    from themis_tritonsort_spark.operators.similarity import semdedup
    from themis_tritonsort_spark.operators.textstats import bigram_surprisal
    from themis_tritonsort_spark.plans.job import (
        ThemisJob,
        sample_partition_count,
    )
    from themis_tritonsort_spark.sources.kvpair import read_kvpair, write_kvpair

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    no_media = spark.createDataFrame(
        [],
        "id long, media binary, media_type string, "
        "meta struct<n_bytes: long, source: string>",
    )
    no_kv = spark.createDataFrame([], "key binary, value binary")

    assert bigram_surprisal(no_docs, "doc_id", "text").count() == 0
    assert (
        semdedup(no_vecs, "vec_id", "embedding", [[1.0, 0.0]], 0.9).count() == 0
    )
    assert ppm_from_documents(no_docs).count() == 0
    assert extract_features(no_media).count() == 0
    assert media_block_sums(no_media).count() == 0
    assert resize_media(no_media).count() == 0
    # phase-0 sizing on an empty source returns the floor, not a crash
    assert sample_partition_count(spark, ThemisJob(), df=no_kv) == 1

    import os
    import shutil

    scratch = os.path.join(
        os.path.dirname(__file__), "..", "scratch", "kv_empty"
    )
    try:
        write_kvpair(no_kv, scratch)  # all partition files empty -> removed
        assert read_kvpair(spark, scratch).count() == 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_session_additions_total_over_empty_inputs(spark):
    from themis_tritonsort_spark.operators.bpe import bpe_encode, bpe_train
    from themis_tritonsort_spark.operators.components import bfs_hops
    from themis_tritonsort_spark.operators.sort import with_global_prefix_sum

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    no_edges = spark.createDataFrame([], "src long, dst long")
    no_seeds = spark.createDataFrame([], "vid long")
    no_bounds = spark.createDataFrame([], "ts_us long, net_delta long")

    # BFS: empty graph + empty seeds -> empty; empty graph with seeds
    # -> seeds at hop 0 (they exist independently of edges)
    assert bfs_hops(no_edges, no_seeds, rounds=3).count() == 0
    seeds = spark.createDataFrame([(7,)], "vid long")
    got = bfs_hops(no_edges, seeds, rounds=3).collect()
    assert [(r["vid"], r["hop"]) for r in got] == [(7, 0)]

    # BPE: no eligible words -> no rules, empty vocab; encode total
    rules, vocab = bpe_train(no_docs, merges=3)
    assert rules == [] and vocab.count() == 0
    assert bpe_encode(no_docs, [("a", "b")]).count() == 0
    only_digits = spark.createDataFrame([(0, "123 456")], "doc_id long, text string")
    rules2, vocab2 = bpe_train(only_digits, merges=2)
    assert rules2 == [] and vocab2.count() == 0

    # prefix sum over an empty boundary set
    assert (
        with_global_prefix_sum(no_bounds, ["ts_us"], "net_delta").count() == 0
    )


def test_round5_additions_total_over_empty_inputs(spark):
    """Round-5 surface over degenerate inputs: the capped semdedup,
    the deletion-neighborhood fuzzy match, the frame sampler, and the
    approx profiler all stay total (empty in -> empty/identity out,
    no exceptions)."""
    from themis_tritonsort_spark.operators.multimodal import (
        frame_sample,
        walk_ppm_stream,
    )
    from themis_tritonsort_spark.operators.similarity import semdedup

    no_media = spark.createDataFrame(
        [],
        "id long, media binary, media_type string, "
        "meta struct<n_bytes: long, source: string>",
    )
    assert frame_sample(no_media).count() == 0
    assert walk_ppm_stream(b"") is None
    assert walk_ppm_stream(b"P6\n1 1\n255\n") is None  # truncated frame

    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semdedup(
        no_vecs, "vec_id", "embedding", [[0.0, 0.0]], 0.9, max_cluster=4
    )
    assert out.count() == 0

    from themis_tritonsort_spark.operators.jpeg import decode_jpeg

    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8") is None  # SOI only


def test_substring_dedup_total_over_empty_and_short(spark):
    from themis_tritonsort_spark.operators.dedup import (
        duplicate_substring_spans,
        scrub_duplicate_substrings,
    )

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert (
        duplicate_substring_spans(no_docs, "doc_id", "text", 4).count() == 0
    )
    assert scrub_duplicate_substrings(no_docs, "doc_id", "text", 4).count() == 0
    # all-short corpus: no window fits anywhere, scrub passes through
    short = spark.createDataFrame([(1, "a b"), (2, "")], "doc_id long, text string")
    assert duplicate_substring_spans(short, "doc_id", "text", 4).count() == 0
    rows = {
        r["doc_id"]: r
        for r in scrub_duplicate_substrings(short, "doc_id", "text", 4).collect()
    }
    assert rows[1]["n_removed"] == 0 and rows[1]["clean_text"] == "a b"
    assert rows[2]["n_tokens"] == 0 and rows[2]["clean_text"] == ""
