"""Streaming operator tests: file source + availableNow trigger +
memory sink (deterministic, no wall-clock dependence)."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from themis_tritonsort_spark.streaming.sessions import (
    anchor_sessions_stream,
    session_windows,
    windowed_event_counts,
)

SCRATCH = os.path.join(os.path.dirname(__file__), "..", "scratch", "stream")


@pytest.fixture()
def stream_dir(spark):
    d = os.path.join(SCRATCH, uuid.uuid4().hex)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(sdf, name, mode="append"):
    # Windowed aggregations use "complete": in append mode a finite
    # availableNow run never advances the watermark past the last
    # window, so nothing would be emitted.
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_windowed_event_counts(spark, stream_dir):
    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 00:10:00", "click"),
            (1, "2024-01-01 00:20:00", "click"),
            (2, "2024-01-01 01:10:00", "view"),
        ],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    _run_to_memory(out, "win_counts", mode="complete")
    rows = {
        (str(r["window_start"]), r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows == {
        ("2024-01-01 00:00:00", "click"): 2,
        ("2024-01-01 01:00:00", "view"): 1,
    }


def test_session_windows_gap(spark, stream_dir):
    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, "2024-01-01 00:10:00", "a"),  # same session (gap 10m < 30m)
            (1, "2024-01-01 02:00:00", "a"),  # new session
        ],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = session_windows(stream, gap="30 minutes", watermark="4 hours")
    _run_to_memory(out, "sess_win", mode="complete")
    rows = sorted(
        (str(r["session_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sess_win").collect()
    )
    assert rows == [("2024-01-01 00:00:00", 2), ("2024-01-01 02:00:00", 1)]


def test_anchor_sessions_stream_matches_batch_rule(spark, stream_dir):
    src = os.path.join(stream_dir, "src")
    spark.createDataFrame(
        [(1, 0, "a"), (1, 15, "b"), (1, 99, "c"), (2, 0, "x"), (2, 5, "y")],
        "user_id long, ts_us long, url string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user_id long, ts_us long, url string").parquet(src)
    out = anchor_sessions_stream(stream, threshold=20)
    _run_to_memory(out, "anchor_sessions")
    rows = [
        (r["user_id"], r["first_ts"], r["last_ts"], r["first_url"], r["last_url"])
        for r in spark.sql("SELECT * FROM anchor_sessions").collect()
    ]
    # same expectation as the batch unit test: one session for user 1,
    # nothing for user 2 (threshold never reached)
    assert rows == [(1, 0, 99, "a", "c")]


def test_dedup_exact_stream(spark, stream_dir):
    from themis_tritonsort_spark.streaming.dedup import dedup_exact_stream

    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 00:00:00", "same-content"),
            (2, "2024-01-01 00:05:00", "same-content"),   # dup within horizon
            (3, "2024-01-01 00:06:00", "other-content"),
            (4, "2024-01-01 00:07:00", "same-content"),   # dup within horizon
        ],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = dedup_exact_stream(stream, content_col="event_type", watermark="1 hour")
    _run_to_memory(out, "dedup_stream")
    kept = sorted(
        r["event_type"] for r in spark.sql("SELECT * FROM dedup_stream").collect()
    )
    assert kept == ["other-content", "same-content"]


def test_enrich_stream_static_join(spark, stream_dir):
    from themis_tritonsort_spark.streaming.dedup import enrich_stream

    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [(1, "2024-01-01 00:00:00", "click"), (2, "2024-01-01 00:01:00", "view")],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    out = enrich_stream(stream, dim, key="user_id")
    _run_to_memory(out, "enriched")
    rows = {
        r["user_id"]: r["tier"] for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert rows == {1: "gold", 2: "silver"}


def test_corpus_ops_run_on_streams(spark, stream_dir):
    """The stateless corpus operators (token counting, quality, lang-id)
    are plain projections, so the same functions run unchanged on a
    streaming DataFrame — no batch/stream forking in the pipeline."""
    from themis_tritonsort_spark.operators.textstats import token_counts

    src = os.path.join(stream_dir, "src")
    spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "un deux trois 42!")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = token_counts(stream, "doc_id", "text")
    _run_to_memory(out, "stream_tokens")
    rows = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in spark.sql("SELECT * FROM stream_tokens").collect()
    }
    assert rows == {1: (4, 4), 2: (4, 5)}


def test_interval_join_streams_attribution(spark, stream_dir):
    from themis_tritonsort_spark.streaming.joins import interval_join_streams

    imp_dir = os.path.join(stream_dir, "impressions")
    clk_dir = os.path.join(stream_dir, "clicks")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 100),
            (1, "2024-01-01 02:00:00", 101),
            (2, "2024-01-01 00:00:00", 102),
        ],
        "user_id long, imp_ts string, imp_id long",
    ).withColumn("imp_ts", F.to_timestamp("imp_ts")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(imp_dir)
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00", 900),  # within 1h of imp 100
            (1, "2024-01-01 02:10:00", 901),  # within 1h of imp 101 only
            (2, "2024-01-01 05:00:00", 902),  # beyond horizon: unmatched
            (3, "2024-01-01 00:10:00", 903),  # no impression for user 3
        ],
        "user_id long, clk_ts string, clk_id long",
    ).withColumn("clk_ts", F.to_timestamp("clk_ts")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(clk_dir)

    imp = spark.readStream.schema(
        "user_id long, imp_ts timestamp, imp_id long"
    ).parquet(imp_dir)
    clk = spark.readStream.schema(
        "user_id long, clk_ts timestamp, clk_id long"
    ).parquet(clk_dir)
    joined = interval_join_streams(
        imp, clk, key="user_id", left_ts="imp_ts", right_ts="clk_ts",
        horizon="1 hour",
    )
    q = _run_to_memory(joined, "attrib")
    got = {
        (r["imp_id"], r["clk_id"])
        for r in spark.sql("SELECT imp_id, clk_id FROM attrib").collect()
    }
    q.stop()
    assert got == {(100, 900), (101, 901)}


def test_interval_join_streams_rejects_colliding_columns(spark):
    from themis_tritonsort_spark.streaming.joins import interval_join_streams

    a = spark.createDataFrame([(1, "2024-01-01", 3)], "k long, ts string, v long").withColumn("ts", F.to_timestamp("ts"))
    b = spark.createDataFrame([(1, "2024-01-01", 3)], "k long, ts2 string, v long").withColumn("ts2", F.to_timestamp("ts2"))
    with pytest.raises(ValueError):
        interval_join_streams(a, b, key="k", left_ts="ts", right_ts="ts2")


def test_curation_signal_chain_streams(spark, stream_dir):
    """The q77 per-row signal chain (quality -> lang via the `keep`
    pass-through) is stateless narrow projection, so it runs unchanged
    on a streaming DataFrame — the single-scan curation front half
    needs no batch/stream forking."""
    from themis_tritonsort_spark.operators.textstats import lang_id, text_quality

    src = os.path.join(stream_dir, "curation_src")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and it is fine"),
            (2, "zz"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    scored = text_quality(stream, "doc_id", "text", keep=("text",)).select(
        "doc_id", "text", "quality_pct"
    )
    scored = lang_id(scored, "doc_id", "text", keep=("quality_pct",))
    _run_to_memory(scored, "stream_curation")
    rows = {
        r["doc_id"]: (r["quality_pct"], r["pred_lang"])
        for r in spark.sql("SELECT * FROM stream_curation").collect()
    }
    assert rows[1][1] == "en" and rows[1][0] > rows[2][0]


def test_neardup_candidates_stream(spark, stream_dir):
    """Streaming LSH dedup-on-ingest: near-identical docs collide in a
    band bucket and emit a candidate pair; the hot-bucket cap bounds a
    planted identical cluster."""
    from themis_tritonsort_spark.streaming.dedup import (
        neardup_candidates_stream,
    )

    rows = [(i, f"unique words u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(30)]
    rows.append((1000, "a genuinely duplicated document body right here ok"))
    rows.append((1001, "a genuinely duplicated document body right here ok"))
    # hot cluster: 20 identical docs
    rows += [(2000 + i, "boilerplate licence header text verbatim") for i in range(20)]
    src = os.path.join(stream_dir, "neardup_src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = neardup_candidates_stream(
        stream, "doc_id", "text", n=2, num_hashes=8, bands=4, max_bucket=5
    )
    _run_to_memory(out, "stream_neardup")
    pairs = {
        (min(r["id"], r["prior_id"]), max(r["id"], r["prior_id"]))
        for r in spark.sql("SELECT * FROM stream_neardup").collect()
    }
    assert (1000, 1001) in pairs
    hot = {p for p in pairs if p[0] >= 2000}
    # cap: at most C(max_bucket, 2) pairs per band from the hot cluster
    assert 0 < len(hot) <= 5 * 4 // 2
    # unique docs don't collide with the hot cluster
    assert all(not (a < 1000 and b >= 2000) for a, b in pairs)


def test_neardup_candidates_stream_matches_batch(spark, stream_dir):
    """Dedup-on-ingest is the batch LSH candidate stage, restated: with
    no bucket over the cap, the stream's distinct unordered pairs equal
    lsh_candidate_pairs(minhash_band_buckets(...)) over the same corpus
    — including that empty documents have no band keys and never pair
    with each other."""
    from themis_tritonsort_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_band_buckets,
    )
    from themis_tritonsort_spark.streaming.dedup import (
        neardup_candidates_stream,
    )

    rows = [(i, f"unique words u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(20)]
    rows += [
        (100, "a genuinely duplicated document body right here ok"),
        (101, "a genuinely duplicated document body right here ok"),
        (102, "a genuinely duplicated document body right there ok"),
        (200, ""),
        (201, ""),
    ]
    src = os.path.join(stream_dir, "neardup_src")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    kw = dict(n=2, num_hashes=8, bands=4)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    _run_to_memory(
        neardup_candidates_stream(stream, "doc_id", "text", **kw),
        "stream_neardup_pin",
    )
    got = {
        (min(r["id"], r["prior_id"]), max(r["id"], r["prior_id"]))
        for r in spark.sql("SELECT * FROM stream_neardup_pin").collect()
    }
    batch = lsh_candidate_pairs(
        minhash_band_buckets(spark.read.parquet(src), "doc_id", "text", **kw)
    )
    want = {(r["doc_a"], r["doc_b"]) for r in batch.collect()}
    assert (100, 101) in want and (200, 201) not in want
    assert got == want


def test_bloom_decontam_stream(spark, stream_dir):
    from themis_tritonsort_spark.operators.dedup import (
        bloom_position_set,
        bloom_words,
    )
    from themis_tritonsort_spark.streaming.dedup import bloom_decontam_stream

    m = 1 << 12
    snap = spark.createDataFrame(
        [(i, f"snapshot doc {i}") for i in range(100)], ["doc_id", "text"]
    )
    words = bloom_words(bloom_position_set(snap, "text", m), m)

    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 00:00:00", "snapshot doc 42"),  # known content
            (2, "2024-01-01 00:01:00", "genuinely new doc"),
        ],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = bloom_decontam_stream(stream, "event_type", words, m)
    _run_to_memory(out, "bloom_stream")
    got = {
        r["event_type"]: r["bloom_hit"]
        for r in spark.sql("SELECT * FROM bloom_stream").collect()
    }
    assert got["snapshot doc 42"] == 1  # no false negatives, ever
    # batch operator agrees with the stream on the same rows
    from themis_tritonsort_spark.operators.dedup import bloom_hits_bitmap

    batch = spark.createDataFrame(
        [(1, "snapshot doc 42"), (2, "genuinely new doc")], ["i", "event_type"]
    )
    bt = {
        r["event_type"]: r["bloom_hit"]
        for r in bloom_hits_bitmap(batch, "event_type", words, m).collect()
    }
    assert got == bt


def test_token_budget_stream(spark, stream_dir):
    from themis_tritonsort_spark.streaming.budget import token_budget_stream

    src = os.path.join(stream_dir, "src")
    # event_type doubles as the text; user_id as the doc id; one group
    # per first word.  10 tokens per doc, budget 25 -> 3 docs admitted
    # (10+10+10=30 overflows on the third, fourth never admitted).
    rows = [
        (i, "2024-01-01 00:00:00", "g " + " ".join(["w"] * 9)) for i in range(4)
    ]
    _write_events(spark, src, rows)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = token_budget_stream(
        stream.withColumn("grp", F.lit("g0")),
        "user_id",
        "event_type",
        "grp",
        budget_tokens=25,
    )
    _run_to_memory(out, "budget_stream")
    got = sorted(
        (r["id"], r["cum_tokens"])
        for r in spark.sql("SELECT * FROM budget_stream").collect()
    )
    assert got == [(0, 10), (1, 20), (2, 30)]


def test_token_budget_stream_rejects_bad_budget(spark):
    import pytest

    from themis_tritonsort_spark.streaming.budget import token_budget_stream

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        token_budget_stream(df, "value", "value", "value", 0)


def test_hll_registers_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from themis_tritonsort_spark.streaming.sketches import hll_registers_stream

    src = os.path.join(stream_dir, "src")
    rows = [
        (uid, f"2024-01-01 00:{10 + uid % 3:02d}:00", "click")
        for uid in range(40)
    ] + [
        (uid, "2024-01-01 01:15:00", "view") for uid in range(25)
    ]
    _write_events(spark, src, rows)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = hll_registers_stream(
        stream, window="1 hour", watermark="2 hours", p=8
    )
    _run_to_memory(out, "hll_regs", mode="complete")
    got = spark.sql("SELECT * FROM hll_regs")

    # streaming registers == batch registers over the same windowed rows
    batch_src = spark.read.parquet(src).withColumn(
        "win", F.date_trunc("hour", "ts")
    )
    expect = hll_registers(
        batch_src, ["win", "event_type"], "user_id", p=8
    )
    got_set = {
        (str(r["window_start"]), r["event_type"], r["bucket"], r["reg"])
        for r in got.collect()
    }
    exp_set = {
        (str(r["win"]), r["event_type"], r["bucket"], r["reg"])
        for r in expect.collect()
    }
    assert got_set == exp_set

    # and the batch finalizer over the sink estimates sensibly
    est = hll_estimate(
        got.withColumnRenamed("window_start", "win"), ["win", "event_type"], p=8
    ).collect()
    by_key = {(str(r["win"]), r["event_type"]): r["hll_estimate_micro"] / 1e6 for r in est}
    assert abs(by_key[("2024-01-01 00:00:00", "click")] - 40) <= 8
    assert abs(by_key[("2024-01-01 01:00:00", "view")] - 25) <= 6


def test_cms_sketch_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.sketches import cms_lookup, cms_sketch
    from themis_tritonsort_spark.streaming.sketches import cms_sketch_stream

    src = os.path.join(stream_dir, "src")
    rows = (
        [(1, "2024-01-01 00:05:00", "hot") for _ in range(30)]
        + [(2, "2024-01-01 00:15:00", f"cold{i}") for i in range(10)]
        + [(3, "2024-01-01 01:10:00", "hot") for _ in range(5)]
    )
    _write_events(spark, src, rows)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = cms_sketch_stream(
        stream, "event_type", window="1 hour", depth=4, width=64
    )
    _run_to_memory(out, "cms_stream", mode="complete")
    got = spark.sql("SELECT * FROM cms_stream")

    # streaming counters == batch sketch over the same windowed rows
    for win, n_rows in [("2024-01-01 00:00:00", 40), ("2024-01-01 01:00:00", 5)]:
        batch = spark.read.parquet(src).where(
            F.date_trunc("hour", "ts") == F.lit(win).cast("timestamp")
        )
        exp = {
            (r["row"], r["bucket"]): r["total"]
            for r in cms_sketch(batch, "event_type", depth=4, width=64).collect()
        }
        act = {
            (r["row"], r["bucket"]): r["total"]
            for r in got.where(
                F.col("window_start") == F.lit(win).cast("timestamp")
            ).collect()
        }
        assert act == exp
        assert sum(act.values()) == 4 * n_rows

    # heavy-hitter finalization over the sink: "hot" dominates hour 0
    # re-materialize the sink rows as a plain relation (the memory
    # sink's table cannot be joined mid-plan on this Spark build)
    hour0 = spark.createDataFrame(
        got.where(
            F.col("window_start")
            == F.lit("2024-01-01 00:00:00").cast("timestamp")
        )
        .select("row", "bucket", "total")
        .collect(),
        "row int, bucket long, total long",
    )
    items = spark.createDataFrame([("hot",), ("cold0",)], "event_type string")
    est = {
        r["event_type"]: r["cms_estimate"]
        for r in cms_lookup(hour0, items, "event_type", width=64).collect()
    }
    assert est["hot"] >= 30
    assert est["cold0"] >= 1


def test_funnel_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.sessionize import funnel_steps
    from themis_tritonsort_spark.streaming.sessions import funnel_stream

    steps = ["view", "cart", "buy"]
    rows = [
        # user 1 completes all three in order
        (1, "2024-01-01 00:01:00", "view"),
        (1, "2024-01-01 00:02:00", "cart"),
        (1, "2024-01-01 00:03:00", "buy"),
        # user 2: buy BEFORE cart -> stalls at stage 1
        (2, "2024-01-01 00:01:00", "view"),
        (2, "2024-01-01 00:00:30", "buy"),
        # user 3: simultaneous view+cart -> strict > blocks stage 2
        (3, "2024-01-01 00:01:00", "view"),
        (3, "2024-01-01 00:01:00", "cart"),
        # user 4: never starts
        (4, "2024-01-01 00:05:00", "cart"),
    ]
    src = os.path.join(stream_dir, "src")
    _write_events(spark, src, rows)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .parquet(src)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    )
    out = funnel_stream(stream, steps)
    _run_to_memory(out, "funnel_stream", mode="append")
    got = spark.sql("SELECT * FROM funnel_stream")
    max_stage = {
        r["user_id"]: r["s"]
        for r in got.groupBy("user_id").agg(F.max("stage").alias("s")).collect()
    }

    batch = funnel_steps(
        spark.read.parquet(src), "user_id", "ts", "event_type", steps
    )
    exp = {r["user_id"]: r["stage"] for r in batch.collect()}
    exp_nonzero = {u: s for u, s in exp.items() if s > 0}
    assert max_stage == exp_nonzero
    assert exp[1] == 3 and exp[2] == 1 and exp[3] == 1 and exp[4] == 0

    # advancement facts are monotone per user: stages 1..max, each once
    for r in got.groupBy("user_id").agg(
        F.sort_array(F.collect_list("stage")).alias("st")
    ).collect():
        assert r["st"] == list(range(1, len(r["st"]) + 1))


def test_ewma_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.temporal import ewma_halving
    from themis_tritonsort_spark.streaming.temporal import ewma_stream

    src = os.path.join(stream_dir, "src")
    rows = [
        (1, 10, 100, 8), (1, 20, 101, 4), (1, 30, 102, 10),
        (1, 40, 103, 3), (2, 5, 200, 7), (2, 6, 201, 7),
    ]
    spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, value_cents long"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "user_id long, ts_us long, event_id long, value_cents long"
    ).parquet(src)
    _run_to_memory(ewma_stream(stream), "ewma_stream", mode="append")
    got = {
        r["event_id"]: r["ewma_micro"]
        for r in spark.sql("SELECT * FROM ewma_stream").collect()
    }

    batch = ewma_halving(
        spark.read.parquet(src), "user_id", "ts_us", "event_id", "value_cents"
    )
    exp = {r["event_id"]: r["ewma_micro"] for r in batch.collect()}
    assert got == exp
    # hand spot-check: 8 -> 6 -> 8 -> 5.5 (the .5 tie exercises the
    # HALF_UP parity shim)
    assert exp[103] == 5_500_000


def test_activity_delta_stream_gauge(spark, stream_dir):
    from themis_tritonsort_spark.operators.sort import with_global_prefix_sum
    from themis_tritonsort_spark.streaming.temporal import activity_delta_stream

    src = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 00:05:00", "a"),   # active 00:05-01:05
            (2, "2024-01-01 00:20:00", "a"),   # active 00:20-01:20
            (3, "2024-01-01 02:00:00", "a"),   # active 02:00-03:00
        ],
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)
    out = activity_delta_stream(
        stream, horizon="1 hour", window="15 minutes", watermark="3 hours"
    )
    _run_to_memory(out, "act_deltas", mode="complete")
    sink = spark.createDataFrame(
        spark.sql(
            "SELECT CAST(window_start AS STRING) AS w, net_delta"
            " FROM act_deltas"
        ).collect(),
        "w string, net_delta long",
    )

    # batch-side finalization: cumsum over windows = the open gauge
    gauge = {
        r["w"]: r["open"]
        for r in with_global_prefix_sum(
            sink, ["w"], "net_delta", out_col="open"
        ).collect()
    }
    # 00:00 window: +1 (event1); 00:15: +1 (event2) -> gauge 2;
    # 01:00: -1 (event1 expiry); 01:15: -1 (event2) -> gauge 0;
    # 02:00: +1; 03:00: -1
    assert gauge["2024-01-01 00:00:00"] == 1
    assert gauge["2024-01-01 00:15:00"] == 2
    assert gauge["2024-01-01 01:00:00"] == 1
    assert gauge["2024-01-01 01:15:00"] == 0
    assert gauge["2024-01-01 02:00:00"] == 1
    assert gauge["2024-01-01 03:00:00"] == 0
    # deltas are conservation-exact: every +1 has its -1
    assert sum(r["net_delta"] for r in sink.collect()) == 0


def test_cdc_apply_stream_maintains_snapshot(spark, stream_dir):
    import time as _time

    from themis_tritonsort_spark.streaming.cdc import (
        cdc_apply_stream,
        read_snapshot,
    )

    src = os.path.join(stream_dir, "changes")
    snap_dir = os.path.join(stream_dir, "snapshot")
    os.makedirs(src, exist_ok=True)

    def _write_batch(rows, name):
        spark.createDataFrame(
            rows, "k long, ver long, val string, deleted boolean"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )

    # two change files -> maxFilesPerTrigger=1 forces two micro-batches,
    # so the second MERGEs onto a non-empty carried snapshot
    _write_batch(
        [(1, 1, "a1", False), (2, 1, "b1", False)], "f1.parquet"
    )
    _time.sleep(1.1)  # distinct mod times -> deterministic file order
    _write_batch(
        [(1, 2, "a2", False), (2, 2, None, True), (3, 1, "c1", False)],
        "f2.parquet",
    )

    stream = (
        spark.readStream.schema("k long, ver long, val string, deleted boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = cdc_apply_stream(stream, snap_dir, ["k"], ["ver"], "deleted")
    q.awaitTermination(120)

    snap = read_snapshot(spark, snap_dir)
    got = {r["k"]: r["val"] for r in snap.collect()}
    # k1 updated to a2, k2 tombstoned away, k3 inserted
    assert got == {1: "a2", 3: "c1"}
    # snapshot versions accumulated and the pointer names the latest
    versions = sorted(
        d for d in os.listdir(snap_dir) if d.startswith("v")
    )
    assert len(versions) >= 2


def test_transition_stream_matches_batch_matrix(spark, stream_dir):
    from themis_tritonsort_spark.streaming.temporal import transition_stream

    src = os.path.join(stream_dir, "src")
    spark.createDataFrame(
        [
            (1, 10, 100, "view"), (1, 20, 101, "click"),
            (1, 30, 102, "buy"), (2, 10, 200, "view"),
            (2, 20, 201, "view"),
        ],
        "user_id long, ts_us long, event_id long, event_type string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts_us long, event_id long, event_type string"
    ).parquet(src)
    _run_to_memory(transition_stream(stream), "transitions", mode="append")
    got = sorted(
        (r["user_id"], r["from_type"], r["to_type"])
        for r in spark.sql("SELECT * FROM transitions").collect()
    )
    assert got == [
        (1, "click", "buy"), (1, "view", "click"), (2, "view", "view"),
    ]


def test_bm25_frozen_scoring_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.textstats import (
        bm25_freeze_stats,
        bm25_score_frozen,
        bm25_topk_multi,
    )

    docs_rows = [
        (1, "hash join hash join hash"),
        (2, "hash scan filter filter"),
        (3, "filter sort merge"),
        (4, "hash"),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    queries = {1: ["hash", "join"], 2: ["scan", "filter"]}
    all_terms = sorted({t for ts in queries.values() for t in ts})
    stats, n, sdl = bm25_freeze_stats(docs, "doc_id", "text", all_terms)

    # frozen scorer over the SAME corpus == the join-based multi-query
    # operator (same df/N/avgdl by construction)
    frozen = {
        (r["query_id"], r["doc_id"]): r["score_micro"]
        for r in bm25_score_frozen(
            docs, "doc_id", "text", queries, stats, n, sdl
        ).collect()
    }
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id long, term string",
    )
    batch = {
        (r["query_id"], r["doc_id"]): r["score_micro"]
        for r in bm25_topk_multi(
            docs, "doc_id", "text", qdf, "query_id", "term", k=100
        ).collect()
    }
    assert frozen == batch

    # and the identical expression scores a STREAM statelessly
    src = os.path.join(stream_dir, "src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    _run_to_memory(
        bm25_score_frozen(stream, "doc_id", "text", queries, stats, n, sdl),
        "bm25_stream",
        mode="append",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score_micro"]
        for r in spark.sql("SELECT * FROM bm25_stream").collect()
    }
    assert got == batch


def test_media_decode_streams_match_batch(spark, stream_dir):
    """Multimodal decode is stateless mapInPandas, so the SAME
    operators (feature extraction over real PPM images, video frame
    sampling over a concatenated-P6 stream) run unchanged on a
    streaming DataFrame and emit exactly the batch rows — the
    decode-at-ingest path of a media curation pipeline."""
    import os as _os

    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        frame_sample,
        ppm_from_documents,
        ppm_video_from_documents,
    )

    from .conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents").limit(20)
    img_src = _os.path.join(stream_dir, "img")
    vid_src = _os.path.join(stream_dir, "vid")
    ppm_from_documents(docs).coalesce(1).write.mode("overwrite").parquet(
        img_src
    )
    ppm_video_from_documents(docs, frames=3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(vid_src)

    img_stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(img_src)
    q = _run_to_memory(extract_features(img_stream), "media_feat")
    got = {
        r["id"]: tuple(r["feature"])
        for r in spark.sql("select * from media_feat").collect()
    }
    want = {
        r["id"]: tuple(r["feature"])
        for r in extract_features(
            spark.read.schema(MEDIA_SCHEMA).parquet(img_src)
        ).collect()
    }
    q.stop()
    assert got == want and len(got) == 20

    vid_stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(vid_src)
    q = _run_to_memory(frame_sample(vid_stream, frame_step=2), "media_frames")
    got = {
        (r["id"], r["frame_idx"]): (r["offset"], r["gray_sum"])
        for r in spark.sql("select * from media_frames").collect()
    }
    q.stop()
    want = {
        (r["id"], r["frame_idx"]): (r["offset"], r["gray_sum"])
        for r in frame_sample(
            spark.read.schema(MEDIA_SCHEMA).parquet(vid_src), frame_step=2
        ).collect()
    }
    assert got == want and len(got) == 20 * 2  # frames 0, 2 per doc


def test_compression_ratio_streams_match_batch(spark, stream_dir):
    """The zlib compressibility signal is stateless mapInPandas, so
    the identical operator scores a stream and matches batch rows."""
    from themis_tritonsort_spark.operators.textstats import compression_ratio

    src = os.path.join(stream_dir, "src")
    spark.createDataFrame(
        [(1, "spam " * 50), (2, "the quick brown fox"), (3, "")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    _run_to_memory(
        compression_ratio(stream, "doc_id", "text"), "stream_zratio"
    )
    got = {
        r["id"]: (r["raw_len"], r["compressed_len"], r["ratio_ppm"])
        for r in spark.sql("SELECT * FROM stream_zratio").collect()
    }
    want = {
        r["id"]: (r["raw_len"], r["compressed_len"], r["ratio_ppm"])
        for r in compression_ratio(
            spark.read.parquet(src), "doc_id", "text"
        ).collect()
    }
    assert got == want and len(got) == 3


def test_nb_frozen_scoring_stream_matches_batch(spark, stream_dir):
    from themis_tritonsort_spark.operators.textstats import (
        nb_freeze_weights,
        nb_score_frozen,
        nb_token_classifier,
    )

    rows = [(i, "aaa bbb aaa", True) for i in range(6)]
    rows += [(i + 6, "ccc ddd ccc", False) for i in range(6)]
    rows += [(20, "aaa ccc bbb ddd aaa", True)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    weights = nb_freeze_weights(docs, "doc_id", "text", "y", buckets=64)
    assert len(weights) == 64 and any(w != 0 for w in weights)

    # frozen scorer over the TRAINING corpus == the batch classifier
    # (every training token's bucket is in the weight table)
    frozen = {
        r.doc_id: (r.score_micro, r.n_tokens, r.pred_label)
        for r in nb_score_frozen(docs, "doc_id", "text", weights).collect()
    }
    batch = {
        r.doc_id: (r.score_micro, r.n_tokens, r.pred_label)
        for r in nb_token_classifier(
            docs, "doc_id", "text", "y", buckets=64
        ).collect()
    }
    assert frozen == batch

    # a never-trained token scores the neutral 0 on new data
    new = spark.createDataFrame(
        [(100, "aaa zzz-never-trained aaa")], "doc_id long, text string"
    )
    [r] = nb_score_frozen(new, "doc_id", "text", weights).collect()
    assert r.n_tokens == 3

    # and the identical expression scores a STREAM statelessly
    src = os.path.join(stream_dir, "nb_src")
    docs.select("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    _run_to_memory(
        nb_score_frozen(stream, "doc_id", "text", weights), "nb_stream"
    )
    got = {
        r.doc_id: (r.score_micro, r.n_tokens, r.pred_label)
        for r in spark.sql("select * from nb_stream").collect()
    }
    assert got == batch


def test_media_decode_streams(spark, stream_dir):
    """The media decode operators are stateless mapInPandas, so the
    SAME frame_sample / audio_sample_stats run unchanged on a
    streaming DataFrame — a crawl-ingest pipeline decodes media
    incrementally with no batch/stream forking.  Streamed output must
    equal the batch run on the same payloads."""
    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_sample_stats,
        frame_sample,
        mjpeg_video_from_documents,
        wav_from_documents,
    )

    docs = (
        table(spark, "/root/testdata/sf0.001", "documents")
        .orderBy("doc_id")
        .limit(4)
    )
    for name, make, consume in [
        (
            "mjpeg",
            lambda d: mjpeg_video_from_documents(
                d, width=16, height=16, frames=2, flat=True
            ),
            lambda m: frame_sample(m, frame_step=1).select(
                "id", "frame_idx", "gray_sum"
            ),
        ),
        (
            "wav",
            lambda d: wav_from_documents(d, n_samples=64),
            lambda m: audio_sample_stats(m).select(
                "id", "n_samples", "abs_sum", "sq_sum"
            ),
        ),
    ]:
        src = os.path.join(stream_dir, name)
        make(docs).coalesce(1).write.mode("overwrite").parquet(src)
        batch = {
            tuple(r) for r in consume(spark.read.parquet(src)).collect()
        }
        stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src)
        _run_to_memory(consume(stream), f"stream_{name}")
        streamed = {
            tuple(r)
            for r in spark.sql(f"SELECT * FROM stream_{name}").collect()
        }
        assert streamed == batch and len(streamed) > 0, name


def test_token_budget_replay_carries_state_across_batches(spark):
    """The q145 harness: a static corpus split into id-range files and
    replayed one file per trigger must admit exactly the per-group
    running-sum prefix over GLOBAL id order — i.e. the budget consumed
    in micro-batch k must carry into micro-batch k+1 (admissions in a
    later batch resume from the earlier batch's consumed total, they
    do not restart at zero)."""
    from themis_tritonsort_spark.streaming.budget import token_budget_replay

    # 6 docs of 10 tokens each, one group; budget 35 -> docs 0..3
    # admitted (cum 10,20,30,40 — the 4th overflows), docs 4,5 never.
    # With n_batches=3 the cut lands mid-replay: batch boundaries are
    # id ranges {0,1},{2,3},{4,5}, so admission 3 (id=3) happens in the
    # SECOND batch and proves the state carry; a restarted budget
    # would also admit ids 4 and 5.
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10), "g0") for i in range(6)],
        "doc_id long, text string, source string",
    )
    out = token_budget_replay(
        spark, docs, "doc_id", "text", "source", 35, n_batches=3
    )
    got = sorted((r["id"], r["cum_tokens"]) for r in out.collect())
    assert got == [(0, 10), (1, 20), (2, 30), (3, 40)]


def _spy_new_sessions(monkeypatch) -> list:
    """Record every session ``SparkSession.newSession`` hands out, so a
    test can look at the replay's own session after the call."""
    from pyspark.sql import SparkSession

    sessions = []
    real_new = SparkSession.newSession

    def spy_new(self):
        session = real_new(self)
        sessions.append(session)
        return session

    monkeypatch.setattr(SparkSession, "newSession", spy_new)
    return sessions


def test_token_budget_replay_drops_its_sink_view(spark, monkeypatch):
    """The memory sink's budget_replay_<uuid> temp view must not outlive
    the call, in the caller's session or the replay's own, and the
    returned frame must still read every row after the view is gone
    (also on the timeout path)."""
    from pyspark.sql.streaming import StreamingQuery

    from themis_tritonsort_spark.streaming.budget import token_budget_replay

    sessions = _spy_new_sessions(monkeypatch)

    def replay_views() -> list[str]:
        return [
            t.name
            for s in [spark, *sessions]
            for t in s.catalog.listTables()
            if t.name.startswith("budget_replay_")
        ]

    docs = spark.createDataFrame(
        [(i, "w w", "g0") for i in range(5)],
        "doc_id long, text string, source string",
    )
    out = token_budget_replay(spark, docs, "doc_id", "text", "source", 100)
    assert len(sessions) == 1
    assert replay_views() == []
    assert out.count() == 5

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    with pytest.raises(TimeoutError):
        token_budget_replay(spark, docs, "doc_id", "text", "source", 100)
    assert replay_views() == []


def test_token_budget_replay_returns_rows_in_the_callers_session(
    spark, monkeypatch
):
    """The replay runs on its own session, but the frame it returns
    must belong to the caller's: a join or aggregate built on it then
    runs with the caller's shuffle partition count, not the replay
    session's state-store count."""
    from themis_tritonsort_spark.streaming.budget import token_budget_replay

    sessions = _spy_new_sessions(monkeypatch)
    docs = spark.createDataFrame(
        [(i, "w w w", "g0") for i in range(8)],
        "doc_id long, text string, source string",
    )
    out = token_budget_replay(
        spark, docs, "doc_id", "text", "source", 100, n_batches=2
    )
    assert len(sessions) == 1
    assert out.sparkSession is spark
    assert out.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    ) == spark.conf.get("spark.sql.shuffle.partitions")
    assert sessions[0].conf.get("spark.sql.shuffle.partitions") != (
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    got = sorted((r["id"], r["cum_tokens"]) for r in out.collect())
    assert got == [(i, 3 * (i + 1)) for i in range(8)]


def test_q145_result_scans_no_python_rdd(spark, sf_dir):
    """The replay's rows go back to the caller's session inside the
    JVM: q145's result is a local relation, not a Python-backed RDD
    whose scan would need a Python worker."""
    from themis_tritonsort_spark.queries import q145_budget_stream_replay

    qe = q145_budget_stream_replay(spark, sf_dir)._jdf.queryExecution()
    plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    assert "LocalRelation" in plans
    assert "LogicalRDD" not in plans and "ExistingRDD" not in plans


def test_token_budget_replay_timeout_raises(spark, monkeypatch):
    """A replay that does not finish in time must raise, not return the
    partial memory table it has so far."""
    from pyspark.sql.streaming import StreamingQuery

    from themis_tritonsort_spark.streaming.budget import token_budget_replay

    sessions = _spy_new_sessions(monkeypatch)
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    docs = spark.createDataFrame(
        [(i, "w w", "g0") for i in range(4)],
        "doc_id long, text string, source string",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(TimeoutError):
        token_budget_replay(spark, docs, "doc_id", "text", "source", 3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert len(sessions) == 1
    for s in [spark, *sessions]:
        assert not any(q.isActive for q in s.streams.active)


@pytest.mark.parametrize(
    "value, expected",
    [
        ("67108864", 67108864),
        ("64m", 64 << 20),
        ("64mb", 64 << 20),
        ("256MB", 256 << 20),
        ("1t", 1 << 40),
        ("2p", 2 << 50),
    ],
)
def test_parse_bytes_matches_spark(spark, value, expected):
    """The replay's advisory size is parsed the way Spark parses
    ``advisoryPartitionSizeInBytes`` itself."""
    from themis_tritonsort_spark.operators.loop import advisory_bytes

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    session = spark.newSession()
    session.conf.set(key, value)
    entry = spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    assert session._jsparkSession.sessionState().conf().getConf(entry) == expected
    assert advisory_bytes(session) == expected
