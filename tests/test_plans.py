"""Physical-plan regression tests: the PLANS.md claims, asserted.

These pin the plan *shape* (pushdown, broadcast, top-k, shuffle count),
not exact operator text, so AQE/codegen cosmetics don't break them.
"""

from __future__ import annotations

import contextlib
import io
import re

from themis_tritonsort_spark import queries as q

from .conftest import SF_SMOKE


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _with_checkpoint_plans(spark, monkeypatch, build):
    """Build a frame while spying on localCheckpoint: returns the
    frame's simple plan and the simple plan of every relation the
    build checkpointed, captured before the checkpoint runs.  A
    checkpoint reads as a ``Scan ExistingRDD`` leaf in its consumers'
    plans, so its own subtree is printed (and counted) exactly once."""
    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is an
    # abstract facade; classic sessions instantiate a subclass)
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    inner: list[str] = []

    def spy(self, *a, **k):
        inner.append(_plan(self, "simple"))
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    df = build()
    monkeypatch.undo()
    return _plan(df, "simple"), inner


def test_q14_filter_and_projection_reach_scan(spark):
    plan = _plan(q.q14_pricing_summary(spark, SF_SMOKE))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1]
    # column pruning: the scan's ReadSchema must not include unused cols
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" in read_schema


def test_q15_dimensions_broadcast(spark):
    plan = _plan(q.q15_revenue_by_nation(spark, SF_SMOKE), mode="simple")
    # all 4 dimension joins build broadcast sides; the fact table is
    # never shuffled before the final aggregate
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_q16_topk_avoids_global_sort(spark):
    plan = _plan(q.q16_top_customers(spark, SF_SMOKE), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_q01_rank_without_single_partition_window(spark, monkeypatch):
    plan, inner = _with_checkpoint_plans(
        spark, monkeypatch, lambda: q.q01_sort_events(spark, SF_SMOKE)
    )
    # the ranked relation is materialized once, as one lazy checkpoint
    assert len(inner) == 1
    ranked = inner[0]
    # global rank must come from range partition + per-partition offsets;
    # the only SinglePartition exchange allowed is the numPartitions-row
    # offsets aggregate, never a window over the data itself
    assert "rangepartitioning" in ranked
    assert ranked.count("SinglePartition") + plan.count("SinglePartition") <= 1
    # the offsets branch and the main pass both read the checkpoint,
    # never re-running the scan + range shuffle
    assert "Scan ExistingRDD" in plan
    assert "rangepartitioning" not in plan and "FileScan" not in plan


def test_q36_asof_single_shuffle(spark):
    plan = _plan(q.q36_asof_join(spark, SF_SMOKE), mode="simple")
    # the merge-scan formulation: the union shuffles once on the key;
    # the purchase-side pre-aggregate adds one more — nothing else
    assert plan.count("hashpartitioning") <= 2


def test_q37_range_join_is_equi_join(spark):
    plan = _plan(q.q37_range_join(spark, SF_SMOKE), mode="simple")
    # bucket quantization keeps it a hash-equi join on (bucket, key) —
    # no BroadcastNestedLoopJoin / CartesianProduct fallback
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q39_verify_udf_runs_once(spark):
    # the cos_ppm filter stays above the projection computing it: a
    # filter pushed below it inlines icos_batch, and a second
    # ArrowEvalPython runs the verify again for every candidate pair
    plan = _plan(q.q39_lsh_neardup(spark, SF_SMOKE))
    evals = re.findall(
        r"^\(\d+\) ArrowEvalPython\nInput .*\nArguments: \[icos_batch\(",
        plan,
        re.M,
    )
    assert len(evals) == 1, plan


def test_cobucketed_join_elides_exchange_and_sort(spark):
    from pyspark.sql import functions as F

    from themis_tritonsort_spark.sources.bucketed import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    a = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("va")
    )
    b = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("vb")
    )
    try:
        write_bucketed(a, "bkt_a", ["k"], 8, sort_cols=["k"])
        write_bucketed(b, "bkt_b", ["k"], 8, sort_cols=["k"])
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_bucketed(spark, "bkt_a").join(
                read_bucketed(spark, "bkt_b"), "k"
            )
            plan = _plan(joined, mode="simple")
            # co-bucketed scans satisfy the join's distribution AND
            # ordering requirements: no shuffle, no per-side sort
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert joined.count() == 5000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        drop_bucketed(spark, "bkt_a")
        drop_bucketed(spark, "bkt_b")


def test_bucketed_groupby_elides_exchange(spark):
    from pyspark.sql import functions as F

    from themis_tritonsort_spark.sources.bucketed import (
        drop_bucketed,
        read_bucketed,
        write_bucketed,
    )

    a = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    try:
        write_bucketed(a, "bkt_g", ["k"], 8)
        agg = read_bucketed(spark, "bkt_g").groupBy("k").agg(
            F.sum("v").alias("s")
        )
        plan = _plan(agg, mode="simple")
        assert "Exchange" not in plan
        assert agg.count() == 100
    finally:
        drop_bucketed(spark, "bkt_g")


def test_partitioned_write_prunes_directories(spark, tmp_path):
    from pyspark.sql import functions as F

    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.sources.bucketed import write_partitioned

    ev = table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])

    days = [r["day"] for r in spark.read.parquet(path).select("day").distinct().collect()]
    assert len(days) > 1  # pruning is only meaningful across >1 dir
    one = spark.read.parquet(path).where(F.col("day") == F.lit(days[0]))
    plan = _plan(one)
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2 and "day" in pf[1].splitlines()[0]
    expected = ev.where(F.col("day") == F.lit(days[0])).count()
    assert one.count() == expected


def test_ivf_storage_probe_prunes_cells(spark, tmp_path):
    # build_ivf_storage partitions the corpus by IVF cell; a pruned
    # probe must read ONLY the probed cells (PartitionFilters at the
    # scan) and return exactly what the unpruned ivf_topk returns.
    from pyspark.sql import functions as F

    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.similarity import (
        build_ivf_storage,
        ivf_topk,
        ivf_topk_pruned,
    )
    from themis_tritonsort_spark.queries import _seed_centers

    emb = table(spark, SF_SMOKE, "embeddings")
    centroids = _seed_centers(spark, SF_SMOKE)
    path = str(tmp_path / "ivf_cells")
    build_ivf_storage(emb, path, "vec_id", "embedding", centroids)

    n_cells_on_disk = (
        spark.read.parquet(path).select("cell").distinct().count()
    )
    queries = emb.where(F.col("vec_id") < 3)
    pruned = ivf_topk_pruned(
        spark, path, queries, id_col="vec_id", vec_col="embedding", k=5,
        centroids=centroids, nprobe=2,
    )
    plan = _plan(pruned)
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2
    pf_line = pf[1].splitlines()[0]
    # static IN-filter over at most n_queries*nprobe cells — strictly
    # fewer than the cells on disk, so whole directories are skipped
    assert "cell" in pf_line and " IN " in pf_line
    in_list = pf_line.split(" IN (", 1)[1].split(")", 1)[0]
    n_pruned_to = len(in_list.split(","))
    assert n_pruned_to <= 6 < n_cells_on_disk

    exact_same = ivf_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5,
        centroids=centroids, nprobe=2,
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, exact_same.collect())
    )


def test_q73_prefix_sum_avoids_single_partition_window(spark, monkeypatch):
    # The packing cumsum must be the two-level form: a range exchange
    # plus per-partition windows — never one global window that would
    # serialize the corpus through a single partition.
    plan, inner = _with_checkpoint_plans(
        spark, monkeypatch, lambda: q.q73_pack_sequences(spark, SF_SMOKE)
    )
    assert len(inner) == 1
    summed = inner[0]
    assert "rangepartitioning" in summed.lower()
    # the only SinglePartition exchange allowed is the
    # numPartitions-row offsets aggregate (same shape as q01's rank)
    assert summed.count("SinglePartition") + plan.count("SinglePartition") <= 1
    # both branches read the one checkpoint instead of re-running it
    assert "Scan ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower() and "FileScan" not in plan


def test_q75_bucketing_avoids_corpus_ntile(spark):
    # Boundaries ride as a lazy 1-row percentile aggregate broadcast
    # onto the classification pass; assignment must be a comparison
    # chain — NO Window operator anywhere (an ntile would sort the
    # whole corpus in one partition).  The percentile aggregate's own
    # 1-row Exchange SinglePartition is the only one allowed: its
    # input is the partial-aggregated per-partition state, not rows.
    plan = _plan(q.q75_surprisal_mix(spark, SF_SMOKE), mode="simple")
    assert "Window" not in plan
    assert "ntile(" not in plan.lower()
    # the only SinglePartition exchanges are 1-ROW aggregates (the
    # lazy token total inside unigram_surprisal and the percentile
    # bounds), re-printed per cached branch — never a corpus sort
    assert plan.count("Exchange SinglePartition") <= 3
    for line in plan.splitlines():
        if "Exchange SinglePartition" in line:
            assert "Sort" not in line


def test_q77_single_scan_feeds_all_signals(spark, monkeypatch):
    # the round-4 rewrite: ONE FileScan of documents (checkpointed) must
    # feed quality/lang/dupes/repetition/decontamination.  Count real
    # scans and exchanges over the result plan plus each checkpointed
    # relation's own plan (each printed once: its consumers read it as
    # a Scan ExistingRDD leaf).
    import re

    plan, inner = _with_checkpoint_plans(
        spark, monkeypatch, lambda: q.q77_full_curation(spark, SF_SMOKE)
    )
    s = "\n".join([plan, *inner])
    assert s.count("FileScan") == 1
    exchanges = len(
        re.findall(r"(?<!Reused)Exchange (hash|range|Single|RoundRobin)", s)
    )
    assert exchanges <= 10  # was 16 as a five-scan composition


def test_q70_pmi_no_eager_count(spark):
    # the N term must be a lazy broadcast aggregate, not a driver-side
    # df.count() — building the operator must launch ZERO jobs (the
    # parquet schema read that table() pays is warmed first)
    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.textstats import cooccurrence_pmi

    docs = table(spark, SF_SMOKE, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    cooccurrence_pmi(docs, "doc_id", "text", min_pairs=2, max_tokens_per_doc=16)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before


def test_text_scoring_ops_launch_no_eager_jobs(spark):
    # tf-idf's N, unigram surprisal's token total, and the mixture's
    # percentile bounds all ride as lazy 1-row broadcast aggregates —
    # building any of them must launch ZERO jobs
    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.textstats import (
        surprisal_mixture,
        tf_idf_topk,
        unigram_surprisal,
    )

    docs = table(spark, SF_SMOKE, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    tf_idf_topk(docs, "doc_id", "text", k=3)
    unigram_surprisal(docs, "doc_id", "text")
    surprisal_mixture(docs, "doc_id", "text", n_buckets=4)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before


def test_text_scoring_ops_tokenize_once(spark):
    # With no cache and no checkpoint, tf-idf, unigram surprisal and the
    # mixture still tokenize the corpus ONCE: every branch reads the
    # same (doc, word) exchange, which the executed plan reuses.
    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.textstats import (
        surprisal_mixture,
        tf_idf_topk,
        unigram_surprisal,
    )

    docs = table(spark, SF_SMOKE, "documents")
    for df in (
        tf_idf_topk(docs, "doc_id", "text", k=3),
        unigram_surprisal(docs, "doc_id", "text"),
        surprisal_mixture(docs, "doc_id", "text", n_buckets=4),
    ):
        df.collect()
        final = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert final.count("Generate explode") == 1
        assert "ReusedExchange" in final


def test_q95_fact_never_sort_merge_joined(spark):
    # both nation filters propagate through broadcast joins; lineitem
    # is reduced by BroadcastHashJoins, never shuffled for a join
    plan = _plan(q.q95_volume_shipping(spark, SF_SMOKE), mode="simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q100_or_brackets_single_scan(spark):
    # the OR-of-ANDs is one codegen residual over ONE lineitem scan,
    # not a union of three scans
    plan = _plan(q.q100_bracket_revenue(spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1
    assert "Union" not in plan


def test_q107_bm25_topk_compiles_to_take_ordered(spark):
    plan = _plan(q.q107_bm25_retrieval(spark, SF_SMOKE), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan and "Sort [score" not in plan


def test_q99_survivors_join_after_aggregate(spark):
    # the grouped-HAVING filter runs on lineitem alone; orders joins
    # the survivor aggregate (no lineitem x orders sort-merge first)
    plan = _plan(q.q99_large_orders(spark, SF_SMOKE))
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    assert agg_pos != -1 and join_pos != -1
    assert "sum_qty" in plan


def test_q106_bpe_no_python_udf(spark):
    # the merge fold is pure Catalyst: no BatchEvalPython / ArrowEval
    # anywhere in the trained-vocab plan
    plan = _plan(q.q106_bpe_train(spark, SF_SMOKE), mode="simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q105_sweep_single_corpus_scan(spark):
    # both +1/-1 boundaries explode from ONE spans aggregate (no
    # union re-deriving it per branch), and the only SinglePartition
    # exchange is the numPartitions-row offset table of the
    # distributed prefix sum
    plan = _plan(q.q105_concurrency(spark, SF_SMOKE), mode="simple")
    assert "Union" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_q109_fuzzy_match_is_hash_equi_join(spark):
    plan = _plan(q.q109_fuzzy_supplier_match(spark, SF_SMOKE), mode="simple")
    # deletion-neighborhood blocking makes the candidate join an equi
    # hash join on the deletion key — levenshtein must NOT sit inside
    # a BroadcastNestedLoopJoin / CartesianProduct condition
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q115_predicates_reach_scan(spark):
    # the Q6 shape is ONLY a scan + agg: every predicate must push
    plan = _plan(q.q115_filtered_revenue(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed
    assert "Join" not in plan


def test_q137_weight_table_broadcasts(spark):
    # trained-classifier scoring must join the corpus to the weight
    # table via BroadcastHashJoin (buckets-sized build side), never a
    # shuffled SMJ of the corpus, and stay UDF-free
    plan = _plan(q.q137_trained_classifier(spark, SF_SMOKE), mode="simple")
    assert "BroadcastHashJoin" in plan
    # the ONLY nested-loop is the 1-row prior riding in as a broadcast
    # literal (Cross build of a global aggregate) — never an Inner NLJ
    # over data-sized sides
    import re

    nljs = re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan)
    assert all("Cross" in n for n in nljs) and len(nljs) <= 1
    assert "Cartesian" not in plan
    assert "Python" not in plan  # no python UDF in the hot path


def test_q138_budget_walk_has_no_global_window(spark):
    # the budget cumsum is the distributed prefix sum: no
    # single-partition window over the corpus (the only window runs
    # per spark_partition_id), and the ratio table broadcasts
    plan = _plan(q.q138_importance_resample(spark, SF_SMOKE), mode="simple")
    assert "BroadcastHashJoin" in plan
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        # every Window node must be partitioned (arg 2 non-empty)
        assert m.group(1).strip(), f"global window in plan: {m.group(0)}"


def test_q136_split_is_map_side_after_anchor_join(spark):
    # the split expression itself adds no shuffle beyond the anchor
    # join: no NLJ/cartesian anywhere in the leakage-safe split plan
    plan = _plan(q.q136_leakage_safe_split(spark, SF_SMOKE), mode="simple")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q139_dup_decision_is_aggregate_semi_join(spark):
    # the fingerprint-multiplicity decision must be an aggregate +
    # LeftSemi hash join — never a per-pair product (BNLJ/cartesian)
    # and never a window count that funnels a hot fingerprint's rows
    # into one task
    plan = _plan(q.q139_dup_substrings(spark, SF_SMOKE), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q142_ann_margin_has_no_bipartite_product(spark):
    # the ANN-fed margin path must never cross the corpus with the
    # query set: candidates come from a hash join on (band, bucket)
    # against the BROADCAST query band rows, re-scoring is equi-keyed,
    # and the margin joins broadcast only the ~k-rows-per-query side.
    # The signature kernel is the sanctioned Arrow numeric exception
    # (integer matmul), so ArrowEvalPython is allowed — but never a
    # row-at-a-time BatchEvalPython
    plan = _plan(q.q142_ann_margin_pairs(spark, SF_SMOKE), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_margin_select_streams_backward_stats(spark):
    # the corpus-cardinality bwd_stats side must NOT be the broadcast
    # build of the margin join (ADVICE r05): margin_select writes the
    # join as broadcast(fwd JOIN broadcast(fwd_stats)) JOIN bwd_stats,
    # so in the executed plan the neighbor_id-keyed BroadcastHashJoin
    # must build its LEFT (fwd) side — a regression that broadcasts
    # bwd_stats flips it to BuildRight (ADVICE r06: a bare
    # "BroadcastHashJoin in plan" assertion could not see that).
    from themis_tritonsort_spark.operators.similarity import margin_pair_mine

    emb = q.table(spark, SF_SMOKE, "embeddings")
    from pyspark.sql import functions as F

    df = margin_pair_mine(
        emb.where(F.col("label") != 0),
        emb.where(F.col("label") == 0),
        "vec_id",
        "embedding",
        k=4,
    )
    plan = _plan(df, mode="simple")
    njoins = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "neighbor_id" in line
    ]
    assert njoins, f"no neighbor_id-keyed broadcast join in plan:\n{plan}"
    for line in njoins:
        assert "BuildLeft" in line, (
            f"bwd_stats became the broadcast build side: {line.strip()}"
        )


def test_q140_scrub_spans_ride_a_doc_keyed_join(spark):
    # the span list joins back on the doc id only; the token drop is
    # map-side array math (no second corpus-wide shuffle, no python)
    plan = _plan(q.q140_substring_scrub(spark, SF_SMOKE), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q85_rerank_barrier_holds(spark, monkeypatch):
    """ADVICE r07: pq_rerank_topk's tier-2 pushdown barrier (a lazy
    local checkpoint) must stop Catalyst from inlining the
    micro-quantize fold below the shortlist join onto every corpus
    row."""
    from pyspark.sql import functions as F

    from themis_tritonsort_spark.data import table
    from themis_tritonsort_spark.operators.similarity import (
        pq_codebook,
        pq_rerank_topk,
    )

    emb = table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    cb = pq_codebook(emb, "vec_id", "embedding", m=8, k=16)

    # the checkpoint boundary shows as an RDD-scan leaf; the quantize
    # can only sit above it (the corpus parquet scan is sealed inside
    # the deferred checkpoint computation)
    _, inner = _with_checkpoint_plans(
        spark,
        monkeypatch,
        lambda: pq_rerank_topk(emb, queries, "vec_id", "embedding", cb, 5),
    )
    df = pq_rerank_topk(emb, queries, "vec_id", "embedding", cb, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan
    assert "Scan ExistingRDD" in plan
    assert "FLOOR(((1000000.0" in plan  # tier-2 quantize is real
    # the checkpointed survivors (the one relation joining the corpus
    # scan to the shortlist ids) carry NO quantize work
    surv = [p for p in inner if "FileScan" in p and "neighbor_id" in p]
    assert surv, "survivor checkpoint not found"
    for sub in surv:
        assert "FLOOR(((1000000.0" not in sub and "raise_error" not in sub


def test_triangle_family_never_broadcasts_data_sized_tables(spark):
    """The degree-attach, wedge self-join, and closing joins of the
    shared triangle enumerator must stay off broadcast: the vertex and
    edge tables scale with the data, and at 64x replicas the broadcast
    variants OOMed an 8 GB driver (SCALE_PROBE round-9 addendum 3).
    The static plan must show the hinted shapes — ShuffledHashJoin for
    the degree attach, SortMergeJoin for the wedge self-join and the
    closing LeftSemi probe — and no BroadcastHashJoin anywhere in the
    enumerator.

    The edge fixture comes from PARQUET (SF_SMOKE), not a tiny
    LocalRelation: with real table stats Catalyst chose a broadcast
    for the (unhinted, pre-r10) wedge self-join that the LocalRelation
    fixture never exhibited — the fixture must reproduce the hazard
    the test exists to pin."""
    from themis_tritonsort_spark.operators.components import (
        local_clustering_coefficient,
        triangle_counts,
        triangle_total_degree_oriented,
    )
    from themis_tritonsort_spark.queries import _lineitem_edges

    edges = _lineitem_edges(spark, SF_SMOKE)
    for op in (
        triangle_total_degree_oriented,
        triangle_counts,
        local_clustering_coefficient,
    ):
        plan = _plan(op(edges), mode="simple")
        assert "ShuffledHashJoin" in plan, op.__name__
        assert "SortMergeJoin" in plan and "LeftSemi" in plan, op.__name__
        # explain('simple') prints the tree ROOT first, so the
        # enumerator's joins (degree attach + wedge self-join, which
        # feed the closing semi-join) print AFTER the 'LeftSemi' line
        # while any consumer joins ABOVE it print before — the
        # enumerator region is plan[first_semi:], not plan[:first_semi]
        # (ADVICE r09: the old slice checked the consumers and never
        # the enumerator).  Only LCC has a legitimate broadcast
        # candidate (its vertex-sized degree/per-vertex merge, above
        # the semi-join); the two triangle counters have none, so for
        # them no BroadcastHashJoin may appear ANYWHERE.
        first_semi = plan.index("LeftSemi")
        assert "BroadcastHashJoin" not in plan[first_semi:], op.__name__
        if op is not local_clustering_coefficient:
            assert "BroadcastHashJoin" not in plan, op.__name__
