#!/usr/bin/env python
"""Operator scaling probe: time the headline curation operators at
1x/8x/64x replicas of the sf0.1 tables and report the empirical
scaling exponent alpha (t ~ n^alpha) for each.

The per-round bench (bench.py) proves absolute speed at sf0.1; this
tool is the evidence for the DESIGN claims — that the dedup/ANN/
sampling plans are near-linear in corpus size (alpha ~ 1, no hidden
quadratic candidate blow-up), which is what "would still work at
100 TB" means operationally.  Replicas are deterministic: ids are
rekeyed per copy, text gets a per-copy prefix token (so near-dup
candidates grow linearly, not quadratically across copies — the
workload stays proportional to input), embeddings get a small
per-copy deterministic offset.

Usage: python tools/scale_probe.py [sf_dir] [copies ...]
       (default /root/testdata/sf0.1 at 1 8 64; writes markdown to
        stdout — redirect to SCALE_PROBE.md)
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from themis_tritonsort_spark.data import table  # noqa: E402
from themis_tritonsort_spark.session import get_spark  # noqa: E402

COPY_STRIDE = 1_000_000_000


def replicate_docs(docs, copies: int):
    if copies == 1:
        return docs
    c = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")
    return docs.select("*", c).select(
        (F.col("doc_id") + F.col("__copy").cast("long") * COPY_STRIDE).alias(
            "doc_id"
        ),
        F.concat(F.lit("c"), F.col("__copy"), F.lit(" "), F.col("text")).alias(
            "text"
        ),
        "lang",
        "source",
        "n_chars",
    )


def replicate_emb(emb, copies: int):
    if copies == 1:
        return emb
    c = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")
    return emb.select("*", c).select(
        (F.col("vec_id") + F.col("__copy").cast("long") * COPY_STRIDE).alias(
            "vec_id"
        ),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.col("__copy").cast("double") * 1e-3,
        ).alias("embedding"),
        "label",
    )


def replicate_events(ev, copies: int):
    if copies == 1:
        return ev.select("user_id", F.unix_micros("ts").alias("ts_us"))
    c = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")
    return ev.select("user_id", "ts", c).select(
        (F.col("user_id") + F.col("__copy").cast("long") * COPY_STRIDE).alias(
            "user_id"
        ),
        # shift each copy by a second so boundary timestamps stay
        # distinct across copies (boundaries grow linearly)
        (F.unix_micros("ts") + F.col("__copy").cast("long")).alias("ts_us"),
    )


def replicate_edges(edges, copies: int):
    """Disjoint copies: vertex ids offset per copy, so each replica is
    an isolated subgraph.  Iterative graph ops then keep their ROUND
    COUNT constant as copies grow (rounds are a property of each
    copy's structure) and alpha measures only the per-round linear
    work — exactly the 100 TB claim for the peel/propagate loops."""
    if copies == 1:
        return edges
    c = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")
    off = F.col("__copy").cast("long") * COPY_STRIDE
    return edges.select("src", "dst", c).select(
        (F.col("src") + off).alias("src"),
        (F.col("dst") + off).alias("dst"),
    )


def probes(spark, sf_dir: str, copies: int):
    from themis_tritonsort_spark.operators.components import dedup_clusters
    from themis_tritonsort_spark.operators.dedup import (
        duplicate_substring_spans,
        exact_duplicates,
        keep_best_per_cluster,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from themis_tritonsort_spark.operators.textstats import text_quality
    from themis_tritonsort_spark.operators.sampling import (
        importance_resample,
        importance_scores,
        leakage_safe_split,
        token_budget_sample,
    )
    from themis_tritonsort_spark.operators.textstats import nb_token_classifier
    from themis_tritonsort_spark.operators.similarity import (
        hard_negative_topk,
        margin_pair_mine_ann,
        pq_codebook,
        pq_topk,
        semdedup,
        sq8_topk,
    )
    from themis_tritonsort_spark.operators.textstats import (
        chunk_documents,
        pack_sequences,
    )

    from themis_tritonsort_spark.operators.bpe import bpe_train
    from themis_tritonsort_spark.operators.sketches import histogram_quantiles
    from themis_tritonsort_spark.operators.temporal import concurrency_sweep
    from themis_tritonsort_spark.operators.textstats import (
        bm25_topk_multi,
        hashed_linear_score,
    )

    from themis_tritonsort_spark.operators.components import (
        kcore_vertices,
        label_propagation,
        triangle_total_degree_oriented,
    )
    from themis_tritonsort_spark.operators.kmeans import lloyd
    from themis_tritonsort_spark.operators.pagerank import pagerank
    from themis_tritonsort_spark.queries import _lineitem_edges

    docs = replicate_docs(table(spark, sf_dir, "documents"), copies)
    emb = replicate_emb(table(spark, sf_dir, "embeddings"), copies)
    ev = replicate_events(
        table(spark, sf_dir, "events").select("user_id", "ts"), copies
    )
    edges = replicate_edges(_lineitem_edges(spark, sf_dir), copies)
    queries = emb.where(F.col("vec_id") < 5)

    def lsh(d):
        sig = minhash_signature(d, "doc_id", "text", num_hashes=16)
        return lsh_candidate_pairs(
            lsh_band_buckets(sig, bands=4, num_hashes=16), max_bucket=64
        )

    def chunk_pack(d):
        ch = chunk_documents(d, "doc_id", "text", 64, 8)
        return pack_sequences(ch, "doc_id", "chunk_idx", "n_chunk_tokens", 256)

    cb = pq_codebook(emb, "vec_id", "embedding", 8, 16)
    # fixed k=8 centers on a growing corpus is exactly the semdedup
    # worst case the max_cluster guard exists for: without it the
    # within-cluster pair join is (n/8)^2 per cluster (alpha -> 2)
    centers = [
        r["embedding"]
        for r in table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("embedding"))
        .collect()
    ]
    return {
        "exact_dedup": lambda: exact_duplicates(docs, "doc_id", "text"),
        "minhash_lsh": lambda: lsh(docs),
        "token_budget": lambda: token_budget_sample(
            docs, "doc_id", "text", "source", 600 * copies
        ),
        "chunk_pack": lambda: chunk_pack(docs),
        "sq8_ann": lambda: sq8_topk(emb, queries, "vec_id", "embedding", 10),
        # guard-bound: candidates ~ n * max_cluster even with fixed k
        "semdedup": lambda: semdedup(
            emb, "vec_id", "embedding", centers, 0.99, max_cluster=200
        ),
        "pq_ann": lambda: pq_topk(emb, queries, "vec_id", "embedding", cb, 10),
        # anchor set fixed: the corpus streams against a broadcast, so
        # the mining pass is one linear scan regardless of copies
        "hard_negatives": lambda: hard_negative_topk(
            emb, queries, "vec_id", "embedding", "label", 10
        ),
        # components-bound: candidate pairs from capped LSH grow
        # linearly (per-copy text prefixes), the argmax is a partial agg
        "keep_best": lambda: keep_best_per_cluster(
            dedup_clusters(lsh(docs), id_a="doc_a", id_b="doc_b"),
            text_quality(docs, "doc_id", "text"),
            id_col="doc_id",
            score_col="quality_pct",
        ),
        # vocab-bound: per-copy text prefixes add c{i} words, so the
        # vocab grows ~linearly and the rounds stay vocab-sized
        "bpe_train": lambda: bpe_train(docs, merges=3)[1],
        "hashed_classifier": lambda: hashed_linear_score(docs, "doc_id", "text"),
        # boundary-bound: the sweep's moving data is 2 rows per user
        "concurrency": lambda: concurrency_sweep(ev, "user_id", "ts_us"),
        # postings persist + broadcast query terms: one corpus pass
        "bm25_multi": lambda: bm25_topk_multi(
            docs,
            "doc_id",
            "text",
            spark.createDataFrame(
                [(1, "hash"), (1, "join"), (2, "scan"), (2, "filter")],
                "query_id long, term string",
            ),
            "query_id",
            "term",
            k=20,
        ),
        # weight table fixed at `buckets` rows however big the corpus:
        # train is one partial agg, scoring a broadcast join
        "nb_classifier": lambda: nb_token_classifier(
            docs.withColumn("__y", F.col("lang") == "en"),
            "doc_id",
            "text",
            "__y",
        ),
        # the tokenize-and-score term of importance_resample alone
        # (VERDICT r07 #4 decomposition: full-op alpha was 1.22 at
        # 64x; this row vs the full op shows whether the O(total
        # tokens) aggregate or the prefix-sum walk carries the growth)
        "importance_scores": lambda: importance_scores(
            docs.withColumn(
                "__t", F.col("source").isin("src0", "src1", "src2", "src3")
            ),
            "doc_id",
            "text",
            "__t",
        ),
        # ratio table bucket-bound + distributed prefix sum for the
        # budget walk (budget grows with copies so kept rows scale too)
        "importance_resample": lambda: importance_resample(
            docs.withColumn(
                "__t", F.col("source").isin("src0", "src1", "src2", "src3")
            ),
            "doc_id",
            "text",
            "__t",
            budget_tokens=600 * copies,
        ),
        # components-bound like keep_best; the anchor join is the only
        # corpus-wide shuffle, the split itself is map-side
        "leakage_split": lambda: leakage_safe_split(
            docs,
            lsh(docs),
            "doc_id",
            [("train", 0.9), ("validation", 0.05), ("test", 0.05)],
        ),
        # counter-bound: at most n_bins rows per group shuffle
        "histogram_quantiles": lambda: histogram_quantiles(
            docs.withColumn("g", F.col("doc_id") % 8),
            ["g"],
            "n_chars",
            bin_width=64,
            n_bins=128,
        ),
        # worst case by construction: every replica shares all interior
        # windows with its siblings, so at 64x nearly every window is a
        # hot duplicated fingerprint — the count shuffle and the
        # per-document interval merge must both stay linear
        "dup_substrings": lambda: duplicate_substring_spans(
            docs, "doc_id", "text", window_tokens=12
        ),
        # the ANN-fed margin path (q142): a FIXED query batch's band
        # rows broadcast, the growing corpus streams bands rows into
        # the bucket join, and the margin windows run over retrieved
        # candidates only — corpus work must stay linear (the brute
        # q141 scan would be alpha ~1 here too since queries are fixed,
        # but with a 90x bigger constant; the wide 32/4 signature keeps
        # candidates ~bucket-sparse as the corpus grows)
        "margin_mine_ann": lambda: margin_pair_mine_ann(
            emb,
            emb.where(F.col("vec_id") < 50),
            "vec_id",
            "embedding",
            dim=64,
            k=4,
            n_planes=32,
            bands=4,
        ),
        # q07 shape: disjoint replica subgraphs keep iteration count
        # FIXED (3 here, matching q07), the static edge side persists
        # once pre-shuffled on src, and each round is one tagged-union
        # groupBy — alpha measures the per-round scatter+merge, the
        # 100 TB claim for the rank loop
        "pagerank": lambda: pagerank(edges, iterations=3),
        # q29 shape (VERDICT r08: most expensive catalog entry, no
        # probe row): per-iteration work is ONE broadcast-expression
        # assignment pass (literal-folded centers, no shuffle) + one
        # k-group partial agg whose collect is k x dim floats.
        # Iterations FIXED (5 in q29; 2 here) — alpha measures the
        # per-iteration corpus scan, which is the 100 TB claim.
        "kmeans_lloyd": lambda: lloyd(emb, "embedding", 8, 2, centers)[0],
        # round-count pin for the peel loop (VERDICT r06 #7): disjoint
        # replicas keep the fixpoint depth constant (3 rounds at sf0.1
        # k=30).  r09 delta-peel: per round only vertex-sized degree
        # state moves (frontier-incident decrements), the edge set is
        # scanned but never rewritten (compaction amortized O(log V)) —
        # alpha attests the per-round work has no super-linear tail
        "kcore": lambda: kcore_vertices(edges, k=30),
        # q93 shape: rounds FIXED at the q93 horizon (3; disjoint
        # replicas keep community structure per-copy), each round one
        # co-located edge-labels join + ONE exchange of neighbor-label
        # rows + two exchange-free aggregates — alpha measures the
        # per-round scatter volume, the 100 TB claim for the LP loop
        "label_propagation": lambda: label_propagation(edges, rounds=3),
        # q74 shape: degree-oriented wedge join — per-key fan-out is
        # capped at O(sqrt(|E|)) by orientation, so disjoint replicas
        # must scale linearly; a super-linear reading here would mean
        # the orientation failed to bound the wedge set
        "triangle_total": lambda: triangle_total_degree_oriented(edges),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = [int(c) for c in sys.argv[2:]] or [1, 8, 64]
    # SCALE_PROBE_ONLY=a,b probes just those operators (targeted
    # follow-ups, e.g. a 128x point for one flagged row, without
    # re-running the whole 20-operator ladder).
    only = {
        s.strip()
        for s in os.environ.get("SCALE_PROBE_ONLY", "").split(",")
        if s.strip()
    }

    def select(d):
        if not only:
            return d
        unknown = only - set(d)
        if unknown:
            raise SystemExit(f"SCALE_PROBE_ONLY: unknown {sorted(unknown)}")
        return {k: v for k, v in d.items() if k in only}

    results: dict[str, dict[int, float]] = {}
    # One FRESH SparkContext per scale.  A single-session ladder leaks
    # state into the later (heavier) scales: localCheckpoint blocks are
    # NOT freed by catalog.clearCache(), so each earlier run's
    # checkpointed rounds stay resident in the block manager and the
    # 64x point runs under memory pressure it did not cause.  Measured
    # r09: kcore x64 read 219 s inside the ladder session vs 48 s in a
    # fresh session — a 4.6x inflation that manufactured alpha_hi 1.41
    # for a linear loop.  Stopping the context between scales frees the
    # block manager; the JVM (and its JIT/codegen state) survives, and
    # each scale gets an untimed 1x warmup in its own session so
    # plan-compile cost stays out of the timing either way.
    for n in copies:
        spark = get_spark(app_name=f"scale-probe-x{n}")
        for name, thunk in select(probes(spark, sf_dir, 1)).items():
            thunk().write.format("noop").mode("overwrite").save()
            print(
                f"<!-- warmup x{n} {name} done -->", file=sys.stderr, flush=True
            )
        # ACCEPTED RESIDUAL (ADVICE r09): the warmup's localCheckpoint
        # blocks outlive it until the ContextCleaner frees them with
        # their GC'd DataFrames (asynchronous).  The residue is 1x-sized
        # and roughly CONSTANT across scales — it biases absolute times
        # slightly but cancels in the alpha exponent, unlike the
        # scale-proportional leak the fresh-context-per-scale fix
        # removed.  Restarting the context between warmup and timing
        # would also discard the JIT/codegen state the warmup exists to
        # prime, so we keep the session and accept the 1x residue.
        for name, thunk in select(probes(spark, sf_dir, n)).items():
            t0 = time.time()
            thunk().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            results.setdefault(name, {})[n] = dt
            print(
                f"<!-- {name} x{n}: {dt:.2f}s -->", file=sys.stderr, flush=True
            )
        spark.stop()

    lo, hi = copies[0], copies[-1]
    mid = copies[-2] if len(copies) >= 3 else lo
    print("# SCALE_PROBE — operator wall-clock vs corpus replicas")
    print()
    print(f"Generated by `python tools/scale_probe.py {sf_dir} "
          f"{' '.join(str(c) for c in copies)}`.")
    print()
    print("alpha = log(t_hi / t_lo) / log(n_hi / n_lo) over the FULL")
    print("range; alpha_hi is the same exponent over only the LAST")
    print("segment (largest two scales).  ~1 is linear, <1 means fixed")
    print("overhead still dominates at this size.  **Flag on alpha_hi")
    print("> 1.3**, not the full-range alpha: the smallest point runs")
    print("warm and partly inside fixed per-job overhead, which")
    print("deflates t_lo and inflates the full-range exponent — the")
    print("r07 importance-1.22 / r08 importance_scores-1.37 false")
    print("flags were exactly this artifact (both ops re-probed")
    print("linear on the hi segment; VERDICT r08 #3).")
    print()
    header = " | ".join(f"{n}x (s)" for n in copies)
    print(f"| operator | {header} | alpha | alpha_hi |")
    print("|---|" + "---|" * (len(copies) + 2))
    for name, times in results.items():
        alpha = math.log(times[hi] / times[lo]) / math.log(hi / lo)
        alpha_hi = (
            math.log(times[hi] / times[mid]) / math.log(hi / mid)
            if mid != lo
            else alpha  # only two scales: the hi segment IS the range
        )
        row = " | ".join(f"{times[n]:.2f}" for n in copies)
        flag = " ⚠" if alpha_hi > 1.3 else ""
        print(f"| {name} | {row} | {alpha:.2f} | {alpha_hi:.2f}{flag} |")


if __name__ == "__main__":
    main()
