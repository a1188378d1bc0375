#!/usr/bin/env python
"""Operator scaling probe: run operators at growing input sizes and
report the empirical scaling exponent alpha (t ~ n^alpha) per row.

bench.py proves absolute speed at sf0.1; this tool is the evidence for
the DESIGN claim that the plans are near-linear in input size (alpha ~
1, no hidden quadratic blow-up).  The first argument picks the shape:

* ``replicas`` (default): the curation operators on 1x/8x/64x copies
  of the sf0.1 tables.  Copies are deterministic and disjoint: ids are
  rekeyed, text gets a per-copy prefix token (near-dup candidates grow
  linearly, not quadratically), embeddings a small per-copy offset.
* ``powerlaw``: ONE connected graph scaled in SIZE (a ring plus
  deg ~ min(1024, 1/u) hash-random edges, the family of the
  reference's GenPowerLawRandomNetworkMapFunction.cc).  It exposes
  what replicas hide: the triangle enumerator's wedge volume (counted
  directly) and star contraction's hot key (the component minimum
  ends up owning all |V|-1 vertices).  Exponents are taken vs |E|.
* ``chain``: one path graph 0-1-...-L, the diameter adversary behind
  q144: star contraction needs O(log L) alternations, min-label L
  rounds, so min-label capped at 20 rounds must raise.

Usage: python tools/scale_probe.py [replicas|powerlaw|chain] [base] [scales ...]
         replicas: base = sf dir (data.DEFAULT_SF_DIR, sf0.1), scales 1 8 64
         powerlaw: base = vertices (125000), scales 1 4 16
         chain:    base = chain length (1000), scales 1 8 64
       SCALE_PROBE_ONLY=a,b runs just those probes.  Markdown goes to
       stdout (redirect to SCALE_PROBE.md), progress to stderr.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from themis_tritonsort_spark.data import DEFAULT_SF_DIR, table  # noqa: E402
from themis_tritonsort_spark.session import get_spark  # noqa: E402

COPY_STRIDE = 1_000_000_000


def _copy_index(copies: int):
    """One row per (input row, copy), the copy number in ``__copy``."""
    return F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__copy")


def _rekeyed(col: str):
    """``col`` offset by the copy number, so no two copies share a key."""
    return (F.col(col) + F.col("__copy").cast("long") * COPY_STRIDE).alias(col)


def replicate_docs(docs, copies: int):
    if copies == 1:
        return docs
    return docs.select("*", _copy_index(copies)).select(
        _rekeyed("doc_id"),
        F.concat(F.lit("c"), F.col("__copy"), F.lit(" "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def replicate_emb(emb, copies: int):
    if copies == 1:
        return emb
    return emb.select("*", _copy_index(copies)).select(
        _rekeyed("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.col("__copy").cast("double") * 1e-3,
        ).alias("embedding"),
        "label",
    )


def replicate_events(ev, copies: int):
    if copies == 1:
        return ev.select("user_id", F.unix_micros("ts").alias("ts_us"))
    return ev.select("user_id", "ts", _copy_index(copies)).select(
        _rekeyed("user_id"),
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
    return edges.select("src", "dst", _copy_index(copies)).select(
        _rekeyed("src"), _rekeyed("dst")
    )


def replica_probes(spark, sf_dir: str, copies: int):
    """The curation operators on ``copies`` disjoint replicas of the
    tables in ``sf_dir`` (one DataFrame thunk per operator)."""
    from themis_tritonsort_spark.operators.bpe import bpe_train
    from themis_tritonsort_spark.operators.components import (
        dedup_clusters,
        kcore_vertices,
        label_propagation,
        triangle_total_degree_oriented,
    )
    from themis_tritonsort_spark.operators.dedup import (
        duplicate_substring_spans,
        exact_duplicates,
        keep_best_per_cluster,
        lsh_candidate_pairs,
        minhash_band_buckets,
    )
    from themis_tritonsort_spark.operators.kmeans import lloyd
    from themis_tritonsort_spark.operators.pagerank import pagerank
    from themis_tritonsort_spark.operators.sampling import (
        importance_resample,
        importance_scores,
        leakage_safe_split,
        token_budget_sample,
    )
    from themis_tritonsort_spark.operators.similarity import (
        hard_negative_topk,
        margin_pair_mine_ann,
        pq_codebook,
        pq_topk,
        semdedup,
        sq8_topk,
    )
    from themis_tritonsort_spark.operators.sketches import histogram_quantiles
    from themis_tritonsort_spark.operators.temporal import concurrency_sweep
    from themis_tritonsort_spark.operators.textstats import (
        bm25_topk_multi,
        chunk_documents,
        hashed_linear_score,
        nb_token_classifier,
        pack_sequences,
        text_quality,
    )
    from themis_tritonsort_spark.queries import _lineitem_edges

    docs = replicate_docs(table(spark, sf_dir, "documents"), copies)
    emb = replicate_emb(table(spark, sf_dir, "embeddings"), copies)
    ev = replicate_events(
        table(spark, sf_dir, "events").select("user_id", "ts"), copies
    )
    edges = replicate_edges(_lineitem_edges(spark, sf_dir), copies)
    queries = emb.where(F.col("vec_id") < 5)
    targeted = docs.withColumn(
        "__t", F.col("source").isin("src0", "src1", "src2", "src3")
    )

    def lsh(d):
        return lsh_candidate_pairs(
            minhash_band_buckets(d, "doc_id", "text", num_hashes=16, bands=4),
            max_bucket=64,
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
            targeted, "doc_id", "text", "__t"
        ),
        # ratio table bucket-bound + distributed prefix sum for the
        # budget walk (budget grows with copies so kept rows scale too)
        "importance_resample": lambda: importance_resample(
            targeted, "doc_id", "text", "__t", budget_tokens=600 * copies
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


def powerlaw_graph(spark, n_vertices: int, seed: int = 7):
    """One connected graph: a Hamiltonian ring (connectivity) plus
    deg ~ min(1024, floor(1/u)) hash-random out-edges per vertex,
    endpoints hash-uniform — the heavy-tailed web-crawl shape.  Pure
    function of (n_vertices, seed): u is xxhash64-derived, so the
    graph is identical across runs, partitionings, and sessions."""
    v = spark.range(n_vertices)
    # u in (0,1]: (|xxhash64| % 2^40 + 1) / 2^40 — cheap and exact
    denom = float(2**40)
    u = (
        (F.abs(F.xxhash64(F.col("id"), F.lit(seed))) % F.lit(2**40)) + 1
    ) / F.lit(denom)
    deg = F.least(F.lit(1024), F.floor(1.0 / u)).cast("int")  # tail cap
    fan = v.select(F.col("id").alias("src"), deg.alias("__deg")).where(
        F.col("__deg") > 0
    )
    random_edges = fan.select(
        "src",
        F.explode(F.sequence(F.lit(1), F.col("__deg"))).alias("__j"),
    ).select(
        "src",
        (
            F.abs(F.xxhash64(F.col("src"), F.col("__j"), F.lit(seed + 1)))
            % F.lit(n_vertices)
        ).alias("dst"),
    )
    ring = v.select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % F.lit(n_vertices)).alias("dst"),
    )
    return random_edges.unionByName(ring)


def canonical_edge_count_and_wedges(edges):
    """Return (|E|, oriented wedge count) for the canonicalized graph —
    the exact work term of the degree-oriented enumerator: after
    orienting each edge toward its higher-(degree, id) endpoint,
    wedges = sum over vertices of C(outdeg, 2)."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    degrees = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = degrees.select(F.col("v").alias("a"), F.col("deg").alias("__da"))
    db = degrees.select(F.col("v").alias("b"), F.col("deg").alias("__db"))
    withdeg = e.join(da, "a").join(db, "b")
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    out_deg = (
        withdeg.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u")
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("od"))
    )
    row = out_deg.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).cast("long").alias("w"),
        F.sum("od").cast("long").alias("m"),
    ).collect()[0]
    return row["m"], row["w"]


def powerlaw_probes(spark, base: int, scale: int):
    """Triangle counting (exact and DOULION p=1/4) and star-contraction
    CC on one power-law graph of ``base * scale`` vertices."""
    from themis_tritonsort_spark.operators.components import (
        connected_components_star,
        triangle_total_degree_oriented,
        triangle_total_doulion,
    )

    edges = powerlaw_graph(spark, base * scale)

    def graph():
        m, wedges = canonical_edge_count_and_wedges(edges)
        return {"canonical edges": m, "oriented wedges": wedges}

    def exact():
        tri = triangle_total_degree_oriented(edges).collect()[0]
        return {"exact triangles": tri["n_triangles"]}

    def doulion():
        est = triangle_total_doulion(edges, p_ppm=250_000).collect()[0]
        return {"DOULION p=1/4 estimate": est["n_triangles_est"]}

    def star_cc():
        # one component: late large-star rounds group and join a
        # deg ~ |V| hot key, so a straggler would show as alpha >> 1
        out = connected_components_star(edges, max_iterations=40)
        row = out.agg(
            F.count(F.lit(1)).alias("nv"), F.countDistinct("component").alias("nc")
        ).collect()[0]
        return {"star-CC vertices": row["nv"], "star-CC components": row["nc"]}

    return {
        "graph": graph,
        "triangle_exact": exact,
        "triangle_doulion": doulion,
        "star_cc": star_cc,
    }


def chain_probes(spark, base: int, scale: int):
    """Star contraction and min-label capped at 20 rounds on one path
    graph of ``base * scale`` edges."""
    from themis_tritonsort_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    n = base * scale
    edges = spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )

    def star_cc():
        row = connected_components_star(edges).agg(
            F.count(F.lit(1)).alias("nv"), F.max("component").alias("mc")
        ).collect()[0]
        return {"star-CC vertices": row["nv"], "star-CC max component": row["mc"]}

    def min_label():
        try:
            connected_components(edges, max_iterations=20).count()
        except RuntimeError:
            return {}  # needs ~n rounds, so the cap raises
        raise AssertionError(f"min-label converged in 20 rounds on {n} edges")

    return {"star_cc": star_cc, "min_label_20_rounds": min_label}


class Mode(NamedTuple):
    # (spark, base, scale) -> {name: () -> {row: value} or a DataFrame}
    probes: Callable
    base: object
    scales: tuple[int, ...]
    x_row: str | None  # the row alpha is taken against, else the scale
    flag: float | None  # mark probe rows whose alpha_hi exceeds this
    title: str


MODES = {
    "replicas": Mode(replica_probes, DEFAULT_SF_DIR, (1, 8, 64), None, 1.3,
                     "operator wall-clock vs corpus replicas"),
    "powerlaw": Mode(powerlaw_probes, 125_000, (1, 4, 16), "canonical edges",
                     None, "one connected power-law graph scaled in size"),
    "chain": Mode(chain_probes, 1_000, (1, 8, 64), None, None,
                  "star contraction vs min-label on one chain"),
}


def ladder(mode: Mode, base, scales: list[int], only: set[str]):
    """{row: {scale: value}}: every probe's wall-clock seconds under its
    own name, and each quantity it reports under the quantity's name (a
    probe that returns a DataFrame is drained to the noop sink instead).

    Each scale runs in a FRESH SparkContext: localCheckpoint blocks are
    not freed by clearCache(), so in one long session the earlier
    scales' blocks pressure the later ones (r09: kcore x64 read 219 s
    in the ladder session vs 48 s fresh, a false alpha_hi of 1.41).
    The JVM and its JIT state survive, and an untimed 1x warm-up in
    the same context keeps plan-compile cost out of the timing.  The
    warm-up's own blocks (1x-sized, constant across scales) are freed
    asynchronously by the ContextCleaner; they cancel in alpha."""
    results: dict[str, dict[int, float]] = {}
    for n in scales:
        spark = get_spark(app_name=f"scale-probe-x{n}")
        for phase, size in (("warmup", 1), ("timed", n)):
            probes = mode.probes(spark, base, size)
            if unknown := sorted(only - set(probes)):
                raise SystemExit(f"SCALE_PROBE_ONLY: unknown {unknown}")
            for name in [p for p in probes if not only or p in only]:
                t0 = time.time()
                quantities = probes[name]()
                if isinstance(quantities, DataFrame):  # drain to the noop sink
                    quantities.write.format("noop").mode("overwrite").save()
                    quantities = {}
                dt = time.time() - t0
                print(f"<!-- {phase} x{n} {name}: {dt:.2f}s {quantities} -->",
                      file=sys.stderr, flush=True)
                if phase == "timed":
                    results.setdefault(name, {})[n] = dt
                    for row, value in quantities.items():
                        results.setdefault(row, {})[n] = value
        spark.stop()
    return results


def print_table(mode: Mode, results, scales: list[int]) -> None:
    """One markdown row per result row: its value at each scale, alpha
    over the full range and alpha_hi over the largest two scales."""
    xs = results.get(mode.x_row) or {n: n for n in scales}
    lo, hi = scales[0], scales[-1]
    mid = scales[-2] if len(scales) >= 3 else lo

    def alpha(ys, a, b):
        if min(ys[a], ys[b], xs[a], xs[b]) <= 0 or xs[a] == xs[b]:
            return None
        return math.log(ys[b] / ys[a]) / math.log(xs[b] / xs[a])

    def fmt(v):
        if v is None:
            return "—"
        return f"{v:,}" if isinstance(v, int) else f"{v:.2f}"

    header = " | ".join(f"x{n}" for n in scales)
    print(f"| quantity | {header} | alpha | alpha_hi |")
    print("|---|" + "---|" * (len(scales) + 2))
    for name, ys in results.items():
        a, a_hi = alpha(ys, lo, hi), alpha(ys, mid, hi)
        flagged = mode.flag and name.isidentifier() and (a_hi or 0) > mode.flag
        row = " | ".join(fmt(ys[n]) for n in scales)
        print(f"| {name} | {row} | {fmt(a)} | {fmt(a_hi)}{' ⚠' * bool(flagged)} |")


def main() -> None:
    args = sys.argv[1:]
    name = args.pop(0) if args and args[0] in MODES else "replicas"
    mode = MODES[name]
    base = type(mode.base)(args.pop(0)) if args else mode.base
    scales = [int(c) for c in args] or list(mode.scales)
    # SCALE_PROBE_ONLY=a,b runs just those probes (a targeted follow-up,
    # e.g. a 128x point for one flagged row, without the whole ladder)
    only_env = os.environ.get("SCALE_PROBE_ONLY", "")
    only = {p.strip() for p in only_env.split(",") if p.strip()}
    results = ladder(mode, base, scales, only)

    env = f"SCALE_PROBE_ONLY={only_env} " if only else ""
    print(f"# SCALE_PROBE — {mode.title}\n")
    print(f"Generated by `{env}python tools/scale_probe.py {name} {base} "
          f"{' '.join(map(str, scales))}`.  Rows named like probes are")
    print("wall-clock seconds.  alpha = log(y_hi / y_lo) / log(x_hi / x_lo)")
    print(f"over the FULL range, x = {mode.x_row or 'the scale'}; alpha_hi is")
    print("the same exponent over the LAST segment (largest two scales).")
    if mode.flag:
        print(f"**Flag on alpha_hi > {mode.flag}**: the smallest point runs partly")
        print("inside fixed per-job overhead, which inflates the full range.")
    print()
    print_table(mode, results, scales)


if __name__ == "__main__":
    main()
