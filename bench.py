#!/usr/bin/env python
"""BENCH harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect overhead).  The dedup benchmarks use 3-gram shingles
(the scale-realistic setting; the sf0.01 correctness variants use
unigrams because the synthetic vocabulary is tiny).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from themis_tritonsort_spark import queries as q
from themis_tritonsort_spark.data import table
from themis_tritonsort_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_band_buckets,
)
from themis_tritonsort_spark.session import get_spark


def _jaccard3(spark, sf):
    # Production near-dup setting: trigram shingles, t=0.8, exact
    # prefix-filtered candidate generation.
    docs = table(spark, sf, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.8)


def _lsh_neardup_wide(spark, sf):
    # Scale config: 64-plane signature, 8 bands of 8 bits — candidate
    # set stays ~linear on near-orthogonal corpora (collision 2^-8 per
    # band) while true near-dups (cos>=0.9) keep ~0.94 recall.
    from themis_tritonsort_spark.operators.similarity import hyperplane_lsh_neardup

    emb = table(spark, sf, "embeddings")
    return hyperplane_lsh_neardup(
        emb, "vec_id", "embedding", threshold=0.4, dim=64, n_planes=64, bands=8
    )


def _minhash3(spark, sf):
    docs = table(spark, sf, "documents")
    buckets = minhash_band_buckets(docs, "doc_id", "text", n=3, num_hashes=16, bands=4)
    return lsh_candidate_pairs(buckets)


def _dedup_clusters3(spark, sf):
    # Scale setting for q46: trigram shingles (the unigram variant the
    # sf0.01 oracle uses makes every doc collide on the tiny synthetic
    # vocabulary — a worst case the components loop then has to chew
    # through; production near-dup clustering runs on n-gram LSH).
    from themis_tritonsort_spark.operators.components import dedup_clusters

    docs = table(spark, sf, "documents")
    buckets = minhash_band_buckets(docs, "doc_id", "text", n=3, num_hashes=16, bands=4)
    pairs = lsh_candidate_pairs(buckets)
    return dedup_clusters(pairs, id_a="doc_a", id_b="doc_b")


# Scale-variant stand-ins (trigram shingles, 64-plane LSH: the 100 TB
# settings), keyed by the catalog query each one replaces: (bench name,
# function).  Every other catalog query is benched as declared.
_STAND_INS = {
    "q18_jaccard_pairs": ("q18_jaccard3", _jaccard3),
    "q19_minhash_lsh": ("q19_minhash3", _minhash3),
    "q39_lsh_neardup": ("q39_lsh_neardup", _lsh_neardup_wide),
    "q46_dedup_clusters": ("q46_dedup_clusters3", _dedup_clusters3),
}
BENCH_QUERIES = dict(
    _STAND_INS.get(name, (name, fn)) for name, fn in q.CATALOG.items()
)


# The headline scale-factor dir lives in ONE place (ADVICE r07: it was
# previously duplicated into the sf-guard below, so a drift of the
# headline SF would silently classify every run as non-headline and
# the bare BENCH_FULL.json would go permanently stale).  Override with
# SPARK_GRAFT_HEADLINE_SF if the headline ever moves.
HEADLINE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_HEADLINE_SF", "/root/testdata/sf0.1"
)

# A sample whose load1 exceeds this multiple of the cpu count provably
# overlapped a co-tenant: local[32] alone holds load1 around 1.0x cpus
# (BASELINE.md's contention forensics, r10).  Shared by bench.py's
# capture warning and tools/bench_diff.py's flag annotation.
CONTENDED_X = 1.25


# Host co-tenant contention is often INVISIBLE to in-VM load1 (the
# r09/r10 episodes: vmstat 99-100% idle, loadavg ~5, queries 2-13x
# slow — BASELINE.md).  CPU steal time is the direct signal the
# hypervisor does expose: jiffies this VM was runnable but the host
# ran someone else.  A sample whose steal share exceeds this percent
# of its wall x cpus provably ran contended.
STEAL_PCT_X = 5.0


def _steal_jiffies() -> int | None:
    """Cumulative steal jiffies from /proc/stat (None off-Linux)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def ledger_eligible(only: str, sf_dir: str) -> bool:
    """Only headline-SF partial captures enter BENCH_PARTIALS.jsonl
    (ADVICE r10): the ledger is what adjudications anchor on, and a
    smoke-scale (sf0.001) partial mixed in would let a calm-window
    re-measure silently cite smoke timings as headline evidence."""
    return bool(only) and os.path.realpath(sf_dir) == os.path.realpath(
        HEADLINE_SF_DIR
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", HEADLINE_SF_DIR)
    spark = get_spark(app_name="themis-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen AND the Python worker pool before timing
    # (the first Arrow UDF otherwise pays worker spin-up, which is
    # session overhead, not query cost).
    table(spark, sf_dir, "lineitem").count()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    # Warm the shuffle/sort machinery too (exchange + external sorter
    # codegen paths), on synthetic data — not on any bench query.
    spark.range(100_000).repartitionByRange(8, "id").sortWithinPartitions(
        "id"
    ).write.format("noop").mode("overwrite").save()

    # Median of 3 samples per query: this box shows +-20% run-to-run
    # variance (BASELINE.md), so a single sample makes rounds
    # incomparable.  Samples interleave full passes over the query set
    # (run 1 of everything, then run 2, ...) so one transient system
    # stall skews one pass, not all three samples of one query.
    samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    # Targeted re-measure knob (VERDICT r07 #3): a comma-separated
    # subset re-times just those queries (e.g. median-of-5 noise
    # adjudication) and writes BENCH_FULL_partial.json — a subset run
    # must never pose as the round's full-catalog perf evidence.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    bench_queries = BENCH_QUERIES
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in BENCH_QUERIES]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY: unknown {unknown}")
        bench_queries = {n: BENCH_QUERIES[n] for n in names}
    runs: dict[str, list[float]] = {name: [] for name in bench_queries}
    loads: dict[str, list[float]] = {name: [] for name in bench_queries}
    steals: dict[str, list[float]] = {name: [] for name in bench_queries}
    hz = os.sysconf("SC_CLK_TCK") or 100
    cpus = os.cpu_count() or 1
    for _ in range(samples):
        for name, fn in bench_queries.items():
            st0 = _steal_jiffies()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            runs[name].append(round(dt, 3))
            # Host contention evidence, per sample (VERDICT r10 #3):
            # load1 right after the sample reflects the preceding
            # minute incl. any in-VM co-tenant; CPU steal during the
            # sample is the hypervisor-level signal the r09/r10
            # episodes showed load1 CANNOT see.  Steal is recorded as
            # percent of the sample's wall x cpus.
            loads[name].append(round(os.getloadavg()[0], 2))
            st1 = _steal_jiffies()
            if st0 is not None and st1 is not None and dt > 0:
                steals[name].append(
                    round(100.0 * (st1 - st0) / (dt * hz * cpus), 2)
                )

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    timings = {name: round(median(ts), 3) for name, ts in runs.items()}
    full, compact, suffix, warnings = emit_payloads(
        timings, runs, samples, sf_dir, only, loads=loads, steals=steals,
        master=spark.sparkContext.master,
        default_parallelism=spark.sparkContext.defaultParallelism,
    )
    for w in warnings:
        print(w, file=sys.stderr)
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_FULL{suffix}.json",
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    if ledger_eligible(only, sf_dir):
        # Partial captures are adjudication evidence (median-of-5 noise
        # re-measures), and BENCH_FULL_partial.json is overwritten by
        # every subsequent subset run — append each capture to a dated
        # JSONL ledger too, so the evidence trail survives the next
        # re-measure instead of living only in prose (VERDICT r09 #7).
        # Headline-SF runs only (ADVICE r10): smoke-scale partials in
        # the same ledger would let adjudications silently anchor on
        # sf0.001 timings.
        ledger = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_PARTIALS.jsonl",
        )
        with open(ledger, "a") as f:
            f.write(json.dumps(
                {"ts": time.strftime("%Y-%m-%dT%H:%M:%S%z"), **full},
                sort_keys=True,
            ))
            f.write("\n")
    print(json.dumps(compact))


def emit_payloads(
    timings: dict[str, float],
    runs: dict[str, list[float]],
    samples: int,
    sf_dir: str,
    only: str,
    loads: dict[str, list[float]] | None = None,
    steals: dict[str, list[float]] | None = None,
    master: str | None = None,
    default_parallelism: int | None = None,
) -> tuple[dict, dict, str, list[str]]:
    """Build the BENCH_FULL payload, the compact stdout line, the
    BENCH_FULL filename suffix, and any warning lines.  Pure — unit
    tests pin the evidence contract without a Spark run.

    Full per-query medians + min/max spread go to an in-repo file —
    the driver's stdout capture keeps only a ~2000-char tail, which a
    142-entry map outgrew in r03 (BENCH_r03..r05 all have
    parsed: null).  The printed line stays compact (total + slowest
    10) so the driver can parse it again.

    A subset run (SPARK_GRAFT_BENCH_ONLY) must never pose as
    full-catalog evidence: its metric NAME changes, not just a side
    field, so any parser keyed on "headline_queries_wall_clock" can
    only ever ingest a full-catalog total (ADVICE r08).

    Only the HEADLINE scale factor may own the bare BENCH_FULL.json:
    the verify recipe runs an sf0.001 smoke right after the sf0.1
    pass, and an unconditional overwrite would let a later
    `cp BENCH_FULL.json BENCH_FULL_r{N}.json` snapshot smoke numbers
    as the round's perf evidence.  Non-headline runs write a suffixed
    file (e.g. BENCH_FULL_sf0.001.json) instead.  realpath on both
    sides: a relative path, symlink, or doubled slash spelling of the
    headline dir must still count as headline, or a genuine sf0.1 run
    writes the suffixed file and the stale previous BENCH_FULL.json
    gets snapshotted as this round's evidence — the exact failure
    this logic exists to prevent.

    ``master`` and ``default_parallelism`` are the timed session's own
    (a scaling claim needs the parallelism that actually ran; ``cpus``
    is the machine's, which the load1 and steal checks need)."""
    total = round(sum(timings.values()), 3)
    metric = "partial_queries_wall_clock" if only else (
        "headline_queries_wall_clock"
    )
    full = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "partial": bool(only),
        "queries": timings,
        "samples": samples,
        "spread": {name: [min(ts), max(ts)] for name, ts in runs.items()},
        "sf": sf_dir,
        "master": master,
        "default_parallelism": default_parallelism,
    }
    if loads is not None:
        # Per-sample load1 + CPU-steal%, parallel to spread: the
        # contention evidence that r10's adjudications reconstructed by
        # hand.  A sample counts as contended when load1 > CONTENDED_X
        # x cpus (in-VM co-tenant; local[32] alone saturates ~1.0x) OR
        # steal > STEAL_PCT_X % of its wall x cpus (host co-tenant —
        # the r09/r10 signature load1 cannot see).  bench_diff
        # annotates its flags from these fields.
        cpus = os.cpu_count() or 1
        full["load"] = loads
        full["cpus"] = cpus
        if steals:
            full["steal_pct"] = steals
        full["contended_samples"] = sum(
            1 for ts in loads.values() for x in ts if x > CONTENDED_X * cpus
        ) + sum(
            1
            for ts in (steals or {}).values()
            for x in ts
            if x > STEAL_PCT_X
        )
    headline = os.path.realpath(HEADLINE_SF_DIR)
    suffix = "" if os.path.realpath(sf_dir) == headline else (
        "_sf" + os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    )
    if only:
        suffix = "_partial" + suffix
    warnings = []
    if suffix:
        # Name the actual reason(s): a partial run at the headline SF
        # is not a "non-headline" run (ADVICE r08).
        reasons = []
        if only:
            reasons.append(f"partial run (SPARK_GRAFT_BENCH_ONLY={only})")
        if os.path.realpath(sf_dir) != headline:
            reasons.append(
                f"non-headline SF ({sf_dir} != {HEADLINE_SF_DIR})"
            )
        warnings.append(
            f"WARNING: {'; '.join(reasons)}; "
            f"writing BENCH_FULL{suffix}.json — the bare BENCH_FULL.json "
            "is untouched"
        )
    if full.get("contended_samples"):
        warnings.append(
            f"WARNING: contended capture: {full['contended_samples']} "
            f"query-sample(s) saw load1 > {CONTENDED_X}x cpus or CPU "
            f"steal > {STEAL_PCT_X}% — see the 'load'/'steal_pct' fields"
        )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "partial": bool(only),
        "n_queries": len(timings),
        "samples": samples,
        "queries": slowest,
        "full": f"BENCH_FULL{suffix}.json",
        "sf": sf_dir,
    }
    return full, compact, suffix, warnings


if __name__ == "__main__":
    main()
