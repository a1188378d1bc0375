#!/usr/bin/env python
"""Triangle-family probe on ONE connected power-law graph.

The main scale_probe replicates the sf0.1 graph as DISJOINT copies, so
components stay small and the probe measures only per-edge linear work.
That is the right test for the peel/propagate loops (their round counts
are per-component properties), but it HIDES the exact-triangle family's
inherent super-linear term: on one giant component, wedge volume after
degree orientation grows O(|E|^1.5) in the worst case (arboricity
bound), and no plan choice removes it — only the orientation cap keeps
the constant sane under skew.  This probe is the honest test of that
claim (VERDICT r09 #3): generate a SINGLE connected graph with a
power-law degree tail (the same deg ~ min(cap, 1/u) family as the
reference's GenPowerLawRandomNetworkMapFunction.cc:1-131), scale its
SIZE (not its multiplicity), and report

  * wall-clock and alpha/alpha_hi for triangle_total (exact,
    degree-oriented) and triangle_doulion_p25 (DOULION p=1/4 — the
    documented sampling fallback),
  * the measured oriented-wedge count at each size — the work term
    itself, so the exponent can be attributed to wedge volume rather
    than inferred from time alone.

Determinism: vertices/edges are pure hash functions of (seed, vid, j)
via xxhash64 — no RNG, no partitioning sensitivity; a ring 0-1-2-...-0
guarantees ONE component at every size.

Usage: python tools/single_component_probe.py [base_vertices] [scales..]
       (defaults: 125000 vertices at 1 4 16; markdown to stdout —
        append to SCALE_PROBE.md as a round addendum)
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

from themis_tritonsort_spark.session import get_spark  # noqa: E402

DEG_CAP = 1024  # tail cap; P(raw deg >= d) = 1/d up to here


def powerlaw_graph(spark, n_vertices: int, seed: int = 7):
    """One connected graph: a Hamiltonian ring (connectivity) plus
    deg ~ min(DEG_CAP, floor(1/u)) hash-random out-edges per vertex,
    endpoints hash-uniform — the heavy-tailed web-crawl shape.  Pure
    function of (n_vertices, seed): u is xxhash64-derived, so the
    graph is identical across runs, partitionings, and sessions."""
    v = spark.range(n_vertices)
    # u in (0,1]: (|xxhash64| % 2^40 + 1) / 2^40 — cheap and exact
    denom = float(2**40)
    u = (
        (F.abs(F.xxhash64(F.col("id"), F.lit(seed))) % F.lit(2**40)) + 1
    ) / F.lit(denom)
    deg = F.least(F.lit(DEG_CAP), F.floor(1.0 / u)).cast("int")
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


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 125_000
    scales = [int(s) for s in sys.argv[2:]] or [1, 4, 16]

    rows = []
    for s in scales:
        n = base * s
        # Fresh context per size, same rationale as scale_probe: no
        # block-manager residue from smaller sizes under the big one.
        spark = get_spark(app_name=f"single-component-x{s}")
        from themis_tritonsort_spark.operators.components import (
            triangle_total_degree_oriented,
            triangle_total_doulion,
        )

        edges = powerlaw_graph(spark, n)
        m, wedges = canonical_edge_count_and_wedges(edges)

        t0 = time.time()
        exact_df = triangle_total_degree_oriented(edges)
        exact = exact_df.collect()[0]["n_triangles"]
        t_exact = time.time() - t0

        t0 = time.time()
        doulion_df = triangle_total_doulion(edges, p_ppm=250_000)
        est = doulion_df.collect()[0]["n_triangles_est"]
        t_doulion = time.time() - t0

        rows.append(
            {
                "s": s,
                "n": n,
                "m": m,
                "wedges": wedges,
                "exact": exact,
                "t_exact": t_exact,
                "est": est,
                "t_doulion": t_doulion,
            }
        )
        print(
            f"<!-- x{s}: |V|={n} |E|={m} wedges={wedges} "
            f"tri={exact} ({t_exact:.1f}s) est={est} "
            f"({t_doulion:.1f}s) -->",
            file=sys.stderr,
            flush=True,
        )
        spark.stop()

    def alpha(y0, y1, x0, x1):
        return math.log(y1 / y0) / math.log(x1 / x0)

    lo, hi = rows[0], rows[-1]
    mid = rows[-2] if len(rows) >= 3 else rows[0]
    print("### Single-component triangle probe (one connected power-law graph)")
    print()
    print(f"Generated by `python tools/single_component_probe.py {base} "
          f"{' '.join(str(s) for s in scales)}`.  One graph, scaled in")
    print("SIZE (ring + deg~min(1024, 1/u) hash-random edges, seed 7) —")
    print("not disjoint replicas — so the wedge-volume term is exposed.")
    print("Exponents are measured against |E|, not the scale multiplier.")
    print()
    print("| quantity | " + " | ".join(f"x{r['s']}" for r in rows)
          + " | alpha(|E|) | alpha_hi |")
    print("|---|" + "---|" * (len(rows) + 2))
    for key, label, fmt in (
        ("m", "canonical edges", "{:,}"),
        ("wedges", "oriented wedges", "{:,}"),
        ("exact", "exact triangles", "{:,}"),
        ("t_exact", "exact wall (s)", "{:.2f}"),
        ("est", "DOULION p=1/4 estimate", "{:,}"),
        ("t_doulion", "DOULION wall (s)", "{:.2f}"),
    ):
        vals = " | ".join(fmt.format(r[key]) for r in rows)
        a = alpha(lo[key], hi[key], lo["m"], hi["m"])
        a_hi = (
            alpha(mid[key], hi[key], mid["m"], hi["m"])
            if mid is not lo
            else a
        )
        print(f"| {label} | {vals} | {a:.2f} | {a_hi:.2f} |")
    for r in rows:
        err = abs(r["est"] - r["exact"]) / max(r["exact"], 1)
        print(f"\nDOULION relative error at x{r['s']}: {err:.3f} "
              f"(est {r['est']:,} vs exact {r['exact']:,})")


if __name__ == "__main__":
    main()
