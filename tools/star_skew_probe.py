#!/usr/bin/env python
"""Star-contraction hub-skew probe (VERDICT r10 #4).

chain_probe.py proves connected_components_star's O(log n) round bound
on the long-chain adversary, but the OTHER adversarial shape is hub
skew: on one connected power-law graph, every alternation points more
vertices at the component minimum, so by the late rounds one key (the
root) owns nearly the whole component's adjacency — the large-star
groupBy/join processes a deg(root) ~ |V| hot key.  The groupBy itself
is safe (Catalyst partial aggregation combines map-side), and the
adj-join-mins shuffle is the exposure AQE skew-join splitting exists
for; this probe measures whether that holds: run the full operator on
the SAME single connected power-law generator as
single_component_probe.py (deg ~ min(1024, 1/u), ring for
connectivity — cf. the reference's
GenPowerLawRandomNetworkMapFunction.cc:1-131) at 1x/4x/16x SIZE and
report wall-clock alpha against |E|.  The fixed point is one
component, so max root degree = |V| - 1 by construction — the hot key
is guaranteed present, not hypothesized.

Usage: python tools/star_skew_probe.py [base_vertices] [scales..]
       (defaults: 125000 at 1 4 16; markdown to stdout — append to
        SCALE_PROBE.md as a round addendum)
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
from tools.single_component_probe import powerlaw_graph  # noqa: E402


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 125_000
    scales = [int(s) for s in sys.argv[2:]] or [1, 4, 16]

    rows = []
    for s in scales:
        n = base * s
        spark = get_spark(app_name=f"star-skew-x{s}")
        from themis_tritonsort_spark.operators.components import (
            connected_components_star,
        )

        edges = powerlaw_graph(spark, n)
        m = (
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .count()
        )

        t0 = time.time()
        out = connected_components_star(edges, max_iterations=40)
        agg = out.agg(
            F.count(F.lit(1)).alias("nv"),
            F.countDistinct("component").alias("nc"),
        ).collect()[0]
        wall = time.time() - t0
        assert agg["nc"] == 1, f"expected ONE component, got {agg['nc']}"
        rows.append({"s": s, "n": agg["nv"], "m": m, "wall": wall})
        print(
            f"<!-- x{s}: |V|={agg['nv']} |E|={m} components={agg['nc']} "
            f"wall={wall:.1f}s -->",
            file=sys.stderr,
            flush=True,
        )
        spark.stop()

    def alpha(y0, y1, x0, x1):
        return math.log(y1 / y0) / math.log(x1 / x0)

    lo, hi = rows[0], rows[-1]
    mid = rows[-2] if len(rows) >= 3 else rows[0]
    print("### Star-contraction hub-skew probe (one connected power-law graph)")
    print()
    print(f"Generated by `python tools/star_skew_probe.py {base} "
          f"{' '.join(str(s) for s in scales)}`.  One connected graph")
    print("scaled in SIZE; the component minimum's degree reaches |V|-1")
    print("by the fixed point (single component), so the large-star hot")
    print("key is guaranteed, not simulated.  Wall-clock exponent is")
    print("measured against |E|; rounds grow ~log(n) on top, so alpha")
    print("slightly above 1.0 is the expected O(|E| log n) signature —")
    print("a straggler/OOM on the hub would show as alpha >> 1 or a")
    print("failed run, not a mild slope.")
    print()
    print("| quantity | " + " | ".join(f"x{r['s']}" for r in rows)
          + " | alpha(|E|) | alpha_hi |")
    print("|---|" + "---|" * (len(rows) + 2))
    for key, label, fmt in (
        ("m", "canonical edges", "{:,}"),
        ("wall", "star CC wall (s)", "{:.2f}"),
    ):
        vals = " | ".join(fmt.format(r[key]) for r in rows)
        a = alpha(lo[key], hi[key], lo["m"], hi["m"])
        a_hi = (
            alpha(mid[key], hi[key], mid["m"], hi["m"])
            if mid is not lo
            else a
        )
        print(f"| {label} | {vals} | {a:.2f} | {a_hi:.2f} |")


if __name__ == "__main__":
    main()
