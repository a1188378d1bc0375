"""Physical-plan audit over the whole query catalog.

For every catalog query, builds the DataFrame at sf0.001 and counts the
plan features the 100 TB design cares about: exchanges (shuffles),
broadcast joins, sort-merge joins, scans with pushed filters, and
whole-stage codegen coverage.  Emits a markdown table (stdout) that
PLAN_AUDIT.md is generated from — evidence for PLANS.md's claims that
is re-derivable on demand rather than hand-maintained.

Iterative queries (pagerank / k-means / connected components) hide
their per-round plans behind localCheckpoint lineage cuts; their rows
audit the FINAL plan only, and the per-round shape is asserted in
tests/test_plans.py and documented in PLANS.md instead.

Usage: python tools/plan_audit.py [sf_dir] > PLAN_AUDIT.md
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def _plan_str(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from themis_tritonsort_spark import queries as q
    from themis_tritonsort_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLAN_AUDIT — physical-plan features per catalog query")
    print()
    print(f"Generated by `python tools/plan_audit.py {sf_dir}`.")
    print("Shuffle = non-broadcast Exchange nodes in the STATIC physical")
    print("plan (AQE may coalesce/convert at runtime).  A relation an")
    print("operator materializes once (a lazy localCheckpoint) reads as a")
    print("Scan ExistingRDD leaf, so its own scan/exchanges are not")
    print("counted in the consumer's row.  WSCG = WholeStageCodegen spans")
    print("(JVM-compiled pipelines).  Iterative queries (pagerank,")
    print("k-means, components) show the final plan only: per-round")
    print("lineage is cut by localCheckpoint; their round shape is")
    print("asserted in tests/test_plans.py and documented in PLANS.md.")
    print("q145 (streaming replay) executes its micro-batch jobs at")
    print("build time; its row audits the post-replay memory-sink read,")
    print("and the streaming plan is pinned by tests/test_streaming.py.")
    print("WSCG ids are only assigned to non-adaptive static plans, so")
    print("any query containing an exchange (AQE-planned) reads 0 here —")
    print("the column is meaningful for the shuffle-free map-side queries,")
    print("where >=1 confirms the whole query compiles into codegen.")
    print()
    print("| query | shuffles | bcast joins | SMJ | pushed filters | WSCG spans |")
    print("|---|---|---|---|---|---|")
    for name, fn in q.CATALOG.items():
        try:
            df = fn(spark, sf_dir)
            simple = _plan_str(df, "simple")
            formatted = _plan_str(df, "formatted")
            # shuffle exchanges only: broadcast exchanges are counted as
            # broadcast joins, reused exchanges execute once
            shuffles = len(
                re.findall(
                    r"(?<!Reused)Exchange (hash|range|Single|RoundRobin)", simple
                )
            )
            bcast = simple.count("BroadcastHashJoin") + simple.count(
                "BroadcastNestedLoopJoin"
            )
            smj = simple.count("SortMergeJoin")
            pushed = sum(
                1
                for ln in formatted.splitlines()
                if "PushedFilters" in ln and "PushedFilters: []" not in ln
            )
            wscg = len(set(re.findall(r"codegen id : (\d+)", formatted)))
            print(
                f"| {name} | {shuffles} | {bcast} | {smj} | {pushed} | {wscg} |"
            )
        except Exception as exc:  # pragma: no cover - audit robustness
            print(f"| {name} | audit failed: {type(exc).__name__} | | | | |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
