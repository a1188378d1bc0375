"""Dump .explain("formatted") for named catalog queries to files.

Usage: python tools/dump_plans.py <suffix> q68_triangle_counts,q134_keep_best [sf_dir]

Writes plans/$SPARK_GRAFT_PLANS_ROUND (default r12)/<query>_<suffix>.txt for each query — the before/after
plan evidence the optimization round commits alongside the code.
Iterative queries (pagerank / k-means / CC) print their FINAL plan; the
per-round shape lives in tests/test_plans.py.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> None:
    suffix = sys.argv[1]
    names = [n.strip() for n in sys.argv[2].split(",") if n.strip()]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    out_dir = REPO / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    out_dir.mkdir(parents=True, exist_ok=True)

    from themis_tritonsort_spark.queries import CATALOG
    from themis_tritonsort_spark.session import get_spark

    spark = get_spark("dump-plans")
    try:
        for name in names:
            df = CATALOG[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = out_dir / f"{name}_{suffix}.txt"
            path.write_text(buf.getvalue())
            print(f"wrote {path}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
