#!/usr/bin/env python
"""Driver simulation: the real consumer surface of this repo.

Imports __spark_entry__ exactly like the round driver does, smoke-runs
entry(spark), then runs every queries()[name] at the given sf dir and
compares with oracle_sql()[name] via DuckDB (row count + sorted column
names + order-insensitive value multiset). Prints one OK/FAIL line per
query; exits nonzero on any failure.

Usage: python tools/driver_sim.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402
from themis_tritonsort_spark.session import get_spark  # noqa: E402

WINDOW = 50  # the round driver gates the first 50 queries() entries


def staleness_report(query_names: list[str]) -> list[str]:
    """Per-entry driver-gate freshness from the gate history
    (``__spark_entry__.newest_passes``): the window rotates through the
    catalog in ``ceil(len(query_names) / WINDOW)`` rounds, so an entry
    outside this round's window is stale once its newest driver row is
    that many rounds old.  Returns the warning lines so tests can pin
    the contract."""
    newest = entrymod.newest_passes()
    if not newest:
        return []
    current = max(newest.values()) + 1  # the round in progress
    period = math.ceil(len(query_names) / WINDOW)
    warnings = []
    for name in query_names[WINDOW:]:  # the window is gated this round
        eff = newest.get(name)
        if eff is None:
            warnings.append(
                f"STALE {name}: never driver-gated and not in this "
                f"round's window"
            )
        elif current - eff >= period:
            warnings.append(
                f"STALE {name}: newest driver row r{eff:02d} is "
                f"{current - eff} rounds old"
            )
    return warnings


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="driver-sim", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    rows = entrymod.entry(spark).collect()
    print(f"entry: OK ({len(rows)} rows)")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name in sorted(queries):
        t0 = time.time()
        try:
            r = compare(spark, sf_dir, queries[name], oracles[name])
            ok, detail = r["ok"], f"{r['rows_spark']} rows"
            if not r["ok"]:
                detail = str({k: v for k, v in r.items() if k != "ok"})[:300]
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"EXC {type(e).__name__}: {e}"
        dt = time.time() - t0
        print(f"{'OK  ' if ok else 'FAIL'} {name}  {detail}  [{dt:.1f}s]")
        failures += 0 if ok else 1

    print(f"{len(queries) - failures}/{len(queries)} queries pass at {sf_dir}")

    warnings = staleness_report(list(queries))
    for line in warnings:
        print(line)
    if warnings:
        print(f"{len(warnings)} entries lack a fresh driver row")
    else:
        print(
            "driver-gate freshness: every entry current within one "
            "window rotation"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
