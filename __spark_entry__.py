"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the ``themis_tritonsort_spark`` package; this
module is the thin driver-facing adapter.

The driver gates only the first 50 ``queries()`` entries, so their
order is the gate rotation.  It is derived from the gate history kept
beside this file (``CORRECTNESS_r{N}.json``): queries never gated come
first, then the one whose newest pass is oldest, ties in catalog order.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from themis_tritonsort_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 5-way join revenue
    rollup (scan -> broadcast joins -> grouped aggregation)."""
    return _q.q15_revenue_by_nation(spark, "/root/testdata/sf0.001")


def newest_passes(
    root: str = os.path.dirname(os.path.abspath(__file__)),
) -> dict[str, int]:
    """Query name -> the newest round whose ``CORRECTNESS_r{N}.json`` in
    ``root`` records it passing: rows and schema match, and the value
    hash did not mismatch (a row without a hash verdict still passes).
    An unreadable or malformed file is skipped, so it cannot break
    ``queries()``."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        if not (m := re.search(r"CORRECTNESS_r(\d+)\.json$", path)):
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("rows_match") and row.get("schema_match") and (
                row.get("hash_match") is not False
            ):
                newest[name] = max(newest.get(name, -1), int(m[1]))
    return newest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    newest = newest_passes()
    order = sorted(_q.CATALOG, key=lambda name: newest.get(name, -1))
    return {name: _q.CATALOG[name] for name in order}


def oracle_sql() -> dict[str, str]:
    return dict(_q.ORACLES)
