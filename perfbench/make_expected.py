#!/usr/bin/env python3
"""Derive perfbench/expected.json: the expected result hash of every
query the benchmark runs, from the DuckDB oracle.

    python3 perfbench/make_expected.py

For each query, the oracle SQL (``__spark_entry__.oracle_sql()``) runs
in DuckDB over perfbench/data/sf0.01 and its result is hashed with
``checks.result_hash``.  The Spark query is then run and hashed the same
way; a query whose two hashes differ is reported and the file is not
written.  The tables each oracle names are recorded too, so the tests
can check that the committed data holds them.
"""

from __future__ import annotations

import json
import os
import re
import sys

import run
from checks import dataframe_hash, result_hash


def main() -> int:
    run.isolate_environment()
    import duckdb

    import __spark_entry__
    from themis_tritonsort_spark.data import TABLES
    from themis_tritonsort_spark.session import get_spark
    from workloads import CATALOG_MIX, DATA_DIR

    data_dir = os.path.join(run.BENCH_DIR, DATA_DIR)
    present = [t for t in TABLES if os.path.exists(os.path.join(data_dir, f"{t}.parquet"))]
    con = duckdb.connect()
    for t in present:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    oracles = __spark_entry__.oracle_sql()
    catalog = __spark_entry__.queries()
    spark = get_spark()
    out, bad = {}, []
    try:
        for q in CATALOG_MIX:
            sql = oracles[q]
            res = con.execute(sql)
            oracle = result_hash([d[0] for d in res.description], res.fetchall())
            engine = dataframe_hash(catalog[q](spark, data_dir))
            tables = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
            print(q, oracle, "match" if oracle == engine else f"MISMATCH spark={engine}")
            if oracle != engine:
                bad.append(q)
            out[q] = {"hash": oracle, "source": "duckdb oracle", "tables": tables}
    finally:
        spark.stop()
    if bad:
        print(f"not written: Spark differs from the oracle on {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(run.BENCH_DIR, "expected.json"), "w") as f:
        json.dump({"data": DATA_DIR, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
