"""Scratch: time a catalog query's noop-sink wall clock N times, with
optional phase labels visible via setJobDescription.

Usage: python tools/profile_q.py q144_chain_components [n] [sf_dir]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from themis_tritonsort_spark.queries import QUERIES
from themis_tritonsort_spark.session import get_spark


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark("profile-q")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    from themis_tritonsort_spark.data import table

    table(spark, sf_dir, "lineitem").count()
    ts = []
    for i in range(n):
        spark.sparkContext.setJobDescription(f"{name} run {i}")
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        ts.append(round(dt, 3))
        print(f"run {i}: {dt:.3f}s", flush=True)
    ts_s = sorted(ts)
    print(f"{name} sf={sf_dir} median={ts_s[len(ts_s) // 2]:.3f} all={ts}")
    spark.stop()


if __name__ == "__main__":
    main()
