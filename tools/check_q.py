"""Targeted oracle compares for a few queries (mirrors the driver gate).

    python tools/check_q.py q141_margin_pairs              # sf0.001+sf0.01
    python tools/check_q.py q20_ann_topk,q38_cosine_neardup 0.01
"""
import os
import sys

# The package of THIS checkout, wherever it lives.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from themis_tritonsort_spark.session import get_spark
from themis_tritonsort_spark import queries as Q
from tests.oracle_harness import compare

names = sys.argv[1].split(",")
sfs = sys.argv[2].split(",") if len(sys.argv) > 2 else ["0.001", "0.01"]

spark = get_spark(app_name="check-q")
spark.sparkContext.setLogLevel("ERROR")
ok = True
for name in names:
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        r = compare(spark, sf_dir, Q.CATALOG[name], Q.ORACLES[name])
        good = r["cols_match"] and r["rows_match"] and r["values_match"]
        ok &= good
        print(
            f"{name} sf{sf}: cols={r['cols_match']} rows={r['rows_match']} "
            f"values={r['values_match']} ({r['rows_spark']} rows)"
        )
        if not good:
            print("  spark cols:", r["cols_spark"])
            print("  duck cols:", r["cols_duck"])
print("ALL OK" if ok else "FAILURES")
sys.exit(0 if ok else 1)
