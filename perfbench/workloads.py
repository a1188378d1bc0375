"""The benchmark's workloads, driven only through the engine's public
entry points: ``session.get_spark`` (in run.py), the ``sources.gensort``
functions and ``__spark_entry__.queries()``.

Each workload is a list of jobs.  A job is built (``build`` returns the
DataFrame), run (``act``, the timed action) and checked afterwards
(``check``, untimed).
"""

from __future__ import annotations

import json
import os
import random
import shutil

import __spark_entry__
from themis_tritonsort_spark.sources.gensort import (
    RECORD_LEN,
    gensort_range_checksum,
    gensort_records,
    read_gensort,
    sort_records,
    valsort_check,
    write_gensort,
)

from checks import dataframe_hash

# Both workloads are kept small: the benchmark's time budget allows about
# 70 s per run, and on 4 cores JVM start, set-up and warm-up take most of
# that even so.
CATALOG_MIX = (
    "q86_kcore",
    "q125b_mjpeg_frames",
    "q06_sessionize",
    "q15_revenue_by_nation",
)
# The iterative, driver-bound members: their jobs and stages are
# reported on their own.
ITERATIVE = ("q86_kcore",)
GRAYSORT_RECORDS = 64_000
DATA_DIR = os.path.join("data", "sf0.01")


class Graysort:
    """Generate gensort records, then read -> range sort -> write them."""

    sorts_records = True
    pass_s = 2.5
    # Sort pass times are flat after the cold pass.
    warmup_passes = 1

    def __init__(self, work_dir: str, seed: int):
        self.records = GRAYSORT_RECORDS
        self.start = seed * self.records
        self.input_dir = os.path.join(work_dir, "gensort-in")
        self.output_dir = os.path.join(work_dir, "gensort-out")
        self.input_bytes = self.records * RECORD_LEN
        self.expected_checksum = None
        self.jobs = ["graysort"]

    def prepare(self, spark) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        write_gensort(gensort_records(spark, self.records, start=self.start), self.input_dir)

    def build(self, spark, job: str):
        return sort_records(read_gensort(spark, self.input_dir))

    def act(self, df) -> None:
        write_gensort(df, self.output_dir)

    def check(self, spark, job: str, result) -> bool:
        if self.expected_checksum is None:
            # Straight from the generator, once: not part of set-up.
            self.expected_checksum = gensort_range_checksum(
                spark, self.records, start=self.start
            )
        try:
            got = valsort_check(spark, self.output_dir)
        finally:
            shutil.rmtree(self.output_dir, ignore_errors=True)
        return got == {
            "records": self.records,
            "sorted": True,
            "checksum": self.expected_checksum,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        shutil.rmtree(self.output_dir, ignore_errors=True)


class QueryMix:
    """Catalog queries over the committed tables, in a seed-permuted order."""

    sorts_records = False
    pass_s = 6.0
    # q86_kcore plans ~30 jobs per pass; the JVM is still compiling that
    # planning code in the first warm pass, which ran 25 % slower and
    # burned 50 % more CPU than the next ones.
    warmup_passes = 2

    def __init__(self, queries: tuple, bench_dir: str, seed: int):
        self.data_dir = os.path.join(bench_dir, DATA_DIR)
        with open(os.path.join(bench_dir, "expected.json")) as f:
            expected = json.load(f)["queries"]
        self.expected = {q: expected[q]["hash"] for q in queries}
        self.jobs = list(queries)
        random.Random(seed).shuffle(self.jobs)
        catalog = __spark_entry__.queries()
        self.fns = {q: catalog[q] for q in queries}

    def prepare(self, spark) -> None:
        """Nothing to generate: the inputs are committed parquet tables."""

    def build(self, spark, job: str):
        return self.fns[job](spark, self.data_dir)

    def act(self, df) -> str:
        return dataframe_hash(df)

    def check(self, spark, job: str, result) -> bool:
        return result == self.expected[job]

    def cleanup(self) -> None:
        pass


def make_workload(name: str, bench_dir: str, work_dir: str, seed: int):
    if name == "graysort":
        return Graysort(work_dir, seed)
    if name == "catalog_mix":
        return QueryMix(CATALOG_MIX, bench_dir, seed)
    raise ValueError(f"unknown workload {name!r}")

