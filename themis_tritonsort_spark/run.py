"""Job-runner CLI: the reference's submission lifecycle collapsed into
the Spark driver.

In the reference, a Python generator builds a job-spec JSON, run_job.py
pushes it onto a Redis queue, and cluster/node coordinators launch the
native binary per node (SURVEY.md §3.1; ``job_runner/run_job.py:46-60``,
``cluster_coordinator.py:97-144``).  On Spark the queue, coordinators,
and phase machinery are the driver + DAG scheduler, so "submission" is
just: parse spec -> build DataFrame plan -> action.

Usage:
  # run a job spec (single dict or list of chained dicts):
  python -m themis_tritonsort_spark.run --spec spec.json \
      --sf-dir /root/testdata/sf0.01 [--output /tmp/out.parquet]

  # or run a declared query from the catalog:
  python -m themis_tritonsort_spark.run --query q03_wordcount \
      --sf-dir /root/testdata/sf0.01 [--output /tmp/out.parquet]

  # gensort/valsort tool parity (bit-exact; prints the same hex
  # checksum the reference binaries do):
  python -m themis_tritonsort_spark.run --gensort 100000 \
      [--start 0] [--skewed] [--output /tmp/records]   # omit --output
                                                       # for checksum-only
  python -m themis_tritonsort_spark.run --valsort /tmp/records

Without --output the result is counted and the first rows are shown
(an action either way — the plan always executes).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--spec", help="path to job-spec JSON (dict or list of dicts)")
    src.add_argument("--query", help="declared query name from the catalog")
    src.add_argument("--gensort", type=int, metavar="N",
                    help="generate N bit-exact gensort records")
    src.add_argument("--valsort", metavar="DIR",
                    help="validate a gensort record directory")
    ap.add_argument("--start", type=int, default=0,
                    help="gensort starting record number (like -b)")
    ap.add_argument("--skewed", action="store_true",
                    help="gensort Daytona skewed keys (like -s)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="testdata dir for input_table / query sources")
    ap.add_argument("--output", help="write result to this parquet path "
                    "(record directory for --gensort)")
    ap.add_argument("--show", type=int, default=10,
                    help="rows to display when --output is absent")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name="themis-run")
    spark.sparkContext.setLogLevel("WARN")

    if args.gensort is not None:
        from .sources.gensort import (
            gensort_range_checksum,
            gensort_records,
            write_gensort,
        )

        if args.output:
            write_gensort(
                gensort_records(
                    spark, args.gensort, start=args.start, skewed=args.skewed
                ),
                args.output,
            )
            print(f"wrote {args.gensort} records to {args.output}")
        cs = gensort_range_checksum(
            spark, args.gensort, start=args.start, skewed=args.skewed
        )
        print(format(cs, "x"))  # gensort -c prints bare hex to stderr
        return 0
    if args.valsort:
        from .sources.gensort import valsort_check

        chk = valsort_check(spark, args.valsort)
        print(
            f"records={chk['records']} sorted={chk['sorted']} "
            f"checksum={format(chk['checksum'], 'x')}"
        )
        return 0 if chk["sorted"] else 1

    if args.query:
        from .queries import CATALOG

        if args.query not in CATALOG:
            print(f"unknown query {args.query!r}; known: {', '.join(CATALOG)}",
                  file=sys.stderr)
            return 2
        out = CATALOG[args.query](spark, args.sf_dir)
    else:
        from .plans.job import ThemisJob, run_in_sequence

        with open(args.spec) as f:
            spec = json.load(f)
        specs = spec if isinstance(spec, list) else [spec]
        jobs = [ThemisJob.from_spec(s) for s in specs]
        out = run_in_sequence(spark, jobs, sf_dir=args.sf_dir)

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        from .operators.loop import persisted

        # One execution for both the preview and the count (show() and
        # count() would otherwise each run the full plan).
        with persisted(out) as held:
            held.show(args.show, truncate=False)
            print(f"{held.count()} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
