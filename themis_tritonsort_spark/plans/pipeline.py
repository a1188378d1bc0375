"""Resumable staged pipelines: checkpointed multi-stage curation with
fingerprinted stage manifests (beyond-reference; the operational layer
the reference delegates to its cluster coordinator scripts,
``src/scripts/themis/cluster`` — re-expressed as content-addressed
parquet checkpoints).

Why this exists at 100 TB: a curation pipeline is many expensive
stages (dedup -> quality -> decontam -> chunk -> pack).  When stage 4
fails — or when only stage 3's parameters change — re-running the
whole DAG re-reads the corpus once per retry.  Here every stage
materializes to parquet under a root directory together with a
manifest carrying the stage's FINGERPRINT: sha256 over (stage name,
stage version, upstream fingerprints).  A re-run skips any stage
whose manifest fingerprint still matches — i.e. nothing upstream of
it changed — and recomputes exactly the suffix of the DAG that did.

Fingerprints are structural, not content hashes of the data: hashing
100 TB to decide whether to skip would cost what the skip saves.  The
``version`` token is the operator author's contract — bump it when
the stage's logic changes.  Source stages should fold their input
descriptor (path, snapshot id) into ``version`` so new input
invalidates the chain.

Writes are atomic-by-rename (the sources/gensort + streaming/cdc
discipline): each stage writes to ``<name>.tmp-<fingerprint>`` and
renames over the final directory, so a killed run never leaves a
half-written stage that a resume would trust.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_stage_manifest.json"


@dataclass
class Stage:
    """One pipeline stage.

    ``fn(spark, inputs)`` receives the named upstream DataFrames
    (read back from their checkpoints, so lineage never spans stages)
    and returns this stage's output DataFrame.  ``inputs`` names
    upstream stages; a source stage has none.  Bump ``version``
    whenever the stage's semantics change — it is part of the
    fingerprint.
    """

    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: list[str] = field(default_factory=list)
    version: str = "1"


def _fingerprint(stage: Stage, upstream: dict[str, str]) -> str:
    basis = json.dumps(
        {
            "name": stage.name,
            "version": stage.version,
            "upstream": [upstream[i] for i in stage.inputs],
        },
        sort_keys=True,
    )
    return hashlib.sha256(basis.encode()).hexdigest()


def _manifest_path(root: str, name: str) -> str:
    return os.path.join(root, name, MANIFEST)


def _is_fresh(root: str, name: str, fingerprint: str) -> bool:
    try:
        with open(_manifest_path(root, name)) as f:
            return json.load(f).get("fingerprint") == fingerprint
    except (OSError, json.JSONDecodeError):
        return False


def run_pipeline(
    spark: SparkSession,
    stages: list[Stage],
    root: str,
) -> dict[str, str]:
    """Execute ``stages`` (listed in dependency order) under ``root``,
    skipping every stage whose checkpoint is fresh.  Returns
    {stage name: checkpoint directory}; read any stage's output with
    ``spark.read.parquet`` on that path.

    Raises ValueError on an unknown input name or a duplicate stage
    name — the DAG is validated before anything runs.
    """
    seen: set[str] = set()
    for s in stages:
        if s.name in seen:
            raise ValueError(f"duplicate stage name: {s.name}")
        missing = [i for i in s.inputs if i not in seen]
        if missing:
            raise ValueError(
                f"stage {s.name!r} depends on {missing} which are not "
                "defined earlier in the list"
            )
        seen.add(s.name)

    os.makedirs(root, exist_ok=True)
    fingerprints: dict[str, str] = {}
    paths: dict[str, str] = {}
    for stage in stages:
        fp = _fingerprint(stage, fingerprints)
        out_dir = os.path.join(root, stage.name)
        if not _is_fresh(root, stage.name, fp):
            inputs = {
                name: spark.read.parquet(paths[name])
                for name in stage.inputs
            }
            tmp = os.path.join(root, f"{stage.name}.tmp-{fp[:16]}")
            shutil.rmtree(tmp, ignore_errors=True)
            stage.fn(spark, inputs).write.mode("overwrite").parquet(tmp)
            with open(os.path.join(tmp, MANIFEST), "w") as f:
                json.dump(
                    {"fingerprint": fp, "version": stage.version}, f
                )
            shutil.rmtree(out_dir, ignore_errors=True)
            os.rename(tmp, out_dir)
        fingerprints[stage.name] = fp
        paths[stage.name] = out_dir
    return paths


# ---------------------------------------------------------------------------
# Key-range recovery: the reference's failure-recovery batch lifecycle.
#
# When a node dies mid-job, the reference does NOT re-run the whole job:
# the coordinator re-submits it with a RecordFilter holding only the
# key ranges the failed node owned (cluster_coordinator.py:97-144
# builds the recovery batch; RecordFilter.cc:23-35 passes a record iff
# its key falls inside any lost boundary), and the recovered output is
# merged with the surviving partitions.  Spark lineage already covers
# TASK retry (strictly stronger within one job); these two functions
# are the analog for the cross-JOB lifecycle — a stage whose
# materialized output lost some key ranges (disk loss, torn copy)
# recomputes ONLY those ranges, with the range predicate pushed down to
# the input scan, and patches them in place.
# ---------------------------------------------------------------------------


def _range_bucket(key_col: str, boundaries: list) -> Column:
    """Partition id under a BoundaryList range function: the number of
    boundaries <= key (bucket 0 = below the first boundary).  A pure
    arithmetic expression, so it stays inside whole-stage codegen."""
    return reduce(
        lambda a, b: a + b,
        [(F.col(key_col) >= F.lit(b)).cast("int") for b in boundaries],
    ).alias("__range")


def lost_range_predicate(
    key_col: str, boundaries: list, lost: list[int]
) -> Column:
    """RecordFilter.pass as a Catalyst predicate: true iff the key
    falls in any LOST bucket's [lo, hi) range.  Plain range
    comparisons, so Catalyst pushes it through map-like stage logic
    into the parquet scan (PushedFilters) — the recovery re-read
    touches only the lost ranges' row groups, the Spark form of the
    reference reading only filter-passing records."""
    if not lost:
        raise ValueError("no lost ranges given")
    preds = []
    for i in sorted(set(lost)):
        if not 0 <= i <= len(boundaries):
            raise ValueError(
                f"bucket {i} out of range for {len(boundaries)} boundaries"
            )
        clauses = []
        if i > 0:
            clauses.append(F.col(key_col) >= F.lit(boundaries[i - 1]))
        if i < len(boundaries):
            clauses.append(F.col(key_col) < F.lit(boundaries[i]))
        preds.append(
            reduce(lambda a, b: a & b, clauses) if clauses else F.lit(True)
        )
    return reduce(lambda a, b: a | b, preds)


def run_ranged_stage(
    spark: SparkSession,
    stage: Stage,
    inputs: dict[str, DataFrame],
    root: str,
    key_col: str,
    boundaries: list,
) -> str:
    """Materialize ``stage`` range-partitioned by ``key_col`` under the
    boundary list: each key range is its own ``__range=<i>`` partition
    directory, so a lost range is an observable unit (a missing
    subdirectory) and a recovered range is an atomic patch.  Mirrors
    the reference's physical layout, where each node's output partition
    files correspond to its boundary-list ranges."""
    out = stage.fn(spark, inputs).withColumn(
        "__range", _range_bucket(key_col, boundaries)
    )
    path = os.path.join(root, stage.name)
    out.write.mode("overwrite").partitionBy("__range").parquet(path)
    return path


def recover_lost_ranges(
    spark: SparkSession,
    stage: Stage,
    inputs: dict[str, DataFrame],
    root: str,
    key_col: str,
    boundaries: list,
    lost: list[int],
) -> str:
    """Recompute ONLY the lost key ranges of a ranged stage and patch
    them into the existing checkpoint, leaving surviving ranges'
    files untouched (dynamic partition overwrite replaces exactly the
    ``__range`` directories the recovery writes).  The range predicate
    is applied to the recomputed output AND pushes down through
    map-like stage logic to the input scan — the recovery job reads
    and computes a lost-fraction of the original, not a full re-run.
    Cf. cluster_coordinator.py:97-144 (recovery batch submits the same
    job with a RecordFilter over the failed nodes' ranges) and
    RecordFilter.cc:23-35 (the per-record range test)."""
    pred = lost_range_predicate(key_col, boundaries, lost)
    out = (
        stage.fn(spark, inputs)
        .where(pred)
        .withColumn("__range", _range_bucket(key_col, boundaries))
    )
    path = os.path.join(root, stage.name)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__range")
        .parquet(path)
    )
    return path
