"""Resumable staged pipeline tests (plans/pipeline.py): fingerprint
skip/recompute semantics, suffix invalidation, DAG validation, and
crash-safety of the atomic rename."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from themis_tritonsort_spark.data import table
from themis_tritonsort_spark.plans.pipeline import (
    MANIFEST,
    Stage,
    run_pipeline,
)

from .conftest import SF_SMOKE

SCRATCH = os.path.join(os.path.dirname(__file__), "..", "scratch", "pipe")


@pytest.fixture()
def pipe_root():
    d = os.path.join(SCRATCH, uuid.uuid4().hex)
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stages(spark, ran: list[str], quality_version: str = "1"):
    from themis_tritonsort_spark.operators.textstats import (
        chunk_documents,
        text_quality,
    )

    def src(s, _):
        ran.append("src")
        return table(s, SF_SMOKE, "documents").select("doc_id", "text")

    def quality(s, inp):
        ran.append("quality")
        scored = text_quality(inp["src"], "doc_id", "text", keep=("text",))
        return scored.where(F.col("quality_pct") >= 40).select(
            "doc_id", "text"
        )

    def chunks(s, inp):
        ran.append("chunks")
        return chunk_documents(inp["quality"], "doc_id", "text", 64, 8)

    return [
        Stage("src", src),
        Stage("quality", quality, inputs=["src"], version=quality_version),
        Stage("chunks", chunks, inputs=["quality"]),
    ]


def test_pipeline_runs_resumes_and_invalidates(spark, pipe_root):
    ran: list[str] = []
    paths = run_pipeline(spark, _stages(spark, ran), pipe_root)
    assert ran == ["src", "quality", "chunks"]
    n_chunks = spark.read.parquet(paths["chunks"]).count()
    assert n_chunks > 0

    # fresh re-run: nothing recomputes, outputs unchanged
    ran.clear()
    paths2 = run_pipeline(spark, _stages(spark, ran), pipe_root)
    assert ran == []
    assert paths2 == paths
    assert spark.read.parquet(paths2["chunks"]).count() == n_chunks

    # bumping a mid-stage version recomputes that stage AND its
    # downstream, but never the untouched upstream
    ran.clear()
    run_pipeline(
        spark, _stages(spark, ran, quality_version="2"), pipe_root
    )
    assert ran == ["quality", "chunks"]


def test_pipeline_resumes_after_torn_write(spark, pipe_root):
    """A stage directory without a valid manifest (killed mid-write,
    or a stray tmp dir) must be recomputed, never trusted."""
    ran: list[str] = []
    paths = run_pipeline(spark, _stages(spark, ran), pipe_root)
    # simulate a crash that corrupted the final stage's manifest
    os.remove(os.path.join(paths["chunks"], MANIFEST))
    ran.clear()
    run_pipeline(spark, _stages(spark, ran), pipe_root)
    assert ran == ["chunks"]
    # a garbage manifest is equally untrusted — but ONLY that stage
    # recomputes: its fingerprint is unchanged (same logic, same
    # upstream), so the recomputed output is contract-identical and
    # downstream checkpoints stay valid
    with open(os.path.join(paths["quality"], MANIFEST), "w") as f:
        f.write("{not json")
    ran.clear()
    run_pipeline(spark, _stages(spark, ran), pipe_root)
    assert ran == ["quality"]


def test_pipeline_validates_dag(spark, pipe_root):
    def noop(s, _):
        return s.range(1)

    with pytest.raises(ValueError, match="duplicate"):
        run_pipeline(
            spark, [Stage("a", noop), Stage("a", noop)], pipe_root
        )
    with pytest.raises(ValueError, match="not .*defined earlier"):
        run_pipeline(
            spark, [Stage("b", noop, inputs=["missing"])], pipe_root
        )


def test_staged_curation_equals_monolithic_q77(spark, pipe_root):
    """Decompose the flagship single-scan curation query into
    resumable pipeline stages (filter -> survivors -> chunks -> pack)
    and assert the staged run reproduces the monolithic q77 result
    row-for-row — checkpointing must never change semantics."""
    from themis_tritonsort_spark import queries as q
    from themis_tritonsort_spark.operators.dedup import exact_duplicates
    from themis_tritonsort_spark.operators.textstats import (
        chunk_documents,
        contamination,
        pack_sequences,
        repetition_stats,
        text_quality,
    )
    from themis_tritonsort_spark.operators.textstats import lang_id

    def src(s, _):
        return table(s, SF_SMOKE, "documents").select("doc_id", "text")

    def survivors(s, inp):
        docs = inp["src"]
        tr = docs.where(F.col("doc_id") % 100 != 0)
        ev = docs.where(F.col("doc_id") % 100 == 0)
        scored = text_quality(tr, "doc_id", "text", keep=("text",)).select(
            "doc_id", "text", "quality_pct"
        )
        scored = lang_id(scored, "doc_id", "text", keep=("text", "quality_pct"))
        scored = repetition_stats(
            scored, "doc_id", "text", keep=("text", "quality_pct", "pred_lang")
        )
        dupes = exact_duplicates(docs, "doc_id", "text").where(
            F.col("doc_id") != F.col("canonical_id")
        ).select("doc_id")
        contam = contamination(tr, ev, "doc_id", "text", n=4).select("doc_id")
        return (
            scored.join(dupes, "doc_id", "left_anti")
            .join(contam, "doc_id", "left_anti")
            .where(
                (F.col("pred_lang") == "en")
                & (F.col("quality_pct") >= 40)
                & (F.col("dup_ngram_ppm") <= 100000)
                & (F.col("top_ngram_ppm") <= 60000)
            )
            .select("doc_id", "text")
        )

    def chunks(s, inp):
        return chunk_documents(inp["survivors"], "doc_id", "text", 64, 8)

    def packed(s, inp):
        return pack_sequences(
            inp["chunks"], "doc_id", "chunk_idx", "n_chunk_tokens", budget=256
        )

    paths = run_pipeline(
        spark,
        [
            Stage("src", src),
            Stage("survivors", survivors, inputs=["src"]),
            Stage("chunks", chunks, inputs=["survivors"]),
            Stage("packed", packed, inputs=["chunks"]),
        ],
        pipe_root,
    )
    staged = sorted(
        tuple(r) for r in spark.read.parquet(paths["packed"]).collect()
    )
    mono = sorted(
        tuple(r) for r in q.q77_full_curation(spark, SF_SMOKE).collect()
    )
    assert staged == mono and len(staged) > 0


def test_key_range_recovery_recomputes_only_lost_ranges(spark, pipe_root):
    """The reference's failure-recovery lifecycle
    (cluster_coordinator.py:97-144 + RecordFilter.cc:23-35): after a
    ranged stage loses some key ranges, recovery recomputes ONLY those
    ranges — the range predicate reaches the input parquet scan
    (PushedFilters), surviving ranges' files are untouched on disk,
    and the patched checkpoint equals a clean run byte-for-value."""
    from themis_tritonsort_spark.plans.pipeline import (
        Stage,
        lost_range_predicate,
        recover_lost_ranges,
        run_ranged_stage,
    )

    src = os.path.join(pipe_root, "input")
    spark.range(1000).select(
        F.col("id"), (F.col("id") * 3).alias("value")
    ).write.parquet(src)

    def fn(s, _inp):
        return s.read.parquet(src).select(
            "id", (F.col("value") * 2).alias("doubled")
        )

    stage = Stage("doubles", fn)
    boundaries = [250, 500, 750]
    path = run_ranged_stage(spark, stage, {}, pipe_root, "id", boundaries)
    expected = sorted(
        (r["id"], r["doubled"]) for r in spark.read.parquet(path).collect()
    )
    assert len(expected) == 1000

    # the recovery predicate pushes down to the INPUT scan: the
    # recompute reads a lost-fraction of the corpus, not all of it
    pred = lost_range_predicate("id", boundaries, [2])
    plan = (
        fn(spark, {})
        .where(pred)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(id,500)" in plan and "LessThan(id,750)" in plan

    # lose range 2 ([500, 750)) — a missing partition directory, the
    # observable unit of loss
    shutil.rmtree(os.path.join(path, "__range=2"))
    surviving = sorted(
        (r["id"], r["doubled"]) for r in spark.read.parquet(path).collect()
    )
    assert len(surviving) == 750

    # survivors' files must not be rewritten by the recovery
    survivor_dir = os.path.join(path, "__range=1")
    before = {
        f: os.stat(os.path.join(survivor_dir, f)).st_mtime_ns
        for f in os.listdir(survivor_dir)
        if f.endswith(".parquet")
    }

    recover_lost_ranges(
        spark, stage, {}, pipe_root, "id", boundaries, lost=[2]
    )
    after = {
        f: os.stat(os.path.join(survivor_dir, f)).st_mtime_ns
        for f in os.listdir(survivor_dir)
        if f.endswith(".parquet")
    }
    assert after == before
    recovered = sorted(
        (r["id"], r["doubled"]) for r in spark.read.parquet(path).collect()
    )
    assert recovered == expected


def test_recover_lost_ranges_leaves_session_conf(spark, pipe_root, monkeypatch):
    """Recovery asks for dynamic partition overwrite on its own writer:
    the session's partitionOverwriteMode is never written, and the
    recovered stage still keeps every surviving range."""
    from pyspark.sql.conf import RuntimeConfig

    from themis_tritonsort_spark.plans.pipeline import (
        Stage,
        recover_lost_ranges,
        run_ranged_stage,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    stage = Stage("ids", lambda s, _inp: s.range(400).select("id"))
    path = run_ranged_stage(spark, stage, {}, pipe_root, "id", [100, 200, 300])
    shutil.rmtree(os.path.join(path, "__range=1"))
    before = spark.conf.get(key)
    writes = []
    real_set = RuntimeConfig.set

    def spy_set(self, k, v):
        writes.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    recover_lost_ranges(
        spark, stage, {}, pipe_root, "id", [100, 200, 300], lost=[1]
    )
    monkeypatch.undo()
    assert key not in writes
    assert spark.conf.get(key) == before
    ids = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(400))


def test_lost_range_predicate_validates(spark):
    from themis_tritonsort_spark.plans.pipeline import lost_range_predicate

    with pytest.raises(ValueError):
        lost_range_predicate("id", [10, 20], [])
    with pytest.raises(ValueError):
        lost_range_predicate("id", [10, 20], [3])
