"""Streaming admission control for training-data ingest (the streaming
face of operators/sampling.py: token_budget_sample): admit documents
per group (source/domain) until a hard token budget is consumed, then
go dark for that group.

State per group is two longs (tokens consumed, docs admitted) — the
filter itself is history, so state never grows with the stream; keyed
state hash-partitions across executors like any groupBy.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.loop import advisory_bytes


def token_budget_stream(
    docs: DataFrame,
    id_col: str,
    text_col: str | None,
    group_col: str,
    budget_tokens: int,
    n_col: str | None = None,
) -> DataFrame:
    """Admit each group's documents in arrival order while the tokens
    consumed SO FAR are under ``budget_tokens`` (the admitted doc may
    overflow the budget; nothing after it is admitted — the same
    last-doc rule as the batch operator).  Within a micro-batch, rows
    are processed in ascending id order so replays are deterministic.

    Returns admitted rows only: (group, id, n_tokens, cum_tokens).
    Unlike the batch operator there is no hash re-ordering — a stream
    has an arrival order and the budget is first-come-first-served;
    re-balancing an already-collected corpus is the batch operator's
    job.

    ``n_col``: a precomputed per-row token count; when given,
    ``text_col`` is ignored and the count column is used directly
    (the replay harness pre-tokenizes so only metadata rides the
    stream — see token_budget_replay).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    from pyspark.sql.streaming.state import GroupStateTimeout

    n_expr = (
        F.col(n_col).cast("long")
        if n_col is not None
        else F.size(
            F.regexp_extract_all(F.col(text_col), F.lit("[^ ]+"), 0)
        ).cast("long")
    )
    staged = docs.select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("__id"),
        n_expr.alias("__n"),
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        import numpy as np

        consumed, admitted = state.get if state.exists else (0, 0)
        # Concatenate the group's batch before sorting: Arrow hands the
        # group over as multiple chunks and a per-chunk sort would not
        # give the documented ascending-id admission order.  The concat
        # is bounded by one group's single micro-batch.
        frames = list(pdfs)
        batch = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=["__id", "__n"])
        )
        # Vectorized admission (r11, guide §4.2: whole-batch numpy
        # instead of a per-row Python loop).  A row is admitted iff the
        # tokens consumed BEFORE it (cum - n) are under budget; n >= 0
        # makes that prefix-monotone, so the admitted set is exactly
        # the first k rows — identical to the sequential
        # check-then-consume loop this replaces.
        order = np.argsort(batch["__id"].to_numpy(), kind="stable")
        ids = batch["__id"].to_numpy()[order].astype("int64")
        ns = batch["__n"].to_numpy()[order].astype("int64")
        cum = consumed + np.cumsum(ns)
        k = int(((cum - ns) < budget_tokens).sum())
        if k:
            consumed = int(cum[k - 1])
            admitted += k
        state.update((consumed, admitted))
        yield pd.DataFrame(
            {
                "group": [key[0]] * k,
                "id": ids[:k],
                "n_tokens": ns[:k],
                "cum_tokens": cum[:k],
            }
        )

    return staged.groupBy("group").applyInPandasWithState(
        fn,
        outputStructType="group string, id long, n_tokens long, cum_tokens long",
        stateStructType="consumed long, admitted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def token_budget_replay(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    budget_tokens: int,
    n_batches: int = 4,
) -> DataFrame:
    """Deterministically replay a STATIC corpus through
    ``token_budget_stream`` and return the materialized admissions —
    the harness that lets a streaming operator carry a batch oracle.

    The corpus is split into ``n_batches`` contiguous id-range parquet
    files (range partition k holds lower ids than k+1) whose mtimes
    are set to an ascending ladder; the file source replays them
    oldest-first one per micro-batch (``maxFilesPerTrigger=1``), so
    arrival order == ascending id order and the admissions equal a
    per-group running token sum over id order — exactly what an ANSI
    window oracle computes.  Cross-batch budget carry (the state
    tuple) is genuinely exercised: admissions in batch k+1 resume from
    batch k's consumed total.

    Returns a batch DataFrame (group, id, n_tokens, cum_tokens) of the
    memory sink's rows after the availableNow run terminates, bound to
    the caller's ``spark``; the sink's temp view is dropped before
    returning.
    """
    # Pre-tokenize BEFORE the replay write (guide §2.3/§8: move
    # metadata, not payloads): the stream's only consumers are the
    # admission counts, so the staged files carry (group, id, n) — a
    # few bytes/row — instead of the full text.  The count expression
    # is byte-identical to token_budget_stream's own tokenizer, just
    # evaluated during staging; admissions are unchanged.
    staged = docs.select(
        F.col(group_col).cast("string").alias("group"),
        F.col(id_col).cast("long").alias("id"),
        F.size(
            F.regexp_extract_all(F.col(text_col).cast("string"),
                                 F.lit("[^ ]+"), 0)
        ).cast("long").alias("n"),
    )
    root = tempfile.mkdtemp(prefix="budget_replay_")
    src = os.path.join(root, "src")
    name = "budget_replay_" + uuid.uuid4().hex
    try:
        (
            staged.repartitionByRange(n_batches, "id")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .parquet(src)
        )
        parts = sorted(
            f for f in os.listdir(src)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        base = 1_600_000_000  # any fixed epoch; only the ordering matters
        for i, f in enumerate(parts):
            os.utime(os.path.join(src, f), (base + i, base + i))
        # State-store partition count, derived from the STAGED bytes the
        # same way AQE sizes post-shuffle partitions (advisory bytes per
        # partition) — r12, guide §2.2.  A stateful streaming op pins
        # spark.sql.shuffle.partitions as its state-store count at query
        # start and gets NO AQE coalescing, so the session-wide setting
        # fans this replay into dozens of near-empty state-store tasks
        # (open + commit + a Python worker round trip each) per
        # micro-batch: measured 6-7 s -> ~3 s at sf0.1 (32 -> size-derived
        # partitions; admitted rows hash-identical).  The staged volume is
        # known exactly at this point (the files were just written), so
        # the derivation is scale-adaptive by construction: a 100 TB
        # replay's bytes / advisory size asks for thousands of
        # partitions, capped by the session setting.
        staged_bytes = sum(
            os.path.getsize(os.path.join(src, f)) for f in parts
        )
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_state = max(1, min(cap, -(-staged_bytes // advisory_bytes(spark))))
        # The replay runs on its own session, so the state-store count
        # is set there and the caller's conf is never written.  Sessions
        # share the SparkContext, and the staged input is read by path.
        replay = spark.newSession()
        replay.conf.set("spark.sql.shuffle.partitions", str(n_state))
        stream = (
            replay.readStream.schema("group string, id long, n long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = token_budget_stream(
            stream, "id", None, "group", budget_tokens, n_col="n"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
        if not finished:
            replay.catalog.dropTempView(name)
            raise TimeoutError(
                f"token budget replay {name} did not finish in 300 s"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # The sink's rows are already in the driver's JVM; rebuilt there in
    # the caller's session (a LocalRelation, no Python round trip),
    # anything built on them runs under the caller's conf.
    sink = replay.table(name)._jdf
    out = DataFrame(
        spark._jsparkSession.createDataFrame(
            sink.collectAsList(), sink.schema()
        ),
        spark,
    )
    replay.catalog.dropTempView(name)
    return out
