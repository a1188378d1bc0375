"""Streaming deduplication (beyond-reference: the batch dedup family in
operators/dedup.py, restated for unbounded input).

  dedup_exact_stream — drop records whose content hash was already seen
      within the watermark horizon (``dropDuplicatesWithinWatermark``):
      the state store holds one row per distinct hash and is purged as
      the watermark advances, so state is bounded by the horizon's
      distinct-count, not the stream's.  This is the streaming analog of
      operators.dedup.exact_duplicates — keep-first instead of
      group-and-report.

At 100 TB/day the same shape holds: state is hash-partitioned across
executors by the dedup key, exactly like the batch groupBy.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact_stream(
    events: DataFrame,
    content_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first occurrence of each distinct ``content_col`` value
    seen within the watermark horizon; drop later duplicates.

    Input must be a streaming DataFrame with an event-time column.  The
    dedup key is md5(content) so the state store carries a 32-char hash
    per distinct value instead of the payload.
    """
    hashed = events.withColumn("__h", F.md5(F.col(content_col).cast("string")))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def neardup_candidates_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates — dedup on
    INGEST.  Each arriving document's banded min-hash signature probes
    per-(band, band_sig) keyed state; every bucket that already holds
    members emits (id, prior_id, band) candidate rows, so a new
    document learns what it near-duplicates WITHOUT re-scanning the
    corpus.  The batch family (operators/dedup.py) answers "what
    duplicates exist in this corpus"; this answers "is this new doc a
    near-dup of anything ingested so far".

    Band keys are the batch's: ``operators.dedup.minhash_doc_bands``
    builds each document's (band, band_sig) rows in the JVM with the
    same min-hash family and band digest as ``minhash_band_buckets``,
    per ROW — a document is one row, so no corpus shuffle is needed to
    build its signature.  Documents with no shingle get no band rows
    and never become candidates, as in batch.

    State per bucket holds up to ``max_bucket`` member ids — the
    stream's hot-bucket guard.  Unlike the batch cap_hot_buckets, which
    drops a bucket over the cap, it keeps the bucket's first members: a
    degenerate bucket (identical boilerplate) emits at most
    max_bucket*(max_bucket-1)/2 pairs EVER and then goes dark (exact
    dedup owns that case; it is linear).
    State is keyed by (band, band_sig), hash-partitioned across
    executors like any keyed state.  Pairs may repeat across bands —
    consumers dedup downstream (the same contract as the batch
    candidate stage before its ``distinct()``).  With no bucket over
    the cap, the distinct unordered pairs equal the batch
    ``lsh_candidate_pairs(minhash_band_buckets(...))``.
    """
    from collections.abc import Iterator

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import minhash_doc_bands

    probes = minhash_doc_bands(docs, id_col, text_col, n, num_hashes, bands)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        members = list(state.get[0]) if state.exists else []
        band = key[0]
        ids, priors = [], []
        for pdf in pdfs:
            for doc in sorted(pdf["doc"]):  # deterministic within batch
                if len(members) >= max_bucket:
                    break
                for prior in members:
                    ids.append(doc)
                    priors.append(prior)
                members.append(doc)
        state.update((members,))
        yield pd.DataFrame(
            {"id": ids, "prior_id": priors, "band": [band] * len(ids)}
        )

    return probes.groupBy("band", "band_sig").applyInPandasWithState(
        fn,
        outputStructType="id long, prior_id long, band integer",
        stateStructType="members array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach (slowly-changing) dimension
    columns to a streaming fact.  Spark re-reads the static side per
    micro-batch, so dimension updates are picked up without restarting
    the query.  No broadcast hint: Catalyst broadcasts automatically
    below spark.sql.autoBroadcastJoinThreshold and falls back to a
    shuffle join for dimensions too large to ship — forcing the hint
    would OOM on a multi-GB dimension.
    """
    return events.join(dim, key, how)


def bloom_decontam_stream(
    events: DataFrame,
    content_col: str,
    words: list[int],
    m_bits: int,
    k: int = 3,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Flag (not drop) stream records whose content may already exist
    in a prior corpus snapshot — the ingest-time face of
    operators.dedup.bloom_hits_bitmap: the snapshot's m-bit Bloom
    bitmap is baked into the plan once and every micro-batch is tested
    purely map-side.  NO streaming state at all (the filter is frozen
    history, not stream-derived), so this composes freely before any
    stateful stage (e.g. dedup_exact_stream for within-stream dups).

    Same false-positive contract as the batch operator; rebuild the
    bitmap and restart the query when the snapshot advances.
    """
    from ..operators.dedup import bloom_hits_bitmap

    return bloom_hits_bitmap(events, content_col, words, m_bits, k, out_col)
