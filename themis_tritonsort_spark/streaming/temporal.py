"""Streaming temporal smoothing — the stateful twin of
operators.temporal.ewma_halving.

The recursion s_i = (x_i + s_{i-1}) / 2 needs exactly ONE double of
state per key (the previous smoothed value), which is what makes it a
natural streaming operator: each micro-batch folds its new events in
time order on top of the carried state and emits one smoothed row per
event.  Because halving is exact binary scaling, the stream output is
bit-identical to the batch operator over the same in-order rows —
pinned by test.

Same in-order-delivery caveat as the other order-sensitive stateful
operators (anchor sessions, funnel): each micro-batch is sorted, but a
cross-batch straggler older than the carried state cannot be
retroactively folded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    value_col: str = "value_cents",
):
    """Per-key halving EWMA over a stream: emits (key, id, ts,
    ewma_micro) for every event, maintaining one double of state per
    key via applyInPandasWithState."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _round_half_up(v: float) -> int:
        # match Spark's ROUND (HALF_UP, away from zero) — Python's
        # built-in round() is banker's and would differ on exact .5
        # ties, which dyadic EWMA values genuinely produce
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    out_schema = (
        f"{key_col} long, {id_col} long, {ts_col} long, ewma_micro long"
    )
    state_schema = "s double"

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        s = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for ts, eid, x in zip(pdf[ts_col], pdf[id_col], pdf[value_col]):
                x = float(int(x))
                s = x if s is None else (x + s) / 2.0
                rows.append(
                    (k, int(eid), int(ts), _round_half_up(s * 1_000_000.0))
                )
        if s is not None:
            state.update((s,))
        yield pd.DataFrame(
            rows, columns=[key_col, id_col, ts_col, "ewma_micro"]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def activity_delta_stream(
    events: DataFrame,
    ts_col: str = "ts",
    horizon: str = "1 hour",
    window: str = "15 minutes",
    watermark: str = "3 hours",
) -> DataFrame:
    """Streaming concurrency gauge, the mergeable-state half: every
    event is "active" for ``horizon`` after its timestamp, so it
    contributes +1 to its own window and -1 to the window containing
    ts + horizon (a stateless map-side explode — no per-key state at
    all); the windowed SUM of deltas is mergeable, so late
    micro-batches fold in exactly.  (window_start, window_end,
    net_delta.)

    The open-activity gauge itself is the running cumsum of net_delta
    over window_start — a non-mergeable finalization done batch-side
    on the sink (``operators.sort.with_global_prefix_sum`` over the
    window-sized relation), the same register/finalize split as the
    streaming HLL and CMS sketches.  NOTE the semantic difference from
    the batch sweep (operators.temporal.concurrency_sweep): that
    measures per-KEY activity spans; this measures per-EVENT activity
    horizons — the watermark-friendly formulation, since a key's
    lifetime span is unbounded state but an event's horizon is fixed.
    ``watermark`` must exceed ``horizon`` + expected lateness so the
    -1 deltas (which land ``horizon`` in the future) stay inside the
    state window.
    """
    from pyspark.sql import functions as F

    deltas = events.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(ts_col).alias("__dts"), F.lit(1).alias("__d")
                ),
                F.struct(
                    (
                        F.col(ts_col) + F.expr(f"INTERVAL {horizon}")
                    ).alias("__dts"),
                    F.lit(-1).alias("__d"),
                ),
            )
        ).alias("__b")
    ).select("__b.*")
    return (
        deltas.withWatermark("__dts", watermark)
        .groupBy(F.window(F.col("__dts"), window))
        .agg(F.sum("__d").alias("net_delta"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col("net_delta").cast("long"),
        )
    )


def transition_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    type_col: str = "event_type",
):
    """Streaming twin of q114's Markov substrate: emits one immutable
    (key, from_type, to_type, ts) fact per observed transition,
    carrying ONE string of state per key (the last event type).  The
    downstream (from, to) count/probability aggregate is mergeable, so
    any sink consumer reproduces the batch transition matrix over the
    same in-order rows.  Same in-order caveat as the other
    order-sensitive stateful operators."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} long, from_type string, to_type string, {ts_col} long"
    )
    state_schema = "last_type string"

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        last = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for ts, et in zip(pdf[ts_col], pdf[type_col]):
                if last is not None:
                    rows.append((k, last, et, int(ts)))
                last = et
        if last is not None:
            state.update((last,))
        yield pd.DataFrame(
            rows, columns=[key_col, "from_type", "to_type", ts_col]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
