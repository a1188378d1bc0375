"""Approximate aggregates — the sketch-based scale path (beyond-
reference).

The exact forms exist as catalog queries (q26 exact distinct counts,
q42 exact per-group quantiles via percentile_disc); these are their
100 TB counterparts.  An exact distinct over a high-cardinality key
shuffles every distinct value; HyperLogLog++ merges fixed-size
(~kilobyte) registers instead, so the aggregate is one map-side pass +
a tiny combine regardless of cardinality.  Likewise percentile_approx
merges bounded GK/KLL-style summaries where percentile_disc must
materialize and sort each group.

All wrappers are thin on purpose: the sketches are Spark built-ins
(JVM-side, partial-aggregated by Catalyst); the operator layer just
fixes the output contract.  Error bounds are parameters, asserted in
tests against the exact operators on the same data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import md5_60
from ..functions.names import sql_column

# Deterministic-sketch hash discipline (shared with operators.dedup /
# operators.sampling): ``md5_60``, the 60-bit integer from the first 15
# hex chars of md5 — reproducible by any engine, so the sketches below are
# oracle-checkable BIT-EXACTLY, unlike the built-in HLL++/KLL wrappers
# above whose register layout is Spark-private.
_HASH_BITS = 60


def approx_distinct(
    df: DataFrame, group_cols: Sequence[str], value_col: str, rsd: float = 0.02
) -> DataFrame:
    """Per-group approximate distinct count (HyperLogLog++): relative
    standard deviation ``rsd`` trades sketch size for accuracy.
    Returns group cols + (approx_distinct long)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, rsd=rsd).alias("approx_distinct")
    )


def approx_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate quantiles: bounded-memory summaries with
    rank error <= 1/accuracy.  Returns group cols + (p array<double>,
    q array<double>) — q[i] is the p[i] quantile."""
    probs = list(probabilities)
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probs]), accuracy
        ).alias("q")
    ).withColumn("p", F.array(*[F.lit(p) for p in probs]))


def frequent_items(
    df: DataFrame, col: str, min_share: float = 0.01
) -> list:
    """Items whose frequency may exceed ``min_share`` of the rows
    (Spark's freqItems — one pass, bounded memory, may over-report but
    never misses a true heavy hitter).  Driver-side result by design:
    the answer is at most 1/min_share items, independent of data size."""
    if not 0.0 < min_share < 1.0:
        raise ValueError(f"min_share must be in (0, 1), got {min_share}")
    [row] = df.freqItems([col], support=min_share).collect()
    return sorted(row[f"{col}_freqItems"])


# --- deterministic HyperLogLog (engine-reproducible registers) --------
#
# The estimator is the classic Flajolet HLL: hash each value, split the
# hash into a register index (low p bits) and a tail, register :=
# max(position of the tail's highest set bit).  Everything is integer:
# the harmonic sum is kept as sum(2^(SCALE - reg)) with SCALE chosen so
# the total stays under 2^53 — exactly representable as a double in any
# engine — and the only float operation is ONE division by a
# precomputed literal.  The standard small-range (linear counting)
# correction applies when the raw estimate is under 2.5m and empty
# registers remain, but with a twist that keeps it engine-exact: the
# corrected value m*ln(m/V) depends only on the INTEGER count of empty
# registers V, so the whole correction is a Python-precomputed lookup
# table of micro-scaled longs — zero runtime float ops, no ln() whose
# last ulp could differ between engines.  The branch condition compares
# identically-derived doubles, so both engines take the same arm.
#
# Reference analog: AggregatingHashCounter's role (approximate
# frequency state under bounded memory); scale path for q26-style exact
# distincts — at 100 TB the exact form shuffles every distinct value,
# the HLL form shuffles m<=2^p longs per group.

_HLL_RHO_CAP = 40  # cap register values so 2^(SCALE-reg) stays integral
_HLL_SCALE = 40  # sum is scaled by 2^40; max total = m * 2^40 < 2^53


def hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant for m >= 128 registers."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_linear_counting_micro(m: int) -> list[int]:
    """Micro-scaled linear-counting estimates round(1e6 * m * ln(m/V))
    indexed by the empty-register count V = 1..m — the small-range
    correction as a pure integer table (see module comment)."""
    import math

    return [round(1e6 * m * math.log(m / v)) for v in range(1, m + 1)]


def hll_bucket_rho(value_col: str, p: int) -> tuple[F.Column, F.Column]:
    """The map-side half of the HLL sketch: (bucket, rho) columns for a
    value — register index from the hash's low p bits, leading-one
    position of the remaining tail (capped).  Shared by the batch and
    streaming register builders so both maintain the identical state.
    """
    if not 7 <= p <= 14:
        raise ValueError(f"p must be in [7, 14], got {p}")
    m = 1 << p
    tail_bits = _HASH_BITS - p
    h = md5_60(F.col(value_col).cast("string"))
    w = F.shiftright(h, p)  # hash tail — bit shift, never float division
    # leading-one position within tail_bits (1-based); w == 0 -> cap
    rho = F.when(
        w > 0, F.lit(tail_bits + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(tail_bits + 1))
    return (h % m), F.least(rho, F.lit(_HLL_RHO_CAP)).cast("int")


def hll_registers(
    df: DataFrame, group_cols: Sequence[str], value_col: str, p: int = 9
) -> DataFrame:
    """Per-group HLL register relation: group cols + (bucket long,
    reg int) with ``bucket = md5_60(value) mod 2^p`` and ``reg`` the
    max over the group's values of the tail's leading-one position
    (capped at ``_HLL_RHO_CAP``).  One partial-aggregated shuffle of at
    most 2^p rows per group — the sketch IS the aggregation state, so
    merging scale-out partitions is the same max().
    """
    bucket, rho = hll_bucket_rho(value_col, p)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("__rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: Sequence[str], p: int = 9
) -> DataFrame:
    """Collapse a register relation to the raw HLL estimate per group:
    group cols + (n_registers long, hll_estimate_micro long).  The
    harmonic mean is assembled in exact integer arithmetic (absent
    registers contribute 2^SCALE each); the single float division uses
    a Python-precomputed literal so Spark and any oracle engine round
    the identical doubles.
    """
    m = 1 << p
    numer = hll_alpha(m) * float(m) * float(m) * float(1 << _HLL_SCALE)
    lc = hll_linear_counting_micro(m)
    # python shiftleft() wants a literal bit count; the SQL form takes
    # the per-row register value
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - reg)")
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sum(term).alias("__present"),
    )
    v_empty = F.lit(m) - F.col("n_registers")
    total = (
        F.col("__present") + v_empty * F.lit(1 << _HLL_SCALE)
    ).cast("double")
    raw = F.lit(numer) / total
    corrected = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in lc]), v_empty.cast("int")
    )
    est_micro = F.when(
        (v_empty > 0) & (raw <= F.lit(2.5 * m)), corrected
    ).otherwise(F.round(raw * F.lit(1_000_000.0)).cast("long"))
    return agg.select(
        *group_cols,
        "n_registers",
        est_micro.alias("hll_estimate_micro"),
    )


# --- deterministic count-min sketch ----------------------------------


def cms_row_bucket(item_col: str, width: int) -> F.Column:
    """Map-side bucket for a (item, row) pair — the shared derivation
    that keeps batch and streaming sketches bit-identical.  Expects a
    ``row`` column (the depth index) in scope."""
    return (
        md5_60(F.concat_ws(":", F.col(item_col), F.col("row").cast("string")))
        % width
    )


def cms_sketch(
    df: DataFrame,
    item_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch as a relation: (row int, bucket long,
    total long) — ``depth`` independent md5 hash rows of ``width``
    buckets, each summing the weights of items landing in it.

    Scale: the input explodes by ``depth`` map-side, but Catalyst's
    partial aggregation collapses it to at most depth*width rows per
    partition before the (tiny) shuffle — the sketch relation is
    O(depth*width) regardless of input size, which is the whole point:
    a heavy-hitter query over 100 TB shuffles kilobytes.
    """
    if depth <= 0 or width <= 0:
        raise ValueError(f"depth/width must be positive, got {depth}/{width}")
    wcol = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    bucket = cms_row_bucket(item_col, width).alias("bucket")
    return (
        df.select(F.col(item_col), wcol.alias("__w"), rows)
        .select("row", bucket, "__w")
        .groupBy("row", "bucket")
        .agg(F.sum("__w").alias("total"))
    )


def cms_lookup(
    sketch: DataFrame, items: DataFrame, item_col: str, width: int = 256
) -> DataFrame:
    """Point-estimate each item against a sketch relation: item cols +
    (cms_estimate long) = min over the depth rows of the item's bucket
    total.  The sketch is depth*width rows, so it BROADCASTS; the items
    relation is never shuffled — at scale this is a map-side join plus
    a per-item min over ``depth`` matched rows.
    """
    depth_rows = sketch.select("row").distinct()
    probes = items.crossJoin(F.broadcast(depth_rows)).withColumn(
        "bucket",
        cms_row_bucket(item_col, width),
    )
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("total"), F.lit(0))).cast("long").alias(
            "cms_estimate"
        )
    )


def histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: int,
    n_bins: int,
    percents: list[int] = (50, 95, 99),
) -> DataFrame:
    """Mergeable histogram quantile sketch — the O(bins) scale answer
    to exact per-group quantiles (q42's percentile_disc sorts each
    group; this shuffles at most ``n_bins`` counter rows per group no
    matter the cardinality, and two sketches merge by adding
    counters).  Returns group cols + (n, p{p}_ub ...) where each
    estimate is the UPPER BOUND of the first bin whose cumulative
    count reaches ceil(p% of n) — a deterministic integer, so the
    sketch reproduces exactly on any engine (no interpolation, no
    floats anywhere).

    ``value_col`` must be integral and non-negative; NULL values are
    dropped before binning (they carry no rank information and their
    sort position differs across engines).  Values at or beyond
    ``bin_width * n_bins`` clamp into the last (overflow) bin, whose
    upper bound is reported as bin_width * n_bins (the sketch's
    saturation value — widen the bins if the tail matters).

    Plan: one (group, bin) partial-aggregated count, a bin-ordered
    window cumsum WITHIN each group (bin-sized, never row-sized), and
    a conditional-min final aggregate; the bin index and thresholds
    use pure integer arithmetic (``div``) end to end, so the sketch is
    exact at any count (double division would round above ~2^53).
    """
    from pyspark.sql import Window

    if bin_width <= 0 or n_bins <= 1:
        raise ValueError(f"need bin_width > 0, n_bins > 1; got {bin_width}/{n_bins}")
    bin_ = F.least(
        F.expr(f"cast({sql_column(value_col)} as bigint) div {int(bin_width)}"),
        F.lit(n_bins - 1).cast("long"),
    )
    counts = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bin_.alias("__bin"))
        .groupBy(*group_cols, "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(*group_cols).orderBy("__bin")
    cum = counts.withColumn(
        "__cum", F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("__n", F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    aggs = [F.max("__n").cast("long").alias("n")]
    for p in percents:
        thresh = F.expr(f"(__n * {int(p)} + 99) div 100")
        aggs.append(
            F.min(
                F.when(
                    F.col("__cum") >= thresh,
                    (F.col("__bin") + 1) * bin_width,
                )
            )
            .cast("long")
            .alias(f"p{p}_ub")
        )
    return cum.groupBy(*group_cols).agg(*aggs)
