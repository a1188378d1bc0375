"""Testdata table loading (see /root/repo/TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table per scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Columns stored as parquet TIMESTAMP(NANOS).  Spark (with
# spark.sql.legacy.parquet.nanosAsLong) reads them as long nanos; we
# convert to TimestampType by integer-dividing to micros — exactly the
# truncation DuckDB applies when it reads the same files as TIMESTAMP.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make an externally-created SparkSession (the driver's) behave like
    ours for the two confs correctness depends on (round-1 driver
    sessions choked on TIMESTAMP(NANOS) parquet without nanosAsLong).

    Both settings are SESSION-GLOBAL: they persist for the caller's
    session and affect its unrelated queries.  A conf is only touched
    when its current value differs; overriding a non-default caller
    value or failing to set (e.g. Spark Connect restrictions) emits a
    warning instead of passing silently — table() re-checks the
    timezone before any conversion that depends on it and raises
    there, so a failed set cannot silently shift timestamps."""
    import warnings

    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            cur = spark.conf.get(key, None)
        except Exception:
            cur = None
        if cur == val:
            continue
        try:
            spark.conf.set(key, val)
            if cur is not None:
                warnings.warn(
                    f"themis_tritonsort_spark overrode session conf {key}: "
                    f"{cur!r} -> {val!r} (session-wide; required for "
                    f"oracle-exact testdata reads)",
                    stacklevel=3,
                )
        except Exception as exc:
            warnings.warn(
                f"could not set session conf {key}={val!r}: {exc}",
                stacklevel=3,
            )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (columnar parquet scan —
    column pruning and predicate pushdown apply downstream).

    Side effect: pins ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` on the session (see
    _ensure_session_confs) — both are required to read the
    TIMESTAMP(NANOS) testdata identically to the DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLS.get(name, ()):
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # NTZ -> LTZ reinterprets wall-clock in the SESSION timezone;
            # the stored values are UTC instants, so this cast is only
            # correct under UTC.  If the UTC set above failed (locked
            # session), fail loudly rather than silently shift data.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"session timeZone is {tz!r}, not UTC, and it could "
                    f"not be set; reading NTZ timestamp column "
                    f"{name}.{c} would shift instants by the zone offset"
                )
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
