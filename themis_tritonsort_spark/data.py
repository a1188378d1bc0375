"""Testdata table loading (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table per scale-factor dir.

Each parquet path's schema is inferred once per process and read with
``.schema(...)`` after that (:func:`_read_parquet`).  Spark's parquet
schema inference always runs one job (``mergeSchemasInParallel``),
even to re-read a footer this process has already read; a read with
the schema given launches none.  The memo holds one entry per absolute
path, ``(identity, schema)``, and a stale identity replaces it.  The
identity is every regular file under the path as (relpath, mtime_ns,
size, inode), so a rewrite of a file or of any part of a Spark-written
directory is seen, plus the session's parquet read confs (every
``spark.conf`` key containing ``parquet``, e.g. ``nanosAsLong`` and
``binaryAsString``), which change the schema a read infers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


# abspath -> (identity, inferred StructType); one entry per path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _identity(spark: SparkSession, path: str) -> tuple | None:
    """What a parquet path's inferred schema depends on: its files'
    (relpath, st_mtime_ns, st_size, st_ino), sorted, and the session's
    confs whose key contains ``parquet``, sorted.  None when the path is
    not a local file or directory (a remote URI is read uncached)."""
    if os.path.isfile(path):
        files = [(".", os.stat(path))]
    elif os.path.isdir(path):
        files = [
            (os.path.relpath(full, path), os.stat(full))
            for root, _, names in os.walk(path)
            for full in (os.path.join(root, n) for n in names)
            if os.path.isfile(full)
        ]
    else:
        return None
    stamps = tuple(
        sorted((rel, st.st_mtime_ns, st.st_size, st.st_ino) for rel, st in files)
    )
    # Every conf in one py4j call, as "key -> value" strings.
    # (spark.conf.getAll fetches each entry with its own round trip:
    # 17 ms for 34 confs, against 0.2 ms for this whole function.)
    entries = spark.conf._jconf.getAll().mkString("\0").split("\0")
    confs = tuple(sorted(e for e in entries if "parquet" in e.split(" -> ")[0]))
    return stamps, confs


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred at most
    once per (path, identity) in this process (see the module
    docstring): the first read infers it, and later reads of an
    unchanged path under the same parquet confs pass it to
    ``.schema(...)`` and launch no job.  The identity is taken before
    the inferring read, so a rewrite racing that read leaves an older
    identity beside the new schema, and the next read infers again."""
    key = os.path.abspath(path)
    ident = _identity(spark, key)
    if ident is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (ident, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (columnar parquet scan —
    column pruning and predicate pushdown apply downstream).

    The file's schema is inferred once per process and passed to the
    read after that, so a repeat read launches no Spark job; a rewrite
    of the file or a change of the session's parquet confs infers again
    (:func:`_read_parquet`).

    Side effect: pins ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` on the session (see
    _ensure_session_confs) — both are required to read the
    TIMESTAMP(NANOS) testdata identically to the DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    _ensure_session_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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
