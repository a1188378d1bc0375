"""GraySort 100-byte record source/sink + valsort-style validation.

Reference formats:
  - gensort record: 10-byte key + 90-byte payload, no headers
    (``src/gensort/gensort.c:60-80``; reader config
    ``FixedSizeKVPairFormatReader.cc:11-60``,
    ``job_spec_generators/graysort.py:17-27``).
  - sort order: unsigned lexicographic byte comparison
    (``src/tritonsort/core/Comparison.h:15-30``) — exactly Spark's
    BinaryType ordering.
  - validation: valsort checks global order + record checksums
    (``src/gensort/valsort.c``, ``scripts/valsort/validate.py:37-53``).

Spark-first: the read side never leaves the JVM.  ``read_gensort`` is
Hadoop's fixed-length record scan (``FixedLengthBinaryInputFormat``,
splittable, so one file is read by several tasks) wrapped as a
``Dataset[Array[Byte]]`` and split into key/value with ``substring``;
neither the sampling job nor the map stage starts a Python worker.  The
sort is plain ``df.sort(key)`` (RangePartitioner = phase 0, shuffle =
phase 1, Tungsten external sort = phases 2/3).  The writer receives
each record as ONE pre-joined ``bytes`` object (``concat(key, value)``
crossing as raw framed bytes, no pickled Row) and concatenates them per
partition, so output files are byte-identical to what the reference's
headerless writer produces (``main.cc:1313-1326`` WRITE_WITHOUT_HEADERS).
"""

from __future__ import annotations

import glob
import os
import zlib

from pyspark import RDD
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RECORD_LEN = 100
KEY_LEN = 10

# ---------------------------------------------------------------------------
# Bit-exact port of the PUBLIC gensort 1.5 generator (BSD; Chris Nyberg /
# Ordinal Technology).  Behavior spec: ``src/gensort/gensort.c`` (record
# assembly, gen_rec/gen_skewed_rec) + ``src/gensort/rand16.c`` (128-bit
# LCG with skip-ahead).  The reference's published valsort checksums
# (BASELINE.md; scripts/valsort/validate.py:37-53) are sums over records
# of zlib crc32, mod 2**128 — reproducing them requires byte-identical
# records, which requires this exact LCG and XOR-constant layout.
#
# The LCG: X' = (A*X + C) mod 2**128, seed 0.  Record n is assembled
# from the 10 consecutive LCG values v_{n+1}..v_{n+10}: the key is the
# top 10 bytes of v_{n+1}; payload 10-byte part j is the top 10 bytes
# of v_{n+1+j} XOR a per-part constant.  skip_ahead composes the affine
# map in closed form, so any record range generates independently —
# exactly what a distributed mapPartitions needs.
# ---------------------------------------------------------------------------

_GENSORT_A = 0x2360ED051FC65DA44385DF649FCCF645
_GENSORT_C = 0x4A696D47726179524950202020202001
_GENSORT_MASK = (1 << 128) - 1

# Per-part XOR constants from gen_rec (gensort.c), pre-shifted to the
# top-10-byte (80-bit) lane: (hi8 << 16) | (lo8 >> 48).
_GENSORT_XOR10 = (
    0,
    (0xF0E8E4E2E1D8D4D2 << 16) | 0xD1CC,
    (0xCAC9C6C5C3B8B4B2 << 16) | 0xB1AC,
    (0xAAA9A6A5A39C9A99 << 16) | 0x9695,
    (0x938E8D8B87787472 << 16) | 0x716C,
    (0x6A696665635C5A59 << 16) | 0x5655,
    (0x534E4D4B473C3A39 << 16) | 0x3635,
    (0x332E2D2B271E1D1B << 16) | 0x170F,
    (0xC8C4C2C198949291 << 16) | 0x8CE0,
    (0x170F332E2D2B271E << 16) | 0x1D1B,
)
# The same ten constants as one 800-bit mask over a whole record.
_GENSORT_XOR800 = int.from_bytes(
    b"".join(x.to_bytes(10, "big") for x in _GENSORT_XOR10), "big"
)

# Skew_binary[129][6] from gensort.c: candidate high-order key bytes for
# the Daytona skewed-data mode, indexed by ~log2(record_number).
_SKEW_BYTES = (
    b"\x4a\x69\x6d\x47\x72\x61", b"\x95\xe0\xe4\x82\x62\xb3", b"\x45\x97\x93\x53\xdb\xed",
    b"\x88\x2a\x02\xc3\x15\x36", b"\x5c\x90\xab\x38\xae\x52", b"\x72\xdc\x0c\xa5\x1e\x33",
    b"\x10\x43\x1a\xf6\xa0\xd8", b"\x5e\xfc\x4a\xbf\xac\xa2", b"\x44\xf7\x8c\x8b\x40\xbf",
    b"\x84\xc0\x99\x2f\x3b\x94", b"\xb3\xe9\x68\x9d\xe1\x6b", b"\xf8\xf6\x42\x63\xfd\x0b",
    b"\xda\x7a\x45\xa1\x82\xde", b"\x9b\x6b\x48\x25\xe2\x51", b"\xdc\x68\x2a\x00\x64\x7e",
    b"\xf2\x5b\xd1\x54\x39\xd1", b"\xf2\xfa\x42\xed\x18\x72", b"\x6a\x59\x45\x1b\xe8\xd0",
    b"\x27\x29\xb9\x77\x14\x71", b"\x87\x9b\x2f\xb7\xbb\x35", b"\x68\xd0\xcc\x3c\x19\x99",
    b"\x27\xd8\x08\x79\xd7\x9e", b"\xb0\x79\x50\x11\xb7\x82", b"\x46\x4f\xb8\x4a\xb8\x48",
    b"\x21\xf0\x3e\xe8\xac\x41", b"\xe7\x96\x1c\x0d\x82\x7f", b"\x84\xd9\x04\x45\x7a\x61",
    b"\x53\x59\xd3\x5d\xa8\x84", b"\x4e\x38\x54\x66\x52\x5c", b"\x87\x0f\xa6\x45\x90\x11",
    b"\xff\x00\x46\x3a\xdf\xc8", b"\x89\xca\x67\xc2\x9c\x93", b"\x75\x50\x90\xc0\x17\x7d",
    b"\xeb\x4d\x81\xa5\xc9\xea", b"\x8a\x85\x68\xb3\x08\x6f", b"\x5d\xa6\x9a\x3d\x86\x67",
    b"\x6a\x97\x43\x59\xea\xab", b"\x63\xb6\x04\x4b\x8e\x78", b"\x33\x41\x49\x12\xcb\x67",
    b"\x22\x6d\xf2\xb7\x9c\x9b", b"\x1e\x58\x39\x6c\x59\x9a", b"\x4d\x67\x60\x91\xdc\xfe",
    b"\xc9\x8f\x25\x9b\x15\x0d", b"\xa8\x27\xdc\x9a\xff\x7e", b"\x06\x96\xc9\xa1\xba\x3b",
    b"\x6d\x16\xe3\x38\xd7\x77", b"\xac\x35\xa4\x3b\xa6\x62", b"\x7e\xe1\xe4\x00\x71\x63",
    b"\xa1\x6b\x6f\xa9\xf1\xea", b"\x2c\xb7\xa1\xbb\x93\x62", b"\x2f\x4b\x08\x26\x7c\xe7",
    b"\x86\xd1\x92\xc5\x41\x84", b"\xf6\xe4\x14\x3f\xde\xaa", b"\x45\x83\x69\xe8\x3c\xb9",
    b"\x6c\x15\xf7\x0f\x81\x76", b"\xc0\xb4\x87\x02\x6b\x7f", b"\xae\x90\x31\xf8\x7d\x14",
    b"\x6b\x25\xdc\x59\xe0\x9e", b"\x88\x38\x23\x62\x42\x4b", b"\xaf\xb9\x6f\x95\xd3\x2b",
    b"\xc1\xd4\xfc\xf5\x77\xdb", b"\xc6\x8d\x66\xd1\x84\x53", b"\x74\xfe\x19\xdc\x52\x68",
    b"\x8b\x6a\xe0\x36\x71\x3b", b"\x33\xd5\xb5\xb1\x5c\x70", b"\x5e\x46\xf5\x43\x2f\x2c",
    b"\x26\x55\x46\x25\xdd\x68", b"\xf6\xed\xf4\xe3\xba\xfd", b"\xcf\x9f\xb7\x8a\xa3\xca",
    b"\x08\x14\x09\x8c\x2d\x9a", b"\xea\x1c\xfc\x70\xfb\x3f", b"\x68\xed\xe8\x28\xd4\xc5",
    b"\x86\x67\xc9\xb9\xbb\x8c", b"\xe7\xaf\xa5\x12\x6f\x3d", b"\xd0\x01\x02\xa1\xc5\x10",
    b"\xf9\x54\x9b\x14\x3a\x9e", b"\xda\x0f\x75\x54\xe7\x9e", b"\xca\x16\xea\x9b\x71\xf0",
    b"\xf9\x5a\x03\x5a\x6b\xe8", b"\xf3\xf0\x37\x8f\x70\x43", b"\xbb\x4d\x8a\x4f\xd7\x6c",
    b"\xc9\x4a\x04\x75\x3d\xfc", b"\x30\x9a\x89\x71\x88\x29", b"\xdd\xa5\x70\x75\xdf\x7a",
    b"\xa6\x61\xcd\xc3\x16\x22", b"\xc5\x96\x93\x15\x25\x8c", b"\x3a\x16\x93\xac\x95\x3b",
    b"\xe9\x0e\x58\x7d\xf6\x9f", b"\x8f\xc9\x47\x45\xb2\xfd", b"\xa7\x6f\xd6\xfc\x71\x78",
    b"\x4c\x67\x4c\xe2\x3a\x86", b"\xf0\x05\xc4\x06\x15\x58", b"\x2a\x90\xa6\x7e\x8c\x6c",
    b"\x5a\xdc\xee\x8c\xa7\x09", b"\xff\x81\xed\x50\xd5\x78", b"\xed\x44\x53\x6c\x44\x16",
    b"\x64\x8e\x48\x56\x64\x1a", b"\xa4\x47\x3f\x64\xf9\xd0", b"\x6e\x45\xfb\x3d\x1c\x2c",
    b"\x3c\xb4\x46\xe3\x07\x0c", b"\x0a\x25\xa9\x9a\xf4\x39", b"\x2c\xb5\xa1\xdc\xef\x47",
    b"\x0e\x4d\x9c\xd4\x57\xae", b"\x3b\x86\x6f\x4a\x1a\xef", b"\x3e\x98\xbe\xe5\xfd\xf5",
    b"\x99\x9a\x6d\x40\xa4\x3f", b"\xf7\xe8\xb4\x8b\xaa\xf9", b"\xef\xe5\x08\x20\x54\x1e",
    b"\xf7\xd1\x98\x23\x53\x67", b"\x21\xa5\x8b\xdd\x20\x20", b"\xed\x59\xb7\x23\xb1\x6e",
    b"\x20\xd1\xef\x94\x2f\x79", b"\x8f\x23\x46\xa3\x2a\xf7", b"\xb0\x98\x61\xcc\x8b\x8a",
    b"\xb5\xe2\x63\x33\x3a\x0d", b"\x63\xc1\xb7\xe7\x2b\x41", b"\xaf\x90\x85\x9b\x1c\xa9",
    b"\x9a\x52\x5e\x2f\x33\xbf", b"\xc2\x83\xea\x63\xf3\x00", b"\x02\x0d\xe5\x60\x00\xf6",
    b"\x55\xcf\xe9\xd4\x3d\x64", b"\xb5\xd7\x69\x82\x36\x39", b"\xe6\x29\xca\xb5\x3c\xa1",
    b"\x9c\xbf\xeb\x07\x9d\xde", b"\xa0\xba\x1e\xd1\xea\x79", b"\x0b\xe5\x49\xa5\x12\xd3",
    b"\x78\x70\xde\x1f\xc5\x61", b"\x98\xa2\x54\x2f\xd2\x3d", b"\xe1\xdc\x46\xb6\x45\xc4",
)


def _lcg_skip(n: int) -> int:
    """f^n(0) for the gensort LCG, by affine-map exponentiation
    (rand16.c skip_ahead_rand computes the same composition from a
    precomputed power table; powers of one affine map commute, so the
    closed form is identical)."""
    a, c = _GENSORT_A, _GENSORT_C
    ra, rc = 1, 0
    while n:
        if n & 1:
            ra = (a * ra) & _GENSORT_MASK
            rc = (a * rc + c) & _GENSORT_MASK
        c = (a * c + c) & _GENSORT_MASK
        a = (a * a) & _GENSORT_MASK
        n >>= 1
    return rc


def _skew_index(n: int) -> int:
    """gensort get_skew_index: ~log2(record number), with the reference's
    exact top-nibble caps (any of the top 4 bits of a 64-bit half set
    pins the index to that half's max)."""
    if n == 0:
        return 0
    lo = n & ((1 << 64) - 1)
    hi = n >> 64
    if hi == 0:
        if lo & 0xF000000000000000:
            return 64
        return lo.bit_length()
    if hi & 0xF000000000000000:
        return 128
    return 64 + hi.bit_length()


def _gensort_stream(start: int, count: int, skewed: bool = False):
    """Yield ``count`` byte-exact 100-byte gensort records starting at
    record number ``start``.  O(log start) seek + O(1) amortized LCG
    work per record.  The reference's 10-deep rand_queue is one 800-bit
    integer ``w`` holding the top 80 bits of the last ten LCG values
    (oldest highest), so a record is one XOR and one ``to_bytes``."""
    a, c, mask = _GENSORT_A, _GENSORT_C, _GENSORT_MASK
    xor800, keep720, keep54 = _GENSORT_XOR800, (1 << 720) - 1, (1 << 54) - 1
    v = _lcg_skip(start)
    w = sk = 0
    for _ in range(10):
        v = (a * v + c) & mask
        w = (w << 80) | (v >> 48)
        # bits 32..37 of the same ten values, for the skewed mode
        sk = (sk << 6) | ((v >> 32) & 0x3F)
    for rec_no in range(start, start + count):
        rec = (w ^ xor800).to_bytes(RECORD_LEN, "big")
        if skewed:
            # gen_skewed_rec: overlay the top skew_bits bits of the key
            # with the Skew_binary row for ~log2(rec_no); 6 bits of the
            # oldest window value choose skew_bits (values > 48 -> 0).
            skew = _SKEW_BYTES[_skew_index(rec_no)]
            skew_bits = sk >> 54
            if skew_bits > 48:
                skew_bits = 0
            if skew_bits:
                key = bytearray(rec[:KEY_LEN])
                nbytes, rem = divmod(skew_bits, 8)
                key[:nbytes] = skew[:nbytes]
                if rem:
                    m = 0xFF >> rem
                    key[nbytes] = (skew[nbytes] & ~m & 0xFF) | (key[nbytes] & m)
                rec = bytes(key) + rec[KEY_LEN:]
        yield rec
        v = (a * v + c) & mask
        w = ((w & keep720) << 80) | (v >> 48)
        if skewed:
            sk = ((sk & keep54) << 6) | ((v >> 32) & 0x3F)


def _spans(n: int, start: int, num_partitions: int) -> list[tuple[int, int]]:
    """Split records ``start .. start+n`` into at most ``num_partitions``
    contiguous non-empty (offset, count) spans, sizes differing by at
    most one."""
    num_partitions = max(1, min(num_partitions, n)) if n else 1
    base, extra = divmod(n, num_partitions)
    spans = []
    off = start
    for i in range(num_partitions):
        cnt = base + (1 if i < extra else 0)
        if cnt:
            spans.append((off, cnt))
            off += cnt
    return spans


def gensort_records(
    spark: SparkSession,
    n: int,
    start: int = 0,
    skewed: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed byte-exact gensort input: (key binary(10), value
    binary(90)), records ``start .. start+n``.  Each partition seeks its
    record range via the LCG's closed-form skip-ahead and streams
    locally — no driver-side generation, no inter-partition dependency,
    so this scales exactly like gensort's own -b-offset parallel runs."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    splits = _spans(n, start, num_partitions)

    def _part(span):
        s, cnt = span
        for rec in _gensort_stream(s, cnt, skewed=skewed):
            yield rec[:KEY_LEN], rec[KEY_LEN:]

    rdd = spark.sparkContext.parallelize(splits, max(1, len(splits))).flatMap(_part)
    return spark.createDataFrame(rdd, schema="key binary, value binary")


def gensort_range_checksum(
    spark: SparkSession,
    n: int,
    start: int = 0,
    skewed: bool = False,
    num_partitions: int | None = None,
) -> int:
    """Checksum of records ``start .. start+n`` computed straight from
    the generator, mod 2**128 — exactly what ``gensort -c`` prints
    without writing output (gensort.c Skip_output).  This is the cheap
    way to reproduce the published BASELINE.md checksums at full scale:
    no Row conversion, no materialization; each partition streams its
    range and ships back one 128-bit sum."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    splits = _spans(n, start, num_partitions)

    def _part_sum(span):
        s, cnt = span
        total = 0
        for rec in _gensort_stream(s, cnt, skewed=skewed):
            total += zlib.crc32(rec)
        return total

    parts = (
        spark.sparkContext.parallelize(splits, max(1, len(splits)))
        .map(_part_sum)
        .collect()
    )
    return sum(parts) & _GENSORT_MASK


def gensort_checksum(df: DataFrame) -> int:
    """The gensort/valsort record checksum: sum over records of
    crc32(key || value), mod 2**128 (gensort -c / valsort output;
    order-insensitive, so it commutes with any shuffle or sort).
    Computed in the JVM: Spark's ``crc32`` is ``java.util.zip.CRC32``,
    the same polynomial as zlib's, and a decimal(38,0) sum cannot
    overflow below ~10**28 records.  A null key or value raises, since
    it cannot be a gensort record."""
    rec = F.concat("key", "value")
    total, nulls = df.select(
        F.sum(F.crc32(rec).cast("decimal(38,0)")),
        F.count_if(rec.isNull()),
    ).first()
    if nulls:
        raise ValueError(f"{nulls} records with a null key or value")
    return int(total or 0) & _GENSORT_MASK


def read_gensort(spark: SparkSession, path: str) -> DataFrame:
    """Read headerless 100-byte gensort records as (key binary, value
    binary).  The scan stays in the JVM: Hadoop's fixed-length record
    reader (the same splits ``binaryRecords`` plans) wrapped as a
    ``Dataset[Array[Byte]]``, then split with ``substring``.  A file
    whose size is not a multiple of ``RECORD_LEN`` raises
    (``java.io.EOFException``) instead of dropping its tail."""
    sc = spark.sparkContext
    records = sc._jsc.sc().binaryRecords(path, RECORD_LEN, sc._jsc.hadoopConfiguration())
    binary = sc._jvm.org.apache.spark.sql.Encoders.BINARY()
    raw = DataFrame(spark._jsparkSession.createDataset(records, binary).toDF(), spark)
    return raw.select(
        F.substring("value", 1, KEY_LEN).alias("key"),
        F.substring("value", KEY_LEN + 1, RECORD_LEN - KEY_LEN).alias("value"),
    )


def sort_records(df: DataFrame) -> DataFrame:
    """Total order by unsigned-lexicographic key: BinaryType ordering
    matches Comparison.h:15-30 including shorter-key-first on prefix
    ties (verified in tests)."""
    return df.sort("key")


def sort_records_secondary(df: DataFrame, secondary_bytes: int = 8) -> DataFrame:
    """USE_SECONDARY_KEYS sort: order by key, then by the first
    ``secondary_bytes`` of the value (QuickSortStrategy.h:77-91;
    ``mapreduce/defaults.yaml:238``) — the reference uses this to
    time-order click events within a user.  A composite sort key, one
    range shuffle, same as the primary-only path."""
    return df.sort(F.col("key"), F.substring(F.col("value"), 1, secondary_bytes))


def write_gensort(df: DataFrame, path: str) -> None:
    """Write headerless concatenated 100-byte records, one file per
    partition (named part-NNNNN in partition order so the global order
    is file order + offset order, like the reference's partition
    files).

    Files are written FROM THE EXECUTORS (each task streams its own
    partition to storage, like the reference's Writer workers,
    ``workers/writer/Writer.cc``) — only per-file record counts return
    to the driver.  Requires ``path`` to be on storage all executors
    reach (local FS in local mode, shared FS/object store on a
    cluster).
    """
    os.makedirs(path, exist_ok=True)
    # One pre-joined column, handed over as Dataset[Array[Byte]]: each
    # record reaches Python as one framed ``bytes`` (no pickled Row).  A
    # null key or value makes a null record, which ``f.write`` rejects.
    sc = df.sparkSession.sparkContext
    binary = sc._jvm.org.apache.spark.sql.Encoders.BINARY()
    joined = getattr(df.select(F.concat("key", "value"))._jdf, "as")(binary)
    records = RDD(joined.toJavaRDD(), sc, NoOpSerializer())

    def _dump(idx: int, it):
        n = 0
        with open(os.path.join(path, f"part-{idx:05d}"), "wb") as f:
            for rec in it:
                f.write(rec)
                n += 1
        yield idx, n

    counts = records.mapPartitionsWithIndex(_dump).collect()
    # Drop empty partition files for cleanliness.
    for idx, n in counts:
        if n == 0:
            os.remove(os.path.join(path, f"part-{idx:05d}"))


def valsort_check(spark: SparkSession, path: str) -> dict:
    """valsort-equivalent validation of a written record directory:
    global unsigned-lex order across files-in-order, plus the EXACT
    valsort content checksum — sum of per-record zlib crc32, mod 2**128
    (valsort.c next_rec/summarize_records).  On data generated by
    ``gensort_records`` this reproduces gensort -c output digit for
    digit, including the published reference checksums in BASELINE.md.

    Distributed: per-file order/summaries are computed in parallel;
    only (file, first_key, last_key, count, checksum) hits the driver.
    """
    files = sorted(glob.glob(os.path.join(path, "part-*")))
    sc = spark.sparkContext

    def summarize(f: str):
        with open(f, "rb") as fh:
            data = fh.read()
        n = len(data) // RECORD_LEN
        ok = True
        prev = None
        csum = 0
        for i in range(n):
            rec = data[i * RECORD_LEN : (i + 1) * RECORD_LEN]
            k = rec[:KEY_LEN]
            if prev is not None and k < prev:
                ok = False
            prev = k
            csum = (csum + zlib.crc32(rec)) & _GENSORT_MASK
        first = data[:KEY_LEN] if n else b""
        last = data[(n - 1) * RECORD_LEN : (n - 1) * RECORD_LEN + KEY_LEN] if n else b""
        return f, ok, n, first, last, csum

    summaries = sc.parallelize(files, max(1, len(files))).map(summarize).collect()
    summaries.sort()  # file name order == partition order
    sorted_within = all(s[1] for s in summaries)
    boundaries_ok = all(
        summaries[i][4] <= summaries[i + 1][3]
        for i in range(len(summaries) - 1)
        if summaries[i][2] and summaries[i + 1][2]
    )
    return {
        "records": sum(s[2] for s in summaries),
        "sorted": sorted_within and boundaries_ok,
        "checksum": sum(s[5] for s in summaries) & _GENSORT_MASK,
    }


def generate_records(
    spark: SparkSession, n: int, seed: int = 42, skewed: bool = False
) -> DataFrame:
    """Deterministic gensort-style fixture: (key binary(10),
    value binary(90)).  Keys uniform random bytes (or skewed: top bits
    zeroed, concentrating the keyspace like gensort -s); value is a
    deterministic function of the row index.  All JVM-side.
    """
    df = spark.range(n)
    # 10 key bytes from two independent xxhash64 draws.
    h1 = F.xxhash64(F.col("id"), F.lit(seed))
    h2 = F.xxhash64(F.col("id"), F.lit(seed + 1))
    key = F.concat(
        F.substring(F.unhex(F.lpad(F.hex(h1), 16, "0")), 1, 8),
        F.substring(F.unhex(F.lpad(F.hex(h2), 16, "0")), 1, 2),
    )
    if skewed:
        key = F.concat(F.lit(b"\x00\x00"), F.substring(key, 1, 8))
    # 90 value bytes: index rendered + xxhash padding, truncated.
    v1 = F.unhex(F.lpad(F.hex(F.xxhash64(F.col("id"), F.lit(seed + 2))), 16, "0"))
    value = F.substring(
        F.concat(F.lpad(F.col("id").cast("string"), 10, "0").cast("binary"), *([v1] * 10)),
        1,
        90,
    )
    return df.select(key.alias("key"), value.alias("value"))
