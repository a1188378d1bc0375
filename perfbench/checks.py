"""Order-insensitive content hashes of query results.

Values are normalised the way the DuckDB oracle compare normalises them
(floats by ``repr``, NaN as text, bytes as hex, everything else by
``str``) and columns are taken in name order, so a Spark result and its
DuckDB oracle hash alike when the oracle compare would call them equal.
The row hashes are summed modulo 2**128, which makes the hash
independent of row order but not of row multiplicity, and costs no sort.
"""

from __future__ import annotations

import hashlib
import math

_MOD = 1 << 128


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result given its column names and value tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        key = repr(tuple(norm(row[i]) for i in order)).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=16).digest(), "big")) % _MOD
        n += 1
    cols = ",".join(columns[i] for i in order)
    return f"{n}:{hashlib.blake2b(cols.encode(), digest_size=4).hexdigest()}:{total:032x}"


def dataframe_hash(df) -> str:
    """Collect a Spark DataFrame and hash it (the timed action)."""
    return result_hash(df.columns, [tuple(r) for r in df.collect()])
