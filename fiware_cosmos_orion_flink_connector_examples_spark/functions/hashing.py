"""Cross-engine-stable hash primitives.

All dedup/fingerprint operators hash through md5 — not because md5 is
fast (Spark's murmur3 `F.hash` is faster) but because the correctness
oracle (DuckDB) must reproduce the exact same integers; md5 is the
one hash both engines implement bit-identically.  The swap to
`F.xxhash64` for production is a one-liner kept in `fast_hash64`.

md5int64: first 15 hex chars of md5 → BIGINT (60 bits, always
positive, no overflow).  DuckDB equivalent:
``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MD5INT_BITS = 60


def md5int64(col: Column) -> Column:
    """Deterministic 60-bit positive integer hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5int64_seeded(col: Column, seed: int | str) -> Column:
    """Seeded variant: H_seed(x) = md5int64(seed || ':' || x) — the
    MinHash hash-family construction."""
    return md5int64(F.concat(F.lit(f"{seed}:"), col))


def cms_buckets(term: Column, depth: int, width: int) -> list[Column]:
    """The count-min sketch's bucket of ``term`` in each of its
    ``depth`` rows: row d hashes with seed ``cms{d}`` into
    ``[0, width)``.  DuckDB equivalent per row:
    ``md5int64(concat('cms', d, ':', term)) % width``."""
    return [
        F.pmod(md5int64_seeded(term, f"cms{d}"), F.lit(width))
        for d in range(depth)
    ]


def fast_hash64(col: Column) -> Column:
    """Production path (no oracle requirement): xxhash64, JVM codegen."""
    return F.xxhash64(col)
