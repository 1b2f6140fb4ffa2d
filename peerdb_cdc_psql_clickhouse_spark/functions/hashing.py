"""Engine-portable hashing.

xxhash64/murmur3 differ between Spark and DuckDB; md5/sha2 hex digests
are identical everywhere. hash64() derives a signed-ish 60-bit int from
the first 15 hex chars of md5 — enough for MinHash/fingerprint use and
exactly reproducible in DuckDB via
  CAST(CONCAT('0x', SUBSTR(md5(x), 1, 15)) AS BIGINT)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column) -> Column:
    """60-bit integer hash of a string column, portable to DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def row_checksum(cols: list[str]) -> Column:
    """Portable per-row checksum: hash64 of the named columns cast to
    string in the given order, NULL rendered as '\\x00null', joined by
    the '\\x1f' unit separator. Summed over rows it is an
    order-insensitive content checksum (Mirror.checksum_parity,
    ChecksumDiffUpdateSweeper); an external system replays it with
    its own md5."""
    canon = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in cols
        ],
    )
    return hash64(canon)


def hash64_sql(expr: str) -> str:
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


def python_hash64(s: str) -> int:
    """Driver-side twin of hash64() — THE definition callers must use
    when a plan needs literal hash values (e.g. partition-pruning a
    term's bucket before the scan). Kept beside hash64 so the two
    cannot drift apart silently; tests/test_search.py asserts the
    Spark and Python values agree on sample strings."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def content_sha256(col: Column) -> Column:
    """Hex sha256 of a string column; DuckDB: sha256(x)."""
    return F.sha2(col, 256)


# Double hashing (Kirsch-Mitzenmacher): derive K hash functions from ONE
# md5 as h_i = a + i*b, where a/b come from the two md5 halves. Cuts
# MinHash cost by ~K vs K independent md5 calls. Values bounded by
# 2^58 so a + 15*b stays far below int64 overflow (ANSI mode throws
# on overflow).
HASH_PAIR_LIM = 2**58


def hash_pair(col: Column) -> tuple[Column, Column]:
    m = F.md5(col)
    a = F.conv(F.substring(m, 1, 15), 16, 10).cast("long") % HASH_PAIR_LIM
    b = F.conv(F.substring(m, 17, 15), 16, 10).cast("long") % HASH_PAIR_LIM
    return a, b


def hash_pair_sql(expr: str) -> tuple[str, str]:
    a = (
        f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"
        f" % {HASH_PAIR_LIM}"
    )
    b = (
        f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 17, 15)) AS BIGINT)"
        f" % {HASH_PAIR_LIM}"
    )
    return a, b
