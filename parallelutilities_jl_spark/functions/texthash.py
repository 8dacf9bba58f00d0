"""Portable text-normalization / shingling / hashing expressions.

Every helper exists twice — a Spark Column builder and a DuckDB SQL
fragment builder — kept adjacent so the two dialects cannot drift. The
design constraint: *every hash must be computable identically in both
engines*, so signatures are built from `md5` hex strings (both engines
produce identical lowercase hex for identical UTF-8 input):

* MinHash uses **lexicographic MIN over salted md5 strings** — an
  order-statistic sketch needing no integer parsing at all.
* SimHash parses 48 bits of md5 into a BIGINT (`conv` in Spark, `0x` cast
  in DuckDB) and does identical integer bit arithmetic.

Never use Spark's `hash()`/`xxhash64` (Murmur3 — no DuckDB twin) in any
oracle-checked path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---- normalization -------------------------------------------------------


def norm_text(c: Column) -> Column:
    """lower + trim + collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def dd_norm_text(c: str) -> str:
    return f"regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"


def words(c: Column) -> Column:
    return F.split(norm_text(c), " ")


def dd_words(c: str) -> str:
    return f"string_split({dd_norm_text(c)}, ' ')"


# ---- shingling -----------------------------------------------------------


def shingles(words_col: Column, k: int = 3) -> Column:
    """Word k-grams as strings; caller must guarantee size(words) >= k
    (Spark's `sequence(1, n)` is NOT empty for n < 1)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(words_col) - (k - 1)),
        lambda j: F.array_join(F.slice(words_col, j, k), " "),
    )


def dd_shingles(words_sql: str, k: int = 3) -> str:
    return (
        f"list_transform(generate_series(1, len({words_sql}) - {k - 1}), "
        f"j -> array_to_string(({words_sql})[j:j+{k - 1}], ' '))"
    )


# ---- hashing -------------------------------------------------------------


# 16 fixed 60-bit XOR salts (sha256("minhash-salt-i") prefixes): the i-th
# MinHash permutation is h ^ SALT_i — bijective on the key space, one md5
# per shingle instead of 16, and long-MIN instead of string-MIN
MINHASH_XOR_SALTS = [
    483291645130881913,
    192313266627952707,
    46511529719453629,
    229682027053926461,
    1012574316821123761,
    387298897153328784,
    348529395492917096,
    961242794025948293,
    30688731411734644,
    394698870446021566,
    1078757444551220716,
    380664530389144689,
    1063364376831300577,
    1043780275513490536,
    245848404549710323,
    1050719261431329877,
]


def md5_int60(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT (MinHash base hash)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def dd_md5_int60(c: str) -> str:
    return f"('0x' || substr(md5({c}), 1, 15))::BIGINT"


def md5_int48(c: Column) -> Column:
    """First 48 bits of md5 as a non-negative BIGINT (SimHash term hash)."""
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def dd_md5_int48(c: str) -> str:
    return f"('0x' || substr(md5({c}), 1, 12))::BIGINT"


def md5_int32(c: Column) -> Column:
    """First 32 bits of md5 as a non-negative BIGINT — narrow enough
    that `h * 2^20 - pos` (the winnowing argmin key) stays inside
    int64."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def dd_md5_int32(c: str) -> str:
    return f"('0x' || substr(md5({c}), 1, 8))::BIGINT"
