"""The cross-engine digest format. This is the only module that spells it.

Every query that hashes must give the same integers in Spark and in its
DuckDB oracle, so each piece of the format is written here once, as
twins: a Column, Spark SQL text (for ``F.expr`` and SQL lambdas, the
``_expr`` names) and DuckDB SQL text (the ``_sql`` names). Plan and
operator modules call these helpers; they never write the md5 prefix,
the sentinel or the half-sums out by hand.

Digest integer (``hex_int``). ``digits`` hex digits of a hex string —
normally an md5 — from 1-based ``start``, read as a base-16 bigint.
8 digits give the 32-bit digest most queries fold (mod k buckets,
u ∈ (0, 1] draws, checksums). 15 digits is the most a signed bigint
holds; 16 would overflow it, so more than 15 is rejected.

Field encoding (``content_hash``). Reference semantics (R10, the
reference's salesforce_extractor.py:179-181): a deterministic content
hash over the full raw record is the dedup key. The reference uses
blake2b(digest_size=8) over canonical JSON; we keep the *semantics*
(deterministic full-record content hash) but use ``md5`` over
length-prefixed fields so the DuckDB oracle can compute the identical
expression. Length-prefixing (``len:value`` per field, len in
characters) makes the encoding injective — a plain separator join
would collide when field values themselves contain the separator
(("a\\x1fb","c") vs ("a","b\\x1fc")). NULLs are canonicalized to a
sentinel so that NULL vs "" hash differently, matching dict-key
semantics; ``NULL_SQL`` spells the sentinel in Spark SQL and DuckDB
alike. ``content_hash`` values are persisted in ETL targets, so the
encoding must never change (tests/test_hashing.py pins it).

Half-sum checksum (``checksum_half_sums``). The repo-wide additive,
order-insensitive table checksum is TWO bigint sums: a 32-bit row
digest's low and high 16-bit halves, summed separately. A single bigint
sum of 32-bit digests exceeds int64 at ~2^32 rows (Spark wraps
silently, DuckDB promotes to HUGEINT and the bigint cast fails) —
diverging exactly at the scale a migration checksum exists for — while
a decimal(38,0) accumulator is exact but slower. Each half-sum is
bounded by 2^16 x rows, so int64 is exact past 10^14 rows, the full 32
bits of digest entropy survive across the pair, and the aggregation
stays in whole-stage codegen. Both engines compute identical integers.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"
NULL_SENTINEL = "\x00NULL\x00"
# NULL_SENTINEL spelled in SQL; the same text parses in Spark and DuckDB
NULL_SQL = "chr(0) || 'NULL' || chr(0)"
_MAX_HEX_DIGITS = 15

__all__ = [
    "hex_int",
    "hex_int_expr",
    "hex_int_sql",
    "encode_fields",
    "content_hash",
    "content_hash_sql",
    "checksum_half_sums",
    "checksum_half_sums_sql",
    "SEP",
    "NULL_SENTINEL",
    "NULL_SQL",
]


def _check_digits(digits: int) -> None:
    if not 1 <= digits <= _MAX_HEX_DIGITS:
        raise ValueError(
            f"digits must be in 1..{_MAX_HEX_DIGITS} (16 hex digits overflow a "
            f"signed bigint), got {digits}"
        )


def hex_int(hex_col: Column | str, start: int = 1, digits: int = 8) -> Column:
    """bigint of ``digits`` hex digits of ``hex_col`` from ``start``."""
    _check_digits(digits)
    c = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    return F.conv(F.substring(c, start, digits), 16, 10).cast("bigint")


def hex_int_expr(hex_sql: str, start: int = 1, digits: int = 8) -> str:
    """Spark SQL twin of :func:`hex_int`."""
    _check_digits(digits)
    return f"cast(conv(substring({hex_sql}, {start}, {digits}), 16, 10) as bigint)"


def hex_int_sql(hex_sql: str, start: int = 1, digits: int = 8) -> str:
    """DuckDB twin of :func:`hex_int`."""
    _check_digits(digits)
    return f"('0x' || substr({hex_sql}, {start}, {digits}))::BIGINT"


def encode_fields(cols: Iterable[Column | str]) -> Column:
    """The injective ``len:value`` + SEP encoding, NULL → sentinel."""
    parts = []
    for c in cols:
        s = F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(NULL_SENTINEL)
        )
        parts.append(F.concat(F.length(s).cast("string"), F.lit(":"), s))
    return F.concat_ws(SEP, *parts)


def content_hash(cols: Iterable[Column | str], alias: str = "hash") -> Column:
    return F.md5(encode_fields(cols)).alias(alias)


def content_hash_sql(cols: Iterable[str]) -> str:
    """The DuckDB-equivalent SQL expression for :func:`content_hash`."""
    fields = []
    for c in cols:
        s = f"coalesce(cast({c} as varchar), {NULL_SQL})"
        fields.append(f"cast(length({s}) as varchar) || ':' || {s}")
    return f"md5(concat_ws(chr(31), {', '.join(fields)}))"


def checksum_half_sums(digest: Column, lo: str = "checksum_lo", hi: str = "checksum_hi") -> list[Column]:
    """The half-sum checksum of a 32-bit ``digest`` (see module doc)."""
    return [
        F.sum(digest.bitwiseAND(F.lit(65535))).cast("bigint").alias(lo),
        F.sum(F.shiftright(digest, 16)).cast("bigint").alias(hi),
    ]


def checksum_half_sums_sql(digest_sql: str, lo: str = "checksum_lo", hi: str = "checksum_hi") -> str:
    """DuckDB twin of :func:`checksum_half_sums` (same aliases)."""
    return (
        f"cast(sum(({digest_sql}) & 65535) as bigint) AS {lo},\n"
        f"           cast(sum(({digest_sql}) >> 16) as bigint) AS {hi}"
    )
