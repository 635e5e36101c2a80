"""Portable deterministic hashing: identical values in Spark and DuckDB.

Engine-internal hashes (xxhash64 for bucketing/salting) stay native —
they never need to match another system. But *data-product* hashes
(document fingerprints, MinHash signatures, SimHash bits) are part of
the output contract and must be reproducible by any SQL engine, so they
are derived from md5 (available everywhere) instead of
engine-specific hash functions:

    h60(s)  = int(md5(s)[0:15 hex], 16)          -- 60-bit, non-negative
    mh_i(s) = (A_i * (h60(s) % P) + B_i) % P      -- universal hash family

P = 2^31 - 1 (Mersenne prime). A_i, B_i < 2^31, so the product stays
under 2^62: no int64 overflow on either engine, and `%` on
non-negative operands agrees between Spark, DuckDB and Python.

At 100 TB scale these are single-pass scalar expressions inside
whole-stage codegen — no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = (1 << 31) - 1  # 2147483647, Mersenne prime
_H60_HEX_CHARS = 15  # 60 bits < 2^63: safe signed-int64 everywhere


def _mh_params(i: int) -> tuple[int, int]:
    """Deterministic (A, B) for the i-th universal hash; values in
    [1, P) derived from a fixed LCG so both engines embed literals."""
    a = (1103515245 * (i + 1) + 12345) % P or 1
    b = (1103515245 * (i + 7919) + 54321) % P
    return a, b


# --- Spark expressions -------------------------------------------------

def h60(col: Column) -> Column:
    """60-bit non-negative integer hash of a string column (md5-based)."""
    return F.conv(F.substring(F.md5(col), 1, _H60_HEX_CHARS), 16, 10).cast("long")


def minhash_term(col: Column, i: int) -> Column:
    """The i-th universal-hash value of a string column; min() of this
    over a document's shingle set is the i-th MinHash signature slot."""
    a, b = _mh_params(i)
    return (F.lit(a) * (h60(col) % F.lit(P)) + F.lit(b)) % F.lit(P)


def minhash_term_from_h(h_col: Column, i: int) -> Column:
    """Same as minhash_term but over a precomputed ``h60(x) % P`` column
    — lets K signature slots share ONE md5 evaluation per row."""
    a, b = _mh_params(i)
    return (F.lit(a) * h_col + F.lit(b)) % F.lit(P)


# --- DuckDB twins ------------------------------------------------------

def h60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, {_H60_HEX_CHARS})) AS BIGINT)"


def minhash_term_from_h_sql(h_expr: str, i: int) -> str:
    a, b = _mh_params(i)
    return f"(({a} * {h_expr} + {b}) % {P})"
