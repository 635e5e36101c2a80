"""Tokenization / shingling expression builders + DuckDB twins.

All JVM-side (split/posexplode/window) — the tokenizer used by dedup,
language-ID, token counting and quality scoring. The DuckDB twin of
each construct lives beside it; oracle queries are assembled from these
so the two engines can never drift apart silently.

Token model (deliberately simple and portable): lowercase, split on
runs of whitespace, empty tokens dropped. A BPE-ish subword count is
provided as a separate *estimate* expression (regex-based, no external
tokenizer in the sandbox).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nreadability_spark.functions import hashing

# split on whitespace runs; trim first so no boundary empties
_WS = r"\s+"


def tokens(col: Column) -> Column:
    """array<string> of lowercase whitespace tokens (empty array for
    null/blank input)."""
    t = F.split(F.trim(F.lower(col)), _WS)
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(t)


def tokens_sql(expr: str) -> str:
    return (
        f"CASE WHEN trim({expr}) = '' THEN [] "
        f"ELSE string_split_regex(trim(lower({expr})), '\\s+') END"
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# BPE-ish subword count estimate: word chunks of <=4 chars + digits +
# punctuation each count as one token (regexp over the raw text; a
# cheap, deterministic stand-in for a real BPE vocabulary).
def bpe_token_estimate(col: Column) -> Column:
    chunks = F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]{1,4}|[0-9]|[^a-z0-9\s]"), 0)
    return F.size(chunks)


def bpe_token_estimate_sql(expr: str) -> str:
    return (
        "len(regexp_extract_all(lower(" + expr + "), '[a-z]{1,4}|[0-9]|[^a-z0-9\\s]'))"
    )


def exploded_tokens(df: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) — one row per token of ``text``, 0-based
    position."""
    return df.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))


def exploded_tokens_sql(table: str) -> str:
    # DuckDB 1.0 has no WITH ORDINALITY; parallel unnest zips the token
    # list with a 0-based range, matching Spark's posexplode
    return (
        "SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS pos, "
        "unnest(toks) AS tok "
        f"FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM {table}) tk"
    )


def _tokenized(df: DataFrame, n: int) -> DataFrame:
    """Project the token array into a MATERIALIZED column before any
    lambda touches it. Referencing the raw ``tokens(text)`` expression
    inside a ``transform`` lambda embeds the whole split() subtree at
    every ``element_at`` site, and codegen does NOT common-subexpression
    -eliminate inside higher-order functions — the tokenizer re-ran per
    element, making shingle construction quadratic per document
    (measured 11x slower at sf0.1)."""
    return df.select("doc_id", tokens(F.col("text")).alias("toks")).where(F.size("toks") >= n)


def shingle_hashes(n: int) -> Column:
    """array<bigint>: the 60-bit hash of the n-word shingle starting at
    each position of the materialized ``toks`` column, in position
    order (not distinct). The rows must hold at least n tokens."""

    def hash_at(i):
        return hashing.h60(
            F.concat_ws(" ", *[F.element_at(F.col("toks"), i + k + 1) for k in range(n)])
        )

    return F.transform(F.sequence(F.lit(0), F.size("toks") - n), hash_at)


def hashed_shingles(df: DataFrame, n: int) -> DataFrame:
    """DISTINCT 60-bit shingle hashes per document: (doc_id, sh60).

    The shared shingle-hash stage: MinHash signatures, the LSH/Jaccard
    intersection joins, and the bottom-sketch all consume h60(shingle),
    never the shingle string — so the hash is applied INSIDE the
    map-side array transform over the (pre-materialized) token array,
    deduplicated per document with ``array_distinct`` before exploding,
    and only 8-byte longs are ever exploded, shuffled, or joined (vs.
    ~n-word strings). Zero shuffles. The SQL twin keeps the lead()
    window construction; the hash SETS are identical by definition,
    which is what every consumer operates on.
    """
    hashes = F.array_distinct(shingle_hashes(n))
    return _tokenized(df, n).select("doc_id", F.explode(hashes).alias("sh60"))


def positional_shingle_hashes(df: DataFrame, n: int) -> DataFrame:
    """POSITIONAL 60-bit shingle hashes per document: (doc_id, pos,
    sh60), one row per token position (NOT distinct — position identity
    is the point). The inverted-index posting construction for
    span-level dedup: hashes are computed inside the map-side array
    transform (``shingle_hashes``) and ``posexplode`` recovers the
    position as the array index. Zero shuffles."""
    return _tokenized(df, n).select(
        "doc_id", F.posexplode(shingle_hashes(n)).alias("pos", "sh60")
    )


def positional_shingle_hashes_sql(table: str, n: int) -> str:
    """DuckDB twin of ``positional_shingle_hashes``: lead()-window
    shingle construction keyed by token position."""
    leads = ["tok"] + [
        f"lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos)" for i in range(1, n)
    ]
    lead_cols = ", ".join(f"{e} AS t{j}" for j, e in enumerate(leads))
    # n=1 has no lead columns to null-check (unigram hashes)
    non_null = " AND ".join(f"t{j} IS NOT NULL" for j in range(1, n)) or "TRUE"
    concat = " || ' ' || ".join(f"t{j}" for j in range(n))
    return (
        f"SELECT doc_id, pos, {hashing.h60_sql(f'({concat})')} AS sh60 "
        f"FROM (SELECT doc_id, pos, {lead_cols} FROM ({exploded_tokens_sql(table)}) base) leads "
        f"WHERE {non_null}"
    )


def hashed_shingles_sql(table: str, n: int) -> str:
    """DuckDB twin of ``hashed_shingles``: the distinct positional
    hashes."""
    return f"SELECT DISTINCT doc_id, sh60 FROM ({positional_shingle_hashes_sql(table, n)}) ps"
