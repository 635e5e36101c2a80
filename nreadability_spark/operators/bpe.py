"""Byte-pair-encoding tokenizer: distributed fit + corpus encode.

A real learned subword vocabulary (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the training
pipeline's pretokenization step, upgrading the regex-based
``bpe_token_estimate`` stand-in in ``functions/text.py`` to an actual
greedy-merge BPE:

- **fit**: count every distinct word once (the classic word-frequency
  working set — the corpus can be 100 TB, the vocabulary is millions of
  rows at most), then for each of R rounds count adjacent symbol pairs
  weighted by word frequency, take the globally most frequent pair
  (deterministic tie-break: count desc, then lexicographic), and merge
  it greedily left-to-right in every word.
- **encode**: apply the learned merge ranks in order MAP-SIDE — the
  fitted model is the R-row merge list (a learned parameter, bounded by
  the round count), compiled into a chain of R Catalyst fold
  expressions over each token's character split. No vocabulary join:
  the distinct-word table grows ~Heaps-law with the corpus (billions of
  types at 100 TB — URLs, typos, code), so it is NOT broadcastable and
  never ships anywhere at encode time.

Scale shape (100 TB):
- The corpus is touched exactly twice: once to build the word-frequency
  table (one shuffle on word, partial aggregation map-side) and once at
  encode time (per-doc distinct-word aggregation -> R map-side merge
  folds -> per-doc rollup; the only state shipped to executors is the
  R-row merge list, baked into the expressions).
- All R fit rounds run on the word table only. Each round is one
  map-side pair explode (zipped adjacent slices — only (l, r, cnt)
  rows shuffle) + one hash aggregate + a 1-row collect (the learned
  parameter, same driver traffic as a k-means centroid round), and the
  greedy merge is a Catalyst ``aggregate`` fold — no Python workers
  anywhere. The word table is ``localCheckpoint``ed per round so round
  k's plan does not re-fold rounds 1..k-1 (constant plan depth, the
  same lineage rule as the connected-components BSP loop).
- The greedy fold is left-to-right with immediate restart ("aaa" with
  merge a+a -> ["aa", "a"]), matching the reference implementation's
  per-word merge loop.

Divergence from Sennrich: no end-of-word marker symbol (characters
only) — documented, deterministic, and applied identically in the
DuckDB oracle twin, which unrolls the R rounds as CTEs (the same
pattern as the k-means fit oracle) using ``list_reduce`` for the fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nreadability_spark.functions import text as tx
from nreadability_spark.operators.textops import load_documents

BPE_ROUNDS = 12

_MERGE_SCHEMA = "rank: long, lhs: string, rhs: string, merged: string, pair_count: long"


def word_table(docs: DataFrame) -> DataFrame:
    """(word, cnt, syms): the distinct-word working set with each word
    exploded into single-character symbols."""
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split("word", ""))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency — built from
    two zipped slices, so only (l, r, cnt) rows ever shuffle."""
    pairs = words.where(F.size("syms") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                F.expr("slice(syms, 2, size(syms) - 1)").alias("r"),
            )
        ).alias("p"),
        "cnt",
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("cnt").alias("c")
    )


def _merge_fold(lhs: str, rhs: str) -> F.Column:
    """Greedy left-to-right merge of adjacent (lhs, rhs) in ``syms``."""
    l_lit = lhs.replace("\\", "\\\\").replace("'", "\\'")
    r_lit = rhs.replace("\\", "\\\\").replace("'", "\\'")
    return F.expr(
        f"""aggregate(transform(syms, x -> array(x)),
             cast(array() as array<string>),
             (acc, x) -> CASE
               WHEN size(acc) > 0 AND element_at(acc, -1) = '{l_lit}'
                    AND element_at(x, 1) = '{r_lit}'
               THEN concat(slice(acc, 1, size(acc) - 1), array('{l_lit}{r_lit}'))
               ELSE concat(acc, x) END)"""
    )


def fit_merges(words: DataFrame, rounds: int):
    """Run the R merge rounds; returns (merge list, final word table).
    Each round's argmax is ONE row collected to the driver — a learned
    parameter, not data."""
    words = words.localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(rounds):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
        merges.append((rank, l, r, l + r, c))
        words = words.select(
            "word", "cnt", _merge_fold(l, r).alias("syms")
        ).localCheckpoint()
    return merges, words


def bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: (rank, lhs, rhs, merged, pair_count)."""
    merges, _ = fit_merges(word_table(load_documents(spark, sf_dir)), BPE_ROUNDS)
    return spark.createDataFrame(merges, _MERGE_SCHEMA).orderBy("rank")


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword statistics under the fitted merge list.

    Scale shape (100 TB): the fit already paid the R merge folds ONCE
    PER GLOBAL DISTINCT WORD — its final word table IS the vocabulary
    with each word's segmentation. Encode reuses it as a narrow
    (word, n_sub) table joined back to the per-document word counts via
    a co-partitioned SHUFFLE join on ``word`` — never a broadcast: the
    distinct-word table grows ~Heaps-law with the corpus (unbounded at
    100 TB), so a broadcast OOMs while the shuffle join just
    co-partitions two tables Spark was shuffling anyway (AQE still
    converts to a runtime broadcast when the vocab actually fits —
    size-gating by measured stats, not by hope). The earlier map-side
    alternative (re-applying the R folds per (doc, word) row) is
    shuffle-free but pays the fold CPU once per document-word instead
    of once per distinct word — measured 3-4x slower at sf0.1, and the
    gap widens with corpus size since doc-word pairs grow linearly
    while distinct words grow sub-linearly."""
    docs = load_documents(spark, sf_dir)
    _, words = fit_merges(word_table(docs), BPE_ROUNDS)
    vocab = words.select("word", F.size("syms").cast("long").alias("n_sub"))
    doc_words = (
        docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_sub")).cast("long").alias("n_bpe_tokens"),
            F.sum(F.col("occ") * F.length("word")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.round(F.col("n_chars") / F.greatest("n_bpe_tokens", F.lit(1)), 6),
        )
        .orderBy("doc_id")
    )


# --- DuckDB oracle twins (R rounds unrolled as CTEs) -------------------

_FOLD_SQL = """list_reduce(list_transform(syms, x -> [x]),
  (acc, x) -> CASE
    WHEN len(acc) > 0 AND acc[-1] = {m}.l AND x[1] = {m}.r
    THEN list_append(acc[1:len(acc)-1], {m}.l || {m}.r)
    ELSE list_append(acc, x[1]) END)"""


def _fit_ctes() -> tuple[str, str]:
    """Shared CTE chain: returns (cte_sql, final_words_name)."""
    # AS MATERIALIZED: every w{k} is referenced twice (by m{k+1} and
    # w{k+1}); DuckDB 1.0 inlines plain CTEs, which re-executes the
    # whole chain per reference — exponential in rounds (measured: 2x
    # per round past r=5). Materialization makes the chain linear.
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt, string_split(word, '') AS syms
  FROM (SELECT unnest({tx.tokens_sql('text')}) AS word FROM documents) t
  GROUP BY word
)"""
    ]
    for k in range(1, BPE_ROUNDS + 1):
        prev, m = f"w{k - 1}", f"m{k}"
        parts.append(
            f"""{m} AS MATERIALIZED (
  SELECT l, r, l || r AS merged, c FROM (
    SELECT l, r, sum(cnt) AS c FROM (
      SELECT unnest(syms[1:len(syms)-1]) AS l,
             unnest(syms[2:len(syms)]) AS r, cnt
      FROM {prev} WHERE len(syms) >= 2
    ) p GROUP BY l, r
  ) g ORDER BY c DESC, l, r LIMIT 1
)"""
        )
        fold = _FOLD_SQL.format(m=m)
        # LEFT JOIN ON TRUE (not a cross join): when pair counts exhaust
        # before BPE_ROUNDS, m{k} is EMPTY — a cross join would empty w{k}
        # and every round after it, silently zeroing the vocabulary,
        # while Spark's fit_merges breaks and keeps the last word table.
        # With the left join the m{k} columns come back NULL, the CASE
        # predicate is NULL (treated as false), and the fold reduces to
        # the identity — the same carry-forward as the Spark early break.
        parts.append(
            f"w{k} AS MATERIALIZED (\n  SELECT word, cnt, {fold} AS syms"
            f"\n  FROM {prev} LEFT JOIN {m} ON TRUE\n)"
        )
    return "WITH " + ",\n".join(parts), f"w{BPE_ROUNDS}"


def bpe_fit_sql() -> str:
    ctes, _ = _fit_ctes()
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k - 1} AS BIGINT) AS rank, l AS lhs, r AS rhs, merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return f"{ctes}\nSELECT * FROM ({union}) all_merges ORDER BY rank"


def bpe_encode_sql() -> str:
    ctes, final = _fit_ctes()
    return f"""{ctes},
vocab AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM {final}),
doc_words AS (
  SELECT doc_id, unnest({tx.tokens_sql('text')}) AS word FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(v.n_sub) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       round(sum(length(d.word)) / greatest(sum(v.n_sub), 1), 6) AS chars_per_token
FROM doc_words d JOIN vocab v ON d.word = v.word
GROUP BY d.doc_id
ORDER BY d.doc_id"""


QUERIES = {
    "text_bpe_fit": bpe_fit,
    "text_bpe_encode": bpe_encode,
}

ORACLES = {
    "text_bpe_fit": bpe_fit_sql(),
    "text_bpe_encode": bpe_encode_sql(),
}
