"""Composed training-data pipeline: the stages a corpus-cleaning job
actually chains, as ONE lazy plan (what a user of the engine runs
end-to-end, not operator-by-operator):

    documents
      -> quality gate   (token count)
      -> exact dedup    (one representative per fp60 class)
      -> near-dup prune (drop the higher doc_id of each verified
                         MinHash-LSH pair when both survived)
      -> surviving corpus

Pruning is the greedy one-pass rule (per PAIR, not transitive
clustering): deterministic, embarrassingly joinable, and what
large-scale dedup pipelines ship first — connected-components
clustering is a separate iterative job (``dedup.duplicate_components``,
the ``dedup_components`` query).

Scale shape: the quality gate and fingerprint are map-side; the only
added shuffles over the underlying operators are two fp60/doc_id-keyed
joins (hash-distributed, no hot keys). The LSH stage reuses
``dedup.minhash_lsh_pairs`` with its exact-dedup-first collapse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nreadability_spark.functions import hashing
from nreadability_spark.functions import text as tx
from nreadability_spark.operators import dedup
from nreadability_spark.operators.textops import _norm_text, _norm_text_sql, load_documents

MIN_TOKENS = 30  # quality gate


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated, exact-deduplicated documents with the greedy
    near-dup prune: drop the higher doc_id of each verified MinHash-LSH
    pair whose two docs both survived exact dedup — one join pass,
    keeps one doc per PAIR (a chain a~b~c can keep a and c)."""
    docs = load_documents(spark, sf_dir)
    quality = docs.select(
        "doc_id",
        hashing.h60(_norm_text(F.col("text"))).alias("fp60"),
        tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") >= MIN_TOKENS)

    reps = quality.groupBy("fp60").agg(F.min("doc_id").alias("doc_id"))
    rep_rows = quality.join(reps.select("doc_id"), "doc_id")

    pairs = dedup.minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    rep_ids_a = rep_rows.select(F.col("doc_id").alias("doc_a"))
    rep_ids_b = rep_rows.select(F.col("doc_id").alias("doc_b"))
    dropped = (
        pairs.join(rep_ids_a, "doc_a")
        .join(rep_ids_b, "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        rep_rows.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "fp60", "n_tokens")
        .orderBy("doc_id")
    )


def _clean_corpus_ctes() -> str:
    """The clean-corpus CTE chain ending at ``survivors`` (doc_id,
    fp60, n_tokens) — shared by the clean-corpus oracle and the
    training-ready composition's oracle."""
    lsh = dedup.minhash_lsh_sql()
    return f"""quality AS (
  SELECT doc_id,
         {hashing.h60_sql(_norm_text_sql('text'))} AS fp60,
         CAST({tx.token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
  WHERE {tx.token_count_sql('text')} >= {MIN_TOKENS}
),
reps AS (
  SELECT q.doc_id, q.fp60, q.n_tokens
  FROM quality q
  JOIN (SELECT fp60, min(doc_id) AS doc_id FROM quality GROUP BY fp60) r
    ON r.doc_id = q.doc_id
),
lsh_pairs AS (SELECT doc_a, doc_b FROM ({lsh}) t),
dropped AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM lsh_pairs p
  JOIN reps a ON a.doc_id = p.doc_a
  JOIN reps b ON b.doc_id = p.doc_b
),
survivors AS (
  SELECT doc_id, fp60, n_tokens
  FROM reps
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
)"""


def clean_corpus_sql() -> str:
    return f"""
WITH {_clean_corpus_ctes()}
SELECT doc_id, fp60, n_tokens FROM survivors
ORDER BY doc_id
"""


# --- training-ready composition ----------------------------------------

def training_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-preparation chain a training job reads, end to
    end as one lazy plan:

        clean_corpus (quality + exact dedup + near-dup prune)
          -> drop the evaluation slice itself (doc_id % DECON_BENCH_EVERY)
          -> drop contaminated docs (8-gram overlap with the eval set;
             anti-join on doc_id — AQE picks broadcast at runtime when
             the contaminated set proves small)
          -> deterministic train/val/test assignment from the CONTENT
             fingerprint already in hand (fp60 mod 100 — duplicates
             share splits, stable under re-ingestion)

    Output: (doc_id, n_tokens, split). Every stage reuses the
    already-verified operator builders, so this query is the
    composition test: any drift in a stage breaks this oracle too."""
    from nreadability_spark.operators import textops

    survivors = clean_corpus(spark, sf_dir)
    contaminated = textops.decontaminate(spark, sf_dir).select("doc_id")
    bucket = F.col("fp60") % F.lit(100)
    split = (
        F.when(bucket < textops.SPLIT_TRAIN_PCT, "train")
        .when(bucket < textops.SPLIT_TRAIN_PCT + textops.SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    # no broadcast hint: the contaminated set is one row per
    # contaminated doc — usually tiny, but NOT bounded by a constant (a
    # pathologically leaked benchmark contaminates the whole corpus).
    # The anti-join is keyed on doc_id (hash-distributable); AQE
    # converts it to a runtime broadcast when stats prove it fits.
    return (
        survivors.where(F.col("doc_id") % textops.DECON_BENCH_EVERY != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", split.alias("split"))
        .orderBy("doc_id")
    )


def training_ready_sql() -> str:
    from nreadability_spark.operators import textops

    every = textops.DECON_BENCH_EVERY
    bucket = "(fp60 % 100)"
    return f"""
WITH {_clean_corpus_ctes()},
contaminated AS (SELECT doc_id FROM ({textops.decontaminate_sql()}) d)
SELECT doc_id, n_tokens,
       CASE WHEN {bucket} < {textops.SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {bucket} < {textops.SPLIT_TRAIN_PCT + textops.SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM survivors
WHERE doc_id % {every} != 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
ORDER BY doc_id
"""


CLUSTER_TOPIC_K = 5
CLUSTER_TOPIC_MICRO = 1_000_000


def cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus exploration composition ("topic modeling lite"): k-means
    cells over the embedding column x TF-IDF over the text column —
    per cluster, its document count and its top-CLUSTER_TOPIC_K characteristic terms
    where the cluster (not the document) is the TF-IDF document unit.
    The standard first look at an unlabeled web corpus: what is each
    semantic cluster ABOUT.

    Composition: the distributed Lloyd fit + cosine assignment
    (operators.similarity) keyed back to doc_id (vec_id == doc_id in
    the corpus contract), token frequencies re-aggregated per (cell,
    term), smoothed idf over CLUSTERS in MICRO fixed point (the
    established transcendental-rounding pattern), bounded per-cell
    top-k window. Scale shape: the only corpus-sized shuffles are the
    (doc_id) assignment join and the (cell, term) hash agg; the cell
    count C bounds the idf table, the window partitions and the
    output."""
    from nreadability_spark.operators.similarity import (
        _assign_to_centroids, _vectors, fit_centroids,
    )

    docs = load_documents(spark, sf_dir)
    emb = _vectors(spark, sf_dir)
    assigned = _assign_to_centroids(emb, fit_centroids(emb)).select(
        F.col("vec_id").alias("doc_id"), F.col("cell").cast("long").alias("cell")
    )
    sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tf = (
        tx.exploded_tokens(docs)
        .join(assigned, "doc_id")
        .groupBy("cell", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_cells = sizes.agg(F.count(F.lit(1)).cast("double").alias("n_cells"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_cells"))
        .crossJoin(F.broadcast(n_cells))
        .select(
            "term",
            "df_cells",
            F.round(
                (F.log((F.col("n_cells") + 1) / (F.col("df_cells") + 1)) + 1)
                * CLUSTER_TOPIC_MICRO
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cell").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        tf.join(idf, "term")
        .select(
            "cell", "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df_cells").cast("long").alias("df_cells"),
            (F.col("tf") * F.col("idf_micro")).cast("long").alias("score_micro"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= CLUSTER_TOPIC_K)
        .join(sizes, "cell")
        .select(
            "cell", "n_docs", F.col("rank").cast("long").alias("rank"),
            "term", "tf", "df_cells", "score_micro",
        )
        .orderBy("cell", "rank")
    )


def cluster_topics_sql() -> str:
    from nreadability_spark.operators.similarity import (
        KMEANS_ITERS, _assign_sql, _kmeans_cte_chain,
    )

    m = CLUSTER_TOPIC_MICRO
    return f"""
WITH {_kmeans_cte_chain()},
{_assign_sql(f"c{KMEANS_ITERS}", "ct_scored", "ct_assigned")},
ct_sizes AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_docs FROM ct_assigned GROUP BY cell
),
ct_tf AS MATERIALIZED (
  SELECT a.cell, tok AS term, count(*) AS tf
  FROM ({tx.exploded_tokens_sql('documents')}) toks
  JOIN ct_assigned a ON a.vec_id = toks.doc_id
  GROUP BY a.cell, tok
),
ct_idf AS (
  SELECT term, count(*) AS df_cells,
         CAST(round((ln((n_cells + 1) / (count(*) + 1)) + 1) * {m}) AS BIGINT)
           AS idf_micro
  FROM ct_tf, (SELECT CAST(count(*) AS DOUBLE) AS n_cells FROM ct_sizes) nc
  GROUP BY term, n_cells
),
ct_ranked AS (
  SELECT cell, term, tf, df_cells, tf * idf_micro AS score_micro,
         row_number() OVER (PARTITION BY cell
                            ORDER BY tf * idf_micro DESC, term) AS rank
  FROM ct_tf JOIN ct_idf USING (term)
)
SELECT r.cell, s.n_docs, CAST(r.rank AS BIGINT) AS rank, r.term,
       CAST(r.tf AS BIGINT) AS tf, CAST(r.df_cells AS BIGINT) AS df_cells,
       CAST(r.score_micro AS BIGINT) AS score_micro
FROM ct_ranked r JOIN ct_sizes s USING (cell)
WHERE r.rank <= {CLUSTER_TOPIC_K}
ORDER BY r.cell, r.rank
"""


SFT_PACK_BUDGET = 4096  # rendered characters per training sequence
SFT_PACK_BLOCK = 1024  # conversations per prefix-sum block


def sft_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end SFT layout path as ONE lazy plan: conversations
    render to chat-template examples (the `text_sft_spans` arithmetic)
    and the examples lay head-to-tail into fixed-budget training
    sequences (the `text_sequence_packing` layout rule) — what a
    pretokenization writer runs over a transcript corpus. Emits per
    conversation its rendered example length, global offset, starting
    pack, offset within that pack, and packs spanned.

    Scale shape: one hash agg to conversation granularity (map-side
    partials), then the layout of ``sequence_packing``, whose global
    offset is a blocked prefix sum over conv_id — never a single
    corpus-wide window task."""
    from nreadability_spark.operators.textops import _packed, sft_turns

    conv = (
        sft_turns(spark, sf_dir)
        .groupBy("conv_id")
        .agg(F.sum("turn_len").cast("long").alias("example_len"))
    )
    return _packed(conv, "conv_id", "example_len", SFT_PACK_BUDGET, SFT_PACK_BLOCK)


def sft_packed_sql() -> str:
    from nreadability_spark.operators.textops import packed_sql, sft_turns_sql

    return f"""
WITH {sft_turns_sql()},
conv AS (
  SELECT conv_id, CAST(SUM(turn_len) AS BIGINT) AS example_len
  FROM sized
  GROUP BY conv_id
),
{packed_sql('conv', 'conv_id', 'example_len', SFT_PACK_BUDGET)}"""


QUERIES = {
    "pipeline_clean_corpus": clean_corpus,
    "pipeline_training_ready": training_ready,
    "pipeline_cluster_topics": cluster_topics,
    "pipeline_sft_packed": sft_packed,
}
ORACLES = {
    "pipeline_clean_corpus": clean_corpus_sql(),
    "pipeline_training_ready": training_ready_sql(),
    "pipeline_cluster_topics": cluster_topics_sql(),
    "pipeline_sft_packed": sft_packed_sql(),
}
