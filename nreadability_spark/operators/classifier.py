"""Model-based quality classification: distributed logistic
regression, fit + apply.

The training-pipeline role: a learned document-quality filter (the
fastText-style classifier slot — CCNet's and GPT-3's quality filters)
trained ON the corpus WITH the engine, not imported. The labeled
corpus is derived deterministically in-plan (the line-dedup precedent
for in-plan rendering): every third document gets a prose-like tail
(function words), the rest a keyword-spam tail — the classic
natural-prose-vs-keyword-stuffing distinction a quality filter makes —
and the label is which tail was planted. Features are cheap surface
signals (English-stopword ratio, mean word length, token density);
the model is full-batch gradient descent, T unrolled rounds, and it
genuinely learns: 100% training accuracy vs a 2/3 base rate at sf0.01
(features must stay O(0.1-1): an unscaled token-density feature made
lr=10 diverge — weights blew past the separating plane and every
prediction went negative).

Determinism / engine parity (the unigram-LM and k-means contracts,
combined):
- features are rounded to 6 dp AS PART OF THE ALGORITHM, so per-row
  values are identical on any engine;
- each row's per-feature gradient contribution ``(sigmoid(w.x) - y)
  * x_j`` is rounded to MICRO fixed-point and summed as BIGINT — the
  corpus-wide gradient is independent of partition/summation order;
- the weight update divides exact integers and rounds to 6 dp.
The one transcendental (``exp``) is evaluated per row on identical
double inputs; a last-ulp libm divergence would have to land within
5e-7 of a rounding boundary to matter (the documented, accepted risk
shared with ln/log10 in tfidf/unigram).

Scale shape (100 TB): the feature table is built once (one map-side
pass, localCheckpoint pins the plan); each GD round is ONE aggregate
job emitting F BIGINTs to the driver (the learned parameter, like a
k-means centroid round or a BPE argmax); the apply pass is a map-side
expression with the weights as literals. No Python workers anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nreadability_spark.functions import text as tx
from nreadability_spark.operators.textops import STOPWORDS, load_documents

GD_ITERS = 12
GD_LR = 8.0
GD_MICRO = 1_000_000
N_FEATURES = 4  # bias, stopword ratio, mean word length /10, token density

_STOP_ARR = ", ".join(f"'{s}'" for s in STOPWORDS)

# planted tails: prose-like (function words) for y=1, keyword-spam for
# y=0 — similar token counts so length alone can't cheat
_PROSE_TAIL = " ".join(["the of and is to in a that it was"] * 3)
_SPAM_TAIL = " ".join(
    ["vector spark merge hash batch sort join scan shuffle agg"] * 3
)


def labeled_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, y, text): deterministic in-plan labeling — every third
    document gets the prose tail (y=1), the rest the spam tail."""
    y = (F.col("doc_id") % 3 == 0).cast("long")
    tail = F.when(y == 1, F.lit(" " + _PROSE_TAIL)).otherwise(
        F.lit(" " + _SPAM_TAIL)
    )
    return docs.select(
        "doc_id", y.alias("y"), F.concat(F.col("text"), tail).alias("text")
    )


_LABELED_SQL = f"""
labeled AS (
  SELECT doc_id, CAST(doc_id % 3 = 0 AS BIGINT) AS y,
         text || CASE WHEN doc_id % 3 = 0 THEN ' {_PROSE_TAIL}'
                      ELSE ' {_SPAM_TAIL}' END AS text
  FROM documents
)"""


def feature_frame(labeled: DataFrame) -> DataFrame:
    """(doc_id, y, x0..x3) over a labeled corpus: 6-dp-rounded surface
    features from ``text``; x0 is the bias term."""
    d = labeled.select(
        "doc_id",
        "y",
        tx.tokens(F.col("text")).alias("toks"),
        F.length("text").alias("n_chars"),
    ).select(
        "doc_id",
        "y",
        F.size("toks").alias("n_toks"),
        F.expr(f"size(filter(toks, t -> t IN ({_STOP_ARR})))").alias("n_stop"),
        F.expr("aggregate(toks, 0L, (a, t) -> a + length(t))").alias("sum_len"),
        "n_chars",
    )
    nt = F.greatest("n_toks", F.lit(1))
    return d.select(
        "doc_id",
        "y",
        F.lit(1.0).alias("x0"),
        F.round(F.col("n_stop") / nt, 6).alias("x1"),
        F.round(F.col("sum_len") / nt / 10, 6).alias("x2"),
        F.round(F.col("n_toks") / F.greatest("n_chars", F.lit(1)), 6).alias("x3"),
    )


def _sigmoid(z):
    return 1.0 / (1.0 + F.exp(-z))


def fit_logreg(feats: DataFrame):
    """Full-batch GD, GD_ITERS rounds at rate GD_LR; returns the weight
    trajectory [(iter, [w0..w3]), ...] with iter 1-based (after that
    update)."""
    feats = feats.localCheckpoint()
    n = feats.count()
    w = [0.0] * N_FEATURES
    out = []
    for t in range(1, GD_ITERS + 1):
        z = sum(F.col(f"x{j}") * F.lit(w[j]) for j in range(N_FEATURES))
        resid = _sigmoid(z) - F.col("y")
        sums = feats.agg(
            *[
                F.sum(
                    F.round(resid * F.col(f"x{j}") * GD_MICRO).cast("long")
                ).alias(f"g{j}")
                for j in range(N_FEATURES)
            ]
        ).collect()[0]
        w = [
            round(w[j] - GD_LR * sums[f"g{j}"] / GD_MICRO / n, 6)
            for j in range(N_FEATURES)
        ]
        out.append((t, list(w)))
    return out


def quality_classifier_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the GD weight trajectory in long format
    (iter, feature, weight)."""
    feats = feature_frame(labeled_corpus(load_documents(spark, sf_dir)))
    traj = fit_logreg(feats)
    rows = [(t, j, w[j]) for t, w in traj for j in range(N_FEATURES)]
    return spark.createDataFrame(
        rows, "iter: long, feature: long, weight: double"
    ).orderBy("iter", "feature")


def quality_classifier_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit, then score every document with the final weights (micro
    fixed-point logit so the compared value is an exact BIGINT) and
    report the hard prediction vs the label."""
    feats = feature_frame(labeled_corpus(load_documents(spark, sf_dir)))
    w = fit_logreg(feats)[-1][1]
    z = sum(F.col(f"x{j}") * F.lit(w[j]) for j in range(N_FEATURES))
    return (
        feats.select(
            "doc_id",
            "y",
            F.round(z * GD_MICRO).cast("long").alias("logit_micro"),
            (z > 0).cast("long").alias("pred"),
        )
        .orderBy("doc_id")
    )


# --- DuckDB oracle twins ------------------------------------------------

_FEATS_SQL = f"""
feats AS MATERIALIZED (
  SELECT doc_id, y,
         1.0 AS x0,
         round(len(list_filter(toks, t -> t IN ({_STOP_ARR})))
               / greatest(len(toks), 1), 6) AS x1,
         round(list_sum(list_transform(toks, t -> length(t)))
               / greatest(len(toks), 1) / 10, 6) AS x2,
         round(len(toks) / greatest(length(text), 1), 6) AS x3
  FROM (SELECT doc_id, y, text, {tx.tokens_sql('text')} AS toks
        FROM labeled) d
)"""


def _gd_ctes() -> str:
    """labeled + feats + unrolled GD rounds w1..w{GD_ITERS}."""
    parts = [
        _LABELED_SQL,
        _FEATS_SQL,
        "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, "
        "(SELECT count(*) FROM feats) AS n)",
    ]
    for t in range(1, GD_ITERS + 1):
        prev = f"w{t - 1}"
        z = " + ".join(f"f.x{j} * w.w{j}" for j in range(N_FEATURES))
        grads = ", ".join(
            f"sum(CAST(round((1.0 / (1.0 + exp(-({z}))) - f.y) * f.x{j} * {GD_MICRO}) AS BIGINT)) AS g{j}"
            for j in range(N_FEATURES)
        )
        updates = ", ".join(
            f"round(w.w{j} - {GD_LR} * g.g{j} / {GD_MICRO} / w.n, 6) AS w{j}"
            for j in range(N_FEATURES)
        )
        parts.append(f"g{t} AS MATERIALIZED (SELECT {grads} FROM feats f, {prev} w)")
        parts.append(f"w{t} AS (SELECT {updates}, w.n AS n FROM g{t} g, {prev} w)")
    return ",\n".join(parts)


def quality_classifier_fit_sql() -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS iter, CAST({j} AS BIGINT) AS feature, w{j} AS weight FROM w{t}"
        for t in range(1, GD_ITERS + 1)
        for j in range(N_FEATURES)
    )
    return f"WITH {_gd_ctes()}\nSELECT * FROM ({rows}) tr ORDER BY iter, feature"


def quality_classifier_apply_sql() -> str:
    z = " + ".join(f"f.x{j} * w.w{j}" for j in range(N_FEATURES))
    return f"""WITH {_gd_ctes()}
SELECT f.doc_id, f.y,
       CAST(round(({z}) * {GD_MICRO}) AS BIGINT) AS logit_micro,
       CAST(({z}) > 0 AS BIGINT) AS pred
FROM feats f, w{GD_ITERS} w
ORDER BY f.doc_id"""


QUERIES = {
    "text_quality_classifier_fit": quality_classifier_fit,
    "text_quality_classifier_apply": quality_classifier_apply,
}

ORACLES = {
    "text_quality_classifier_fit": quality_classifier_fit_sql(),
    "text_quality_classifier_apply": quality_classifier_apply_sql(),
}
