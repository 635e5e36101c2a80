"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline text ops: token counting, quality scoring,
language identification, and document fingerprinting. Every operator is
a pure Catalyst expression pipeline (whole-stage codegen, zero Python)
with a DuckDB-SQL twin for the correctness oracle.

Scale notes (100 TB): all four are single-pass scans with at most one
hash aggregation; no joins, no Python workers. The per-document ops
(quality, lang-id, fingerprint) are embarrassingly parallel; the only
shuffle is the final groupBy in ``token_stats`` (partial aggregation
pushes the heavy work map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nreadability_spark.functions import hashing
from nreadability_spark.functions import text as tx
from nreadability_spark.functions.prefix import exclusive_prefix_sum

# (lang, token, weight) marker-model table for language ID — the 100 TB
# shape: the model is DATA (a broadcast table the corpus scan joins
# against), not code, so swapping in a real stopword-frequency model
# changes no plan. Rows are public high-frequency stopwords; weights
# favor language-distinctive forms; ambiguous tokens (fr/es "que")
# simply appear under both languages. The synthetic corpus is an
# English word-soup, so non-English rows barely fire — the operator
# (broadcast join + weighted scoring + deterministic argmax) is the
# point.
LANG_MARKER_TABLE = (
    ("en", "the", 3), ("en", "and", 2), ("en", "of", 2), ("en", "to", 1),
    ("en", "in", 1), ("en", "is", 1), ("en", "that", 1), ("en", "for", 1),
    ("en", "with", 1), ("en", "a", 1), ("en", "value", 1), ("en", "fast", 1),
    ("de", "der", 3), ("de", "die", 3), ("de", "und", 3), ("de", "nicht", 2),
    ("de", "ein", 2), ("de", "ist", 2), ("de", "ich", 2), ("de", "das", 2),
    ("de", "sich", 2), ("de", "mit", 1),
    ("fr", "le", 3), ("fr", "les", 3), ("fr", "la", 2), ("fr", "et", 2),
    ("fr", "des", 2), ("fr", "est", 2), ("fr", "une", 2), ("fr", "dans", 2),
    ("fr", "pour", 1), ("fr", "que", 1),
    ("es", "el", 3), ("es", "los", 3), ("es", "las", 3), ("es", "una", 2),
    ("es", "por", 2), ("es", "con", 2), ("es", "para", 2), ("es", "del", 2),
    ("es", "es", 1), ("es", "que", 1),
    ("zh", "de5", 3), ("zh", "shi4", 3), ("zh", "le5", 3), ("zh", "bu4", 2),
    ("zh", "wo3", 2),
)
LANG_ORDER = ("en", "de", "fr", "es", "zh")  # deterministic tie-break

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: deliberately NO pre-spread repartition here. An A/B at
    # sf0.1 showed the single-file scan is not the bottleneck — every
    # consumer's first shuffle (groupBy/join) already fans out, and an
    # unconditional repartition of the raw text made minhash_lsh ~4x
    # slower (1.6s -> 6.1s warm). Production tables have many splits.
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _norm_text(col):
    """Normalized text for fingerprinting: lowercase, whitespace runs
    collapsed to single spaces, trimmed."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def _norm_text_sql(expr):
    return f"regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g')"


# --- token stats -------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    return (
        docs.select(
            "lang",
            tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
            tx.bpe_token_estimate(F.col("text")).cast("long").alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
        )
        .orderBy("lang")
    )


TOKEN_STATS_SQL = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_tokens
FROM (
  SELECT lang,
         CAST({tx.token_count_sql('text')} AS BIGINT) AS n_tokens,
         CAST({tx.bpe_token_estimate_sql('text')} AS BIGINT) AS n_bpe
  FROM documents
) t
GROUP BY lang
ORDER BY lang
"""


# --- quality scoring ---------------------------------------------------

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    toks = tx.tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("long")
    out = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(n_distinct / F.greatest(n_tok, F.lit(1)), 4).alias("ttr"),
        F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(
            (F.length(F.regexp_replace(F.col("text"), r"\s+", "")))
            / F.greatest(n_tok, F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )
    return out.withColumn(
        "quality_ok",
        ((F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 1000) & (F.col("ttr") >= 0.05))
        .cast("int"),
    ).orderBy("doc_id")


def _quality_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = tx.tokens_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(toks, t -> t IN ({stop_list}))) AS BIGINT) AS stop_hits,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace
  FROM (SELECT doc_id, text, {toks} AS toks FROM documents) t
)
SELECT doc_id, n_chars, n_tokens,
       round(n_distinct / greatest(n_tokens, 1), 4) AS ttr,
       round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
       round(n_nonspace / greatest(n_tokens, 1), 4) AS avg_token_len,
       CAST(n_tokens >= 50 AND n_tokens <= 1000
            AND round(n_distinct / greatest(n_tokens, 1), 4) >= 0.05 AS INT) AS quality_ok
FROM base
ORDER BY doc_id
"""


QUALITY_SQL = _quality_sql()


# --- language identification ------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID as a broadcast model-table join: explode tokens, hit
    the (lang, token, weight) marker table, sum weighted hits per
    (doc, lang), argmax with the LANG_ORDER tie-break; no-hit documents
    predict 'unknown'. Scale shape: the model table is tiny and
    broadcast; the corpus side is one map-side explode + one hash agg
    keyed by doc_id, then the scores re-join the documents table on
    doc_id — column pruning makes that shuffle carry only
    (doc_id, lang), never the text."""
    docs = load_documents(spark, sf_dir)
    markers = spark.createDataFrame(
        list(LANG_MARKER_TABLE), "mlang: string, tok: string, weight: long"
    )
    tok = tx.exploded_tokens(docs)
    scores = (
        tok.join(F.broadcast(markers), "tok")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("mlang") == lg, F.col("weight")).otherwise(0)).alias(
                    f"score_{lg}"
                )
                for lg in LANG_ORDER
            ]
        )
    )
    out = docs.select("doc_id", "lang").join(scores, "doc_id", "left").select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        *[
            F.coalesce(F.col(f"score_{lg}"), F.lit(0)).cast("long").alias(f"score_{lg}")
            for lg in LANG_ORDER
        ],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in LANG_ORDER])
    pred = F.lit("unknown")
    # first language (in LANG_ORDER) achieving the max wins; build the
    # CASE chain back-to-front so earlier langs take precedence
    for lang in reversed(LANG_ORDER):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), lang).otherwise(pred)
    return (
        out.withColumn("pred_lang", pred)
        .select(
            "doc_id",
            "label_lang",
            "pred_lang",
            *[f"score_{lg}" for lg in LANG_ORDER],
        )
        .orderBy("doc_id")
    )


def _lang_id_sql() -> str:
    values = ", ".join(f"('{lg}', '{t}', {w})" for lg, t, w in LANG_MARKER_TABLE)
    score_cols = ",\n         ".join(
        f"sum(CASE WHEN mlang = '{lg}' THEN weight ELSE 0 END) AS score_{lg}"
        for lg in LANG_ORDER
    )
    coalesced = ",\n       ".join(
        f"CAST(coalesce(s.score_{lg}, 0) AS BIGINT) AS score_{lg}" for lg in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"coalesce(s.score_{lg}, 0)" for lg in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN coalesce(s.score_{lg}, 0) = {best} AND {best} > 0 THEN '{lg}'"
        for lg in LANG_ORDER
    ) + " ELSE 'unknown' END"
    toks = tx.exploded_tokens_sql("documents")
    return f"""
WITH markers(mlang, tok, weight) AS (VALUES {values}),
toks AS ({toks}),
scores AS (
  SELECT t.doc_id, {score_cols}
  FROM toks t JOIN markers m ON t.tok = m.tok
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.lang AS label_lang, {case} AS pred_lang,
       {coalesced}
FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""


LANG_ID_SQL = _lang_id_sql()


# --- fingerprinting ----------------------------------------------------

def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (h60 of normalized text) + bottom-sketch
    (minimum shingle hash — the 1-element bottom-k sketch; at scale
    bottom-k feeds containment estimation the same way)."""
    docs = load_documents(spark, sf_dir)
    # shared shingle-hash stage (functions/text.py hashed_shingles):
    # the same map-side construction minhash/jaccard consume — the md5
    # is computed inside the array transform, only longs are exploded
    sh = tx.hashed_shingles(docs, n=3)
    sketch = sh.groupBy("doc_id").agg(F.min("sh60").alias("bottom_shingle_hash"))
    fp = docs.select("doc_id", hashing.h60(_norm_text(F.col("text"))).alias("fp60"))
    return (
        fp.join(sketch, "doc_id", "left")
        .select("doc_id", "fp60", "bottom_shingle_hash")
        .orderBy("doc_id")
    )


FINGERPRINTS_SQL = f"""
WITH sketch AS (
  SELECT doc_id, min(sh60) AS bottom_shingle_hash
  FROM ({tx.hashed_shingles_sql('documents', 3)}) sh
  GROUP BY doc_id
)
SELECT d.doc_id,
       {hashing.h60_sql(_norm_text_sql('d.text'))} AS fp60,
       s.bottom_shingle_hash
FROM documents d LEFT JOIN sketch s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""

# --- bottom-k sketch + containment estimation --------------------------

K_BOTTOM = 8  # sketch slots; fingerprints' bottom_shingle_hash is k=1
BOTTOMK_NGRAM = 3


def bottomk_sketches(docs: DataFrame) -> DataFrame:
    """(doc_id, sketch): the K_BOTTOM smallest distinct shingle hashes per
    document — the bottom-k generalization of ``fingerprints``' 1-slot
    sketch. Built with a bounded per-key window (row_number <= k), not
    a full per-doc set collect, so executor memory per document is k
    longs regardless of document size."""
    sh = tx.hashed_shingles(docs, BOTTOMK_NGRAM)
    w = Window.partitionBy("doc_id").orderBy("sh60")
    return (
        sh.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= K_BOTTOM)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("sh60")).alias("sketch"))
    )


def bottomk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment/Jaccard ESTIMATES from bottom-k sketches, for the
    candidate pairs that share their bottom-1 hash (the fingerprint
    bucket — the natural blocking key, since near-containing documents
    almost surely share their minimum shingle hash).

    Estimator (classic bottom-k): let U = bottom-k of (A ∪ B), computable
    exactly from the two sketches because bottomk(A∪B) ⊆ bottomk(A) ∪
    bottomk(B); then J(A,B) ≈ |U ∩ A ∩ B| / |U| and C(A,B) = |A∩B|/|A|
    ≈ |U ∩ A ∩ B| / |U ∩ A|. Pure arithmetic over the sketch arrays —
    deterministic, so the oracle twin matches exactly. At 100 TB the
    sketch table is the only thing shuffled (k longs per doc, corpus
    never re-scanned for estimation)."""
    docs = load_documents(spark, sf_dir)
    sk = bottomk_sketches(docs)
    a = sk.select(F.col("doc_id").alias("doc_a"), F.col("sketch").alias("sk_a"))
    b = sk.select(F.col("doc_id").alias("doc_b"), F.col("sketch").alias("sk_b"))
    pairs = a.join(
        b,
        (F.element_at("sk_a", 1) == F.element_at("sk_b", 1))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    union_k = F.slice(F.array_sort(F.array_union("sk_a", "sk_b")), 1, K_BOTTOM)
    calc = pairs.select(
        "doc_a",
        "doc_b",
        union_k.alias("uk"),
        F.array_intersect("sk_a", "sk_b").alias("inter_sk"),
        "sk_a",
    )
    n_uk = F.size("uk").cast("long")
    n_shared = F.size(F.array_intersect("uk", "inter_sk")).cast("long")
    n_in_a = F.size(F.array_intersect("uk", "sk_a")).cast("long")
    return (
        calc.select(
            "doc_a",
            "doc_b",
            n_uk.alias("n_union_k"),
            n_shared.alias("n_shared"),
            F.round(n_shared / F.greatest(n_uk, F.lit(1)), 4).alias("est_jaccard"),
            F.round(n_shared / F.greatest(n_in_a, F.lit(1)), 4).alias("est_containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


def bottomk_containment_sql() -> str:
    k = K_BOTTOM
    return f"""
WITH sh AS ({tx.hashed_shingles_sql('documents', BOTTOMK_NGRAM)}),
ranked AS (
  SELECT doc_id, sh60, row_number() OVER (PARTITION BY doc_id ORDER BY sh60) AS r
  FROM sh
),
sk AS (
  SELECT doc_id, list(sh60 ORDER BY sh60) AS sketch
  FROM ranked WHERE r <= {k} GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sketch AS sk_a, b.sketch AS sk_b
  FROM sk a JOIN sk b ON a.sketch[1] = b.sketch[1] AND a.doc_id < b.doc_id
),
calc AS (
  SELECT doc_a, doc_b,
         list_sort(list_distinct(sk_a || sk_b))[1:{k}] AS uk,
         list_intersect(sk_a, sk_b) AS inter_sk, sk_a
  FROM pairs
)
SELECT doc_a, doc_b,
       CAST(len(uk) AS BIGINT) AS n_union_k,
       CAST(len(list_intersect(uk, inter_sk)) AS BIGINT) AS n_shared,
       round(len(list_intersect(uk, inter_sk)) / greatest(len(uk), 1), 4) AS est_jaccard,
       round(len(list_intersect(uk, inter_sk)) / greatest(len(list_intersect(uk, sk_a)), 1), 4)
         AS est_containment
FROM calc
ORDER BY doc_a, doc_b
"""


# --- benchmark decontamination -----------------------------------------

DECON_NGRAM = 8
DECON_BENCH_EVERY = 50  # every 50th doc plays the "evaluation set"


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination: flag training documents that
    share any ``DECON_NGRAM``-gram with the held-out evaluation set (here a
    deterministic 2% slice standing in for a real benchmark corpus).
    Returns (doc_id, n_overlapping_shingles) for contaminated docs.

    Scale shape: the eval set's n-gram hash table is small (benchmarks
    are thousands of documents, not billions) and BROADCAST; the
    training side streams through one map-side shingle-hash stage and a
    broadcast semi-join — no shuffle of the corpus. The 8-gram grain is
    the published standard for benchmark decontamination."""
    docs = load_documents(spark, sf_dir)
    sh = tx.hashed_shingles(docs, DECON_NGRAM)
    bench = (
        sh.where(F.col("doc_id") % DECON_BENCH_EVERY == 0).select("sh60").distinct()
    )
    return (
        sh.where(F.col("doc_id") % DECON_BENCH_EVERY != 0)
        .join(F.broadcast(bench), "sh60")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlapping_shingles"))
        .orderBy("doc_id")
    )


def decontaminate_sql() -> str:
    return f"""
WITH sh AS ({tx.hashed_shingles_sql('documents', DECON_NGRAM)}),
bench AS (SELECT DISTINCT sh60 FROM sh WHERE doc_id % {DECON_BENCH_EVERY} = 0)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_overlapping_shingles
FROM sh s JOIN bench b ON s.sh60 = b.sh60
WHERE s.doc_id % {DECON_BENCH_EVERY} != 0
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


# --- Bloom-filter decontamination (the large-eval-set scale path) ------

BLOOM_BITS = 4096
BLOOM_HASHES = 3


def _bloom_positions(df: DataFrame) -> DataFrame:
    """Explode each shingle hash into its k = BLOOM_HASHES Bloom bit
    positions via Kirsch-Mitzenmacher double hashing: pos_i = (h1 +
    i*h2) mod m, m = BLOOM_BITS. All arithmetic on the nonnegative
    60-bit hash — portable BIGINT ops on both engines."""
    m = BLOOM_BITS
    h1 = F.pmod(F.col("sh60"), F.lit(m))
    h2 = F.lit(1) + F.pmod(F.shiftright(F.col("sh60"), 20), F.lit(m - 1))
    poss = F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(BLOOM_HASHES)])
    return df.withColumn("pos", F.explode(poss))


def _bloom_positions_sql(i: int) -> str:
    m = BLOOM_BITS
    return f"((sh60 % {m}) + {i} * (1 + ((sh60 >> 20) % {m - 1}))) % {m}"


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a BLOOM FILTER of the eval set's n-gram
    hashes — the shape for when the held-out set is too large to
    broadcast as an exact hash table (the exact variant,
    ``text_decontaminate``, broadcasts the hashes themselves). The
    filter errs only toward over-removal (false positives can only ADD
    flags — the safe direction for decontamination), and because the
    bit positions are deterministic arithmetic on the portable 60-bit
    hash, the filter — false positives included — is engine-exact and
    oracle-checkable.

    Output per contaminated-or-flagged doc: ``n_flagged`` (Bloom hits)
    alongside ``n_exact`` (true overlaps), so the query itself measures
    the filter's overcount at these parameters (m=4096, k=3 — sized so
    sandbox corpora actually produce false positives; a production
    filter sizes m for ~1% FP).

    Scale shape: the bitmap is ``<= k * |eval n-grams|`` DISTINCT
    positions, bounded by m regardless of eval-set size; the corpus
    streams through the shared map-side shingle-hash stage, explodes k
    bit positions per shingle, and probes the broadcast bitmap — zero
    corpus shuffles before the per-doc count."""
    docs = load_documents(spark, sf_dir)
    sh = tx.hashed_shingles(docs, DECON_NGRAM)
    bench = sh.where(F.col("doc_id") % DECON_BENCH_EVERY == 0).select("sh60").distinct()
    bits = _bloom_positions(bench).select("pos").distinct()
    corpus = sh.where(F.col("doc_id") % DECON_BENCH_EVERY != 0)
    flagged = (
        _bloom_positions(corpus)
        .join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "sh60")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .where(F.col("nhit") == BLOOM_HASHES)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    exact = (
        corpus.join(F.broadcast(bench), "sh60")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        flagged.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_flagged",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        )
        .orderBy("doc_id")
    )


def decontaminate_bloom_sql() -> str:
    k, every = BLOOM_HASHES, DECON_BENCH_EVERY
    pos_union = " UNION ALL ".join(
        f"SELECT doc_id, sh60, {_bloom_positions_sql(i)} AS pos FROM side"
        for i in range(k)
    )
    return f"""
WITH sh AS MATERIALIZED ({tx.hashed_shingles_sql('documents', DECON_NGRAM)}),
bench AS (SELECT DISTINCT sh60 FROM sh WHERE doc_id % {every} = 0),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_positions_sql(i)} AS pos FROM bench" for i in range(k))}
  ) p
),
side AS (SELECT doc_id, sh60 FROM sh WHERE doc_id % {every} != 0),
cand AS ({pos_union}),
flagged AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged FROM (
    SELECT c.doc_id, c.sh60, count(*) AS nhit
    FROM cand c JOIN bits b ON c.pos = b.pos
    GROUP BY c.doc_id, c.sh60 HAVING count(*) = {k}
  ) f GROUP BY doc_id
),
exact AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM side s JOIN bench b ON s.sh60 = b.sh60
  GROUP BY s.doc_id
)
SELECT f.doc_id, f.n_flagged, coalesce(e.n_exact, 0) AS n_exact
FROM flagged f LEFT JOIN exact e ON f.doc_id = e.doc_id
ORDER BY f.doc_id
"""


# --- count-min sketch of token frequencies -----------------------------

# width deliberately small: the synthetic corpus has a tiny vocabulary
# (~10^2 distinct tokens), and at production widths no probe collides —
# the sketch would be indistinguishable from the exact counts and the
# one-sided-error path would go untested. w=64 makes real overcounts
# land in the compared output at every sf (the guarantee stays
# one-sided: est >= exact always).
CMS_WIDTH = 64
CMS_DEPTH = 3
CMS_PROBE_TOP = 20


def _cms_positions(df: DataFrame) -> DataFrame:
    """``df`` plus (row, pos): the CMS_DEPTH counter positions of each
    row's hash column ``h``, one output row per sketch row — the double
    hashing ``_cms_pos_sql`` writes for DuckDB."""
    w = CMS_WIDTH
    h1 = F.pmod(F.col("h"), F.lit(w))
    h2 = F.lit(1) + F.pmod(F.shiftright(F.col("h"), 20), F.lit(w - 1))
    poss = F.array(
        *[
            F.struct(F.lit(i).alias("row"), F.pmod(h1 + F.lit(i) * h2, F.lit(w)).alias("pos"))
            for i in range(CMS_DEPTH)
        ]
    )
    return df.withColumn("p", F.explode(poss)).select(*df.columns, "p.row", "p.pos")


def _cms_pos_sql(i: int, h: str) -> str:
    w = CMS_WIDTH
    return f"((({h}) % {w}) + {i} * (1 + ((({h}) >> 20) % {w - 1}))) % {w}"


def token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of corpus token frequencies, probed against the
    exact counts (Cormode & Muthukrishnan 2005) — the mergeable-sketch
    shape for frequency estimation when the distinct-token table itself
    is too large to aggregate exactly: the sketch is d*w counters
    regardless of vocabulary size, and counter sums are map-side
    partial-aggregable (the same reason approx_count_distinct beats
    countDistinct at 100 TB). Positions use the same deterministic
    double hashing as the Bloom filter, so the sketch — collisions and
    all — is engine-exact: the oracle recomputes it bit-for-bit and the
    output carries est alongside exact, asserting the one-sided
    guarantee (CMS never underestimates) as checkable data.

    Scale shape: ONE shuffle keyed by (row, pos) — at most d*w groups —
    for the sketch; the probe side joins a broadcast-sized P*d position
    table against it. The exact counts here are the verification
    harness; a production user keeps only the sketch."""
    # pre-spread: this query re-scans the (single-file) corpus three
    # times with per-token hashing in the scan stage; without the
    # explicit repartition every pass runs in ONE task (the raw table
    # is a few MB — the spread costs less than a second of the ~15s
    # single-task cold time it removes)
    docs = load_documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tx.exploded_tokens(docs).select("tok")
    # materialize the md5-derived hash ONCE per token: the position
    # expressions reference it 2*d times, and codegen does not CSE the
    # embedded md5 subtree (the HOF-lambda pitfall, same fix — measured
    # 18.5s -> ~2s cold at sf0.1)
    hashed = toks.select(hashing.h60(F.col("tok")).alias("h"))
    counters = _cms_positions(hashed).groupBy("row", "pos").agg(
        F.count(F.lit(1)).alias("counter")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    wtop = Window.orderBy(F.desc("exact_cnt"), F.asc("tok"))
    probe = (
        exact.withColumn("r", F.row_number().over(wtop))
        .where(F.col("r") <= CMS_PROBE_TOP)
        .drop("r")
    )
    probe_pos = _cms_positions(probe.withColumn("h", hashing.h60(F.col("tok"))))
    return (
        probe_pos.join(F.broadcast(counters), ["row", "pos"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("counter").alias("est_cnt"))
        .select(
            "tok",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("tok")
    )


def token_cms_sql() -> str:
    toks = tx.exploded_tokens_sql("documents")
    h = hashing.h60_sql("tok")
    pair_union = " UNION ALL ".join(
        f"SELECT {i} AS row, {_cms_pos_sql(i, h)} AS pos FROM t" for i in range(CMS_DEPTH)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT tok, exact_cnt, {i} AS row, {_cms_pos_sql(i, h)} AS pos FROM probe"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH t AS MATERIALIZED (SELECT tok FROM ({toks}) e),
counters AS MATERIALIZED (
  SELECT row, pos, CAST(count(*) AS BIGINT) AS counter
  FROM ({pair_union}) p GROUP BY row, pos
),
exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM t GROUP BY tok),
probe AS (
  SELECT tok, exact_cnt FROM (
    SELECT tok, exact_cnt,
           row_number() OVER (ORDER BY exact_cnt DESC, tok) AS r
    FROM exact
  ) x WHERE r <= {CMS_PROBE_TOP}
),
est AS (
  SELECT pp.tok, pp.exact_cnt, min(c.counter) AS est_cnt
  FROM ({probe_union}) pp JOIN counters c ON pp.row = c.row AND pp.pos = c.pos
  GROUP BY pp.tok, pp.exact_cnt
)
SELECT tok, exact_cnt, CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
FROM est ORDER BY tok
"""


# --- feature-hashing document embeddings (the hashing trick) -----------

FH_DIM = 64


def hashed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document embeddings via feature hashing (Weinberger et al. 2009,
    "Feature Hashing for Large Scale Multitask Learning"): each token
    maps to dimension ``h % FH_DIM`` with a deterministic ±1 sign from the
    next hash bit, counts accumulate, and the vector is L2-normalized.
    This is how you get a fixed-width embedding column out of raw text
    with NO learned vocabulary and NO Python — the cheap text-side
    input to the similarity stack (the embeddings table's schema, built
    from documents instead of given).

    Long-format output (doc_id, dim, weight): the un-normalized
    coordinates are exact BIGINTs; the single division by the L2 norm
    is the only float step and is rounded to 6 dp identically on both
    engines (integer sums make the norm itself exact).

    Scale shape: one map-side explode to (doc, dim, sign) and ONE hash
    aggregate keyed by (doc_id, dim) — at most ``FH_DIM`` rows per
    document regardless of length; the norm is a window-free in-group
    aggregate reusing the same partitioning."""
    docs = load_documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tx.exploded_tokens(docs).select("doc_id", "tok")
    # one md5 per token (materialized before reuse — the CSE pitfall)
    hashed = toks.select("doc_id", hashing.h60(F.col("tok")).alias("h"))
    coords = hashed.select(
        "doc_id",
        F.pmod(F.col("h"), F.lit(FH_DIM)).alias("dim"),
        # sign bit: one hash bit ABOVE the dimension bits, so sign and
        # dimension are independent
        (F.lit(1) - F.lit(2) * F.pmod(F.shiftright(F.col("h"), 20), F.lit(2))).alias(
            "sign"
        ),
    )
    raw = coords.groupBy("doc_id", "dim").agg(F.sum("sign").alias("coord"))
    norms = raw.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("coord") * F.col("coord"))).alias("norm")
    )
    return (
        raw.join(norms, "doc_id")
        .where(F.col("coord") != 0)
        .select(
            "doc_id",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("coord") / F.greatest("norm", F.lit(1e-300)), 6).alias(
                "weight"
            ),
        )
        .orderBy("doc_id", "dim")
    )


def hashed_embeddings_sql() -> str:
    toks = tx.exploded_tokens_sql("documents")
    h = hashing.h60_sql("tok")
    return f"""
WITH coords AS (
  SELECT doc_id, ({h}) % {FH_DIM} AS dim,
         1 - 2 * ((({h}) >> 20) % 2) AS sign
  FROM ({toks}) t
),
raw AS (
  SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS coord
  FROM coords GROUP BY doc_id, dim
),
norms AS (
  SELECT doc_id, sqrt(sum(coord * coord)) AS norm FROM raw GROUP BY doc_id
)
SELECT r.doc_id, CAST(r.dim AS BIGINT) AS dim,
       round(r.coord / greatest(n.norm, 1e-300), 6) AS weight
FROM raw r JOIN norms n ON r.doc_id = n.doc_id
WHERE r.coord != 0
ORDER BY r.doc_id, r.dim
"""


# --- deterministic train/val/test split --------------------------------

SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 5  # remainder is test


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash split assignment: bucket = h60(normalized text) mod
    100 -> train/val/test. Hashing the CONTENT (not the id) keeps exact
    duplicates in the same split — the property that prevents
    train/test leakage through duplicated documents — and the split is
    stable under re-ingestion, repartitioning, and engine changes
    (portable md5 hash). Embarrassingly parallel; the groupBy here just
    reports per-language split sizes."""
    docs = load_documents(spark, sf_dir)
    bucket = hashing.h60(_norm_text(F.col("text"))) % F.lit(100)
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "split")
    )


def train_val_split_sql() -> str:
    bucket = f"({hashing.h60_sql(_norm_text_sql('text'))} % 100)"
    return f"""
SELECT lang,
       CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, split
"""


# --- intra-document repetition (Gopher-style quality signal) -----------

REPETITION_NGRAM = 3


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram ratio per document: 1 - distinct/total 3-gram
    occurrences — the published repetition filter for generated/spammy
    text (a page repeating one sentence scores near 1). Entirely
    map-side: the token array is materialized once, sliced and hashed
    in-array, counted with and without array_distinct; no shuffle."""
    docs = load_documents(spark, sf_dir)
    toks = tx.tokens(F.col("text"))
    pre = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= REPETITION_NGRAM)
    hashes = tx.shingle_hashes(REPETITION_NGRAM)
    return (
        pre.select(
            "doc_id",
            F.size(hashes).cast("long").alias("n_ngrams"),
            F.size(F.array_distinct(hashes)).cast("long").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            F.round(1 - F.col("n_distinct") / F.col("n_ngrams"), 4).alias("dup_ngram_ratio"),
        )
        .orderBy("doc_id")
    )


def repetition_scores_sql() -> str:
    # non-distinct shingles: one row per position
    return f"""
WITH grams AS ({tx.positional_shingle_hashes_sql('documents', REPETITION_NGRAM)})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(count(DISTINCT sh60) AS BIGINT) AS n_distinct,
       round(1 - count(DISTINCT sh60) / count(*), 4) AS dup_ngram_ratio
FROM grams
GROUP BY doc_id
ORDER BY doc_id
"""


# --- sequence packing (fixed-token-budget pack assignment) -------------

PACK_BUDGET = 2048  # tokens per training sequence
PACK_BLOCK = 1024  # docs per prefix-sum block


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing: documents in deterministic
    doc_id order are laid head-to-tail into fixed-token-budget packs
    (the layout step a pretokenization writer runs); each doc reports
    its global token offset, its starting pack, its offset within that
    pack, and how many packs it spans.

    The global running total is a blocked prefix sum over doc_id
    (``functions.prefix``), not one window: a single
    ``Window.orderBy(doc_id)`` puts the entire corpus in ONE task."""
    docs = load_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", tx.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return _packed(toks, "doc_id", "n_tokens", PACK_BUDGET, PACK_BLOCK)


def _packed(df: DataFrame, key: str, len_col: str, budget: int, block_size: int) -> DataFrame:
    """(key, len_col, offset_global, pack_id, pack_offset,
    n_packs_spanned) ordered by ``key``: the rows of ``df`` laid
    head-to-tail in ``key`` order into packs of ``budget``, the global
    offset a blocked prefix sum (``functions.prefix``). A zero-length
    row spans one pack."""
    laid = exclusive_prefix_sum(df, len_col, key, "offset_global", block_size)
    return laid.select(
        key,
        len_col,
        "offset_global",
        F.expr(f"offset_global div {budget}").alias("pack_id"),
        (F.col("offset_global") % F.lit(budget)).cast("long").alias("pack_offset"),
        F.when(F.col(len_col) == 0, F.lit(1))
        .otherwise(
            F.expr(f"(offset_global + {len_col} - 1) div {budget}")
            - F.expr(f"offset_global div {budget}")
            + 1
        )
        .cast("long")
        .alias("n_packs_spanned"),
    ).orderBy(key)


def packed_sql(source: str, key: str, len_col: str, budget: int) -> str:
    """``_packed`` as DuckDB SQL over the CTE ``source``: the CTE
    ``pre`` and the SELECT that ends the query."""
    return f"""pre AS (
  SELECT {key}, {len_col},
         CAST(coalesce(sum({len_col}) OVER (ORDER BY {key}
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS offset_global
  FROM {source}
)
SELECT {key}, {len_col}, offset_global,
       offset_global // {budget} AS pack_id,
       offset_global % {budget} AS pack_offset,
       CASE WHEN {len_col} = 0 THEN 1
            ELSE (offset_global + {len_col} - 1) // {budget}
                 - offset_global // {budget} + 1 END AS n_packs_spanned
FROM pre
ORDER BY {key}
"""


def sequence_packing_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, CAST({tx.token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
),
{packed_sql('toks', 'doc_id', 'n_tokens', PACK_BUDGET)}"""


# --- PII pattern scan ---------------------------------------------------

# deliberately simple, portable regexes (same syntax both engines)
PII_PATTERNS = {
    "emails": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phones": r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ssns": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def _pii_hits(texts: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ssns) per ``texts`` row (doc_id,
    text) with at least one hit, by doc_id."""
    counts = [
        F.regexp_count(F.col("text"), F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, rx in PII_PATTERNS.items()
    ]
    any_hit = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_hit = c if any_hit is None else (any_hit | c)
    return texts.select("doc_id", *counts).where(any_hit).orderBy("doc_id")


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII pattern counts (emails/phones/SSN-shaped) — the
    redaction pre-scan of a cleaning pipeline. Pure regexp_count scalar
    expressions, embarrassingly parallel; only documents with at least
    one hit are returned (at 100 TB the clean majority is the corpus —
    don't materialize zero rows)."""
    return _pii_hits(load_documents(spark, sf_dir))


def pii_scan_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan over a PLANTED corpus — the non-vacuous driver check.

    ``pii_scan`` is correct but vacuously green at the driver's scale
    factor (the synthetic documents contain no PII, so Spark and the
    oracle agree on the empty set — which verifies the filter
    direction, not the counts). Here each doc_id gets a deterministic
    number of planted e-mails / phones / SSNs, generated as pure
    Catalyst string expressions (repeat/concat — zero Python, nothing
    materialized), and the scan's regexes run over that text. The
    oracle is CLOSED FORM: the expected counts are arithmetic in
    doc_id, so a regex drift, a repeat-miscount, or an off-by-one in
    the any-hit filter all surface as value mismatches on real rows.

    Plant spacing matters: each planted item is wrapped in non-PII
    filler words so matches never merge or overlap across plants (the
    regexes are non-overlapping left-to-right in both engines)."""
    docs = load_documents(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact block: "),
            F.expr("repeat('reach user.name@example.com soon ', cast(doc_id % 3 as int))"),
            F.expr("repeat('call 555-010-1234 today ', cast((doc_id + 1) % 4 as int))"),
            F.expr("CASE WHEN doc_id % 5 = 0 THEN 'ssn 123-45-6789 end' ELSE 'no ssn here' END"),
        ).alias("text"),
    )
    return _pii_hits(planted)


def pii_scan_planted_sql() -> str:
    """Arithmetic twin of the planted scan: no regexes, no planted
    text — just the planting formula, so the two sides are computed by
    genuinely different routes."""
    return """
SELECT doc_id,
       CAST(doc_id % 3 AS BIGINT) AS n_emails,
       CAST((doc_id + 1) % 4 AS BIGINT) AS n_phones,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_ssns
FROM documents
WHERE doc_id % 3 > 0 OR (doc_id + 1) % 4 > 0 OR doc_id % 5 = 0
ORDER BY doc_id
"""


def pii_scan_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{rx}')) AS BIGINT) AS n_{name}"
        for name, rx in PII_PATTERNS.items()
    )
    where = " OR ".join(
        f"len(regexp_extract_all(text, '{rx}')) > 0" for rx in PII_PATTERNS.values()
    )
    return f"""
SELECT doc_id,
       {cols}
FROM documents
WHERE {where}
ORDER BY doc_id
"""


# --- unigram log-probability scoring (CCNet-style model filter) --------

LM_VOCAB_SIZE = 40  # top-V corpus tokens kept as the unigram model
LM_MICRO = 1_000_000  # fixed-point grain: log10-prob in millionths


def _unigram_model(toks: DataFrame):
    """The unigram LM both scorers fit on ``toks`` (one row per token):
    ``vocab`` (tok, logp_micro), the top-LM_VOCAB_SIZE tokens by count (ties by
    token) with their log10 probability, and ``oov`` (oov_micro), the
    one-row 0.5/total floor. The top-V runs through
    TakeOrderedAndProject, never a global sort."""
    totals = toks.agg(F.count(F.lit(1)).cast("double").alias("total_toks"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(LM_VOCAB_SIZE)
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.round(F.log10(F.col("cnt") / F.col("total_toks")) * LM_MICRO)
            .cast("long")
            .alias("logp_micro"),
        )
    )
    oov = totals.select(
        F.round(F.log10(F.lit(0.5) / F.col("total_toks")) * LM_MICRO)
        .cast("long")
        .alias("oov_micro")
    )
    return vocab, oov


def _per_doc_logp(docs: DataFrame, scored: DataFrame, counted: str) -> DataFrame:
    """Every document of ``docs`` with its ``scored`` sums (doc_id,
    n_tokens, ``counted``, sum_logp_micro), 0 for a document without
    tokens, and the mean log-prob ``avg_logp`` (NULL then). Column
    pruning keeps the join to (doc_id, scores)."""
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            *(
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_tokens", counted, "sum_logp_micro")
            ),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.round(
                    F.col("sum_logp_micro") / F.col("n_tokens") / F.lit(float(LM_MICRO)), 6
                ),
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


def _unigram_model_sql() -> str:
    """The SQL twin of ``_unigram_model``: CTEs ``toks`` (doc_id, pos,
    tok), ``totals``, ``vocab`` and ``oov``."""
    toks = tx.exploded_tokens_sql("documents")
    return f"""toks AS MATERIALIZED (SELECT doc_id, pos, tok FROM ({toks}) t),
totals AS (SELECT CAST(count(*) AS DOUBLE) AS total_toks FROM toks),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(round(log10(cnt / total_toks) * {LM_MICRO}) AS BIGINT) AS logp_micro
  FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT {LM_VOCAB_SIZE}) v
  CROSS JOIN totals
),
oov AS (
  SELECT CAST(round(log10(0.5 / total_toks) * {LM_MICRO}) AS BIGINT) AS oov_micro
  FROM totals
)"""


def _per_doc_logp_sql(counted: str) -> str:
    """The SQL twin of ``_per_doc_logp`` over a ``scored`` CTE."""
    return f"""SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.{counted}, 0) AS BIGINT) AS {counted},
       CAST(coalesce(s.sum_logp_micro, 0) AS BIGINT) AS sum_logp_micro,
       CASE WHEN coalesce(s.n_tokens, 0) > 0
            THEN round(coalesce(s.sum_logp_micro, 0) / s.n_tokens / {LM_MICRO}.0, 6)
            END AS avg_logp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style model-based quality scoring, as fit + apply: fit a
    unigram LM over the corpus (top-V tokens by frequency, log10
    probabilities), then score every document by its mean token
    log-prob (the perplexity-filter signal; low = out-of-distribution).

    Numeric determinism: per-token log-probs are rounded to MICRO
    fixed-point (millionths, AS PART OF THE ALGORITHM — the k-means
    precedent) and summed as BIGINTs, so the per-document sum is
    independent of Spark's partition/summation order; the mean divides
    two integers, identical on both engines. OOV tokens score a
    0.5/total floor.

    Scale shape (100 TB): the fit is one map-side-partial token count
    whose top-V runs through TakeOrderedAndProject (never a global
    sort); the model and the two scalar totals broadcast; scoring is
    explode -> broadcast hash join -> one hash agg keyed by doc_id.
    The final join back to ``documents`` carries only (doc_id, scores)
    thanks to column pruning."""
    docs = load_documents(spark, sf_dir)
    toks = tx.exploded_tokens(docs).select("doc_id", "tok")
    vocab, oov = _unigram_model(toks)
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce(F.col("logp_micro"), F.col("oov_micro")).alias("micro"),
            F.col("logp_micro").isNull().cast("long").alias("is_oov"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("is_oov").alias("n_oov"),
            F.sum("micro").alias("sum_logp_micro"),
        )
    )
    return _per_doc_logp(docs, scored, "n_oov")


def unigram_logprob_sql() -> str:
    return f"""
WITH {_unigram_model_sql()},
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.logp_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(coalesce(v.logp_micro, o.oov_micro)) AS BIGINT) AS sum_logp_micro
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN oov o
  GROUP BY t.doc_id
)
{_per_doc_logp_sql("n_oov")}"""


# --- bigram LM scoring with stupid backoff -----------------------------

import math as _math

BLM_BACKOFF = 0.4  # Brants et al. 2007 "Large Language Models in MT"
BLM_BACKOFF_MICRO = int(round(_math.log10(BLM_BACKOFF) * LM_MICRO))


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with STUPID BACKOFF (Brants et
    al. 2007, the web-scale choice: no discounting mass to normalize,
    so the model distributes as plain count tables): position 0 scores
    unigram; position i>=1 scores log10(cnt(prev,cur)/ctx(prev)) when
    the in-vocab bigram was seen, else the fixed backoff penalty
    log10(0.4) plus the unigram score of ``cur`` (OOV floor as in the
    unigram LM). All log factors in MICRO fixed point (the established
    pattern), so per-document sums are exact BIGINTs on any
    partitioning.

    Scale shape (100 TB): pairs are built MAP-SIDE from the
    materialized token array (no self-join on position); the model
    tables are bounded by construction — vocab = V rows, bigrams <= V^2
    (only in-vocab pairs are kept), so every scoring join broadcasts a
    constant-size table no matter the corpus; one hash agg keyed by
    doc_id ends the plan."""
    docs = load_documents(spark, sf_dir)
    toks = tx.exploded_tokens(docs).select("doc_id", "pos", "tok")
    vocab, oov = _unigram_model(toks)

    # map-side adjacent pairs from the materialized token array
    # (lambda-CSE-safe: toks column first, element_at in the transform)
    arr = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 2
    )
    pair_structs = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at(F.col("toks"), i + 1).alias("prev"),
            F.element_at(F.col("toks"), i + 2).alias("cur"),
        ),
    )
    pairs = arr.select(
        "doc_id", F.explode(pair_structs).alias("p")
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))

    v_prev = vocab.select(F.col("tok").alias("prev"))
    v_cur = vocab.select(F.col("tok").alias("cur"))
    kept = pairs.join(F.broadcast(v_prev), "prev").join(F.broadcast(v_cur), "cur")
    big = kept.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("cnt2"))
    ctx = big.groupBy("prev").agg(F.sum("cnt2").cast("double").alias("n_ctx"))
    bigram = big.join(F.broadcast(ctx), "prev").select(
        "prev",
        "cur",
        F.round(F.log10(F.col("cnt2") / F.col("n_ctx")) * LM_MICRO)
        .cast("long")
        .alias("bi_micro"),
    )

    first = (
        toks.where(F.col("pos") == 0)
        .join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce("logp_micro", "oov_micro").alias("micro"),
            F.lit(0).cast("long").alias("hit"),
        )
    )
    rest = (
        pairs.join(F.broadcast(bigram), ["prev", "cur"], "left")
        .join(
            F.broadcast(vocab.select(F.col("tok").alias("cur"), "logp_micro")),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce(
                F.col("bi_micro"),
                F.lit(BLM_BACKOFF_MICRO)
                + F.coalesce("logp_micro", "oov_micro"),
            ).alias("micro"),
            F.col("bi_micro").isNotNull().cast("long").alias("hit"),
        )
    )
    scored = (
        first.unionByName(rest)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("hit").cast("long").alias("n_bigram_hits"),
            F.sum("micro").cast("long").alias("sum_logp_micro"),
        )
    )
    return _per_doc_logp(docs, scored, "n_bigram_hits")


def bigram_logprob_sql() -> str:
    return f"""
WITH {_unigram_model_sql()},
pairs AS MATERIALIZED (
  SELECT doc_id, prev, tok AS cur FROM (
    SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, tok
    FROM toks
  ) w WHERE prev IS NOT NULL
),
big AS MATERIALIZED (
  SELECT p.prev, p.cur, count(*) AS cnt2
  FROM pairs p
  JOIN vocab vp ON vp.tok = p.prev
  JOIN vocab vc ON vc.tok = p.cur
  GROUP BY p.prev, p.cur
),
ctx AS (SELECT prev, CAST(sum(cnt2) AS DOUBLE) AS n_ctx FROM big GROUP BY prev),
bigram AS (
  SELECT b.prev, b.cur,
         CAST(round(log10(b.cnt2 / c.n_ctx) * {LM_MICRO}) AS BIGINT) AS bi_micro
  FROM big b JOIN ctx c USING (prev)
),
first_tok AS (
  SELECT t.doc_id, coalesce(v.logp_micro, o.oov_micro) AS micro,
         CAST(0 AS BIGINT) AS hit
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok CROSS JOIN oov o
  WHERE t.pos = 0
),
rest AS (
  SELECT p.doc_id,
         coalesce(bg.bi_micro,
                  {BLM_BACKOFF_MICRO} + coalesce(v.logp_micro, o.oov_micro)) AS micro,
         CAST(CASE WHEN bg.bi_micro IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
  FROM pairs p
  LEFT JOIN bigram bg ON bg.prev = p.prev AND bg.cur = p.cur
  LEFT JOIN vocab v ON v.tok = p.cur
  CROSS JOIN oov o
),
scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(hit) AS BIGINT) AS n_bigram_hits,
         CAST(sum(micro) AS BIGINT) AS sum_logp_micro
  FROM (SELECT * FROM first_tok UNION ALL SELECT * FROM rest) u
  GROUP BY doc_id
)
{_per_doc_logp_sql("n_bigram_hits")}"""


# --- source mixture weights (data-mixture balancing) -------------------

def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token share and the uniform-target resampling weight
    (the mixture-balancing step before training: weight each source so
    the sampled mixture hits 1/n_sources token share). One hash agg to
    ~n_sources rows plus a broadcast scalar total — trivially scalable;
    the skew lives in the data, never in the plan."""
    docs = load_documents(spark, sf_dir)
    per_src = (
        docs.select("source", tx.token_count(F.col("text")).cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("sum_tokens"))
    )
    totals = per_src.agg(
        F.sum("sum_tokens").cast("double").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_tokens").cast("long").alias("sum_tokens"),
            F.round(F.col("sum_tokens") / F.col("total_tokens"), 6).alias("token_share"),
            F.round(
                F.col("total_tokens") / (F.col("n_sources") * F.col("sum_tokens")), 6
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


SOURCE_MIXTURE_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({tx.token_count_sql('text')}) AS BIGINT) AS sum_tokens
  FROM documents GROUP BY source
),
totals AS (
  SELECT CAST(sum(sum_tokens) AS DOUBLE) AS total_tokens,
         CAST(count(*) AS DOUBLE) AS n_sources
  FROM per_src
)
SELECT source, n_docs, sum_tokens,
       round(sum_tokens / total_tokens, 6) AS token_share,
       round(total_tokens / (n_sources * sum_tokens), 6) AS sample_weight
FROM per_src CROSS JOIN totals
ORDER BY source
"""


# --- cross-document line-level dedup (boilerplate removal) -------------

LINE_CHUNK = 10  # body tokens per rendered line
LINE_BOILER_MIN_DOCS = 4  # doc-frequency threshold for boilerplate


def _rendered_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, lines array<string>) — a deterministic page rendering of
    the single-line synthetic documents: per-source nav header, a
    global promo line, the body split into LINE_CHUNK-token lines, and
    a per-source footer. The header/promo/footer recur across a
    source's documents — exactly the boilerplate a crawl's rendered
    text carries; body lines are document-unique word soup. The token
    array is materialized BEFORE the chunking lambda (codegen does not
    CSE inside higher-order functions)."""
    toks = docs.select("doc_id", "source", tx.tokens(F.col("text")).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(float(LINE_CHUNK))).cast("int")
    body = F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(F.col("toks"), i * LINE_CHUNK + 1, LINE_CHUNK), " "),
        )
    )
    header = F.concat(F.lit("site "), F.col("source"), F.lit(" navigation home about contact"))
    footer = F.concat(F.lit("copyright "), F.col("source"), F.lit(" all rights reserved"))
    promo = F.lit("subscribe to our newsletter updates")
    return toks.select(
        "doc_id",
        F.concat(F.array(header, promo), body, F.array(footer)).alias("lines"),
    )


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style cross-document line deduplication: a line
    whose distinct-document frequency reaches ``LINE_BOILER_MIN_DOCS`` is
    boilerplate (nav, promos, copyright footers) and is dropped from
    every document; the cleaned text is rebuilt in line order.

    Scale shape (100 TB): lines key by their 60-bit hash, never the
    string. Doc-frequency is distinct (line_h, doc_id) pairs (map-side
    partial dedup) then one count per line_h. The tag-back join runs
    against only the BOILERPLATE keys (``doc_freq >= LINE_BOILER_MIN_DOCS``), not
    the full frequency table — downstream needs just the boolean. That
    changes the skew story materially (docs/SKEW.md section B measured the
    previous shape's claim and found it false):

    - While the boiler-key table fits, AQE converts the join to a
      runtime BROADCAST hash join, so the wide exploded-lines side
      never shuffles on ``line_h`` AT ALL — the promo-in-every-document
      heavy hitter can't produce a hot partition that never exists.
    - When the boiler set outgrows broadcast, the fallback is a shuffle
      join, and the planted hot key IS real there. The AQE skew-join
      backstop CANNOT fire on this plan: it only pattern-matches joins
      whose children are bare ENSURE_REQUIREMENTS shuffle stages, and
      the boiler side is ``filter(agg(...))`` running co-partitioned
      with no exchange under the join at all (measured in
      docs/SKEW.md section B: 0 skew splits at any threshold; an explicit
      ``repartition(line_h)`` doesn't help either — AQE exempts
      user-specified repartitions from skew/coalesce rewriting), so
      the hot key's probe rows share one partition.

    Rebuild is one hash agg keyed by doc_id with an in-array sort — no
    global window."""
    docs = load_documents(spark, sf_dir)
    lines = _rendered_lines(docs)
    e = lines.select(
        "doc_id", F.posexplode("lines").alias("pos", "line")
    ).withColumn("line_h", hashing.h60(F.col("line")))
    freq = (
        e.select("line_h", "doc_id")
        .distinct()
        .groupBy("line_h")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    boiler = freq.where(F.col("doc_freq") >= F.lit(LINE_BOILER_MIN_DOCS)).select(
        "line_h", F.lit(True).alias("_boiler")
    )
    tagged = e.join(boiler, "line_h", "left").withColumn(
        "is_boiler", F.coalesce(F.col("_boiler"), F.lit(False))
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("is_boiler").cast("long")).cast("long").alias("n_removed"),
            F.sum(
                F.when(F.col("is_boiler"), F.length("line")).otherwise(F.lit(0))
            ).cast("long").alias("chars_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    F.col("is_boiler").alias("b"),
                                    F.col("line").alias("line"),
                                )
                            )
                        ),
                        lambda x: ~x["b"],
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def line_dedup_sql() -> str:
    c = LINE_CHUNK
    return f"""
WITH toks AS (
  SELECT doc_id, source, {tx.tokens_sql('text')} AS toks FROM documents
),
rendered AS (
  SELECT doc_id,
         (['site ' || source || ' navigation home about contact',
           'subscribe to our newsletter updates']
          || CASE WHEN CAST(ceil(len(toks) / {c}.0) AS BIGINT) <= 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(
                         range(CAST(ceil(len(toks) / {c}.0) AS BIGINT)),
                         i -> array_to_string(toks[i * {c} + 1 : (i + 1) * {c}], ' '))
             END
          || ['copyright ' || source || ' all rights reserved']) AS lines
  FROM toks
),
e AS (
  SELECT doc_id, CAST(unnest(range(len(lines))) AS INT) AS pos,
         unnest(lines) AS line
  FROM rendered
),
eh AS (SELECT doc_id, pos, line, {hashing.h60_sql('line')} AS line_h FROM e),
freq AS (
  SELECT line_h, count(*) AS doc_freq
  FROM (SELECT DISTINCT line_h, doc_id FROM eh) p
  GROUP BY line_h
),
tagged AS (
  SELECT eh.doc_id, eh.pos, eh.line, (f.doc_freq >= {LINE_BOILER_MIN_DOCS}) AS is_boiler
  FROM eh JOIN freq f ON eh.line_h = f.line_h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN is_boiler THEN length(line) ELSE 0 END) AS BIGINT)
         AS chars_removed,
       coalesce(
         string_agg(CASE WHEN NOT is_boiler THEN line END, chr(10) ORDER BY pos),
         '') AS clean_text
FROM tagged
GROUP BY doc_id
ORDER BY doc_id
"""


# --- span-level duplicated-substring detection -------------------------

SPAN_NGRAM = 8  # span grain: a position is duplicated if its 8-gram recurs


def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING detection across documents (the
    span-level counterpart of document dedup, after Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array pass re-expressed as a distributed inverted index):
    a token position is *duplicated* when the n-gram starting there
    occurs in at least one OTHER document; overlapping duplicated
    n-grams merge into spans. Per document: total tokens, tokens
    covered by duplicated spans, merged-span count, duplicated
    fraction.

    Scale shape (100 TB): one map-side positional posting build (only
    (doc_id, pos, 8-byte hash) rows ever shuffle — never shingle
    strings), ONE shuffle by hash where a window min/max over doc_id
    marks cross-document recurrence (no groupBy + join-back, so the
    postings are scanned once and hot boilerplate hashes cost one
    skewed partition, not a fan-out), one shuffle by doc_id for the
    interval merge (lag window), whose hash partitioning the final
    per-doc aggregate reuses exchange-free. Span coverage is computed
    from position gaps — ``min(n, pos - prev_pos)`` — so memory per
    document is O(1) regardless of how much of it is duplicated."""
    return span_dedup_frame(load_documents(spark, sf_dir), n=SPAN_NGRAM)


def span_dedup_frame(docs: DataFrame, n: int = SPAN_NGRAM) -> DataFrame:
    postings = tx.positional_shingle_hashes(docs, n=n)
    # cross-document recurrence: the hash partition contains >1 distinct
    # doc iff min(doc_id) != max(doc_id) over the hash window
    wh = Window.partitionBy("sh60")
    marked = (
        postings.withColumn("d_min", F.min("doc_id").over(wh))
        .withColumn("d_max", F.max("doc_id").over(wh))
        .where(F.col("d_min") != F.col("d_max"))
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    covered = F.when(F.col("prev").isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), F.col("pos") - F.col("prev"))
    )
    span_start = F.when(
        F.col("prev").isNull() | (F.col("pos") - F.col("prev") > n), 1
    ).otherwise(0)
    per_doc = (
        marked.withColumn("prev", F.lag("pos").over(wd))
        .groupBy("doc_id")
        .agg(
            F.sum(covered).alias("dup_tokens"),
            F.sum(span_start).alias("n_dup_spans"),
        )
    )
    totals = docs.select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.greatest("n_tokens", F.lit(1)), 6
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def span_dedup_sql() -> str:
    n = SPAN_NGRAM
    return f"""
WITH posting AS (
  {tx.positional_shingle_hashes_sql('documents', n)}
),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(doc_id) OVER (PARTITION BY sh60) AS d_min,
           max(doc_id) OVER (PARTITION BY sh60) AS d_max
    FROM posting
  ) m WHERE d_min != d_max
),
gaps AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM marked
),
per_doc AS (
  SELECT doc_id,
         sum(CASE WHEN prev IS NULL THEN {n}
                  ELSE least({n}, pos - prev) END) AS dup_tokens,
         sum(CASE WHEN prev IS NULL OR pos - prev > {n} THEN 1 ELSE 0 END)
           AS n_dup_spans
  FROM gaps GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len({tx.tokens_sql('d.text')}) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       round(coalesce(p.dup_tokens, 0)
             / greatest(len({tx.tokens_sql('d.text')}), 1), 6) AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


# --- TF-IDF keyword extraction ------------------------------------------

TFIDF_TOP_K = 3
TFIDF_MICRO = 1_000_000  # fixed-point grain for the idf (ln) factor


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF (smoothed idf
    = ln((N+1)/(df+1)) + 1, sklearn's convention). The transcendental
    idf factor is rounded to MICRO fixed-point as part of the algorithm
    (the unigram-LM precedent), so the score is an exact BIGINT
    ``tf * idf_micro`` and the per-document ranking — including
    tie-breaks (score desc, term asc) — is identical on any engine and
    any partitioning.

    Scale shape (100 TB): term frequencies are one hash aggregate keyed
    by (doc_id, term); document frequencies aggregate the SAME
    pre-aggregated (doc_id, term) rows (never the raw token stream
    twice); the doc-count is a broadcast scalar and the idf table joins
    by term. The final top-k is a bounded per-document window — skew-
    safe because a document's term list is capped by its own length."""
    return tfidf_keywords_frame(load_documents(spark, sf_dir), k=TFIDF_TOP_K)


def tfidf_keywords_frame(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    tf = (
        tx.exploded_tokens(docs)
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df_docs",
            F.round(
                (F.log((F.col("n_docs") + 1) / (F.col("df_docs") + 1)) + 1)
                * TFIDF_MICRO
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        "tf",
        "df_docs",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df_docs", "score_micro")
        .orderBy("doc_id", "rank")
    )


def tfidf_keywords_sql() -> str:
    toks = tx.exploded_tokens_sql("documents")
    return f"""
WITH tf AS (
  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
  FROM ({toks}) t GROUP BY doc_id, tok
),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
idf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_docs,
         CAST(round((ln((nd.n_docs + 1) / (count(*) + 1)) + 1) * {TFIDF_MICRO})
              AS BIGINT) AS idf_micro
  FROM tf, nd GROUP BY term, nd.n_docs
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, idf.df_docs,
         tf.tf * idf.idf_micro AS score_micro
  FROM tf JOIN idf ON tf.term = idf.term
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_micro DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df_docs, score_micro
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


# --- deterministic stratified sampling ----------------------------------

SAMPLE_PER_STRATUM = 10
SAMPLE_SALTS = 8


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of k = SAMPLE_PER_STRATUM documents per source stratum:
    rows are ranked by a content-independent hash of the doc id (a
    fixed pseudo-random permutation, reproducible across runs and
    engines) and the first k per stratum win.

    Skew-proof two-phase top-k (the sequence-packing pattern): phase 1
    ranks within (stratum, salt) shards — each shard's window sees at
    most 1/S of a hot stratum, S = SAMPLE_SALTS — and keeps k per shard; phase 2 ranks
    the <= S*k survivors per stratum. Exact: the global top-k by hash
    order is always contained in the union of per-shard top-k. The
    oracle is the single-phase window, which must produce the identical
    set."""
    docs = load_documents(spark, sf_dir)
    ranked = docs.select(
        "doc_id",
        "source",
        hashing.h60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))).alias(
            "samp_h"
        ),
        F.pmod(F.col("doc_id"), F.lit(SAMPLE_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy("samp_h", "doc_id")
    survivors = (
        ranked.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= SAMPLE_PER_STRATUM)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("source").orderBy("samp_h", "doc_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "source", F.col("rank").cast("long").alias("rank"))
        .orderBy("source", "rank")
    )


def stratified_sample_sql() -> str:
    h = hashing.h60_sql("('sample:' || CAST(doc_id AS VARCHAR))")
    return f"""
SELECT doc_id, source, CAST(rank AS BIGINT) AS rank FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {h}, doc_id) AS rank
  FROM documents
) r WHERE rank <= {SAMPLE_PER_STRATUM}
ORDER BY source, rank
"""


# --- DSIR: data selection via importance resampling --------------------

DSIR_BUCKETS = 512        # hashed n-gram feature space (paper: 10^4)
DSIR_TARGET_SOURCE = "src0"  # the "target distribution" sample
DSIR_TOP_K = 64           # deterministic selection size
DSIR_MICRO = 1_000_000    # fixed-point grain (log10 in millionths)


def dsir_bucket_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fit half of DSIR: the COMPLETE B-row (b, lw_micro)
    importance-weight table — ``jobs/fit_models.py`` persists it as a
    parquet model table (the model is DATA; apply broadcasts it).

    Complete means every bucket 0..B-1 has a row, including buckets no
    fit-corpus n-gram hashed to: add-1 smoothing exists precisely to
    define those weights (count 0 -> log10(1/(tot+B))), and
    ``dsir_score_frame`` may score NOVEL documents whose features hash
    to fit-unseen buckets — with a count-only table the scoring inner
    join would silently drop those occurrences and the score would
    diverge from the model."""
    docs = load_documents(spark, sf_dir)
    buckets = DSIR_BUCKETS
    flagged = _dsir_features(docs).join(
        docs.select(
            "doc_id", (F.col("source") == DSIR_TARGET_SOURCE).alias("is_t")
        ),
        "doc_id",
    )
    seen = flagged.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.sum(F.col("is_t").cast("long")).alias("t_cnt"),
    )
    # complete the bucket space: unseen buckets carry zero counts and
    # receive the pure smoothing weight
    counts = (
        spark.range(buckets).select(F.col("id").cast("long").alias("b"))
        .join(seen, "b", "left")
        .select(
            "b",
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
        )
    )
    totals = counts.agg(
        F.sum("r_cnt").cast("double").alias("r_tot"),
        F.sum("t_cnt").cast("double").alias("t_tot"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.round(
                F.log10(
                    (F.col("t_cnt") + F.lit(1.0))
                    / (F.col("t_tot") + F.lit(float(buckets)))
                )
                * DSIR_MICRO
            ).cast("long")
            - F.round(
                F.log10(
                    (F.col("r_cnt") + F.lit(1.0))
                    / (F.col("r_tot") + F.lit(float(buckets)))
                )
                * DSIR_MICRO
            ).cast("long")
        ).alias("lw_micro"),
    )
    return model


def _dsir_features(df: DataFrame) -> DataFrame:
    """(doc_id, b): the unigram and bigram hash of every token position
    of ``df``, bucketed mod DSIR_BUCKETS."""
    uni = tx.positional_shingle_hashes(df, n=1)
    bi = tx.positional_shingle_hashes(df, n=2)
    return (
        uni.select("doc_id", "sh60")
        .unionByName(bi.select("doc_id", "sh60"))
        .select("doc_id", F.pmod("sh60", F.lit(DSIR_BUCKETS)).alias("b"))
    )


def dsir_score_frame(df: DataFrame, model: DataFrame) -> DataFrame:
    """Score a (doc_id, text) frame against a fitted (b, lw_micro)
    bucket model -> (doc_id, n_ngrams, dsir_micro): ``dsir_select``
    composes it after the in-query fit, and it applies as well to the
    model table ``jobs/fit_models.py`` persists. Map-side features,
    broadcast B-row model, one hash agg keyed by doc_id."""
    return (
        _dsir_features(df).join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum("lw_micro").cast("long").alias("dsir_micro"),
        )
    )


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much its hashed n-gram profile looks like a TARGET
    distribution rather than the raw corpus, then keep the top-k.

    Features are per-occurrence unigram+bigram 60-bit hashes bucketed
    mod ``DSIR_BUCKETS``. Bucket models are add-1-smoothed: the importance
    weight of bucket b is log10((t_b+1)/(T+B)) - log10((r_b+1)/(R+B)),
    each log rounded to MICRO fixed point (the proven unigram-LM
    pattern, applied twice) so the per-document score is an exact
    BIGINT sum, independent of partition/summation order. Selection is
    deterministic top-k by (score desc, doc_id): the k-th row is found
    with two TakeOrderedAndProject passes (never a global sort) and
    broadcast for the flag comparison. The paper resamples with Gumbel
    noise; the deterministic argmax-k is that procedure at temperature
    zero, which is what an oracle-checkable engine should ship (seeded
    Gumbel keys could be added as one extra column).

    Scale shape (100 TB): the feature stage is the shared map-side
    shingle-hash transform (zero shuffles); the raw/target bucket
    counts are ONE hash agg over B buckets (the target flag rides a
    co-partitioned join with the narrow (doc_id, source) projection);
    the B-row model broadcasts; scoring is one hash agg keyed by
    doc_id. Nothing scales with corpus size except the two keyed
    shuffles Spark needs anyway."""
    model = dsir_bucket_model(spark, sf_dir)
    scored = dsir_score_frame(load_documents(spark, sf_dir), model)
    kth = (
        scored.orderBy(F.col("dsir_micro").desc(), F.col("doc_id"))
        .limit(DSIR_TOP_K)
        .orderBy(F.col("dsir_micro").asc(), F.col("doc_id").desc())
        .limit(1)
        .select(
            F.col("dsir_micro").alias("kth_micro"),
            F.col("doc_id").alias("kth_doc"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(kth))
        .select(
            "doc_id",
            "n_ngrams",
            "dsir_micro",
            (
                (F.col("dsir_micro") > F.col("kth_micro"))
                | (
                    (F.col("dsir_micro") == F.col("kth_micro"))
                    & (F.col("doc_id") <= F.col("kth_doc"))
                )
            ).alias("selected"),
        )
        .orderBy("doc_id")
    )


def dsir_select_sql() -> str:
    u1 = tx.positional_shingle_hashes_sql("documents", n=1)
    u2 = tx.positional_shingle_hashes_sql("documents", n=2)
    m, buckets = DSIR_MICRO, DSIR_BUCKETS
    return f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id, sh60 % {buckets} AS b FROM ({u1}) f1
  UNION ALL
  SELECT doc_id, sh60 % {buckets} AS b FROM ({u2}) f2
),
seen AS (
  SELECT b, count(*) AS r_cnt,
         sum(CASE WHEN d.source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS t_cnt
  FROM feats JOIN documents d USING (doc_id)
  GROUP BY b
),
counts AS (
  -- complete bucket space: unseen buckets carry the pure smoothing
  -- weight (mirrors the Spark fit's range(B) left join)
  SELECT CAST(r.range AS BIGINT) AS b,
         coalesce(s.r_cnt, 0) AS r_cnt, coalesce(s.t_cnt, 0) AS t_cnt
  FROM range({buckets}) r LEFT JOIN seen s ON s.b = r.range
),
totals AS (
  SELECT CAST(sum(r_cnt) AS DOUBLE) AS r_tot, CAST(sum(t_cnt) AS DOUBLE) AS t_tot
  FROM counts
),
model AS (
  SELECT b,
         CAST(round(log10((t_cnt + 1.0) / (t_tot + {float(buckets)})) * {m}) AS BIGINT)
       - CAST(round(log10((r_cnt + 1.0) / (r_tot + {float(buckets)})) * {m}) AS BIGINT)
           AS lw_micro
  FROM counts, totals
),
scored AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum(lw_micro) AS BIGINT) AS dsir_micro
  FROM feats JOIN model USING (b)
  GROUP BY doc_id
),
kth AS (
  SELECT dsir_micro AS kth_micro, doc_id AS kth_doc FROM (
    SELECT * FROM scored ORDER BY dsir_micro DESC, doc_id LIMIT {DSIR_TOP_K}
  ) t ORDER BY dsir_micro ASC, doc_id DESC LIMIT 1
)
SELECT s.doc_id, s.n_ngrams, s.dsir_micro,
       (s.dsir_micro > k.kth_micro
        OR (s.dsir_micro = k.kth_micro AND s.doc_id <= k.kth_doc)) AS selected
FROM scored s, kth k
ORDER BY s.doc_id
"""


SFT_ROLES = ("user", "assistant", "tool")
SFT_END = "<|end|>"


def sft_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as chat turns (conv_id, turn_id, ts, role,
    header_len, text_len, turn_len), the turn rules of ``sft_spans``
    and ``pipeline.sft_packed``: a turn renders as ``<|role|>`` + text
    + ``<|end|>``."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    role = F.element_at(
        F.array(*[F.lit(r) for r in SFT_ROLES]),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    text = F.concat(
        F.coalesce(F.col("event_type"), F.lit("")),
        F.lit(":"),
        F.coalesce(F.col("props"), F.lit("")),
    )
    return ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_id"),
        "ts",
        role.alias("role"),
        (F.length(role) + F.lit(4)).alias("header_len"),  # <| |>
        F.length(text).alias("text_len"),
    ).withColumn(
        "turn_len", F.col("header_len") + F.col("text_len") + F.lit(len(SFT_END))
    )


def sft_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering with loss-mask span offsets — the step
    that turns an ordered conversation into a supervised-finetuning
    example: each turn renders as ``<|role|>`` + text + ``<|end|>``,
    the example is the concatenation in stable turn order, and the
    loss mask trains only on assistant PAYLOAD characters (headers,
    end markers and non-assistant turns masked out). The events table
    stands in as conversations (conv = user_id, stable order =
    (ts, event_id), role planted by event_id % 3, text =
    event_type ':' props, a NULL part rendering as ''); emits one row
    per assistant turn with its absolute [span_start, span_end)
    character offsets in the rendered example plus the example's total
    length — the (offsets, text) contract downstream
    packing/tokenization consumes.

    Scale shape: built-ins only — one shuffle on the conversation key
    feeds both window passes (running start via an UNBOUNDED
    PRECEDING..1 PRECEDING frame, total length via the partition
    frame), no UDF, no collect. A conversation that outgrows a single
    window task takes the same two-phase blocked-offsets escape hatch
    the extraction job measures in docs/SKEW.md section C."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_id")
    return (
        sft_turns(spark, sf_dir).withColumn(
            "start",
            F.coalesce(
                F.sum("turn_len").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("conv_len", F.sum("turn_len").over(Window.partitionBy("conv_id")))
        .where(F.col("role") == "assistant")
        .select(
            "conv_id",
            "turn_id",
            (F.col("start") + F.col("header_len")).cast("long").alias("span_start"),
            (F.col("start") + F.col("header_len") + F.col("text_len"))
            .cast("long")
            .alias("span_end"),
            F.col("conv_len").cast("long").alias("conv_len"),
        )
        .orderBy("conv_id", "turn_id")
    )


def sft_turns_sql() -> str:
    """``sft_turns`` as the DuckDB CTEs ``turns`` and ``sized``, which
    the twins of its two callers compose."""
    return f"""turns AS (
  SELECT user_id AS conv_id, event_id AS turn_id, ts,
         ['user','assistant','tool'][CAST(event_id % 3 AS INT) + 1] AS role,
         4 + length(['user','assistant','tool'][CAST(event_id % 3 AS INT) + 1])
           AS header_len,
         length(COALESCE(event_type, '') || ':' || COALESCE(props, '')) AS text_len
  FROM events
),
sized AS (
  SELECT *, header_len + text_len + {len(SFT_END)} AS turn_len FROM turns
)"""


def sft_spans_sql() -> str:
    return f"""
WITH {sft_turns_sql()},
offs AS (
  SELECT conv_id, turn_id, role, header_len, text_len,
         COALESCE(SUM(turn_len) OVER (
           PARTITION BY conv_id ORDER BY ts, turn_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start,
         SUM(turn_len) OVER (PARTITION BY conv_id) AS conv_len
  FROM sized
)
SELECT conv_id, turn_id,
       CAST(start + header_len AS BIGINT) AS span_start,
       CAST(start + header_len + text_len AS BIGINT) AS span_end,
       CAST(conv_len AS BIGINT) AS conv_len
FROM offs
WHERE role = 'assistant'
ORDER BY conv_id, turn_id
"""


QUERIES = {
    "text_token_stats": token_stats,
    "text_sft_spans": sft_spans,
    "text_quality_scores": quality_scores,
    "text_lang_id": lang_id,
    "text_fingerprints": fingerprints,
    "text_bottomk_containment": bottomk_containment,
    "text_decontaminate": decontaminate,
    "text_decontaminate_bloom": decontaminate_bloom,
    "text_token_cms": token_cms,
    "text_hashed_embeddings": hashed_embeddings,
    "text_train_val_split": train_val_split,
    "text_repetition": repetition_scores,
    "text_pii_scan": pii_scan,
    "text_pii_scan_planted": pii_scan_planted,
    "text_sequence_packing": sequence_packing,
    "text_unigram_logprob": unigram_logprob,
    "text_bigram_logprob": bigram_logprob,
    "text_source_mixture": source_mixture,
    "text_line_dedup": line_dedup,
    "text_span_dedup": span_dedup,
    "text_tfidf_keywords": tfidf_keywords,
    "text_stratified_sample": stratified_sample,
    "text_dsir_select": dsir_select,
}

ORACLES = {
    "text_token_stats": TOKEN_STATS_SQL,
    "text_sft_spans": sft_spans_sql(),
    "text_quality_scores": QUALITY_SQL,
    "text_lang_id": LANG_ID_SQL,
    "text_fingerprints": FINGERPRINTS_SQL,
    "text_bottomk_containment": bottomk_containment_sql(),
    "text_decontaminate": decontaminate_sql(),
    "text_decontaminate_bloom": decontaminate_bloom_sql(),
    "text_token_cms": token_cms_sql(),
    "text_hashed_embeddings": hashed_embeddings_sql(),
    "text_train_val_split": train_val_split_sql(),
    "text_repetition": repetition_scores_sql(),
    "text_pii_scan": pii_scan_sql(),
    "text_pii_scan_planted": pii_scan_planted_sql(),
    "text_sequence_packing": sequence_packing_sql(),
    "text_unigram_logprob": unigram_logprob_sql(),
    "text_bigram_logprob": bigram_logprob_sql(),
    "text_source_mixture": SOURCE_MIXTURE_SQL,
    "text_line_dedup": line_dedup_sql(),
    "text_span_dedup": span_dedup_sql(),
    "text_tfidf_keywords": tfidf_keywords_sql(),
    "text_stratified_sample": stratified_sample_sql(),
    "text_dsir_select": dsir_select_sql(),
}
