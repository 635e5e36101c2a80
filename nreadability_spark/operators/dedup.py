"""Deduplication operators over the ``documents`` table.

Four dedup strategies a training-data pipeline needs, each fully
JVM-side (Catalyst expressions; no Python UDFs) with a DuckDB oracle
twin built from the same expression builders:

- **exact**: hash-groupBy on a normalized-content fingerprint — one
  shuffle on a 60-bit key; at 100 TB this is the cheapest possible
  dedup (shuffle carries only (fp60, doc_id)).
- **n-gram Jaccard**: exact pairwise similarity via an inverted-index
  self-join on 3-word shingles. Quadratic in documents *per shingle
  posting list* — correct but the scale-limited baseline; at 100 TB
  you run MinHash-LSH below and reserve this for candidate verification.
- **MinHash + LSH**: K=16 signature slots from a portable universal-hash
  family, banded 4x4; candidate pairs share a band, then exact Jaccard
  verifies. The banding join shuffles only (band_key, doc_id) pairs —
  this is the scale path (cost ~ O(docs x K) + candidate verification).
- **SimHash**: 32-bit simhash over token hashes; near-dup = Hamming
  distance <= 3, candidates generated by the 4x8-bit chunk pigeonhole
  (distance <=3 => at least one of 4 chunks equal), verified with
  bit_count(xor). Shuffles only (chunk_key, doc_id, simhash).

Every threshold is a module constant that a builder and its oracle SQL
both read, so the two stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nreadability_spark.functions import hashing
from nreadability_spark.functions import text as tx
from nreadability_spark.operators.textops import _norm_text, _norm_text_sql, load_documents

DEDUP_NGRAM = 3  # shingle width of the Jaccard pairs, exact and LSH
JACCARD_THRESHOLD = 0.2
MINHASH_K = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # 4 x 16-bit chunks => guaranteed recall at distance <= 3
SIMHASH_MAX_DIST = 3
_SIMHASH_LO_BITS = 60  # bits 0-59 from h60(tok); 60+ universal-hashed
_SIMHASH_HI_IDX = 61  # universal-hash family index for the top bits
CC_MAX_ITERS = 20  # label-propagation rounds before duplicate_components raises


# --- exact dedup -------------------------------------------------------

def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per distinct normalized content: representative doc id
    (min), duplicate count. ``n_dups > 1`` rows are the duplicate sets."""
    docs = load_documents(spark, sf_dir)
    return (
        docs.select("doc_id", hashing.h60(_norm_text(F.col("text"))).alias("fp60"))
        .groupBy("fp60")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("keep_doc_id")
    )


EXACT_DEDUP_SQL = f"""
SELECT fp60, min(doc_id) AS keep_doc_id, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, {hashing.h60_sql(_norm_text_sql('text'))} AS fp60 FROM documents) t
GROUP BY fp60
ORDER BY keep_doc_id
"""


# --- n-gram Jaccard ----------------------------------------------------

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard via an inverted-index self-join on hashed
    shingles (8-byte longs in the shuffle, never strings). All-pairs:
    the scale-limited verification kernel — run MinHash-LSH for
    discovery at 100 TB. A shingle shared by p docs contributes p^2
    join rows, so one ubiquitous shingle ("terms of service") makes the
    join quadratic in the corpus; the Jaccard is over the full shingle
    sets."""
    docs = load_documents(spark, sf_dir)
    # cache() = MEMORY_AND_DISK: the hashed table is (long, long) rows —
    # ~an order of magnitude smaller than string shingles — and is read
    # 3x (sizes, both join sides); at 100 TB prefer recomputation (the
    # construction is map-side) over materializing the explode
    sh = tx.hashed_shingles(docs, DEDUP_NGRAM).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh60") == F.col("b.sh60")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.col("n_inter").cast("long").alias("n_inter"), "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return out


def ngram_jaccard_sql() -> str:
    return f"""
WITH sh AS ({tx.hashed_shingles_sql('documents', DEDUP_NGRAM)}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.sh60 = b.sh60 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- MinHash + LSH -----------------------------------------------------

def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_{K-1}) from a (doc_id, sh60) hashed-shingle
    DataFrame. One hash-agg; partial aggregation computes mins map-side.
    The md5 is evaluated ONCE per shingle (inside ``hashed_shingles``)
    and all K universal-hash slots derive from it (16x fewer digest
    computations than hashing per slot)."""
    hashed = sh.select("doc_id", (F.col("sh60") % F.lit(hashing.P)).alias("h"))
    aggs = [
        F.min(hashing.minhash_term_from_h(F.col("h"), i)).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_band_table(sigs: DataFrame) -> DataFrame:
    """Signatures -> one row per (doc, band) with the band's join key."""
    rows_per_band = MINHASH_K // LSH_BANDS
    bands = None
    for band in range(LSH_BANDS):
        key = F.concat_ws(
            "-",
            *[F.col(f"sig_{band * rows_per_band + r}") for r in range(rows_per_band)],
        )
        part = sigs.select(
            "doc_id", F.lit(band).alias("band"), key.alias("band_key"),
            *[f"sig_{i}" for i in range(MINHASH_K)],
        )
        bands = part if bands is None else bands.unionAll(part)
    return bands


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard.

    Returns (doc_a, doc_b, est_jaccard, jaccard) — ``est_jaccard`` is
    the signature-agreement estimate, ``jaccard`` the exact verified
    value (>= JACCARD_THRESHOLD).

    Exact-dedup-first (the result set is IDENTICAL to the uncollapsed
    DuckDB oracle's): byte-identical documents all land in the same
    band bucket, making the candidate join quadratic in the duplicate
    count — the dominant hot-key source in a crawl (boilerplate pages
    duplicated millions of times). Signing and banding run over ONE
    representative per fp60 class; the verified representative pairs
    are then expanded back to member pairs (duplicates share their
    rep's signatures and Jaccard values exactly, so the expansion
    reconstructs the uncollapsed result — within-class pairs are
    (1.0, 1.0) by definition). Near-identical floods, which exact dedup
    cannot collapse, still meet in one band bucket.
    """
    docs = load_documents(spark, sf_dir)
    classes = docs.select(
        "doc_id", hashing.h60(_norm_text(F.col("text"))).alias("fp60")
    )
    reps = classes.groupBy("fp60").agg(F.min("doc_id").alias("doc_id"))
    sign_docs = docs.join(reps.select("doc_id"), "doc_id")
    # cache() = MEMORY_AND_DISK; see ngram_jaccard_pairs note — at
    # 100 TB drop the persist and recompute the map-side construction
    sh = tx.hashed_shingles(sign_docs, DEDUP_NGRAM).cache()
    sigs = minhash_signatures(sh)
    bands = lsh_band_table(sigs)

    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[
                (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int").alias(f"m_{i}")
                for i in range(MINHASH_K)
            ],
        )
        .distinct()
    )
    est = sum(F.col(f"m_{i}") for i in range(MINHASH_K)) / F.lit(float(MINHASH_K))
    cands = cands.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cands.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sa.sh60") == F.col("sb.sh60")))
        .groupBy("doc_a", "doc_b", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    rep_pairs = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard")
    )

    # expand representative pairs back to member pairs: every member of
    # a class has its rep's exact shingle set, hence its signatures,
    # band keys and Jaccard values
    rep_fp = reps.select(F.col("doc_id").alias("rep_id"), "fp60")
    cross = (
        rep_pairs
        .join(rep_fp.select(F.col("rep_id").alias("doc_a"), F.col("fp60").alias("fp_a")), "doc_a")
        .join(rep_fp.select(F.col("rep_id").alias("doc_b"), F.col("fp60").alias("fp_b")), "doc_b")
        .join(classes.select(F.col("doc_id").alias("m_a"), F.col("fp60").alias("fp_a")), "fp_a")
        .join(classes.select(F.col("doc_id").alias("m_b"), F.col("fp60").alias("fp_b")), "fp_b")
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            "est_jaccard",
            "jaccard",
        )
    )
    # within-class pairs: only for classes whose rep HAS a signature
    # (>= n tokens); duplicate pairs of shingle-less docs never banded
    signed_fp = rep_fp.join(
        sigs.select(F.col("doc_id").alias("rep_id")), "rep_id"
    ).select("fp60")
    m1, m2 = classes.alias("m1"), classes.alias("m2")
    signed = signed_fp.select(F.col("fp60").alias("signed_fp60"))
    # no broadcast hint on `signed`: it is one fp60 per duplicate CLASS
    # — small on real corpora but unbounded in the worst case (a corpus
    # of all-distinct near-identical docs). The semi filter rides the
    # fp60 hash partitioning the self-join already created; AQE still
    # broadcasts it at runtime when stats prove it fits.
    within = (
        m1.join(m2, (F.col("m1.fp60") == F.col("m2.fp60")) & (F.col("m1.doc_id") < F.col("m2.doc_id")))
        .join(signed, F.col("m1.fp60") == F.col("signed_fp60"))
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("est_jaccard"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionAll(within).orderBy("doc_a", "doc_b")


def minhash_lsh_sql() -> str:
    rows_per_band = MINHASH_K // LSH_BANDS
    sig_cols = ",\n         ".join(
        f"min({hashing.minhash_term_from_h_sql('h', i)}) AS sig_{i}" for i in range(MINHASH_K)
    )
    band_selects = []
    for band in range(LSH_BANDS):
        key = " || '-' || ".join(
            f"CAST(sig_{band * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        cols = ", ".join(f"sig_{i}" for i in range(MINHASH_K))
        band_selects.append(f"SELECT doc_id, {band} AS band, {key} AS band_key, {cols} FROM sigs")
    bands_sql = " UNION ALL ".join(band_selects)
    est = "(" + " + ".join(
        f"CAST(a.sig_{i} = b.sig_{i} AS INT)" for i in range(MINHASH_K)
    ) + f") / {float(MINHASH_K)}"
    return f"""
WITH sh AS ({tx.hashed_shingles_sql('documents', DEDUP_NGRAM)}),
hashed AS (SELECT doc_id, sh60 % {hashing.P} AS h FROM sh),
sigs AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id),
bands AS ({bands_sql}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, round({est}, 4) AS est_jaccard
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, c.est_jaccard, CAST(count(*) AS BIGINT) AS n_inter
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh60 = sb.sh60
  GROUP BY 1, 2, 3
)
SELECT doc_a, doc_b, est_jaccard,
       round(n_inter / (za.n_sh + zb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 4) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- SimHash -----------------------------------------------------------

def _simhash_bit_weight(b: int) -> int:
    """Signed-int64 weight of simhash bit ``b``: 1<<b for b<=62; bit 63
    is the sign bit, so setting it adds -2^63 (two's complement) — this
    keeps the 64-bit simhash a plain BIGINT on both engines."""
    return -(1 << 63) if b == 63 else (1 << b)


def simhash_values(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — ``bits``-wide simhash over the token
    multiset, as a signed int64 (bit 63 = sign bit when bits=64).

    The per-token hash supplies bits 0-59 from ``h60(tok)``; bits 60+
    come from a universal hash of h_lo (one md5 per token total, the
    mixing portable to the SQL twin — no engine-native 64-bit hash
    needed)."""
    tok = tx.exploded_tokens(docs)
    if bits <= _SIMHASH_LO_BITS:
        tok = tok.select(
            "doc_id",
            (hashing.h60(F.col("tok")) % F.lit(1 << bits)).alias("h_lo"),
            F.lit(0).cast("long").alias("h_hi"),
        )
    else:
        a, b = hashing._mh_params(_SIMHASH_HI_IDX)
        tok = tok.select("doc_id", hashing.h60(F.col("tok")).alias("h_lo"))
        tok = tok.select(
            "doc_id",
            "h_lo",
            (
                ((F.lit(a) * (F.col("h_lo") % F.lit(hashing.P)) + F.lit(b)) % F.lit(hashing.P))
                % F.lit(1 << (bits - _SIMHASH_LO_BITS))
            ).alias("h_hi"),
        )

    def bit_at(b):
        if b < _SIMHASH_LO_BITS:
            return F.shiftright(F.col("h_lo"), b).bitwiseAND(F.lit(1))
        return F.shiftright(F.col("h_hi"), b - _SIMHASH_LO_BITS).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(F.when(bit_at(b) == 1, 1).otherwise(-1)).alias(f"s_{b}")
        for b in range(bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(_simhash_bit_weight(b))).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def _simhash_chunk_table(sims: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash, chunk, chunk_key) — one row per pigeonhole
    chunk, SIMHASH_CHUNKS of them. Arithmetic shiftright + mask extracts
    each chunk correctly even from the signed top chunk (the mask keeps
    only the true bits)."""
    chunk_bits = bits // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    out = None
    for c in range(SIMHASH_CHUNKS):
        part = sims.select(
            "doc_id",
            "simhash",
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk_key"),
        )
        out = part if out is None else out.unionAll(part)
    return out


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance <= ``SIMHASH_MAX_DIST``, candidates
    from the chunk pigeonhole (distance <= chunks-1 => some chunk
    equal), verified with ``bit_count(xor)``.

    Scale note: 64-bit simhash with 4x16-bit chunk keys gives 65,536
    buckets per chunk — a billion-document corpus averages ~15k docs
    per bucket instead of the ~4M a 32-bit/8-bit-chunk scheme floods
    into every bucket (the quadratic pigeonhole join was the one
    remaining scale-killer at 32 bits; see the width flood test)."""
    docs = load_documents(spark, sf_dir)
    sims = simhash_values(docs, bits=SIMHASH_BITS)
    ch = _simhash_chunk_table(sims, SIMHASH_BITS)
    a, b = ch.alias("a"), ch.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= SIMHASH_MAX_DIST)
        .orderBy("doc_a", "doc_b")
    )
    return out


def simhash_sql() -> str:
    bits, chunks = SIMHASH_BITS, SIMHASH_CHUNKS
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    toks_src = tx.exploded_tokens_sql("documents")
    if bits <= _SIMHASH_LO_BITS:
        tok_cte = (
            f"SELECT doc_id, {hashing.h60_sql('tok')} % {1 << bits} AS h_lo, "
            f"CAST(0 AS BIGINT) AS h_hi FROM ({toks_src}) t"
        )
    else:
        hi_mod = 1 << (bits - _SIMHASH_LO_BITS)
        a, b = hashing._mh_params(_SIMHASH_HI_IDX)
        tok_cte = (
            f"SELECT doc_id, h_lo, "
            f"((({a} * (h_lo % {hashing.P}) + {b}) % {hashing.P}) % {hi_mod}) AS h_hi "
            f"FROM (SELECT doc_id, {hashing.h60_sql('tok')} AS h_lo FROM ({toks_src}) t) lo"
        )

    def bit_sql(b: int) -> str:
        if b < _SIMHASH_LO_BITS:
            return f"(h_lo >> {b}) & 1"
        return f"(h_hi >> {b - _SIMHASH_LO_BITS}) & 1"

    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN {bit_sql(b)} = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(bits)
    )
    # bit 63's weight is written as an expression: the literal
    # -9223372036854775808 would parse as -(HUGEINT) in DuckDB
    sim_expr = " + ".join(
        f"CASE WHEN s_{b} > 0 THEN CAST("
        + ("-9223372036854775807 - 1" if b == 63 else str(1 << b))
        + f" AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * chunk_bits}) & {mask} AS chunk_key FROM sims"
        for c in range(chunks)
    )
    return f"""
WITH tok AS (
  {tok_cte}
),
bitsums AS (SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM bitsums),
chunks AS ({chunk_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk = b.chunk AND a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) <= {SIMHASH_MAX_DIST}
ORDER BY doc_a, doc_b
"""




# --- duplicate-cluster connected components ----------------------------

def _cc_round(edges: DataFrame, labels: DataFrame) -> tuple[DataFrame, int]:
    """One hash-min BSP round: every node adopts the minimum label in
    its closed neighborhood. Returns (new_labels, n_changed). The new
    label table is ``localCheckpoint``-ed (eager), so its lineage is a
    leaf scan — plan depth stays CONSTANT across rounds and an executor
    loss late in a long chain recomputes one round, not the history."""
    neigh = (
        edges.join(labels.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("component").alias("n_comp"))
    )
    new_labels = (
        labels.join(neigh, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                "component", F.coalesce("n_comp", F.col("component"))
            ).alias("component"),
        )
        .localCheckpoint()
    )
    changed = (
        new_labels.alias("n")
        .join(labels.alias("o"), "doc_id")
        .where(F.col("n.component") != F.col("o.component"))
        .count()
    )
    return new_labels, changed


def duplicate_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pair graph:
    (doc_id, component) with component = the minimum doc_id reachable
    through near-dup edges — the clustering pass that turns pairwise
    dedup output into keep/drop groups.

    Iterative hash-min label propagation: every node adopts the minimum
    label in its closed neighborhood each round; converges in
    O(diameter) rounds (duplicate clusters are near-cliques from LSH
    banding, so diameter is tiny in practice). Each round is one
    shuffle join + one groupBy-min — the standard BSP shape that runs
    the same on 1000 executors; the driver only checks the converged
    flag (a count, not data). Deterministic: min() is order-free.

    Each round's labels are ``localCheckpoint``-ed: without truncation
    the logical plan layers one join per round and a late executor loss
    recomputes the whole history (on a real cluster use
    ``checkpoint()`` to the job's scratch dir for executor-loss-safe
    truncation). Non-convergence within ``CC_MAX_ITERS`` RAISES — a silent
    partial labeling would diverge from the transitive-closure oracle
    (no silent caps).

    Singleton documents (no near-dup edge) are excluded — at 100 TB
    the singleton set IS the corpus; materializing "doc_id == component"
    rows for them serves nothing.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionAll(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).cache()

    labels = (
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.least(F.min("doc_b"), F.first("doc_a")).alias("component"))
        .select(
            "doc_id",
            F.least("component", "doc_id").alias("component"),
        )
        .localCheckpoint()
    )
    changed = -1
    for _ in range(CC_MAX_ITERS):
        labels, changed = _cc_round(edges, labels)
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"duplicate_components did not converge within {CC_MAX_ITERS} "
            f"rounds ({changed} labels still changing); raise CC_MAX_ITERS"
        )
    return labels.orderBy("doc_id")


def duplicate_components_sql() -> str:
    """Transitive-closure twin via WITH RECURSIVE (tractable at oracle
    scale; the Spark path is the one that scales)."""
    lsh = minhash_lsh_sql()
    return f"""
WITH RECURSIVE base AS (SELECT doc_a, doc_b FROM ({lsh}) t),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM base
  UNION
  SELECT doc_b, doc_a FROM base
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT n.u AS doc_id,
       least(n.u, min(r.v)) AS component
FROM (SELECT DISTINCT u FROM edges) n
JOIN reach r ON r.u = n.u
GROUP BY n.u
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_groups": exact_dedup_groups,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_minhash_lsh": minhash_lsh_pairs,
    "dedup_simhash": simhash_pairs,
    "dedup_components": duplicate_components,
}

ORACLES = {
    "dedup_exact_groups": EXACT_DEDUP_SQL,
    "dedup_ngram_jaccard": ngram_jaccard_sql(),
    "dedup_minhash_lsh": minhash_lsh_sql(),
    "dedup_simhash": simhash_sql(),
    "dedup_components": duplicate_components_sql(),
}
