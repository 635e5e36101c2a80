"""Structured Streaming tests: the batch extraction operator must work
unchanged over a stream, streaming results must equal the batch results
on the same rows, and the windowed metrics must respect event time.
"""

import pytest

pytestmark = pytest.mark.spark

NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@pytest.fixture()
def transcript_files(spark, tmp_path):
    """Transcripts split across two parquet files (two micro-batches
    under maxFilesPerTrigger=1)."""
    from nreadability_spark.sources.synth import transcripts_df

    src = str(tmp_path / "stream_src")
    df = transcripts_df(spark, 12)
    df.where("conv_id < 'conv00000006'").coalesce(1).write.parquet(src)
    df.where("conv_id >= 'conv00000006'").coalesce(1).write.mode("append").parquet(src)
    return src, df


def test_stream_extraction_equals_batch(spark, tmp_path, transcript_files):
    from nreadability_spark.plans.extract_job import extract_transcripts
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming import run_stream_to_parquet

    src, batch_df = transcript_files
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    query = run_stream_to_parquet(stream, out, ckpt, include_html=False, n_buckets=4)
    query.awaitTermination(300)

    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted"], r["content_text"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["extracted"], r["content_text"])
        for r in extract_transcripts(
            spark.read.parquet(src), include_html=False, with_conv_offset=False
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_restart_is_idempotent(spark, tmp_path, transcript_files):
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming import run_stream_to_parquet

    src, _ = transcript_files
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")

    def run_once():
        stream = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = run_stream_to_parquet(stream, out, ckpt, include_html=False, n_buckets=4)
        q.awaitTermination(300)

    run_once()
    first = sorted(
        (r["conv_id"], r["turn_idx"], r["content_text"])
        for r in spark.read.parquet(out).collect()
    )
    run_once()  # availableNow restart over the same checkpoint: no-op
    second = sorted(
        (r["conv_id"], r["turn_idx"], r["content_text"])
        for r in spark.read.parquet(out).collect()
    )
    assert first == second


def test_stream_bucket_files_are_ordered_and_manifested(spark, tmp_path):
    """Each micro-batch bucket file holds its rows in (conv_id, turn_idx)
    order, and each batch commits a manifest per bucket it wrote. One
    micro-batch over a multi-file source: its rows reach each bucket
    from several scan tasks, interleaved."""
    import pyarrow.parquet as pq

    from nreadability_spark.sources import lineage
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA, transcripts_df
    from nreadability_spark.streaming import run_stream_to_parquet

    src = str(tmp_path / "src3")
    transcripts_df(spark, 60, long_every=37).write.parquet(src)
    out = tmp_path / "out3"
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    q = run_stream_to_parquet(
        stream, str(out), str(tmp_path / "ckpt3"), include_html=False, n_buckets=4
    )
    q.awaitTermination(300)

    files = sorted(out.glob("batch=*/bucket=*/*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()))
        assert keys == sorted(keys), f
    for batch_dir in sorted(out.glob("batch=*")):
        rows = {
            int(d.name.split("=")[1]): sum(pq.read_metadata(f).num_rows for f in d.glob("*.parquet"))
            for d in batch_dir.glob("bucket=*")
        }
        manifests = lineage.committed_buckets(batch_dir)
        assert {b: m["rows"] for b, m in manifests.items()} == rows, batch_dir


def test_windowed_metrics_by_event_time(spark, tmp_path, transcript_files):
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming import windowed_turn_metrics

    src, batch_df = transcript_files
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    metrics = windowed_turn_metrics(stream, window_duration="1 minute")

    q = (
        metrics.writeStream.format("memory")
        .queryName("turn_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from turn_metrics").collect()
    # watermark closes all but the trailing window(s); every emitted
    # window must be consistent and non-overlapping
    assert rows, "expected at least one closed window"
    for r in rows:
        assert r["turns"] >= r["extracted_turns"] >= 0
        assert (r["window_end"] - r["window_start"]).total_seconds() == 60
    starts = [r["window_start"] for r in rows]
    assert len(starts) == len(set(starts))


def test_stateful_conv_offsets_across_batches(spark, tmp_path):
    """conv_offset computed with applyInPandasWithState over a stream
    (conversations split across micro-batches) must equal the batch
    window's conv_offset."""
    from nreadability_spark.plans.extract_job import extract_transcripts
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA, transcripts_df
    from nreadability_spark.streaming.stateful import stream_conv_offsets

    src = str(tmp_path / "split_src")
    df = transcripts_df(spark, 10)
    # split every conversation across two files at turn_idx 3: state
    # must carry the running total across the batch boundary
    df.where("turn_idx < 3").coalesce(1).write.parquet(src)
    df.where("turn_idx >= 3").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_conv_offsets(stream)
        .writeStream.format("memory")
        .queryName("conv_offsets")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["conv_id"], r["turn_idx"]): r["conv_offset"]
        for r in spark.sql("select * from conv_offsets").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["conv_offset"]
        for r in extract_transcripts(spark.read.parquet(src), include_html=False).collect()
    }
    assert got == want and len(got) > 0


class _FakeState:
    """Minimal stand-in for GroupState (unit tests, no Spark)."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_offsets_fn_sorts_across_arrow_chunks():
    """A group bigger than arrow maxRecordsPerBatch arrives as several
    chunks in arbitrary order; offsets must follow global turn_idx order,
    not per-chunk order (round-2 ADVICE, medium)."""
    import pandas as pd

    from nreadability_spark.streaming.stateful import _offsets_fn

    def chunk(idxs):
        return pd.DataFrame(
            {
                "conv_id": "c0",
                "turn_idx": idxs,
                "content_text": ["x" * (i + 1) for i in idxs],
                "extracted": True,
            }
        )

    # chunks deliberately out of order: [4,5] before [0..3], plus interleave
    state = _FakeState()
    (out,) = list(_offsets_fn(("c0",), iter([chunk([4, 5]), chunk([1, 3]), chunk([0, 2])]), state))
    out = out.sort_values("turn_idx", ignore_index=True)
    # expected cumulative offsets over lengths 1..6 in turn order
    lens = [i + 1 for i in range(6)]
    want = [sum(lens[:i]) for i in range(6)]
    assert list(out["conv_offset"]) == want
    assert state.get == (sum(lens),)


def test_offsets_fn_timeout_evicts_state():
    import pandas as pd

    from nreadability_spark.streaming.stateful import _make_offsets_fn

    fn = _make_offsets_fn(30_000)
    state = _FakeState(value=(42,))
    state.hasTimedOut = True
    (out,) = list(fn(("c0",), iter([]), state))
    assert out.empty and state.removed
    # and a live group under the same fn arms the TTL
    state2 = _FakeState()
    pdf = pd.DataFrame(
        {"conv_id": "c0", "turn_idx": [0], "content_text": ["abc"], "extracted": [True]}
    )
    list(fn(("c0",), iter([pdf]), state2))
    assert state2.timeout_ms == 30_000


def test_stateful_offsets_large_group_multi_chunk(spark, tmp_path):
    """One conversation with more turns than arrow maxRecordsPerBatch
    (256 in tests) in a single micro-batch: the group reaches the state
    function as multiple chunks and must still produce globally ordered
    offsets equal to the batch window's."""
    from nreadability_spark.plans.extract_job import extract_transcripts
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming.stateful import stream_conv_offsets

    src = str(tmp_path / "big_conv_src")
    n = 600
    rows = [
        ("bigconv", i, "user" if i % 2 == 0 else "assistant",
         f"<html><body><p>turn {i} text, with commas, for scoring.</p></body></html>",
         None, None)
        for i in range(n)
    ]
    spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
    # the idle TTL is a processing-time state timeout, which requests a
    # no-data micro-batch on every trigger: availableNow would never run
    # out of batches (see stream_conv_offsets)
    spark.conf.set(NO_DATA_BATCHES, "false")
    q = None
    try:
        q = (
            stream_conv_offsets(stream, idle_timeout_ms=120_000)
            .writeStream.format("memory")
            .queryName("big_conv_offsets")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60), "availableNow query did not terminate"
        got = {
            r["turn_idx"]: r["conv_offset"]
            for r in spark.sql("select * from big_conv_offsets").collect()
        }
    finally:
        if q is not None:
            q.stop()
        spark.conf.unset(NO_DATA_BATCHES)
    want = {
        r["turn_idx"]: r["conv_offset"]
        for r in extract_transcripts(spark.read.parquet(src), include_html=False).collect()
    }
    assert len(got) == n
    assert got == want


def test_ordered_fn_buffers_out_of_order_and_dedupes():
    """Unit: bounded-disorder reordering — rows buffer until the
    watermark (max_seen - D) passes them, emit in turn order with true
    cumulative offsets; duplicates and beyond-bound late rows drop."""
    import pandas as pd

    from nreadability_spark.streaming.stateful import _make_ordered_fn

    fn = _make_ordered_fn(2, None, True)  # D=2

    def batch(rows):
        return pd.DataFrame(
            {
                "conv_id": "c",
                "turn_idx": [r[0] for r in rows],
                "content_text": [r[1] for r in rows],
                "extracted": True,
            }
        )

    state = _FakeState()
    # batch 1: turns 2 and 4 -> watermark 4-2=2 -> only turn 2 emits
    (out1,) = list(fn(("c",), iter([batch([(2, "cc"), (4, "eeee")])]), state))
    assert list(out1["turn_idx"]) == [2]
    assert list(out1["conv_offset"]) == [0]
    # batch 2: turn 0 is later than the bound (already emitted past it)
    # -> dropped; duplicate 4 dropped; turn 3 buffers (watermark still 2)
    (out2,) = list(fn(("c",), iter([batch([(0, "x"), (3, "ddd"), (4, "DUP")])]), state))
    assert out2.empty
    # batch 3: turn 6 -> watermark 4 -> 3 and 4 emit with exact offsets
    (out3,) = list(fn(("c",), iter([batch([(6, "gg")])]), state))
    assert list(out3["turn_idx"]) == [3, 4]
    assert list(out3["conv_offset"]) == [2, 5]
    assert list(out3["content_len"]) == [3, 4]  # original "eeee" kept


def test_ordered_fn_timeout_flushes_pending_in_order():
    import pandas as pd

    from nreadability_spark.streaming.stateful import _make_ordered_fn

    fn = _make_ordered_fn(64, 60_000, True)
    state = _FakeState()
    pdf = pd.DataFrame(
        {"conv_id": "c", "turn_idx": [5, 3], "content_text": ["fffff", "ddd"],
         "extracted": True}
    )
    (out,) = list(fn(("c",), iter([pdf]), state))
    assert out.empty and state.timeout_ms == 60_000
    state.hasTimedOut = True
    (flushed,) = list(fn(("c",), iter([]), state))
    assert list(flushed["turn_idx"]) == [3, 5]
    assert list(flushed["conv_offset"]) == [0, 3]
    assert state.removed


def test_stream_ordered_offsets_out_of_order_batches(spark, tmp_path):
    """End-to-end: later turns land in the FIRST micro-batch, earlier
    turns in the second. A third batch of high-turn sentinel rows
    advances the disorder watermark past every buffered row, releasing
    the whole backlog — the result must equal the batch window's
    offsets exactly (sentinels included on both sides)."""
    from pyspark.sql import functions as F

    from nreadability_spark.plans.extract_job import extract_transcripts
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA, transcripts_df
    from nreadability_spark.streaming.stateful import stream_conv_offsets_ordered

    src = str(tmp_path / "ooo_src")
    # conv 0 is the 600-turn skewed conversation: its front-to-back
    # inversion (gap ~599) exceeds any reasonable disorder bound, so a
    # bounded-disorder reorderer must drop its early turns — use only
    # short conversations (gap <= 12 < D=16) for the exact-equality check
    df = transcripts_df(spark, 7).where("conv_id != 'conv00000000'")
    sentinels = (
        df.select("conv_id").distinct()
        .select(
            "conv_id", F.lit(900).alias("turn_idx"), F.lit("user").alias("role"),
            F.lit("<p>conversation end marker</p>").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    # arrival order: turns >= 3, then turns < 3, then the sentinels
    df.where("turn_idx >= 3").coalesce(1).write.parquet(src)
    df.where("turn_idx < 3").coalesce(1).write.mode("append").parquet(src)
    sentinels.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_conv_offsets_ordered(stream, max_disorder=16)
        .writeStream.format("memory")
        .queryName("ooo_offsets")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["turn_idx"]): r["conv_offset"]
        for r in spark.sql("select * from ooo_offsets").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["conv_offset"]
        for r in extract_transcripts(spark.read.parquet(src), include_html=False).collect()
        if r["turn_idx"] != 900  # sentinels stay buffered (nothing after them)
    }
    assert got == want and len(got) > 0


def test_dedup_fn_first_seen_wins_and_ttl():
    """Unit: the keyed first-seen filter — within a batch the minimum
    (conv_id, turn_idx) is canonical; a seen fingerprint drops all later
    arrivals; the TTL arms and evicts."""
    import pandas as pd

    from nreadability_spark.streaming.dedup_stream import _dedup_fn, _make_dedup_fn

    def batch(rows):
        return pd.DataFrame(
            {"conv_id": [r[0] for r in rows], "turn_idx": [r[1] for r in rows]}
        )

    state = _FakeState()
    (out,) = list(_dedup_fn((77,), iter([batch([("c2", 5), ("c1", 3), ("c1", 1)])]), state))
    assert list(out.itertuples(index=False, name=None)) == [(77, "c1", 1)]
    assert state.get == ("c1", 1)
    # second batch, same fingerprint: everything is a duplicate
    (out2,) = list(_dedup_fn((77,), iter([batch([("c0", 0)])]), state))
    assert out2.empty
    assert state.get == ("c1", 1)  # canonical unchanged
    # TTL arms on live groups and evicts on timeout
    fn = _make_dedup_fn(45_000)
    s2 = _FakeState()
    list(fn((9,), iter([batch([("c", 0)])]), s2))
    assert s2.timeout_ms == 45_000
    s2.hasTimedOut = True
    (flushed,) = list(fn((9,), iter([]), s2))
    assert flushed.empty and s2.removed


def test_stream_dedup_across_micro_batches(spark, tmp_path):
    """End-to-end: duplicates split across two micro-batches — the
    first batch's occurrence is canonical, later duplicates (same batch
    or later batches) are dropped, distinct rows all pass."""
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "dedup_src")
    dup = "Shared boilerplate page, repeated across the crawl, again."
    uniq = [f"unique document number {i} with its own words" for i in range(4)]
    batch1 = [("a0", 0, "user", dup, None, None),
              ("a1", 0, "user", uniq[0], None, None),
              ("a1", 1, "user", dup, None, None)]     # within-batch dup
    batch2 = [("b0", 0, "user", dup, None, None),      # cross-batch dup
              ("b1", 0, "user", uniq[1], None, None),
              ("b2", 0, "user", "  shared   BOILERPLATE page, repeated across the crawl, again.".replace("BOILERPLATE", "boilerplate"), None, None),
              ("b3", 0, "user", uniq[2], None, None)]
    spark.createDataFrame(batch1, TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(src)
    spark.createDataFrame(batch2, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from dedup_out").collect()
    by_conv = {(r["conv_id"], r["turn_idx"]) for r in rows}
    # one row per distinct normalized content: dup family canonicalized
    # at its minimum first-batch occurrence ("a0", 0); b2's whitespace/
    # case variant normalizes to the same fingerprint and is dropped
    assert ("a0", 0) in by_conv
    assert not {("a1", 1), ("b0", 0), ("b2", 0)} & by_conv
    assert {("a1", 0), ("b1", 0), ("b3", 0)} <= by_conv
    assert len(rows) == 4  # dup family once + 3 uniques


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """Keyed dedup state must persist through the checkpoint: after the
    first run finishes, a restarted query over newly arrived files must
    still drop duplicates of fingerprints seen BEFORE the restart."""
    from nreadability_spark.sources.synth import TRANSCRIPTS_SCHEMA
    from nreadability_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    dup = "Boilerplate seen before the restart, identical bytes."

    def run():
        stream = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def write_batch(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        q = (
            dedup_stream(stream)
            .writeStream.foreachBatch(write_batch)  # memory sink can't recover
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    spark.createDataFrame(
        [("a0", 0, "user", dup, None, None),
         ("a1", 0, "user", "first-run unique words here", None, None)],
        TRANSCRIPTS_SCHEMA,
    ).coalesce(1).write.parquet(src)
    run()
    first = {(r["conv_id"], r["turn_idx"]) for r in spark.read.parquet(out).collect()}
    assert first == {("a0", 0), ("a1", 0)}

    # new files arrive AFTER the first query terminated; the restarted
    # query recovers keyed state from the checkpoint
    spark.createDataFrame(
        [("b0", 0, "user", dup, None, None),                      # dup of pre-restart row
         ("b1", 0, "user", "second-run unique other words", None, None)],
        TRANSCRIPTS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    total = {(r["conv_id"], r["turn_idx"]) for r in spark.read.parquet(out).collect()}
    assert ("b1", 0) in total           # new unique passes
    assert ("b0", 0) not in total       # pre-restart state still drops the dup
    assert total == {("a0", 0), ("a1", 0), ("b1", 0)}


def test_stream_quality_scoring_equals_batch(spark, tmp_path):
    """Train offline, score online: weights fitted in batch over the
    corpus at rest must produce IDENTICAL per-document scores when
    applied by the stateless scoring stream (same expression path)."""
    from nreadability_spark.operators.classifier import (
        feature_frame, fit_logreg, labeled_corpus, score_frame,
    )
    from nreadability_spark.streaming.score_stream import run_score_stream_to_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    w = fit_logreg(feature_frame(labeled_corpus(docs)), iters=4)[-1][1]

    src = str(tmp_path / "feed")
    docs.repartition(3).write.parquet(src)  # several files -> several triggers
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "scored"), str(tmp_path / "ckpt")
    q = run_score_stream_to_parquet(stream, w, out, ckpt)
    q.awaitTermination(300)

    got = {r["doc_id"]: (r["logit_micro"], r["pred"])
           for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: (r["logit_micro"], r["pred"])
            for r in score_frame(docs, w).collect()}
    assert got == want and len(got) == 500


def test_dsir_stream_scoring_equals_batch(spark, tmp_path):
    """Train-offline/score-online for DSIR: the persisted bucket model
    applied per micro-batch must reproduce the batch scores exactly
    (same dsir_score_frame code path; model is a parquet table round
    trip, like fit_models writes)."""
    from nreadability_spark.operators.textops import (
        dsir_bucket_model, dsir_score_frame,
    )
    from nreadability_spark.streaming.dsir_stream import (
        run_dsir_stream_to_parquet,
    )

    sf_dir = "/root/testdata/sf0.001"
    model = dsir_bucket_model(spark, sf_dir)
    model_path = str(tmp_path / "dsir_buckets")
    model.write.parquet(model_path)  # the fit_models artifact shape
    persisted = spark.read.parquet(model_path)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "feed")
    docs.repartition(3).write.parquet(src)  # several files -> triggers
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "scored"), str(tmp_path / "ckpt")
    q = run_dsir_stream_to_parquet(stream, persisted, out, ckpt)
    q.awaitTermination(300)

    got = {r["doc_id"]: (r["n_ngrams"], r["dsir_micro"])
           for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: (r["n_ngrams"], r["dsir_micro"])
            for r in dsir_score_frame(docs, persisted).collect()}
    assert got == want and len(got) == len(want) > 0


def test_stream_sft_spans_equals_batch(spark, tmp_path):
    """Loss-mask spans computed with applyInPandasWithState over a
    stream (every conversation split across two micro-batches at a
    global ts cutoff — the running render offset must carry across
    the batch boundary) must equal the batch operator's spans. One
    planted assistant turn has a NULL event_type: both paths must render
    it as '' and carry its length into the later offsets."""
    from nreadability_spark.operators.textops import sft_spans
    from nreadability_spark.streaming.sft_stream import (
        EVENTS_SCHEMA,
        stream_sft_spans,
    )

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    base = spark.read.parquet(f"{sf_dir}/events.parquet")
    first = base.orderBy("user_id", "ts", "event_id").first()
    next_id = base.agg(F.max("event_id")).first()[0] + 1
    null_id = next_id + (1 - next_id % 3) % 3  # event_id % 3 == 1: assistant
    null_row = spark.createDataFrame(
        [(null_id, first["ts"], first["user_id"], None, 0.0, None)],
        base.schema,
    )
    planted_dir = str(tmp_path / "planted")
    base.unionByName(null_row).write.parquet(f"{planted_dir}/events.parquet")
    ev = spark.read.parquet(f"{planted_dir}/events.parquet")
    # split every conversation at its own midpoint in (ts, event_id)
    # order: per conversation every file-1 row precedes every file-2
    # row — the monotone-arrival contract
    ranked = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")),
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    src = str(tmp_path / "events_feed")
    ranked.where("rn * 2 <= n").drop("rn", "n").coalesce(1).write.parquet(src)
    ranked.where("rn * 2 > n").drop("rn", "n").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream_sft_spans(stream)
        .writeStream.format("memory")
        .queryName("sft_spans_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["conv_id"], r["turn_id"]): (r["span_start"], r["span_end"])
        for r in spark.sql("select * from sft_spans_stream").collect()
    }
    want = {
        (r["conv_id"], r["turn_id"]): (r["span_start"], r["span_end"])
        for r in sft_spans(spark, planted_dir).collect()
    }
    assert got == want and len(got) > 0
    assert want[(first["user_id"], null_id)][1] is not None


def test_sft_fn_state_carries_across_batches():
    """Unit check of the state machine without Spark: feeding a
    conversation's turns in two calls must yield the same spans as one
    call — the second call's offsets start from the carried total."""
    import pandas as pd

    from nreadability_spark.streaming.sft_stream import _sft_fn

    def rows(ids):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime([1_000_000 * i for i in ids]),
                "user_id": 7,
                "event_type": [f"t{i}" for i in ids],
                "props": [None if i % 2 else f"p{i}" for i in ids],
            }
        )

    one = _FakeState()
    full = pd.concat(list(_sft_fn((7,), iter([rows([0, 1, 2, 3, 4])]), one)))
    two = _FakeState()
    a = pd.concat(list(_sft_fn((7,), iter([rows([0, 1, 2])]), two)))
    b = pd.concat(list(_sft_fn((7,), iter([rows([3, 4])]), two)))
    split = pd.concat([a, b], ignore_index=True)
    assert full.reset_index(drop=True).equals(split)
    assert one.get == two.get  # same final running total
