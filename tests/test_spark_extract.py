"""Spark-level tests: the distributed extraction job must agree per-turn
with the single-process core, and resume must be idempotent
(BASELINE.md per-turn invariant + resume rows)."""

import re

import pytest

from nreadability_spark import session
from nreadability_spark.core import extract
from nreadability_spark.plans.extract_job import extract_transcripts, run_extract_job
from nreadability_spark.sources import lineage
from nreadability_spark.sources.synth import generate_conversation, load_fixture_payloads, transcripts_df

pytestmark = pytest.mark.spark

N_CONVS = 40  # includes conv 0: the long skewed conversation


def test_synth_generator_deterministic(spark):
    a = transcripts_df(spark, 10).collect()
    b = transcripts_df(spark, 10).collect()
    assert sorted(a) == sorted(b)
    # schema contract (BASELINE.json input_hint)
    assert [f.name for f in transcripts_df(spark, 1).schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]


def test_load_fixture_payloads_reads_the_fixture_dir(monkeypatch, tmp_path):
    from nreadability_spark.sources import synth

    page = "<html><body><p>fixture page</p></body></html>"
    (tmp_path / "SampleInput_01.html").write_text(page, encoding="utf-8")
    monkeypatch.setattr(synth, "_FIXTURE_DIR", tmp_path)
    assert load_fixture_payloads() == [page]


def test_spark_output_equals_local_core_per_turn(spark):
    fixtures = load_fixture_payloads()
    source = transcripts_df(spark, N_CONVS, long_every=37, fixtures=fixtures)
    result = extract_transcripts(source, include_html=True)
    spark_rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in result.collect()
    }

    checked = 0
    offsets = {}
    for conv_idx in range(N_CONVS):
        conv_offset = 0
        for row in generate_conversation(conv_idx, fixtures, long_every=37):
            conv_id, turn_idx, _role, text, _tool, _ts = row
            key = (conv_id, turn_idx)
            if text is None or text == "":
                assert key not in spark_rows  # prefiltered
                continue
            local = extract(text)
            got = spark_rows[key]
            assert got["content_text"] == local.content_text, key
            assert got["title"] == local.title, key
            assert got["extracted"] == local.extracted, key
            assert got["error"] is None, key
            assert [(s["start"], s["end"]) for s in got["spans"]] == local.spans, key
            # window invariant: cumulative chars of prior surviving turns
            assert got["conv_offset"] == conv_offset, key
            conv_offset += len(got["content_text"])
            checked += 1
    assert checked > 100


def test_workers_keep_zip_directories_across_tasks(spark):
    """After extraction, a worker's zip importers re-read nothing on an
    unchanged archive; the driver keeps the stdlib method."""
    import importlib
    import sys
    import zipimport

    import pandas as pd

    extract_transcripts(transcripts_df(spark, 6, long_every=5)).collect()

    def probe(batches):
        # referencing ``session`` imports the package here, as a UDF does
        stat_keyed = zipimport.zipimporter.invalidate_caches is session._stat_keyed_invalidate
        importlib.invalidate_caches()  # stamps importers made during this task
        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            yield pd.DataFrame(
                {"stat_keyed": [stat_keyed], "reads": [len(seen)], "importers": [importers]}
            )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "stat_keyed boolean, reads int, importers int")
        .collect()
    )
    assert len(rows) == 4
    for row in rows:
        assert row["importers"] > 0  # Spark's jar and zips are on the worker's path
        assert row["stat_keyed"] == (sys.version_info < (3, 13))
        assert row["reads"] == 0
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_extract_job_write_and_resume_idempotent(spark, tmp_path):
    source = transcripts_df(spark, 20, long_every=0)
    out_full = tmp_path / "full"
    out_resumed = tmp_path / "resumed"

    # single-shot run
    metrics = run_extract_job(spark, source, str(out_full), n_buckets=8, include_html=False)
    assert metrics["rows"] > 0
    assert metrics["buckets_written"] == len(lineage.committed_buckets(out_full))

    # simulated crash: only half the buckets get written+committed
    partial = lineage.with_bucket(source, 8).where("bucket < 4").drop("bucket")
    run_extract_job(spark, partial, str(out_resumed), n_buckets=8, include_html=False)
    committed_before = set(lineage.committed_buckets(out_resumed))
    assert committed_before and len(committed_before) < 8

    # resume: full source, already-committed buckets skipped
    metrics2 = run_extract_job(spark, source, str(out_resumed), n_buckets=8, include_html=False)
    all_buckets = set(lineage.committed_buckets(out_full))
    assert set(lineage.committed_buckets(out_resumed)) == all_buckets
    # resumed run only wrote the buckets missing after the simulated crash
    assert metrics2["buckets_written"] == len(all_buckets - committed_before)

    full = spark.read.parquet(str(out_full)).orderBy("conv_id", "turn_idx").collect()
    resumed = spark.read.parquet(str(out_resumed)).orderBy("conv_id", "turn_idx").collect()
    assert full == resumed


def test_rerun_over_committed_output_is_noop(spark, tmp_path):
    source = transcripts_df(spark, 6, long_every=0)
    out = tmp_path / "out"
    run_extract_job(spark, source, str(out), n_buckets=4, include_html=False)
    before = spark.read.parquet(str(out)).orderBy("conv_id", "turn_idx").collect()
    metrics = run_extract_job(spark, source, str(out), n_buckets=4, include_html=False)
    assert metrics["rows"] == 0 and metrics["buckets_written"] == 0
    after = spark.read.parquet(str(out)).orderBy("conv_id", "turn_idx").collect()
    assert before == after


def test_extract_job_leaves_the_session_settings(spark, tmp_path):
    """The job reads the caller's Arrow batch cap and does not rewrite
    it, and its dynamic partition overwrite is not left on the session."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    overwrite = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        run_extract_job(
            spark, transcripts_df(spark, 2), str(tmp_path / "out"), n_buckets=2, include_html=False
        )
        assert spark.conf.get(key) == "300"
        assert spark.conf.get(overwrite) == "STATIC"  # Spark's default
    finally:
        spark.conf.set(key, before)


def test_extract_job_reports_observed_counts(spark, tmp_path):
    """The counters observed during the write must match the table it
    wrote, and a rerun over the committed output must count nothing."""
    from pyspark.sql import functions as F

    source = transcripts_df(spark, 12, long_every=5)
    out = str(tmp_path / "out")
    metrics = run_extract_job(spark, source, out, n_buckets=4, include_html=False)
    table = (
        spark.read.parquet(out)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("extracted").cast("long")).alias("extracted_rows"),
            F.sum(F.length("content_text")).alias("chars"),
            F.count("error").alias("errors"),
        )
        .first()
        .asDict()
    )
    assert {k: metrics[k] for k in table} == table
    assert 0 < table["extracted_rows"] < table["rows"]

    again = run_extract_job(spark, source, out, n_buckets=4, include_html=False)
    assert {k: again[k] for k in table} == dict.fromkeys(table, 0)


def test_extract_cli_reports_the_rows_it_committed(spark, tmp_path):
    """``jobs/extract.py`` as spark-submit runs it, in its own process:
    its JSON line counts the rows the bucket manifests commit, which are
    the source's non-empty turns."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src, out = str(tmp_path / "src.parquet"), str(tmp_path / "out")
    transcripts_df(spark, 6, long_every=0).write.parquet(src)
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "extract.py"),
         "--source", src, "--out", out, "--buckets", "4", "--no-html"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics = json.loads(proc.stdout.strip().splitlines()[-1])
    manifests = lineage.committed_buckets(out)
    assert metrics["rows"] == sum(m["rows"] for m in manifests.values())
    assert metrics["buckets_written"] == len(manifests)
    assert metrics["rows"] == spark.read.parquet(src).where("length(text) > 0").count() > 0


def _plans_of(spark, action):
    """Run ``action``; return the physical plan description of each SQL
    execution it started, as the SQL status store holds it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30000)
    before = store.executionsList().size()
    action()
    bus.waitUntilEmpty(30000)
    executions = store.executionsList()
    return [executions.apply(i).physicalPlanDescription() for i in range(before, executions.size())]


def _plan_nodes(plan):
    """(name, id) of each node in the plan's tree, top down; under AQE,
    the current plan's tree, not the initial one."""
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    nodes = []
    for line in tree.splitlines()[1:]:
        m = re.match(r"^[\s+\-*:|]*(\S.*?)\s+\((\d+)\)", line)
        if m and not m.group(1).startswith("=="):
            nodes.append((m.group(1), m.group(2)))
    return nodes


def test_extract_job_write_runs_one_exchange_after_the_udf(spark, tmp_path):
    """The job's write plan: the salt and the bucket exchange, the
    window's sort serving the write, the observation above the bucket
    exchange and no job reading the output back."""
    source = transcripts_df(spark, 8, long_every=5)
    out = str(tmp_path / "out")
    plans = _plans_of(
        spark, lambda: run_extract_job(spark, source, out, n_buckets=4, include_html=False)
    )
    assert len(plans) == 1 and "InsertIntoHadoopFsRelationCommand" in plans[0]
    assert "Scan parquet" not in plans[0]
    nodes = _plan_nodes(plans[0])
    names = [name for name, _ in nodes]
    assert names.count("Exchange") == 2
    assert names.count("Sort") == 1
    top_exchange = nodes[names.index("Exchange")][1]
    args = re.search(rf"\n\({top_exchange}\) Exchange\n(?:.*\n)*?Arguments: (.*)", plans[0])
    assert args.group(1).startswith("hashpartitioning(bucket#")
    assert names.index("CollectMetrics") < names.index("Window") < names.index("Exchange")

    # the registry query keeps its own window exchange
    plans = _plans_of(
        spark,
        lambda: extract_transcripts(source, include_html=False)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    names = [name for name, _ in _plan_nodes(plans[-1])]
    assert names.count("Exchange") == 2 and names.count("Window") == 1


def _bucket_read_back(spark, out):
    from pyspark.sql import functions as F

    return {
        r[lineage.BUCKET_COL]: {"rows": r["rows"], "chars": r["chars"]}
        for r in spark.read.parquet(out)
        .groupBy(lineage.BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.length("content_text")).alias("chars"))
        .collect()
    }


def _manifest_stats(out):
    return {
        b: {"rows": m["rows"], "chars": m["chars"]}
        for b, m in lineage.committed_buckets(out).items()
    }


def test_manifests_equal_a_read_back_of_each_bucket(spark, tmp_path):
    """Manifest rows and chars come from the write's observation; each
    must equal its bucket directory read back, after a fresh run and
    after a partial run plus a resume that commits only the rest."""
    source = transcripts_df(spark, 12, long_every=5)
    full = str(tmp_path / "full")
    run_extract_job(spark, source, full, run_id="full", n_buckets=8, include_html=False)
    assert _manifest_stats(full) == _bucket_read_back(spark, full)
    assert {m["run_id"] for m in lineage.committed_buckets(full).values()} == {"full"}

    resumed = str(tmp_path / "resumed")
    partial = lineage.with_bucket(source, 8).where("bucket < 4").drop("bucket")
    run_extract_job(spark, partial, resumed, run_id="partial", n_buckets=8, include_html=False)
    first = lineage.committed_buckets(resumed)
    run_extract_job(spark, source, resumed, run_id="resume", n_buckets=8, include_html=False)
    manifests = lineage.committed_buckets(resumed)
    assert {b: m for b, m in manifests.items() if m["run_id"] == "partial"} == first
    new = {b for b, m in manifests.items() if m["run_id"] == "resume"}
    assert new and new == set(manifests) - set(first)
    assert _manifest_stats(resumed) == _bucket_read_back(spark, resumed) == _manifest_stats(full)


def test_hostile_rows_set_error_not_fail(spark):
    import pandas as pd

    from nreadability_spark.operators.extract import extract_columns

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
            "text": ["<div>" * 30000 + "deep", "<p>fine paragraph here</p>", "\x00\x01garbage"],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = {r["turn_idx"]: r for r in extract_columns(df).collect()}
    assert len(rows) == 3  # no task failure
    assert rows[1]["error"] is None
