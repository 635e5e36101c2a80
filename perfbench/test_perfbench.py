"""Self-tests for the benchmark's own code.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from hostspeed import NOMINAL_S, REFERENCE_TEXTS, Reference, reference_texts, scaled  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from procmem import WorkerRssSampler, descendants, is_python_worker, process_table, worker_pids  # noqa: E402
from statusstore import StatusReader, node_metric, parse_metric  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, write_rows  # noqa: E402


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_input_other_seed_other_input(name, tmp_path):
    first = WORKLOADS[name](7).generate(str(tmp_path / "a"))
    again = WORKLOADS[name](7).generate(str(tmp_path / "b"))
    other = WORKLOADS[name](8).generate(str(tmp_path / "c"))
    assert first == again
    assert other["digest"] != first["digest"]
    assert first["rows"] > 0 and first["bytes"] > 0


def test_transcripts_input_has_the_documented_mix():
    w = WORKLOADS["transcripts"](3)
    w.rows = w.make_rows()
    assert len(w.rows) == w.n_rows
    long_turns = [r[0] for r in w.rows if r[1] >= 12]
    assert len(set(long_turns)) == w.block_convs // 97
    assert len(long_turns) == len(set(long_turns)) * (600 - 12)  # each long conversation is whole
    texts = w.texts()
    markup_free = sum(1 for t in texts if "<" not in t and "&" not in t)
    assert 0.3 < markup_free / len(texts) < 0.5
    assert any(r[3] is None for r in w.rows) and any(r[3] == "" for r in w.rows)


def test_reference_input_is_fixed_and_scaling_is_proportional():
    assert reference_texts() == reference_texts()
    assert len(reference_texts()) == REFERENCE_TEXTS
    assert scaled(3.0, NOMINAL_S) == pytest.approx(3.0)
    assert scaled(3.0, 2 * NOMINAL_S) == pytest.approx(1.5)  # a host at half speed


def test_parse_metric_reads_spark_formats():
    assert parse_metric("26,468", "sum") == 26468
    assert parse_metric("1955.2 KiB", "size") == pytest.approx(1955.2 * 1024)
    aggregated = "total (min, med, max (stageId: taskId))\n18.8 MiB (2.3 MiB, 2.4 MiB, 2.4 MiB (stage 16.0: task 38))"
    assert parse_metric(aggregated, "size") == pytest.approx(18.8 * 2**20)
    assert parse_metric("total (min, med, max)\n23.6 s (2.5 s, 2.9 s, 3.7 s)", "timing") == pytest.approx(23.6)
    assert parse_metric("148 ms", "timing") == pytest.approx(0.148)
    assert parse_metric(None, "sum") == 0


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    root = t.add("action", "plans", 0.0, 10.0)
    t.add("stage a", "python", 1.0, 4.0, parent=root)
    t.add("stage b", "python", 3.0, 6.0, parent=root)  # overlaps a
    t.add("stage c", "window", 8.0, 12.0, parent=root)  # runs past the parent's end
    self_s = t.self_times()
    assert self_s["plans"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_s["python"] == pytest.approx(6.0)
    assert self_s["window"] == pytest.approx(4.0)
    assert t.self_times(root) == {"python": pytest.approx(6.0), "window": pytest.approx(4.0)}
    assert Tracer(enabled=False).add("x", "y", 0, 1) is None


def test_rss_sampler_sees_a_python_worker_child():
    marker = "pyspark-selftest-worker"
    code = "import sys, time; data = b'x' * 64_000_000; sys.stdout.write('up\\n'); sys.stdout.flush(); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code, marker], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "up\n"
        table = process_table()
        assert child.pid in descendants(table, os.getpid())
        assert is_python_worker(table[child.pid][1])
        assert not is_python_worker(["java", "-cp", "x", "pyspark-shell"])
        sampler = WorkerRssSampler(interval=0.02).start()
        time.sleep(0.2)
        peak = sampler.stop()
        assert child.pid in sampler.seen_pids
        assert peak >= 64_000_000
        assert sampler.samples >= 2
        left_out = WorkerRssSampler(interval=0.02, exclude={child.pid}).start()
        assert left_out.stop() < 64_000_000
        assert child.pid not in left_out.seen_pids
    finally:
        child.kill()
        child.wait(timeout=10)


def test_metric_catalog_matches_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        (n, u, b, bound) for n, u, b, bound, _ in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, *_ in PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    from nreadability_spark.session import package_zip

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    session.sparkContext.addPyFile(package_zip())
    yield session
    session.stop()


def test_status_store_readout_counts_rows_into_python(spark, tmp_path):
    from nreadability_spark.plans.extract_job import extract_transcripts

    w = WORKLOADS["transcripts"](5)
    w.rows = w.make_rows()
    keep = sorted({r[0] for r in w.rows})[:6]  # the first is a long conversation
    w.rows = [r for r in w.rows if r[0] in keep]
    path = str(tmp_path / "t.parquet")
    write_rows(w.rows, path)
    reader = StatusReader(spark)
    mark = reader.last_execution_id()
    extract_transcripts(spark.read.parquet(path), include_html=False).write.format("noop").mode(
        "overwrite"
    ).save()
    executions = reader.executions_after(mark)
    assert node_metric(executions, ("ArrowEvalPython",), "number of output rows") == len(w.texts())
    roles = {s["role"] for e in executions for s in e["stages"]}
    assert {"python", "window"} <= roles
    py = [s for e in executions for s in e["stages"] if s["role"] == "python"]
    assert all(s["complete_ms"] >= s["submit_ms"] and s["task_s"] for s in py)


def test_reference_job_runs_in_python_workers_of_its_own(spark):
    before = set(worker_pids())
    ref = Reference(spark, 2)
    assert ref.processes and ref.processes <= set(worker_pids()) - before
    assert ref.run_s() > 0
