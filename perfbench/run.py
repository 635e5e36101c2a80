"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 12 --trace 0

Run from the repository root. The run sets up ``SETUP_REPEATS`` times
(each a fresh SparkContext on ``local[cores]``, the seeded input and a
warm-up), runs ``WARM_PASSES`` untimed passes, then runs the workload's
job back to back for ``--seconds`` and at least ``MIN_PASSES`` times
from this one driver process, closed loop, one job at a time, with the
reference job of ``hostspeed`` between passes; it checks the output and
prints the end-to-end metrics, times scaled to the reference host speed. With ``--trace 1`` it then
runs the same passes again with status-store readouts and spans and
prints the per-layer metrics instead. A report with the environment
fingerprint and input digest, and with ``--trace 1`` the span file, go
to ``.perfbench/reports/``. Exit status: 0 when the output is correct,
1 when a check failed or the job raised, 2 when the package or Spark
cannot be loaded (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from hostspeed import NOMINAL_S, Reference, scaled
from metrics import PER_LAYER, UNITS
from procmem import WorkerRssSampler, descendants, process_table
from statusstore import StatusReader
from tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
SETUP_REPEATS = 2
# an untimed pass after set-up: the first runs cold (JIT, first write,
# first decode of each corpus)
WARM_PASSES = 1
# a median of at least two passes, even when one pass outlasts --seconds
MIN_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores():
    """Spark's task slots: half the CPUs this process may use. The other
    half keeps the JVM's own threads, this driver and the host's other
    load off the Python workers' CPUs, so a pass measures the job rather
    than the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(work):
    from nreadability_spark.session import get_spark

    n = cores()
    spark = get_spark(
        master=f"local[{n}]",
        app_name="perfbench",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.memory": "2g",
            # size the JVM's GC and JIT thread pools to the task slots
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:ActiveProcessorCount={n}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, timeout=60):
    """Stop the session and the JVM, and wait until every process this
    run started (the JVM, its Python daemon and workers) has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants(process_table(), os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.05)


def fingerprint(spark, seed):
    import pyspark

    from nreadability_spark.sources import synth

    sha = dirty = None
    if (ROOT / ".git").exists():
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30)
        status = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, timeout=30)
        sha, dirty = head.stdout.strip() or None, bool(status.stdout.strip())
    conf = spark.conf
    return {
        "nproc": os.cpu_count(),
        "cores_used": spark.sparkContext.defaultParallelism,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": sha,
        "git_dirty": dirty,
        # recorded only: the seeded inputs never read the reference fixtures
        "reference_fixtures_present": synth._FIXTURE_DIR.is_dir(),
        "arrow_batch_rows": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "seed": seed,
    }


def timed_passes(workload, spark, seconds, tracer, ref, reader=None):
    """Closed loop: passes back to back until ``seconds`` have elapsed and
    at least ``MIN_PASSES`` have run. The reference job runs before the
    first pass and after each; a pass's ``ref_s`` is the mean of the two
    runs around it."""
    passes = []
    end = time.perf_counter() + seconds
    with tracer.span("reference job", "hostspeed"):
        before = ref.run_s()
    while len(passes) < MIN_PASSES or time.perf_counter() < end:
        p = workload.run_pass(spark, tracer, reader)
        with tracer.span("reference job", "hostspeed"):
            after = ref.run_s()
        p["ref_s"] = (before + after) / 2
        p["scaled_s"] = scaled(p["wall_s"], p["ref_s"])
        before = after
        passes.append(p)
    return passes


def end_to_end(setup_s, pass_s, rows, peak_rss):
    return {
        "setup_s": statistics.median(setup_s),
        "wall_s": statistics.median(pass_s),
        "rows_per_s": statistics.median(n / t for n, t in zip(rows, pass_s)),
        "py_worker_peak_rss_mb": peak_rss / 1e6,
    }


def run(args, work, state):
    """The measured part; fills ``state`` as it goes so that cleanup and a
    failure report can use what exists."""
    from workloads import WORKLOADS, core_sample

    workload = WORKLOADS[args.workload](args.seed)
    state["workload"] = workload
    tracer = Tracer(enabled=bool(args.trace))
    untraced = Tracer(enabled=False)

    phases = [("start", time.perf_counter())]
    setup, inputs = [], []
    for rep in range(SETUP_REPEATS):
        with tracer.span(f"setup {rep}", "bench"):
            t0 = time.perf_counter()
            if state.get("spark") is not None:
                state["spark"].stop()
            with tracer.span("session start", "session"):
                state["spark"] = spark = start_session(work)
            with tracer.span("generate", "sources.synth"):
                inputs.append(workload.generate(str(work / f"rep{rep}")))
            workload.prepare(spark, tracer)
            setup_s = time.perf_counter() - t0
        ref = Reference(spark, cores())
        setup.append((setup_s, ref.run_s()))
    if len({i["digest"] for i in inputs}) != 1:
        raise RuntimeError(f"set-up repetitions generated different inputs: {inputs}")
    state["attempted"] = inputs[0]["rows"]
    phases.append(("setup", time.perf_counter()))

    with tracer.span("warm passes", "bench"):
        warm_s = [workload.run_pass(spark, untraced)["wall_s"] for _ in range(WARM_PASSES)]
    phases.append(("warm", time.perf_counter()))

    sampler = WorkerRssSampler(root=os.getpid(), exclude=ref.processes).start()
    with tracer.span("timed passes", "bench"):
        passes = timed_passes(workload, spark, args.seconds, untraced, ref)
    peak = sampler.stop()
    phases.append(("timed", time.perf_counter()))
    rows = [p["rows"] for p in passes]
    # reported: times scaled to the reference host speed; kept: as measured
    e2e = end_to_end([scaled(s, r) for s, r in setup], [p["scaled_s"] for p in passes], rows, peak)
    measured = end_to_end([s for s, _ in setup], [p["wall_s"] for p in passes], rows, peak)
    state["attempted"] = sum(p["rows"] for p in passes)

    report = {
        "workload": args.workload,
        "fingerprint": fingerprint(spark, args.seed),
        "input": inputs[0],
        "setup_s_samples": [s for s, _ in setup],
        "setup_ref_s_samples": [r for _, r in setup],
        "warm_passes_s": warm_s,
        "wall_s_samples": [p["wall_s"] for p in passes],
        "ref_s_samples": [p["ref_s"] for p in passes],
        "end_to_end": e2e,
        "end_to_end_as_measured": measured,
    }

    per_layer = {}
    if args.trace:
        reader = StatusReader(spark)
        with tracer.span("traced passes", "bench") as traced_sid:
            traced = timed_passes(workload, spark, args.seconds, tracer, ref, reader)
        with tracer.span("core sample", "bench"):
            core = core_sample(workload.texts(), args.seed, tracer)
        with tracer.span("lineage calls", "bench") as lineage_sid:
            lineage_metrics = workload.lineage_layers(spark, tracer, reader)
        layers = {**workload.layer_metrics(traced), **workload.workload_facts(), **core, **lineage_metrics}
        one_core = core["core.transcoder.rows_per_s_1core"]
        # both rates as measured: the core sample runs in this same minute
        layers["operators.extract.core_ceiling_ratio"] = (
            measured["rows_per_s"] / (cores() * one_core) if one_core else 0.0
        )
        for sid in (traced_sid, lineage_sid):
            for layer, seconds in tracer.self_times(sid).items():
                layers[f"{layer}.self_s"] = layers.get(f"{layer}.self_s", 0.0) + seconds
        layers["trace.overhead_s"] = statistics.median(p["scaled_s"] for p in traced) - e2e["wall_s"]
        per_layer = {name: layers.get(name, 0) for name, *_ in PER_LAYER}
        report["per_layer"] = per_layer
        report["self_s"] = tracer.self_times()
        report["traced_wall_s_samples"] = [p["wall_s"] for p in traced]
        phases.append(("traced", time.perf_counter()))

    problems = workload.check(spark, passes)
    report["problems"] = problems
    phases.append(("check", time.perf_counter()))
    report["phase_s"] = {name: t - prev for (_, prev), (name, t) in zip(phases, phases[1:])}
    failed = sum(p["error_rows"] for p in passes)
    if problems:
        failed = state["attempted"]
    report["error_rows_frac"] = failed / state["attempted"]
    return report, (per_layer if args.trace else e2e), tracer, failed


def print_report(report, metrics, failed, attempted):
    fp = report["fingerprint"]
    inp = report["input"]
    print(f"workload {report['workload']}  seed {fp['seed']}  cores {fp['cores_used']}/{fp['nproc']}")
    print("fingerprint " + json.dumps(fp, sort_keys=True))
    print(f"input digest {inp['digest']}  rows {inp['rows']}  bytes {inp['bytes']}")
    print(f"passes {len(report['wall_s_samples'])}  wall_s max {max(report['wall_s_samples']):.4f}")
    ref = statistics.median(report["ref_s_samples"])
    print(f"reference job {ref:.4f} s (times below are scaled by {NOMINAL_S} / that, per pass)")
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {UNITS[name]}")
    for name, value in report["end_to_end_as_measured"].items():
        print(f"as measured: {name} = {value:.6g} {UNITS[name]}")
    print(f"error_rows_frac = {failed / attempted:.6g}  ({failed} of {attempted} rows)")
    for layer, seconds in sorted(report.get("self_s", {}).items()):
        print(f"self time {layer} = {seconds:.4f} s")
    for problem in report["problems"]:
        print(f"CHECK FAILED: {problem}")


def main(argv=None):
    args = parse_args(sys.argv[1:] if argv is None else argv)
    work = STATE / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        import nreadability_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot load the package or Spark: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = {"attempted": 1}
    result = None
    try:
        report, metrics, tracer, failed = run(args, work, state)
        result = {
            "correct": not report["problems"],
            "attempted": state["attempted"],
            "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        }
    except Exception:  # noqa: BLE001 — report the failure as a failed run
        traceback.print_exc()
        result = {"correct": False, "attempted": state["attempted"], "failed": state["attempted"], "metrics": {}}
    finally:
        shutdown(state.get("spark"))
        workload = state.get("workload")
        for d in getattr(workload, "cache_dirs", lambda: [])():
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    if result["metrics"]:
        reports = STATE / "reports"
        reports.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}"
        report["result"] = result
        (reports / f"{stem}.json").write_text(json.dumps(report, indent=1, default=str))
        if args.trace:
            tracer.write(reports / f"{stem}.spans.json")
        print_report(report, metrics, failed, state["attempted"])
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
