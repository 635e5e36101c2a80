"""The benchmark's workloads: seeded inputs, one timed pass, readouts, checks.

Each workload is a pure function of its seed. Set-up writes the input
(and, for ``media_decode``, materializes the media corpora); a pass runs
the user-facing job once; the readout turns the status-store records of
a traced pass into per-layer metrics; the check compares the program's
output with an independent computation and returns mismatch messages.

Input sizes are fixed here, so every seed costs about the same. A seed
picks a block of conversation indices that starts at a multiple of 97;
the input is the first ``n_rows`` turns from there on. The row counts
are chosen so that every block's 50x-long conversations (one in 97) are
whole and the cut falls among the short ones.
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import math
import os
import random
import statistics
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from nreadability_spark.core.dom import build_document
from nreadability_spark.core.transcoder import DEFAULT_OPTIONS, extract
from nreadability_spark.operators import multimodal
from nreadability_spark.plans.extract_job import extract_transcripts, run_extract_job
from nreadability_spark.sources import lineage, synth

from metrics import MEDIA_QUERIES
from statusstore import node_metric, stage_seconds

LONG_EVERY = 97
SEED_BLOCKS = 99991  # seeds below this map to disjoint input ranges
CORE_SAMPLE_ROWS = 400
CORE_SAMPLE_REPEATS = 5

TRANSCRIPTS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)

PY_UDF_NODES = ("ArrowEvalPython",)


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def write_rows(rows, path):
    """Transcripts tuples -> one parquet file; returns (digest, bytes)."""
    columns = list(zip(*rows))
    table = pa.table(
        [pa.array(col, type=field.type) for col, field in zip(columns, TRANSCRIPTS_ARROW_SCHEMA)],
        schema=TRANSCRIPTS_ARROW_SCHEMA,
    )
    pq.write_table(table, path)
    return file_digest(path), os.path.getsize(path)


def first_rows(first_conv, n_rows):
    """The first ``n_rows`` turns of the conversations from index
    ``first_conv`` on; the fixture set is passed explicitly as empty."""
    rows = (r for idx in itertools.count(first_conv) for r in synth.generate_conversation(idx, fixtures=[]))
    return list(itertools.islice(rows, n_rows))


def is_markup_free(text):
    return "<" not in text and "&" not in text


def median(values):
    return statistics.median(values) if values else 0.0


class Transcripts:
    """The north-rule job: ``extract_transcripts(include_html=False)`` into
    a noop sink over the generator's full payload mix. The traced run
    also measures the lineage path on the same input (``lineage_layers``)."""

    name = "transcripts"
    layer = "plans.extract_job"
    block_convs = LONG_EVERY * 3  # conversation indices per seed
    n_rows = 3450  # the 3 long conversations end by turn 3,307; blocks have >= 3,603
    check_convs = 12

    def __init__(self, seed):
        self.seed = seed
        self.first_conv = (seed % SEED_BLOCKS) * self.block_convs
        self.rows = None
        self.path = None
        self.src = None
        self.lineage_outputs = []

    def make_rows(self):
        return first_rows(self.first_conv, self.n_rows)

    def generate(self, rep_dir):
        """Write the seeded input; returns its digest, row and byte counts."""
        self.rows = self.make_rows()
        os.makedirs(rep_dir, exist_ok=True)
        self.path = os.path.join(rep_dir, "transcripts.parquet")
        digest, n_bytes = write_rows(self.rows, self.path)
        return {"digest": digest, "rows": len(self.rows), "bytes": n_bytes}

    def texts(self):
        return [r[3] for r in self.rows if r[3]]

    def prepare(self, spark, tracer):
        self.src = spark.read.parquet(self.path)
        with tracer.span("warmup", "operators.extract"):
            extract_transcripts(self.src.limit(64), include_html=False).write.format(
                "noop"
            ).mode("overwrite").save()

    def stage_layer(self, execution, stage, other="plans.extract_job"):
        """The layer a stage's time belongs to: the extraction plan's scan,
        Python and window stages, or else ``other``, the call that ran them."""
        if any(s["role"] == "python" for s in execution["stages"]):
            if stage["role"] == "python":
                return "operators.extract"
            if stage["role"] in ("scan", "window"):
                return "plans.extract_job"
        return other

    def workload_facts(self):
        texts = self.texts()
        free = sum(1 for t in texts if is_markup_free(t))
        # the base, non-empty rows, is the rows entering the UDF: udf_rows
        return {"operators.extract.markup_free_frac": free / len(texts)}

    def run_pass(self, spark, tracer, reader=None):
        mark = reader.last_execution_id() if reader else None
        t0 = time.perf_counter()
        with tracer.span("extract_transcripts.noop", self.layer) as sid:
            obs = Observation("perfbench")
            extract_transcripts(self.src, include_html=False).observe(
                obs, F.count(F.lit(1)).alias("rows"), F.count("error").alias("errors")
            ).write.format("noop").mode("overwrite").save()
            observed = obs.get
            executions = reader.executions_after(mark) if reader else []
            attach_stage_spans(tracer, sid, executions, self.stage_layer)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "rows": len(self.rows),
            "output_rows": observed["rows"],
            "error_rows": observed["errors"],
            "executions": executions,
        }

    def layer_metrics(self, passes):
        """Per-layer metrics of the extraction plan, the median over passes."""
        per_pass = []
        for p in passes:
            executions = p["executions"]
            stages = [s for e in executions if any(s["role"] == "python" for s in e["stages"]) for s in e["stages"]]
            py = [s for s in stages if s["role"] == "python"]
            window = [s for s in stages if s["role"] == "window"]
            salt = [s for s in stages if s["role"] == "scan"]
            py_tasks = [t for s in py for t in s["task_s"]]
            per_pass.append({
                "operators.extract.udf_rows": node_metric(executions, PY_UDF_NODES, "number of output rows"),
                "operators.extract.py_bytes_sent": node_metric(executions, PY_UDF_NODES, "data sent to Python workers"),
                "operators.extract.py_bytes_returned": node_metric(
                    executions, PY_UDF_NODES, "data returned from Python workers"
                ),
                "operators.extract.stage_cpu_s": sum(s["cpu_s"] for s in py),
                "operators.extract.task_p50_s": median(py_tasks),
                "operators.extract.task_max_s": max(py_tasks, default=0.0),
                "operators.extract.tasks": len(py_tasks),
                "plans.extract_job.salt_shuffle_bytes": sum(s["shuffle_read_bytes"] for s in py),
                "plans.extract_job.salt_stage_s": sum(stage_seconds(s) for s in salt),
                "plans.extract_job.window_shuffle_bytes": sum(s["shuffle_read_bytes"] for s in window),
                "plans.extract_job.window_stage_s": sum(stage_seconds(s) for s in window),
                "plans.extract_job.window_task_max_s": max(
                    (t for s in window for t in s["task_s"]), default=0.0
                ),
                "plans.extract_job.spill_bytes": sum(s["spill_bytes"] for s in stages),
                "plans.extract_job.gc_s": sum(s["gc_s"] for s in stages),
            })
        return median_dicts(per_pass)

    def lineage_layers(self, spark, tracer, reader):
        """``run_extract_job(include_html=True)`` commits the input with
        lineage manifests into a fresh directory, then a second call on the
        same output must find every bucket committed. ``check`` reads the
        output back."""
        layer = "sources.lineage"
        layer_of = lambda e, s: self.stage_layer(e, s, layer)  # noqa: E731
        out = os.path.join(os.path.dirname(self.path), "lineage")
        mark = reader.last_execution_id()
        t0 = time.perf_counter()
        with tracer.span("run_extract_job.commit", layer) as sid:
            first = run_extract_job(spark, self.src, out, run_id="commit", include_html=True)
            commit_execs = reader.executions_after(mark)
            attach_stage_spans(tracer, sid, commit_execs, layer_of)
        t1 = time.perf_counter()
        mark = max((e["id"] for e in commit_execs), default=mark)
        with tracer.span("run_extract_job.resume", layer) as sid:
            again = run_extract_job(spark, self.src, out, run_id="resume", include_html=True)
            attach_stage_spans(tracer, sid, reader.executions_after(mark), layer_of)
        t2 = time.perf_counter()
        self.lineage_outputs.append((out, first, again))
        files = list(Path(out).glob(f"{lineage.BUCKET_COL}=*/*.parquet"))
        extract_stage_s = sum(
            stage_seconds(s) for e in commit_execs for s in e["stages"] if layer_of(e, s) != layer
        )
        return {
            "sources.lineage.write_s": (t1 - t0) - extract_stage_s,
            "sources.lineage.resume_s": t2 - t1,
            "sources.lineage.buckets_written": first["buckets_written"],
            "sources.lineage.files_written": len(files),
            "sources.lineage.bytes_written": sum(f.stat().st_size for f in files),
        }

    def check(self, spark, passes):
        problems = []
        expected_out = len(self.texts())
        for p in passes:
            if p["output_rows"] != expected_out:
                problems.append(f"pass wrote {p['output_rows']} rows, expected {expected_out}")
        problems += self.check_lineage(spark, expected_out)
        long_conv = f"conv{self.first_conv:08d}"  # first_conv is a multiple of 97
        others = sorted({r[0] for r in self.rows} - {long_conv})
        sample = [long_conv] + random.Random(self.seed).sample(others, self.check_convs - 1)
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in extract_transcripts(
                self.src.where(F.col("conv_id").isin(sample)), include_html=False
            ).collect()
        }
        expected = expected_extraction([r for r in self.rows if r[0] in set(sample)])
        if not any(is_markup_free(e["text"]) for e in expected.values()):
            problems.append("check sample holds no markup-free row")
        if set(got) != set(expected):
            problems.append(f"check sample: {len(got)} output rows, expected {len(expected)}")
        for key in sorted(set(got) & set(expected)):
            diff = compare_extracted(got[key], expected[key])
            if diff:
                problems.append(f"{key}: {diff}")
                if len(problems) > 10:
                    break
        return problems

    def check_lineage(self, spark, n):
        """Each lineage output read back: one row per non-empty input row,
        none with an error, manifest rows = rows written, the resume call
        wrote 0 buckets, and extracted rows carry ``content_html``."""
        problems = []
        for out, first, again in self.lineage_outputs:
            back = spark.read.parquet(out).agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("error").alias("errors"),
                F.sum((F.col("extracted") & (F.col("content_html") == "")).cast("int")).alias("bare"),
            ).first()
            manifest_rows = sum(m["rows"] for m in lineage.committed_buckets(out).values())
            name = os.path.basename(out)
            if back["rows"] != n or back["errors"]:
                problems.append(f"{name}: read back {back['rows']} rows ({back['errors']} errors), expected {n}")
            if manifest_rows != first["rows"] or first["rows"] != n:
                problems.append(
                    f"{name}: manifests sum to {manifest_rows}, job reported {first['rows']}, expected {n}"
                )
            if again["buckets_written"] != 0:
                problems.append(f"{name}: resume wrote {again['buckets_written']} buckets")
            if back["bare"]:
                problems.append(f"{name}: {back['bare']} extracted rows lack content_html")
        return problems


def expected_extraction(rows):
    """Reference output of the job on ``rows``: the core's ``extract`` on
    each non-empty text and a dict cumsum of content length per conversation."""
    out, offsets = {}, {}
    for conv_id, turn_idx, role, text, tool, ts in sorted(rows, key=lambda r: (r[0], r[1])):
        if not text:
            continue
        res = extract(text, None, DEFAULT_OPTIONS)
        out[(conv_id, turn_idx)] = {
            "text": text,
            "role": role,
            "tool": tool,
            "ts": ts,
            "title": res.title,
            "content_text": res.content_text,
            "extracted": res.extracted,
            "next_page_url": res.next_page_url,
            "spans": [tuple(s) for s in res.spans],
            "conv_offset": offsets.get(conv_id, 0),
        }
        offsets[conv_id] = offsets.get(conv_id, 0) + len(res.content_text)
    return out


def compare_extracted(row, exp):
    got = {
        "role": row["role"],
        "tool": row["tool"],
        "title": row["title"],
        "content_text": row["content_text"],
        "extracted": row["extracted"],
        "next_page_url": row["next_page_url"],
        "spans": [(s["start"], s["end"]) for s in row["spans"]],
        "conv_offset": row["conv_offset"],
    }
    diffs = [k for k, v in got.items() if v != exp[k]]
    # the input stores UTC instants; collect() returns naive local times
    if row["ts"].timestamp() != exp["ts"].replace(tzinfo=datetime.timezone.utc).timestamp():
        diffs.append("ts")
    if row["content_html"] != "":
        diffs.append("content_html")
    if row["error"] is not None:
        diffs.append(f"error={row['error']!r}")
    return ", ".join(diffs)


class MediaDecode:
    """A fixed subset of the ``operators.multimodal`` registry queries, run
    one after another over a seeded ``documents`` table of ``doc_id`` only."""

    name = "media_decode"
    n_docs = 192  # a multiple of 96, so every seed sees each RGB image size equally often
    layer = "operators.multimodal"
    queries = MEDIA_QUERIES

    def __init__(self, seed):
        self.seed = seed
        self.first_doc = (seed % SEED_BLOCKS) * self.n_docs
        self.sf_dirs = []
        self.sf_dir = None
        self.results = {}

    def generate(self, rep_dir):
        # the corpus cache is keyed by this directory's basename: keep it
        # unique per seed, size, process and set-up repetition
        rep = len(self.sf_dirs)
        self.sf_dir = os.path.join(
            rep_dir, f"perfbench_docs_s{self.seed}_n{self.n_docs}_p{os.getpid()}_r{rep}"
        )
        self.sf_dirs.append(self.sf_dir)
        os.makedirs(self.sf_dir, exist_ok=True)
        path = os.path.join(self.sf_dir, "documents.parquet")
        ids = pa.array(range(self.first_doc, self.first_doc + self.n_docs), type=pa.int64())
        pq.write_table(pa.table({"doc_id": ids}), path)
        return {"digest": file_digest(path), "rows": self.n_docs, "bytes": os.path.getsize(path)}

    def texts(self):
        return []

    def prepare(self, spark, tracer):
        for q in self.queries:
            with tracer.span(f"materialize {q}", "sources.synth"):
                multimodal.QUERIES[q](spark, self.sf_dir)

    def cache_dirs(self):
        """The corpus cache directories this run created."""
        root = Path(synth._CACHE_ROOT)
        return [root / os.path.basename(d) for d in self.sf_dirs]

    def workload_facts(self):
        return {"operators.extract.markup_free_frac": 0.0}

    def lineage_layers(self, spark, tracer, reader):
        return {}  # the lineage path does not run here

    def stage_layer(self, execution, stage):
        return self.layer

    def run_pass(self, spark, tracer, reader=None):
        per_query, executions, results = {}, {}, {}
        t0 = time.perf_counter()
        for q in self.queries:
            mark = reader.last_execution_id() if reader else None
            tq = time.perf_counter()
            with tracer.span(q, self.layer) as sid:
                df = multimodal.QUERIES[q](spark, self.sf_dir)
                rows = df.collect()
                per_query[q] = time.perf_counter() - tq
                executions[q] = reader.executions_after(mark) if reader else []
                attach_stage_spans(tracer, sid, executions[q], self.stage_layer)
            results[q] = (df.columns, rows)
        wall = time.perf_counter() - t0
        self.results = results
        return {
            "wall_s": wall,
            "rows": self.n_docs * len(self.queries),
            "error_rows": 0,
            "query_s": per_query,
            "query_executions": executions,
            "output_rows": {q: len(r[1]) for q, r in results.items()},
        }

    def layer_metrics(self, passes):
        per_pass = []
        for p in passes:
            m = {f"operators.multimodal.{q}.wall_s": p["query_s"][q] for q in self.queries}
            decoded = sum(
                node_metric(p["query_executions"][q], ("MapInPandas",), "number of output rows")
                for q in self.queries
            )
            m["operators.multimodal.decode_rows_per_output_row"] = decoded / max(
                1, sum(p["output_rows"].values())
            )
            per_pass.append(m)
        return median_dicts(per_pass)

    def check(self, spark, passes):
        """Last pass's results against each query's DuckDB oracle."""
        import duckdb

        problems = []
        con = duckdb.connect()
        try:
            con.sql(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, 'documents.parquet')}')"
            )
            for q in self.queries:
                columns, rows = self.results[q]
                duck = con.sql(multimodal.ORACLES[q])
                diff = compare_rows(columns, rows, duck.columns, duck.fetchall())
                if diff:
                    problems.append(f"{q}: {diff}")
        finally:
            con.close()
        return problems


def _canon(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(round(value, 9))
    return repr(value)


def compare_rows(columns, rows, oracle_columns, oracle_rows):
    """Spark rows vs oracle rows, columns matched by name and rows sorted;
    returns a mismatch message or ""."""
    if sorted(columns) != sorted(oracle_columns):
        return f"columns {sorted(columns)} vs {sorted(oracle_columns)}"
    if len(rows) != len(oracle_rows):
        return f"{len(rows)} rows vs {len(oracle_rows)}"
    cols = sorted(columns)
    at = {c: i for i, c in enumerate(oracle_columns)}
    got = sorted(tuple(_canon(r[c]) for c in cols) for r in rows)
    want = sorted(tuple(_canon(r[at[c]]) for c in cols) for r in oracle_rows)
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return f"{bad}/{len(got)} rows differ" if bad else ""


def attach_stage_spans(tracer, parent, executions, layer_of):
    """Each completed Spark stage of an action becomes a child span of it."""
    if parent is None:
        return
    for e in executions:
        for s in e["stages"]:
            tracer.add(
                f"stage {s['id']} ({s['role']})",
                layer_of(e, s),
                tracer.from_epoch_ms(s["submit_ms"]),
                tracer.from_epoch_ms(s["complete_ms"]),
                parent=parent,
                execution=e["id"],
                tasks=s["num_tasks"],
            )


def median_dicts(dicts):
    keys = dicts[0].keys() if dicts else ()
    return {k: median([d[k] for d in dicts]) for k in keys}


def core_sample(texts, seed, tracer):
    """Driver-side timing of the pure-Python core on a seeded sample."""
    if not texts:
        return {
            "core.dom.parse_ms_per_row": 0.0,
            "core.transcoder.extract_ms_per_row": 0.0,
            "core.transcoder.post_parse_ms_per_row": 0.0,
            "core.transcoder.rows_per_s_1core": 0.0,
        }
    sample = random.Random(seed).sample(texts, min(CORE_SAMPLE_ROWS, len(texts)))
    parse, full = [], []
    for _ in range(CORE_SAMPLE_REPEATS):
        with tracer.span("core.build_document", "core.dom"):
            t = time.perf_counter()
            for text in sample:
                build_document(text)
            parse.append(time.perf_counter() - t)
        with tracer.span("core.extract", "core.transcoder"):
            t = time.perf_counter()
            for text in sample:
                extract(text, None, DEFAULT_OPTIONS)
            full.append(time.perf_counter() - t)
    n = len(sample)
    parse_s, full_s = median(parse), median(full)
    return {
        "core.dom.parse_ms_per_row": 1000 * parse_s / n,
        "core.transcoder.extract_ms_per_row": 1000 * full_s / n,
        "core.transcoder.post_parse_ms_per_row": 1000 * (full_s - parse_s) / n,
        "core.transcoder.rows_per_s_1core": n / full_s,
        "core.sample_rows": n,
    }


WORKLOADS = {w.name: w for w in (Transcripts, MediaDecode)}
