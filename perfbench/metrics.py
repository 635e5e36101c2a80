"""The benchmark's metric catalog; ``BENCHMARK.json`` lists the same names.

Each per-layer entry records, before any change is measured, which
end-to-end metric it should move and on which workload, and where it
should stay flat. A layer that does not run on a workload reports 0
there (no Spark stage of that kind, no core rows, no lineage write).
"""

from __future__ import annotations

# name, unit, better, bound (share of the parent's median), what it is
# Times are scaled to the reference host speed (``hostspeed.scaled``); the
# report also keeps them as measured.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25,
     "median over set-up repetitions of session start, input generation, "
     "Python-worker warm-up and corpus materialization"),
    ("wall_s", "s", "lower", 0.25, "median time of one timed pass"),
    ("rows_per_s", "rows/s", "higher", 0.25,
     "median of input rows per second over timed passes: turns for transcripts, "
     "documents x queries for media_decode"),
    ("py_worker_peak_rss_mb", "MB", "lower", 0.15,
     "peak summed RSS of the Python worker processes during the timed passes"),
)

_TR, _MD = "transcripts", "media_decode"
# one image, one video and one audio decode query of the registry
MEDIA_QUERIES = (
    "multimodal_image_pixels_jpeg",
    "multimodal_frame_sample_mp4",
    "multimodal_mp3_frames",
)

# name, unit, better, moves (end-to-end metric, workloads), flat on.
# The sources.lineage metrics come from run_extract_job calls that the
# transcripts traced run makes beside its timed passes, so they move no
# end-to-end metric of this benchmark.
PER_LAYER = (
    ("operators.extract.udf_rows", "count", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("operators.extract.py_bytes_sent", "B", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("operators.extract.py_bytes_returned", "B", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("operators.extract.stage_cpu_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("operators.extract.task_p50_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("operators.extract.task_max_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("operators.extract.tasks", "count", "lower", ("wall_s", (_TR,)), (_MD,)),
    # a property of the workload; its base is operators.extract.udf_rows
    ("operators.extract.markup_free_frac", "frac", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("operators.extract.core_ceiling_ratio", "ratio", "higher", ("rows_per_s", (_TR,)), ()),
    ("operators.extract.self_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.salt_shuffle_bytes", "B", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.salt_stage_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.window_shuffle_bytes", "B", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.window_stage_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.window_task_max_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.spill_bytes", "B", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.gc_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("plans.extract_job.self_s", "s", "lower", ("wall_s", (_TR,)), (_MD,)),
    ("core.dom.parse_ms_per_row", "ms", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("core.transcoder.extract_ms_per_row", "ms", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("core.transcoder.post_parse_ms_per_row", "ms", "lower", ("rows_per_s", (_TR,)), (_MD,)),
    ("core.transcoder.rows_per_s_1core", "rows/s", "higher", ("rows_per_s", (_TR,)), (_MD,)),
    ("sources.lineage.write_s", "s", "lower", (None, ()), (_TR, _MD)),
    ("sources.lineage.resume_s", "s", "lower", (None, ()), (_TR, _MD)),
    ("sources.lineage.buckets_written", "count", "lower", (None, ()), (_TR, _MD)),
    ("sources.lineage.files_written", "count", "lower", (None, ()), (_TR, _MD)),
    ("sources.lineage.bytes_written", "B", "lower", (None, ()), (_TR, _MD)),
    ("sources.lineage.self_s", "s", "lower", (None, ()), (_TR, _MD)),
    *((f"operators.multimodal.{q}.wall_s", "s", "lower", ("wall_s", (_MD,)), (_TR,)) for q in MEDIA_QUERIES),
    ("operators.multimodal.decode_rows_per_output_row", "ratio", "lower", ("wall_s", (_MD,)), (_TR,)),
    ("operators.multimodal.self_s", "s", "lower", ("wall_s", (_MD,)), (_TR,)),
    ("trace.overhead_s", "s", "lower", ("wall_s", (_TR, _MD)), ()),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
