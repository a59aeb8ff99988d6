"""Names, units and directions of the metrics the result line carries.

``BENCHMARK.json`` at the repository root lists the same metrics; a unit
test keeps the two equal.
"""

from __future__ import annotations

#: name -> (unit, better); bounds live in BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "cpu_s_per_mrow": ("s", "lower"),
    "driver_rss_peak_mb": ("MB", "lower"),
}

_ALL_JOB = ["jobs", "stages", "tasks", "executor_cpu_s"]
_SHUFFLE = ["shuffle_write_bytes", "shuffle_read_bytes"]
_PYTHON = ["python_run_s", "python_bytes_sent"]

#: span -> the event-log metrics kept for it (``call_s`` is kept for all):
#: the ones a change to that layer is most likely to move
SPAN_METRICS = {
    "session.get_spark": [],
    "base.compile": [],
    "generators.ddl.to_ddl": [],
    "generators.spark.validate": _ALL_JOB,
    "generators.spark.validate_lazy": ["jobs"],
    "generators.spark.flag_violations": ["jobs"],
    "operators.quality.gopher_pass": [],
    "operators.dedup.minhash_lsh_pairs": [*_ALL_JOB, *_SHUFFLE, *_PYTHON, "spill_bytes", "gc_s"],
    "operators.dedup.verify_pairs_jaccard": [*_ALL_JOB, *_SHUFFLE, "spill_bytes", "gc_s"],
    "operators.dedup.connected_components": [*_ALL_JOB, *_SHUFFLE, "spill_bytes", "gc_s"],
    "operators.webdataset.webdataset_samples": ["jobs", "tasks", "executor_cpu_s", *_PYTHON],
    "operators.multimodal.decode_image_meta": ["jobs", "tasks", "executor_cpu_s", *_PYTHON, "gc_s"],
    "operators.multimodal.decode_wav_meta": ["jobs", "tasks", "executor_cpu_s", *_PYTHON, "gc_s"],
    "operators.webdataset.write_webdataset": [],
    "operators.webdataset.save_webdataset": [
        *_ALL_JOB, *_SHUFFLE, *_PYTHON, "spill_bytes", "gc_s", "output_bytes",
    ],  # fmt: skip
    "sink.write": [*_ALL_JOB, *_SHUFFLE, *_PYTHON, "spill_bytes", "gc_s", "output_bytes"],
}

#: counts and totals beside the spans: name -> (unit, better)
EXTRA = {
    "op.construct_s": ("s", "lower"),
    "op.action_s": ("s", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_jobs": ("count", "lower"),
    "bench.fail_ratio": ("ratio", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verified_pairs": ("count", "higher"),
    "operators.dedup.verify_yield": ("ratio", "higher"),
    "operators.dedup.survivor_mismatch": ("count", "lower"),
    "operators.dedup.connected_components.cap_extra_components": ("count", "lower"),
    "operators.multimodal.decode_null_rows": ("count", "lower"),
    "generators.spark.null_eval_kept_rows.validate": ("count", "lower"),
    "generators.spark.null_eval_kept_rows.validate_lazy": ("count", "lower"),
    "generators.spark.null_eval_kept_rows.flag_violations": ("count", "lower"),
}


def _unit(metric: str) -> str:
    if metric.endswith("_bytes") or metric == "python_bytes_sent":
        return "B"
    if metric.endswith("_s"):
        return "s"
    return "count"


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better), in report order."""
    out = {}
    for span, metrics in SPAN_METRICS.items():
        for m in ("call_s", *metrics):
            out[f"{span}.{m}"] = (_unit(m), "lower")
    out.update(EXTRA)
    return out
