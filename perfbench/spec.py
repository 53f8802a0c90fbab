"""The benchmark's contract: workloads, end-to-end metrics and per-layer
metrics, with units.  `BENCHMARK.json` at the repository root is generated
from this module (`python3 perfbench/spec.py > BENCHMARK.json`), and
`run.py` refuses to print a result whose metric names differ from it.

Every workload reports every metric of the set its mode asks for.  A
per-layer metric of a layer that the workload does not run reads 0 (for
example `dedup.*` on an extraction workload); README.md lists which layer
each workload exercises.
"""

from __future__ import annotations

import json

RUN_SECONDS = 25

WORKLOADS = [
    ("batch_mix",
     "run_extraction over a seeded sf0.01-shaped synth table (3-7 line pages, a hot conversation, "
     "5% blank, 10% rotated): the canonical job, kernel-bound, salting exercised"),
    ("curate_docs",
     "near-dup curation chain (LSH candidates, Jaccard verify, groups, keep-list) and LSH ANN "
     "top-k over seeded documents and embeddings: no OCR kernel, so extraction changes stay flat"),
]

# name, unit, better, bound
END_TO_END = [
    # work per second of operation wall time: rendered words of the payload
    # turns (batch_mix; turns/s swings with the seed's page sizes) or
    # documents (curate_docs)
    ("throughput", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("worker_peak_rss_mb", "MB", "lower", 0.1),
    ("truth_match", "share", "higher", 0.2),
]

# name, unit, better
PER_LAYER = [
    # sources.codec
    ("codec.decode_ms_per_turn", "ms", "lower"),
    ("codec.payload_kb_per_turn", "KB", "lower"),
    # kernel stages: self time per page in a serial extract_page loop
    ("kernel.binarize_ms", "ms", "lower"),
    ("kernel.deskew_ms", "ms", "lower"),
    ("kernel.segment_lines_ms", "ms", "lower"),
    ("kernel.word_separators_ms", "ms", "lower"),
    ("kernel.contour_seg_ms", "ms", "lower"),
    ("kernel.features_ms", "ms", "lower"),
    ("kernel.classify_ms", "ms", "lower"),
    ("kernel.page_ms_p50", "ms", "lower"),
    ("kernel.page_ms_tail", "ms", "lower"),
    ("kernel.stage_coverage", "share", "higher"),
    ("kernel.trace_overhead", "share", "lower"),
    # kernel.features work counts
    ("kernel.words_per_page", "count", "lower"),
    ("kernel.char_slices_per_page", "count", "lower"),
    ("kernel.char_slice_repeat_share", "share", "higher"),
    # Spark layer: SQL metrics of the executed plans of the measured operation
    ("spark.scan_ms", "ms", "lower"),
    ("spark.scan_bytes", "bytes", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.shuffle_write_ms", "ms", "lower"),
    ("spark.sort_ms", "ms", "lower"),
    ("spark.sort_peak_mb", "MB", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.python_boot_ms", "ms", "lower"),
    ("spark.python_init_ms", "ms", "lower"),
    ("spark.python_total_ms", "ms", "lower"),
    ("spark.python_sent_bytes", "bytes", "lower"),
    ("spark.kernel_ms", "ms", "lower"),
    ("spark.boundary_ms", "ms", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    # engine against hardware
    ("spark.baremetal_ratio", "ratio", "higher"),
    ("scaling_eff_1to4", "ratio", "higher"),
    # job.run_extraction commit
    ("commit.waves", "count", "lower"),
    ("commit.output_bytes_per_turn", "bytes", "lower"),
    ("commit.overhead_s", "s", "lower"),
    # streaming.stream_job: a trickle of the same rows, one file per trigger
    ("stream.triggers", "count", "lower"),
    ("stream.rows_per_trigger", "count", "higher"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.microbatch_p50_s", "s", "lower"),
    ("stream.microbatch_tail_s", "s", "lower"),
    # operators.dedup / operators.similarity
    ("dedup.candidates_s", "s", "lower"),
    ("dedup.verify_s", "s", "lower"),
    ("dedup.groups_s", "s", "lower"),
    ("dedup.curate_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_share", "share", "higher"),
    ("dedup.hot_buckets", "count", "lower"),
    ("similarity.lsh_topk_s", "s", "lower"),
    ("similarity.lsh_recall_at_10", "share", "higher"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
