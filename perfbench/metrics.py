"""Names and units of every metric the benchmark prints. BENCHMARK.json
lists the same names (perfbench/tests/test_units.py keeps them equal)."""

from __future__ import annotations

# --trace 0: what a user of the pipeline sees.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "batch_s": "s",
    "cpu_per_op_s": "s",
}

# Layers whose self time the traced run reports (the span name up to its
# last dot); "op" is the benchmark's own code around the layer calls.
SELF_TIME_LAYERS = ["op", "queries", "plans", "sources", "sinks.html", "dedup", "clustering", "versioned"]

# --trace 1: single layers. A layer the workload never calls reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.plist_load_s": "s",
    "plans.playlist_stats_s": "s",
    "plans.page_s": "s",
    "queries.construct_s": "s",
    "queries.action_s": "s",
    "sinks.html.render_s": "s",
    "spark.jobs_per_op": "count",
    "spark.construct_jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_s": "s",
    "spark.gap_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "dedup.persist_s": "s",
    "dedup.screen_s": "s",
    "dedup.probe_s": "s",
    "dedup.accept_s": "s",
    "dedup.containment_join_s": "s",
    "dedup.minhash_candidates_s": "s",
    "dedup.ngram_jaccard_pairs_s": "s",
    "dedup.candidate_yield": "ratio",
    "clustering.connected_components_s": "s",
    "clustering.connected_components_jobs": "count",
    "versioned.compact_s": "s",
    "versioned.folds": "count",
    "versioned.bytes_written_per_doc": "B/doc",
    "versioned.chain_links": "count",
    "ingest.batch_s": "s",
    "ingest.docs_per_s": "docs/s",
    "ingest.jobs_per_batch": "count",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.worker_cpu_s": "s",
    **{f"self.{layer}_s": "s" for layer in SELF_TIME_LAYERS},
    "trace.accounted_share": "ratio",
    "trace.op_p50_s": "s",
    "trace.batch_s": "s",
    "trace.overhead_op_p50": "ratio",
    "trace.overhead_batch": "ratio",
    "run.cpus": "count",
    "run.samples": "count",
    "run.samples_above_p90": "count",
    "run.load_start": "load",
    "run.load_end": "load",
    "run.host_other_share": "ratio",
    "run.drift_ratio": "ratio",
    "run.timed_s": "s",
    "run.warmup_ops": "count",
    "run.check_s": "s",
    "run.failed_share": "ratio",
}
