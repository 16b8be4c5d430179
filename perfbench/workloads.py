"""The benchmark's workloads, their inputs and the metrics it prints."""

import os

WORKLOADS = {
    # the paper's training-data surface: native graft_* kernels and the
    # operators' eager phases (BPE training, index builds, persists)
    "training_data": {
        "data": "sf0.1",
        # steady passes per run: a pass here is about 8 s, and one alone
        # spreads 16% from run to run on a 4-vCPU VM
        "passes": 2,
        "roster": [
            "text_quality", "text_langid", "dedup_minhash", "dedup_embedding_lsh",
            "bpe_train", "ann_pq_indexed",
        ],
    },
    # the reference's own job: AvailableNow micro-batches with
    # checkpoints and state, plus the memoized z-order layout
    "ingest": {
        "data": "sf0.01",
        "passes": 1,
        "roster": [
            "stream_window_agg", "stream_dedup", "stream_route", "stream_enrich",
            "stream_cdc_merge", "stream_corpus_dedup", "layout_zorder",
        ],
    },
}

# printed on the last line with --trace 0; each has a bound in
# BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"), ("heap_retained_mb", "MB"),
]
# printed on the stamp line only: with one steady pass a run has one
# sample per roster query, so its median is one particular query's time
QUERY_TIMES = [("query_p50_s", "s"), ("query_tail_s", "s")]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.exec_s", "s"), ("queries.build_self_s", "s"),
    ("queries.build_jobs", "count"), ("queries.untagged_jobs", "count"),
    ("queries.cold_build_s", "s"), ("queries.cold_untagged_jobs", "count"),
    ("operators.build_task_s", "s"), ("operators.cold_build_task_s", "s"),
    ("operators.result_mb", "MB"), ("operators.cache_peak_mb", "MB"),
] + [("plans.%s_s" % k, "s") for k in (
    "graft_minhash", "graft_simhash", "graft_word_shingles", "graft_word_ngrams",
    "graft_term_counts", "graft_top_word_count", "graft_cosine", "graft_srp_buckets")] + [
    ("sources.scan_s", "s"), ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
    ("sources.output_mb", "MB"), ("sources.output_rows", "count"),
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.commit_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.task_s", "s"), ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.core_util", "ratio"), ("spark.sched_wait_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_mb", "MB"),
    ("spark.shuffle_per_input", "ratio"),
    ("driver.gc_s", "s"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.unaccounted_s", "s"),
]


def inputs(workload, bench_dir):
    """The committed input directory of a workload."""
    d = os.path.join(bench_dir, "data", workload["data"])
    if not os.path.isdir(d):
        raise SystemExit("missing committed inputs: %s" % d)
    return d


def kernel_input(bench_dir):
    """The documents and embeddings the plans.* kernel timings read."""
    return os.path.join(bench_dir, "data", "sf0.1")
