"""The benchmark's workloads: which gates run, on which seeded corpus.

Gates that read committed fixtures by absolute path are left out (they
cannot run in an arbitrary checkout); README.md lists them.
"""

# metrics printed in the one-line JSON; BENCHMARK.json lists the same
END_TO_END = ["setup_s", "cold_pass_s", "pass_s", "query_p50_s"]
PER_LAYER = [
    "build_s", "build_jobs", "catalyst_s", "plan_nodes", "codegen_compiles",
    "cold_codegen_compiles", "jobs", "stages", "tasks", "driver_gap_s",
    "task_overhead_s", "task_cpu_s", "task_run_s", "gc_s", "slot_util",
    "straggler_s", "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s",
    "spill_mb", "cache_mb", "cleanup_s", "input_mb", "input_rows",
    "pair_candidates", "output_rows", "pair_yield", "stream_batches",
    "batch_plan_s", "batch_exec_s", "wal_commit_s", "state_commit_s",
    "state_rows_updated", "state_mem_mb", "steal_s", "trace_overhead"]

# Each workload also carries row-kernel gates (`graft.functions`,
# `pipeline.Text`): aggregates over `lineitem` on `interactive`, text
# kernels over `documents` on `pair_dedup`.
WORKLOADS = {
    "interactive": {
        "spec": {"sf": 0.01},
        "gates": [
            "table_join_inner", "table_order_by", "table_scan_sum",
            "table_filter", "table_distinct", "table_interval_join",
            "matrix_entries_table", "agg_take_by",
            "table_aggregate_by_key", "agg_stats", "agg_percentile"],
    },
    "pair_dedup": {
        # gen.py gives the source of each parameter
        "spec": {"documents": {"n": 500, "lo": 10, "hi": 100, "zipf_s": 1.0,
                               "heaps_k": 30, "dup_share": 0.01,
                               "swap": 0.04}},
        "gates": [
            "pipe_ppjoin", "pipe_contamination", "stream_minhash_pairs",
            "pipe_text_stats", "pipe_quality_filters"],
    },
}
