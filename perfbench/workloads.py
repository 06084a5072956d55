"""Workload key lists and the metric catalogue of the benchmark.

Each workload is a closed loop with one client: it runs one registry key
at a time, ``sparkgraft.QUERIES[key](spark, sf_dir).toPandas()``, in passes
over its key list. The workload seed permutes the key order of each pass.
"""

from __future__ import annotations

# Scale factor of the synthetic tables (lineitem 60,000 rows, documents and
# embeddings 500 rows each). Per-query fixed cost dominates every key at
# this size and at sf0.1 alike; the smaller inputs let a run hold several
# warm passes.
SF = 0.01

WORKLOADS: dict[str, dict] = {
    "olap_star": {
        "why": "short relational queries on the TPC-H star, where per-query "
        "build and planning cost dominates; no Python workers",
        "keys": [
            "agg_groupby_hash",
            "join_multiway_star",
            "topk_limit",
            "agg_count_distinct",
            "sort_global",
            "join_asof",
            "win_row_number_topn",
            "sql_entry_nation_trade",
        ],
    },
    "llm_corpus": {
        "why": "text, dedup, vector, Arrow-UDF, Avro and streamed-ingest "
        "keys whose time goes to execution, shuffle and Python workers",
        "keys": [
            "text_wordcount",
            "text_tfidf",
            "dedup_exact_docs",
            "sim_ivf_knn",
            "udf_map_arrow",
            "scan_avro_roundtrip",
            "stream_exactly_once_sink",
        ],
    },
}

# name -> (unit, better) of the metrics a user of the engine sees
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_pass_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "query_geomean_s": ("s", "lower"),
}

# name -> (unit, better, how a workload figure is made from per-key figures):
#   "sum"  per-key medians over traced passes, summed over the key list
#   "max"  the largest per-key median
#   "run"  measured once per run, not per key
#   "ratio" computed from other summed figures (see run.layer_totals)
PER_LAYER = {
    "session.start_ms": ("ms", "lower", "run"),
    "registry.import_ms": ("ms", "lower", "run"),
    "catalog.load_ms": ("ms", "lower", "sum"),
    "catalog.load_jobs": ("count", "lower", "sum"),
    "build.ms": ("ms", "lower", "sum"),
    "build.jobs": ("count", "lower", "sum"),
    "catalyst.analysis_ms": ("ms", "lower", "sum"),
    "catalyst.optimization_ms": ("ms", "lower", "sum"),
    "catalyst.planning_ms": ("ms", "lower", "sum"),
    "execute.ms": ("ms", "lower", "sum"),
    "result.rows": ("count", "higher", "sum"),
    "trace.overhead_frac": ("ratio", "lower", "run"),
    "exec.jobs": ("count", "lower", "sum"),
    "exec.stages": ("count", "lower", "sum"),
    "exec.tasks": ("count", "lower", "sum"),
    "exec.tasks_failed": ("count", "lower", "sum"),
    "exec.busy_frac": ("ratio", "higher", "ratio"),
    "exec.run_ms": ("ms", "lower", "sum"),
    "exec.cpu_ms": ("ms", "lower", "sum"),
    "exec.wait_ms": ("ms", "lower", "sum"),
    "exec.gc_ms": ("ms", "lower", "sum"),
    "shuffle.write_bytes": ("bytes", "lower", "sum"),
    "shuffle.read_bytes": ("bytes", "lower", "sum"),
    "spill.bytes": ("bytes", "lower", "sum"),
    "exec.peak_memory_bytes": ("bytes", "lower", "max"),
    "scan.input_bytes": ("bytes", "lower", "sum"),
    "scan.input_rows": ("count", "lower", "sum"),
    "scan.time_ms": ("ms", "lower", "sum"),
    "scan.files": ("count", "lower", "sum"),
    "python.init_ms": ("ms", "lower", "sum"),
    "python.total_ms": ("ms", "lower", "sum"),
    "python.bytes_sent": ("bytes", "lower", "sum"),
    "python.bytes_received": ("bytes", "lower", "sum"),
    "sink.output_bytes": ("bytes", "lower", "sum"),
    "sink.output_rows": ("count", "lower", "sum"),
    "sink.files_written": ("count", "lower", "sum"),
    "sink.bytes_per_input_byte": ("ratio", "lower", "ratio"),
    "stream.queries": ("count", "lower", "sum"),
    "stream.batches": ("count", "lower", "sum"),
    "stream.empty_batch_frac": ("ratio", "lower", "ratio"),
    "stream.trigger_ms": ("ms", "lower", "sum"),
    "stream.add_batch_ms": ("ms", "lower", "sum"),
    "stream.wal_commit_ms": ("ms", "lower", "sum"),
    "stream.commit_offsets_ms": ("ms", "lower", "sum"),
    "stream.query_planning_ms": ("ms", "lower", "sum"),
    "stream.overhead_ms": ("ms", "lower", "sum"),
    "mem.jvm_hwm_mb": ("MB", "lower", "run"),
}
