#!/usr/bin/env python
"""Benchmark harness (driver contract): run headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Per-query protocol: one untimed warmup (parquet footer + JIT + plan
caches), then the MINIMUM of 7 timed runs, each fully materializing the
result on the driver over the Arrow path (``toPandas``) — the same
columnar hand-off a real consumer (or DuckDB's ``fetchdf``) uses, and
matching BASELINE.md's warm-time methodology.

Why min-of-7 instead of median-of-3: this box carries ambient external
load (loadavg 4-6 with nothing running in-container; see BASELINE.md
round-over-round table — BENCH_r02 read ~1.7x BENCH_r01 across ALL
queries including unchanged trivial ones, a pure-noise signature). The
warm best-case is the stable statistic under external load: noise only
ever ADDS time, so min converges to the true plan cost while median
absorbs neighbor interference. The JSON additionally carries the full
per-run trace (``runs``) and ``loadavg`` samples so a judge can
adjudicate noise vs regression from the artifact alone without
re-running anything.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sparkgraft

# Headline set: one representative per major operator family, aligned
# with the query classes measured in BASELINE.md.
HEADLINE = [
    "agg_groupby_hash",      # q1: scan+filter+7-agg+sort (BASELINE q1)
    "join_multiway_star",    # q5-shape star join (BASELINE q3 class)
    "topk_limit",            # TakeOrderedAndProject
    "agg_count_distinct",    # expand + two-phase distinct
    "sort_global",           # distributed total sort + rank
    "join_asof",             # ordered-merge as-of join
    "win_row_number_topn",   # window rank (BASELINE window-rank class)
    "dedup_exact_docs",      # doc dedup (BASELINE near-dup class)
    "sim_cosine_topk",       # blocked-gemm cosine top-k (BASELINE cosine class)
    "text_wordcount",        # the canonical Hadoop job
]

# Second group (round 4): representative r2/r3 operators with no r1-era
# headline coverage — a regression in any of these families (prefix-filter
# dedup, shingle coverage, weighted sampling, sessionization, IVF ANN,
# shuffled TF-IDF, nearest-event join, first-seen cumulative distinct)
# would otherwise be invisible in BENCH_r{N}. Same warmup + min-of-N
# protocol; reported under its own total so the headline metric stays
# comparable across every round.
GROUP2 = [
    "dedup_ngram_jaccard",      # PPJoin prefix-filter near-dup
    "text_dup_ngram_coverage",  # 5-gram shingle duplicate coverage
    "text_training_mix",        # weighted source sampling
    "win_session_stats",        # sessionization + per-session stats
    "sim_ivf_knn",              # IVF-pruned ANN (C=256, probes=48)
    "text_tfidf",               # token-keyed shuffle join (r4 de-broadcast)
    "join_nearest_event",       # day-bucketed bidirectional nearest-in-time
    "win_cumulative_users",     # first-seen running COUNT(DISTINCT)
    # r4 additions (group2 totals therefore grow vs BENCH_r04-early;
    # BASELINE.md's round-delta table carries the note):
    "text_bigram_perplexity",   # bigram-LM shuffle joins (CCNet filter)
    "agg_window_funnel",        # ordered-window funnel + (user, ts) hop join
]

# Third group (late round 4): representative fourth-wave operators —
# linear algebra via aggregation, hashed first-seen attribution, cohort
# rollups, closed-form dup counting, double-window drawdown, and the
# drift divergence. Same protocol, own total.
GROUP3 = [
    "sim_gram_matrix",        # outer-product generator + 2,080-cell agg
    "text_ngram_novelty",     # hashed-shingle min-window attribution
    "agg_cohort_ltv",         # first-seen cohort + calendar² rollup
    "dedup_source_matrix",    # closed-form pair counting on digests
    "win_drawdown_max",       # two windows + agg on ONE user exchange
    "text_js_divergence",     # per-source JSD, shuffle-joined vocab
    # fifth-wave additions (group3 totals grow vs earlier r4 runs;
    # compare per-query across rounds — BASELINE.md round-delta note):
    "sim_threshold_sweep",    # grid-gemm count vectors, 5-τ calibration
    "sql_entry_nation_trade", # TPC-H Q7 shape, 6-table SQL-entry text
    "mm_payload_entropy",     # JVM-only byte histogram entropy
    "text_tfidf_pairs",       # signature-blocked sparse cosine (5 joins)
    "text_lang_logprob_audit",# quantized unigram-LM scoring, |langs| fan-out
    "text_dataset_card",      # three keyed corpus aggs joined per source
]

# Fourth group (round 5): the r5 additions — tokenizer merge training,
# DSIR weighting, substring dup spans, soft dedup, experimentation
# (CUPED / DiD / KM), graph CC + BFS, prototype pruning, DQ report,
# bloom point lookup. Same protocol, own total.
GROUP4 = [
    "text_bpe_merges",
    "text_dsir_weights",
    "text_dup_spans",
    "dedup_soft_weights",
    "agg_cuped_adjusted",
    "agg_diff_in_diff",
    "agg_kaplan_meier",
    "graph_components_copurchase",
    "graph_bfs_copurchase",
    "sim_prototype_prune",
    "dq_rule_report",
    "scan_bloom_filter_pointlookup",
]

# Fifth group (round 6): the r6 scale-work keys — candidate-first embedding
# dedup (+ its exact verification twin), bounded LSH accounting, the
# sampled audit forms, and the three closed canon gaps (script pipe,
# SequenceFile, Avro). Same protocol, own total.
GROUP5 = [
    "dedup_embedding_cosine",
    "dedup_embedding_exact",
    "sim_lsh_bucket_stats",
    "sim_pair_histogram_sampled",
    "sim_threshold_sweep_sampled",
    "sim_hard_negatives_sampled",
    "fn_script_transform",
    "scan_sequencefile_roundtrip",
    "scan_avro_roundtrip",
    "text_quality_train",
    "sim_kmeans_train",
    "udf_cogroup_asof",
    "udf_map_arrow",
    "udtf_polymorphic_analyze",
    "agg_itemsets_apriori",
    "agg_association_rules",
]

# Sixth group (round 7): the r7 additions — the sampled routine form of
# the heaviest audit. Same protocol, own total.
GROUP6 = [
    "dedup_ngram_jaccard_sampled",
    "scan_avro_deflate_roundtrip",
    "stream_restart_recovery",
    "graph_als_train",
    "scan_snapshot_timetravel",
    "dq_reconciliation",
    "text_naive_bayes_train",
    "agg_gbt_stumps_train",
    "win_scd2_build",
    "win_interpolate_linear",
    "graph_label_propagation",
    "sink_zorder_write",
    "scan_snapshot_incremental",
    "graph_shortest_path_bounded",
    "sample_weighted_hash",
    "text_kneser_ney_bigram",
    "agg_chain_ladder",
    "agg_poisson_bootstrap_ci",
    "sim_pq_reconstruction",
    "stream_backfill_rate_limited",
    "agg_theil_sen_trend",
    "graph_kcore",
    "fn_content_uuid",
    "text_burstiness_profile",
]

# Seventh group (round 8): the depth-and-hardening keys — ACID commit
# protocol, vacuum, AQE skew demo, crash-consistent sink. Same protocol,
# own total.
GROUP7 = [
    "sink_concurrent_commit",
    "sink_snapshot_vacuum",
    "join_aqe_skew_split",
    "stream_exactly_once_sink",
    "join_aqe_bhj_switch",
    "scan_manifest_stats_prune",
    "scan_snapshot_as_of_watermark",
    "stream_acid_append",
    "sink_auto_compaction",
    "sink_merge_delete",
    "sink_schema_evolution_commit",
    "sink_acid_upsert",
    "scan_branch_tag_refs",
    "scan_distcp_verify",
]

# Eighth group (round 9): the lakehouse read/write-matrix completions —
# merge-on-read deletes, the streaming CDF tail, partition evolution,
# OPTIMIZE ZORDER — plus the two re-hashed LSH candidate generators
# (new md5-slice hash family; first bench appearance, so regressions in
# the rewritten shuffle shapes become visible). Same protocol, own total.
GROUP8 = [
    "sink_merge_on_read_delete",
    "sink_merge_on_read_upsert",
    "stream_snapshot_cdf",
    "stream_cdf_with_deletes",
    "stream_snapshot_cdf_partitioned",
    "sink_partition_evolution",
    "sink_optimize_zorder",
    "scan_log_checkpoint",
    "sink_write_audit_publish",
    "dq_snapshot_drift",
    "dedup_near_minhash",
    "dedup_simhash",
]

# Ninth group (round 10): the composition-seam keys — refs-aware vacuum,
# the MOR-aware change feed, the IVF-PQ ANN stack, stats-driven CBO
# reorder — plus the oracle-exact IVF probe sweep's first bench
# appearance (its sibling sim_ivf_knn stays in GROUP2; both were
# rewritten onto quantized centroids this round, so their GROUP2/GROUP9
# timings reflect the new plan). Same protocol, own total.
GROUP9 = [
    "sink_vacuum_refs_aware",
    "stream_cdf_mor",
    "sim_ivf_pq_knn",
    "join_cbo_reorder",
    "sim_ivf_probe_sweep",
    "scan_snapshot_rollback",
    "sink_branch_cherry_pick",
    "stream_cdf_materialized_view",
    "stream_mv_exactly_once",
    "stream_scd2_maintenance",
    "scan_branch_diff",
]

# Tenth group (round 10, continuation wave): the thin-family widening —
# TPC-H Q17/Q21/Q22 subquery topologies as SQL-entry texts, the 7-edge
# referential audit + quarantine routing, link prediction and
# personalized PageRank, the per-group sampling/diversification ranking
# contracts, vision token budgeting, nested pruning. Same protocol, own
# total.
GROUP10 = [
    "sql_entry_small_qty_revenue",
    "sql_entry_waiting_suppliers",
    "sql_entry_sales_opportunity",
    "dq_referential_orphans",
    "dq_quarantine_split",
    "graph_jaccard_neighbors",
    "graph_personalized_pagerank",
    "sample_reservoir_pergroup",
    "topk_diversified",
    "mm_tile_grid",
    "project_nested_prune",
    "sim_hamming_topk",
    "mm_token_budget_mix",
    "dq_anomaly_mad_ingest",
    "scan_snapshot_metadata_tables",
    "sink_positional_delete_vector",
    "udtf_partitioned_table_arg",
    "join_geo_grid",
    "graph_hits",
    "agg_median_two_pass",
]

# Eleventh group (round 11): the composition-seam closures — the
# compaction-aware change feed (zero events across rewrite commits) and
# MOR rewrite-data-files maintenance compaction. Same protocol, own
# total.
GROUP11 = [
    "stream_cdf_compaction_aware",
    "sink_rewrite_data_files",
    "sim_ivf_index_append",
    "sink_multi_table_publish",
    "stream_cdf_positional",
    "sink_rewrite_delete_race",
    "dedup_near_incremental",
    "stream_cdf_mixed_deletes",
    "sink_multi_table_conflict",
    "sink_multi_table_vacuum",
]

# Round-12 composition-seam keys: schema evolution × change feed, durable
# delete-aware incremental indexes, txn-root checkpointing, partition
# evolution × compaction, cross-table CDF. Same protocol, own total.
GROUP12 = [
    "stream_cdf_schema_evolution",
    "sim_ivf_index_delete",
    "dedup_index_maintain",
    "scan_txn_checkpoint",
    "sink_rewrite_partition_evolution",
    "stream_cdf_cross_table",
    "dedup_index_compaction",
    "sim_ivf_index_feed",
]


# Round-13 composition-seam keys: vacuum x CDF contract, checkpointed
# txn-root feed, OCC-rebase exactly-once, AS-OF index reads, schema
# evolution through the index feed. Same protocol, own total.
GROUP13 = [
    "stream_cdf_vacuum_horizon",
    "stream_cdf_txn_checkpoint",
    "stream_cdf_rebase_exactly_once",
    "dedup_index_asof",
    "dedup_index_schema_evolution",
    "sim_ivf_index_asof",
]

# The groups after the headline, in run order. Group N reports as
# "group{N}_total" on stdout, "g{N}" in "normalized_totals" and
# "group{N}_queries" / "group{N}_runs" in BENCH_trace.json.
GROUPS = {
    2: GROUP2, 3: GROUP3, 4: GROUP4, 5: GROUP5, 6: GROUP6, 7: GROUP7,
    8: GROUP8, 9: GROUP9, 10: GROUP10, 11: GROUP11, 12: GROUP12,
    13: GROUP13,
}

# Host-drift normalization (r8, the r7 verdict's ask #7): BENCH artifacts
# compare raw seconds across rounds on a host with documented ambient
# drift (BENCH_r07 read a uniform 1.1-1.4x over identical r6 plans). The
# bench now re-measures the flagship in isolation at the END of the run
# (min-of-8, fully warm — the builder's standing drift probe) and reports
# every group total both raw and probe-normalized:
#   normalized = raw * HOST_PROBE_REF / host_probe
# HOST_PROBE_REF pins the r6-close quiet-host flagship measurement
# (BASELINE.md round-6 close; 0.416 s warm min-of-8 at sf0.1), so
# normalized numbers are comparable to the r6 baseline era across rounds.
# Drift is NON-STATIONARY within a ~20-min run (measured r8: end probe
# 0.289 s while the headline block an hour of load earlier read 1.4x
# that), so the run is BRACKETED: one probe right after the headline
# group, one at the very end; host_probe = min of the two (noise only
# adds time — the same argument as min-of-N), both brackets reported.
HOST_PROBE_KEY = "agg_groupby_hash"
HOST_PROBE_REPS = 8
HOST_PROBE_REF = 0.416

# Scaling probe (r14, the r13 verdict's ask #2): the headline keys are
# overhead-bound at sf0.1 (0.2-0.9 s each, dominated by per-action fixed
# cost), so an 8-vs-32-core ratio read off the per-query map is ~1 for
# every one of them and the driver's scaling check cannot see that
# $SPARK_GRAFT_CPUS reaches Spark (it does: session.py:50 builds
# local[$SPARK_GRAFT_CPUS]; BENCH_r13_c8.json's group totals run
# 1.2-1.5x slower at 8 cores). This probe is a CORE-BOUND kernel — a
# chained-xxhash64 fold over spark.range, partitioned at 2x
# defaultParallelism so the task count tracks the core count — whose
# warm time scales near-linearly with the core budget. It rides in the
# graded line as "scaling_probe" AND as an ADDED entry in the per-query
# map (the bench contract permits additions, never removals/renames);
# "value" stays the sum of the 10 headline keys so the round-over-round
# headline total remains comparable.
SCALING_PROBE_ROWS = 80_000_000
SCALING_PROBE_CHAIN = 16
SCALING_PROBE_REPS = 3

TIMED_REPS = 7
# Heavy queries (the output-bound dedup family runs ~30 s at sf0.1) stop
# at min-of-3 so the whole bench stays inside the driver's window; the
# per-run trace records how many runs each key got.
SLOW_QUERY_SEC = 5.0
TIMED_REPS_SLOW = 3


def _time_group(spark, sf_dir: str, keys: list[str], loadavg_samples):
    timings: dict[str, float] = {}
    traces: dict[str, list[float]] = {}
    for key in keys:
        fn = sparkgraft.QUERIES[key]
        fn(spark, sf_dir).toPandas()  # warmup
        runs = []
        for _ in range(TIMED_REPS_SLOW):
            t0 = time.monotonic()
            fn(spark, sf_dir).toPandas()
            runs.append(round(time.monotonic() - t0, 4))
        # decide off warm timed runs, not the warmup (the first key's
        # warmup absorbs the session-wide cold start)
        if min(runs) < SLOW_QUERY_SEC:
            for _ in range(TIMED_REPS - TIMED_REPS_SLOW):
                t0 = time.monotonic()
                fn(spark, sf_dir).toPandas()
                runs.append(round(time.monotonic() - t0, 4))
        timings[key] = min(runs)
        traces[key] = runs
        loadavg_samples.append(list(os.getloadavg()))
    return timings, traces


def _scaling_probe(spark) -> float:
    """Core-bound kernel (min-of-N warm, same stat discipline as the
    queries): sum over SCALING_PROBE_ROWS ids of a SCALING_PROBE_CHAIN-
    deep xxhash64 fold. Pure JVM codegen compute, evenly partitioned,
    no shuffle beyond the final 1-row aggregate — so its wall time is
    work / cores and an 8-core run reads ~3-4x the 32-core run where
    the overhead-bound headline keys read ~1x.

    The aggregate is bit_xor (order-independent, overflow-free under
    ANSI). The plan is REBUILT per rep: re-running toPandas on one
    DataFrame object reuses its materialized shuffle stage (measured:
    a 400M-row kernel "repeats" in 40 ms on the same object vs 14 s on
    a fresh plan), which would time nothing — the same reason bench
    re-calls fn() per rep for every query."""
    from pyspark.sql import functions as F

    def build():
        c = F.col("id")
        h = F.xxhash64(c)
        for _ in range(SCALING_PROBE_CHAIN - 1):
            h = F.xxhash64(h, c)
        par = spark.sparkContext.defaultParallelism
        return spark.range(0, SCALING_PROBE_ROWS, 1, par * 2).select(
            F.bit_xor(h).alias("checksum")
        )

    build().toPandas()  # warmup
    runs = []
    for _ in range(SCALING_PROBE_REPS):
        t0 = time.monotonic()
        build().toPandas()
        runs.append(round(time.monotonic() - t0, 4))
    return min(runs)


def _probe(spark, sf_dir: str) -> float:
    """Isolated flagship probe: min-of-8 warm toPandas of the unchanged-
    since-r1 flagship — the host-speed yardstick."""
    fn = sparkgraft.QUERIES[HOST_PROBE_KEY]
    runs = []
    for _ in range(HOST_PROBE_REPS):
        t0 = time.monotonic()
        fn(spark, sf_dir).toPandas()
        runs.append(round(time.monotonic() - t0, 4))
    return min(runs)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = sparkgraft.get_session("sparkgraft-bench")
    # Quiet the known-benign WindowExec "No Partition Defined" warnings:
    # every unpartitioned window in the engine is bounded-domain by
    # construction (distinct calendar days, deciles, ≤ buckets+1 count
    # rows — the boundedness argument lives in each operator docstring
    # and is exercised by tests), and at 32 keys × 7 runs the warning
    # floods the tail the driver captures, burying real signals.
    spark.sparkContext.setLogLevel("ERROR")

    loadavg_samples: list[list[float]] = [list(os.getloadavg())]

    def _bound() -> float:
        """1-min loadavg snapshot at a group boundary (stdout-compact;
        the full per-key samples ride in the trace)."""
        return round(os.getloadavg()[0], 2)

    def _registered(keys: list[str]) -> list[str]:
        return [k for k in keys if k in sparkgraft.QUERIES]

    bound_loads: list[float] = [_bound()]
    timings, traces = _time_group(
        spark, sf_dir, _registered(HEADLINE), loadavg_samples
    )
    bound_loads.append(_bound())
    probe_start = _probe(spark, sf_dir)  # bracket probe 1 (post-headline)
    group_timings: dict[int, dict[str, float]] = {}
    group_traces: dict[int, dict[str, list[float]]] = {}
    for n, keys in GROUPS.items():
        group_timings[n], group_traces[n] = _time_group(
            spark, sf_dir, _registered(keys), loadavg_samples
        )
        bound_loads.append(_bound())
    group_totals = {n: sum(t.values()) for n, t in group_timings.items()}

    probe_end = _probe(spark, sf_dir)
    host_probe = min(probe_start, probe_end)
    scale = HOST_PROBE_REF / host_probe if host_probe > 0 else 1.0

    scaling_probe = _scaling_probe(spark)
    # ADDED per-query entry (additions are contract-sanctioned); the
    # headline "value" below is computed from `timings` BEFORE this
    # entry lands, so the 10-key headline total stays round-comparable.
    headline_total = round(sum(timings.values()), 4)
    timings = dict(timings)
    timings["scaling_probe"] = scaling_probe

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Compact stdout line (< 1 KB, stable as groups grow): the contract's
    # headline fields (metric/value/unit/queries/sf) plus ONE total per
    # extra group. BENCH_r04.json and again BENCH_r06.json were recorded
    # `parsed: null` because per-run traces (r4) and then the per-query
    # dicts of five groups (r6) outgrew the driver's tail capture — the
    # headline was truncated off the FRONT of the line. All per-query
    # dicts and per-run traces now land ONLY in BENCH_trace.json; adding
    # a future group adds ~30 bytes to stdout, not kilobytes.
    result = {
        "metric": "headline_queries_total_warm",
        "value": headline_total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stat": f"min_of_{TIMED_REPS}",
        **{f"group{n}_total": round(t, 4) for n, t in group_totals.items()},
        # r9 (the r8 verdict's ask #7): the load adjudication data rides
        # in the GRADED stdout line, not just the side trace — the 1-min
        # loadavg at start and at every group boundary, plus a loud gate
        # flag when the run STARTED on a busy host (>1): numbers from a
        # load_ok=false run are upper bounds, not plan costs.
        "loadavg_start": round(loadavg_samples[0][0], 2),
        "loadavg_bounds": [round(b, 1) for b in bound_loads],
        "load_ok": loadavg_samples[0][0] <= 1.0,
        "host_probe": host_probe,
        "host_probe_start": probe_start,
        "host_probe_end": probe_end,
        "host_probe_ref": HOST_PROBE_REF,
        # r14 (the r13 verdict's ask #2): the core-bound scaling signal,
        # also present in "queries" above. Ratio two runs' values at
        # different $SPARK_GRAFT_CPUS to measure parallel scaling; the
        # overhead-bound headline keys cannot carry that signal.
        "scaling_probe": scaling_probe,
        "scaling_probe_cpus": spark.sparkContext.defaultParallelism,
        "normalized_totals": {
            name: round(total * scale, 2)
            for name, total in [
                ("headline", headline_total),
                *((f"g{n}", t) for n, t in group_totals.items()),
            ]
        },
        "trace_file": "BENCH_trace.json",
    }
    trace = {
        **result,
        **{f"group{n}_queries": t for n, t in group_timings.items()},
        "runs": traces,
        **{f"group{n}_runs": t for n, t in group_traces.items()},
        "loadavg": loadavg_samples,
    }
    trace_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH_trace.json")
    try:
        with open(trace_path, "w") as fh:
            json.dump(trace, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # trace file is best-effort; the stdout line is the contract
    # Graded-artifact persistence (r10 verdict ask #5): clean runs
    # (load_ok — the host was quiet at start) are the round's graded
    # evidence, but they used to live only in /tmp and BASELINE.md
    # prose. Persist every clean run to a numbered repo path so the
    # round can close with committed load_ok artifacts; loaded runs
    # stay stdout-only (their numbers are upper bounds, not evidence).
    if result["load_ok"]:
        here = os.path.dirname(os.path.abspath(__file__))
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            # infer the CURRENT round from the VERDICT marker, not from
            # landed BENCH_r{N}.json (r11 ADVICE): the judge writes
            # "# VERDICT — round N" at round START and it is stable for
            # the whole round, so N+1 is the round being built even if
            # bench re-runs after this round's BENCH artifact already
            # landed. BENCH-based inference mislabeled exactly that
            # case (a confirmation run would claim the NEXT round).
            import re as _re

            rounds = []
            try:
                with open(os.path.join(here, "VERDICT.md")) as fh:
                    rounds = [
                        int(m.group(1))
                        for m in _re.finditer(
                            r"VERDICT\s*[—–-]+\s*round\s+(\d+)", fh.read()
                        )
                    ]
            except OSError:
                pass
            if rounds:
                rnd = str(max(rounds) + 1)
            else:
                landed = [
                    int(m.group(1))
                    for f in os.listdir(here)
                    if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
                ]
                rnd = str(max(landed) + 1 if landed else 1)
        for n in range(1, 100):
            clean_path = os.path.join(here, f"BENCH_r{rnd}_clean{n}.json")
            try:
                # O_EXCL claim: exists-then-write would let two
                # concurrent clean runs overwrite each other's evidence
                # (the _try_publish put-if-absent argument)
                with open(clean_path, "x") as fh:
                    json.dump(result, fh, indent=1)
                    fh.write("\n")
                break
            except FileExistsError:
                continue
            except OSError:
                break  # best-effort; the stdout line is the contract

    line = json.dumps(result)
    # 1.5 KB headroom: the line grows ~30 bytes per group total; the
    # 2021-era 1 KB guard tripped when group10 landed (r10 continuation)
    assert len(line) < 1536, f"bench stdout line too long: {len(line)}"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
