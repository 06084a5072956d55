#!/usr/bin/env python
"""10x-scale rehearsal (VERDICT r4 next-round #3): run the headline set
plus the dedup/sim/text heavy keys ENGINE-SIDE against the synthesized
sf1 corpus (tools/make_sf1.py) and report per-query wall times.

This is a scale probe, not a parity gate: results are materialized with
the `noop` sink (full computation of every output column, zero driver
transfer — `.toPandas()` at sf1 would measure Arrow transfer of e.g.
~70M dedup pairs instead of the plan), each key runs twice (cold then
warm), and any task failure surfaces as a raised exception -> nonzero
exit. Output: one JSON line + a readable table on stderr.

Usage: python tools/rehearsal_sf1.py [--sf-dir .scratch/sf1] [keys...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sparkgraft
from bench import HEADLINE

HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_near_minhash",
    "dedup_cluster_cc",
    "dedup_embedding_cosine",
    "dedup_semantic_keep",
    "sim_ivf_knn",
    "sim_lsh_buckets",
    "sim_threshold_sweep",
    "sim_gram_matrix",
    "text_tfidf",
    "text_tfidf_pairs",
    "text_bigram_perplexity",
    "text_bpe_merges",
    "text_dup_ngram_coverage",
    "mm_payload_entropy",
    "agg_window_funnel",
    "win_session_stats",
    "win_cumulative_users",
    # r5 additions
    "text_dsir_weights",
    "text_dup_spans",
    "dedup_containment",
    "text_bm25_topk",
    "text_quality_classifier",
    "graph_components_copurchase",
    "graph_bfs_copurchase",
    # r6 additions (dedup_embedding_cosine above is now candidate-first;
    # dedup_embedding_exact keeps the old all-pairs measurement lineage)
    "dedup_embedding_exact",
    "sim_lsh_bucket_stats",
    "sim_pair_histogram_sampled",
    "sim_threshold_sweep_sampled",
    "sim_hard_negatives_sampled",
    "text_quality_train",
    "sim_kmeans_train",
    "udf_cogroup_asof",
    "fn_script_transform",
    "scan_avro_roundtrip",
    "agg_itemsets_apriori",
    "agg_association_rules",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf-dir", default=".scratch/sf1")
    ap.add_argument("--all", action="store_true",
                    help="sweep EVERY registered key (r7 full-registry "
                         "rehearsal) instead of the headline+heavy probe set")
    ap.add_argument("--warm-skip-over", type=float, default=120.0,
                    help="skip the warm rerun when the cold run exceeded "
                         "this many seconds (bounds total sweep time; the "
                         "cold number is the scale signal)")
    ap.add_argument("--jsonl", default=None,
                    help="append one JSON line per key as it completes; on "
                         "restart, keys already present are skipped — a "
                         "multi-hour sweep survives a driver crash without "
                         "losing measurements")
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)

    spark = sparkgraft.get_session("sparkgraft-rehearsal-sf1")
    keys = (sorted(sparkgraft.QUERIES) if args.all
            else args.keys or (HEADLINE + HEAVY))
    results: dict[str, dict] = {}
    failures = 0
    if args.jsonl and os.path.exists(args.jsonl):
        with open(args.jsonl) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    results[rec.pop("key")] = rec
        done = [k for k in keys if k in results]
        failures = sum(1 for k in done if "error" in results[k])
        keys = [k for k in keys if k not in results]
        print(f"resume: {len(done)} keys loaded from {args.jsonl}, "
              f"{len(keys)} to run", file=sys.stderr, flush=True)
    def record(key: str, rec: dict) -> None:
        results[key] = rec
        if args.jsonl:
            with open(args.jsonl, "a") as f:
                f.write(json.dumps({"key": key, **rec}) + "\n")

    for key in keys:
        fn = sparkgraft.QUERIES[key]
        try:
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold = round(time.monotonic() - t0, 2)
            if cold <= args.warm_skip_over:
                t0 = time.monotonic()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                warm = round(time.monotonic() - t0, 2)
                record(key, {"cold": cold, "warm": warm})
                print(f"ok    {key}: cold {cold:8.2f}s  warm {warm:8.2f}s",
                      file=sys.stderr, flush=True)
            else:
                record(key, {"cold": cold, "warm": None})
                print(f"ok    {key}: cold {cold:8.2f}s  warm skipped (>"
                      f"{args.warm_skip_over:.0f}s)",
                      file=sys.stderr, flush=True)
        except Exception as exc:  # noqa: BLE001 - probe must keep going
            failures += 1
            record(key, {"error": f"{type(exc).__name__}: {exc}"[:300]})
            print(f"FAIL  {key}: {type(exc).__name__}: {exc}", file=sys.stderr,
                  flush=True)

    print(json.dumps({
        "metric": "sf1_rehearsal",
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "loadavg": list(os.getloadavg()),
        "failures": failures,
        "results": results,
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
