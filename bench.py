"""Headline-query benchmark.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints exactly ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as _ent  # noqa: E402
from light_etl_windows_container_poc_spark.queries import QUERIES  # noqa: E402
from light_etl_windows_container_poc_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",    # scan + wide agg
    "q5_local_supplier",     # 6-table join chain (broadcast dims)
    "q13_cust_distribution", # left join + double grouping
    "q18_large_orders",      # agg-filter semi-join
    "window_running",        # windowed running aggregate
    "sessionize",            # gap sessionization
    "asof_join",             # as-of join (union+window)
    "range_join",            # bucketed bounded-gap pair join
    "time_window_agg",       # tumbling-window agg
    "dedup_minhash_lsh",     # minhash signatures + LSH banding
    "dedup_ngram_jaccard",   # shingle self-join set similarity
    "dedup_embedding",       # blocked-GEMM exact near-dup (r2 default)
    "ann_bruteforce",        # broadcast-query exact top-k
    "text_quality",          # per-row text metrics
    "knn_graph",             # block-GEMM top-k for EVERY row
    "curate_corpus",         # composed 5-stage curation pipeline
]


def run_suite(spark, registry, sf_dir: str) -> tuple[dict[str, float], list[str]]:
    """Run every query in ``registry`` once, cold.

    Returns per-query wall seconds and the sorted names that raised. A
    failing query is still timed, but it is reported as failed, never
    counted as a fast success.
    """
    times: dict[str, float] = {}
    failed: list[str] = []
    for name, fn in registry.items():
        q0 = time.time()
        try:
            fn(spark, sf_dir).collect()
        except Exception:
            failed.append(name)  # bench must still emit its one JSON line
        times[name] = round(time.time() - q0, 3)
        spark.catalog.clearCache()
    return times, sorted(failed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # warm at the smallest SF: same plan shape → codegen/JIT warmed, but no
    # data/shuffle/persist reuse flatters the timed run at the real SF
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if warm_dir == sf_dir or not os.path.isdir(warm_dir):
        warm_dir = None
    # n≥3 timed runs per query, median reported: single-sample times on
    # sub-second queries swing ±25% from JIT/GC noise (seen round-over-
    # round), which medians suppress
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    spark = get_spark("bench")
    results: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        if warm_dir:
            fn(spark, warm_dir).collect()
            spark.catalog.clearCache()
        times = []
        for _ in range(repeats):
            df = fn(spark, sf_dir)
            t0 = time.time()
            df.collect()
            times.append(time.time() - t0)
            spark.catalog.clearCache()
        med = statistics.median(times)
        results[name] = round(med, 3)
        total += med
    # full-suite wall: every registered query once, no warm — the
    # round-over-round regression tripwire for the non-headline surface.
    # Per-query timings feed the tripwire's attribution: a total alone can
    # regress 1.6× without saying which of 141 queries moved.
    suite_total = 0.0
    suite_times: dict[str, float] = {}
    failed: list[str] = []
    if os.environ.get("SPARK_GRAFT_SKIP_SUITE") != "1":
        t0 = time.time()
        suite_times, failed = run_suite(spark, QUERIES, sf_dir)
        suite_total = time.time() - t0
    slowest = dict(sorted(suite_times.items(),
                          key=lambda kv: kv[1], reverse=True)[:10])
    # round-over-round comparability: each round adds queries, so the
    # all-queries total is not comparable across rounds. Each frozen
    # round-N population is a WHITELIST (a blacklist of additions would
    # silently absorb every later round's new queries).
    subsets: dict[str, float] = {}
    for r in range(3, 13):
        names = _ent.frozen_population(r)
        subsets[f"suite_r{r}_subset_sec"] = round(
            sum(t for n, t in suite_times.items() if n in names), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(json.dumps({
        "metric": "headline_query_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": results,
        "full_suite_sec": round(suite_total, 3),
        "full_suite_queries": len(suite_times) - len(failed),
        "full_suite_failed": failed,
        "full_suite_slowest": slowest,
        **subsets,
        "sf": sf_val,
    }))


if __name__ == "__main__":
    main()
