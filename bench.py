"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query runs N_RUNS=3 times; the recorded figure is the MEDIAN (the
first run carries per-query codegen compilation, and sub-second noise on a
shared machine otherwise masquerades as regression round-over-round).  The
per-query spread (max - min across runs) lands in BENCH_FULL.json next to
the medians, and the summary line carries spread_p90 — the 90th-percentile
relative spread — so a noisy round is visible at a glance.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geocube_spark import registry  # noqa: E402
from geocube_spark.session import get_spark  # noqa: E402

# The suite is EVERY registered query (registry insertion order), so any
# query added to the registry is automatically benchmarked and a round-
# over-round regression anywhere in the surface is visible in BENCH_r{N}.
BENCH_QUERIES: list[str] | None = None  # None -> all of registry.queries()
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def machine_load() -> dict:
    """Snapshot of machine business at bench start: 1-min load average and
    its ratio to the CPU count.  A loaded machine inflates wall times ~25%
    (round 5's driver run read 133.8s vs 108.4s quiet for identical code)
    and would otherwise trigger false regression hunts — the recorded
    ratio lets a reader discount a noisy round instead.  PARITY.md states
    the acceptance criterion: compare rounds at load_ratio <= 0.5; above
    that, trust per-query medians and spreads over the total."""
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = -1.0
    ncpu = os.cpu_count() or 1
    return {
        "load1": round(load1, 2),
        "cpus": ncpu,
        "load_ratio": round(load1 / ncpu, 3) if load1 >= 0 else -1.0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load = machine_load()
    if load["load_ratio"] > 0.5:
        print(
            f"# WARNING: machine is busy (load1={load['load1']} on "
            f"{load['cpus']} cpus, ratio={load['load_ratio']}): totals will "
            "read ~25% slow; do not diff this run against a quiet baseline",
            file=sys.stderr,
        )
    spark = get_spark("geocube-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_fixtures()

    # JVM warm-up (codegen compiler, parquet reader init, broadcast machinery)
    # so the first timed query doesn't carry one-time startup cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()

    qs = registry.queries()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    stdevs: dict[str, float] = {}
    for name in BENCH_QUERIES or list(qs):
        fn = qs[name]
        runs: list[float] = []
        n = 0
        for _ in range(N_RUNS):
            t0 = time.time()
            df = fn(spark, sf_dir)
            # collect (not count): count() would let Catalyst prune the
            # computed columns and skip the actual operator work
            n = len(df.collect())
            runs.append(time.time() - t0)
        runs.sort()
        timings[name] = round(statistics.median(runs), 3)
        spreads[name] = round(runs[-1] - runs[0], 3)
        stdevs[name] = round(statistics.stdev(runs), 3) if len(runs) > 1 else 0.0
        print(
            f"# {name}: {timings[name]:.2f}s ±{spreads[name]:.2f} ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    rel = sorted(
        spreads[k] / timings[k] if timings[k] > 0 else 0.0 for k in timings
    )
    spread_p90 = round(rel[int(0.9 * (len(rel) - 1))], 3) if rel else 0.0
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query map for offline inspection (the driver only records the
    # tail of stdout, so the one-line summary below must stay small).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump({"metric": "geocube_spark_headline_suite", "value": total,
                   "unit": "sec", "queries": timings, "spreads": spreads,
                   "stdevs": stdevs,
                   "n_runs": N_RUNS, "spread_p90": spread_p90,
                   "sf": sf_val, "load": load,
                   "load_at_end": machine_load()}, f)
    print(summary_line(total, timings, sf_val, spread_p90, load))


# The driver keeps only the LAST 2000 characters of bench output and parses
# the JSON line out of that tail.  With 80+ queries the naive dump exceeds
# the buffer and the whole round's bench is recorded as unparseable (this
# happened in round 3).  Emit a compact line and, if it would still overflow,
# drop queries from the per-query detail; `value` always covers every query.
#
# WHICH queries survive the trim was slowest-first through round 11, which
# made the reported subset rotate with timing noise: round 11's PERF diff
# fabricated 10 "dropped_from_bench" + 10 "new_in_bench" entries for queries
# that all ran fine (VERDICT r11 item 3).  The kept set is now PINNED by
# name to the round-11 reported set (so the round-over-round common set is
# stable), with any remaining budget filled slowest-first — additions-only:
# nothing that round 11 reported can silently vanish from the line while it
# exists in the registry.  Trimmed values carry 2 significant digits (enough
# for a speedup ratio; buys ~3 extra entries of budget).
TAIL_BUDGET = 1900

PINNED_SUMMARY_QUERIES = frozenset({
    "bap_cloudfree_composite", "bigram_logprob", "bloom_decontamination",
    "bpe_merges", "bpe_tokenized_counts", "change_detection",
    "contour_extraction", "countmin_accuracy", "decontamination_overlap",
    "dedup_canonical", "dedup_components", "dedup_components_skew",
    "dsir_importance", "duplicated_passages", "embedding_ivf_append",
    "embedding_ivf_indexed", "embedding_ivf_topk", "embedding_ivfpq_topk",
    "embedding_lsh_topk", "embedding_matryoshka_recall",
    "embedding_near_dup_exact", "embedding_near_dup_lsh", "embedding_pq_topk",
    "embedding_sq8_topk", "find_datasets_core", "flow_accumulation",
    "focal_gaussian_blocks", "focal_morphology_open", "focal_terrain_indices",
    "graph_label_propagation", "graph_pagerank", "histogram_matching",
    "hybrid_search_rrf", "idw_interpolation", "incremental_dedup",
    "kcenter_diversity_sample", "kneser_ney_logprob", "leakage_safe_split",
    "materialized_view_lifecycle", "minhash_lsh_candidates",
    "minhash_lsh_skew", "minhash_near_duplicates", "mixture_resample",
    "mosaic_rank_latest", "nb_lang_confusion", "ngram_jaccard_pairs",
    "pyramid_incremental_refresh", "quality_classifier_train",
    "raster_point_sample", "raster_proximity", "raster_proximity_dense",
    "raster_region_labeling", "rasterize_polygons", "region_polygonize",
    "simhash_near_duplicates", "task_retry_e2e", "temporal_trend_mk",
    "tpch_q21", "tpch_q8", "warp_cross_crs_bng", "winnow_plagiarism_pairs",
    "zarr_block_read",
})


def summary_line(
    total: float, timings: dict[str, float], sf_val, spread_p90: float = 0.0,
    load: dict | None = None,
) -> str:
    def dump(qmap: dict[str, float], omitted: int) -> str:
        payload = {
            "metric": "geocube_spark_headline_suite",
            "value": total,
            "unit": "sec",
            "queries": qmap,
            "sf": sf_val,
            "n_runs": N_RUNS,
            "spread_p90": spread_p90,
        }
        if load is not None:
            payload["load_ratio"] = load.get("load_ratio")
        if omitted:
            payload["queries_omitted"] = omitted
        return json.dumps(payload, separators=(",", ":"))

    by_cost = sorted(timings, key=lambda k: -timings[k])
    line = dump(timings, 0)
    if len(line) <= TAIL_BUDGET:
        return line
    # Trim: values at 2 significant digits; survivors ordered pinned-first
    # (then slowest-first within each class), so the pinned set only loses
    # members after every unpinned query is gone.
    sig2 = {k: float(f"{timings[k]:.2g}") for k in timings}
    priority = [k for k in by_cost if k in PINNED_SUMMARY_QUERIES] + [
        k for k in by_cost if k not in PINNED_SUMMARY_QUERIES
    ]
    for keep in range(len(priority), -1, -1):
        kept_names = sorted(priority[:keep], key=lambda k: -timings[k])
        line = dump({k: sig2[k] for k in kept_names}, len(timings) - keep)
        if len(line) <= TAIL_BUDGET:
            break
    return line


if __name__ == "__main__":
    main()
