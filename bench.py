#!/usr/bin/env python
"""Benchmark harness and the lane-timing core the tools share.

Run as a script, it times every registered lane at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test fixture) on local[$SPARK_GRAFT_CPUS]:
best-of-$SPARK_GRAFT_BENCH_RUNS (default 3), each run built and
executed to completion with count(), so the full plan runs but no
result set serializes to the driver. It prints ONE JSON line as the
last stdout line: {"metric": ..., "value": headline_total_sec,
"unit": "sec", "queries": {name: sec}, "extended": {name: sec}, ...,
"sf": ...}, mirrors it to BENCH_OUT.json, and appends the run's entry
to the append-only history BENCH_LOCAL.jsonl.

The core: warm_up, best_of and time_lanes time lanes; append_entry and
load_history write and read the history. tools/sf1_leg.py,
tools/opt_measure.py, tools/record_bench_local.py and
tools/bench_diff.py import them from here, and bench.py needs nothing
from tools/ to run.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Headline set: one per operator family (scan+agg, join-heavy, window,
# sessionization, as-of, interval join, dedup exact + sketch, ANN
# brute/IVF/LSH, fingerprinting, text analysis, multimodal metadata).
# dedup_embedding_cosine stays excluded: it is the exact O(n²)
# verification stage meant to run downstream of LSH candidates, not a
# full-corpus headline op. dedup_simhash and ngram_jaccard_pairs were
# excluded through r5 for their dense fixture output (~8% of ALL doc
# pairs within hamming 6 → ~1M result pairs at sf0.1); from r6 they
# run under count() at fixed sf, which tracks the blocking machinery
# round-over-round without serializing the pair set (see list tail).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "agg_stats_by_status",
    "window_suite",
    "topk_per_group",
    "window_tumbling",
    "window_session",
    "asof_purchase_click",
    "range_join_followups",
    "json_extract",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_srp_lsh_pairs",
    "doc_fingerprint",
    "token_counts",
    "text_quality",
    "multimodal_meta_stats",
    "salted_join_revenue",
    "soql_parent_traversal",
    "pandas_udf_zscore",
    "udtf_bigrams",
    # round 2 additions: promo-share join, decorrelated EXISTS, SOQL
    # agg front door + nested child lists, composed embedding-dedup
    # pipeline, trained-centroid IVF, and the partitioned sink
    # round trip (write+read throughput)
    "q14_promo_revenue",
    "exists_correlated",
    "soql_orders_rollup",
    "soql_child_subquery",
    "dedup_embedding_pipeline",
    "ann_ivf_kmeans_topk",
    "sink_roundtrip_partitioned",
    "embedding_quantize_int8",
    # training-data pipeline ops
    "split_train_test",
    "sample_per_label_cap",
    "pack_token_shards",
    "decontaminate_ngram_overlap",
    "clean_text_normalize",
    "repetition_metrics",
    "corpus_prep_pipeline",
    # adapted TPC-H decision-support suite (queries/tpch_suite.py):
    # the join/subquery-heavy members, to keep regressions on the
    # classic plan shapes visible round-over-round
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q19_or_of_ands",
    "q21_waiting_suppliers",
    "q22_dormant_balance",
    # corpus-prep additions: the stride-1 window hash + pair join is
    # the heavy one worth tracking round-over-round
    "dedup_exact_substring",
    "domain_mix_rebalance",
    # round 4 additions (r2 brief follow-through): gap-fill, funnel,
    # DQ report, co-located bucketed join, connected-components dedup
    # clustering, and the child-side dotted traversal
    "events_hourly_ffill",
    "funnel_conversion",
    "dq_validation_report",
    "bucketed_join_colocated",
    "dedup_cluster_components",
    "soql_child_traversal",
    "redact_pii",
    "chunk_documents",
    "quality_percentile_filter",
    "tfidf_top_terms",
    "histogram_totalprice",
    "zorder_roundtrip",
    "rollup_incremental_maintenance",
    # round 5 additions: polymorphic SOQL dispatch, the two
    # verification companions that graduated the rows-only lanes, and
    # the last three TPC-H shapes (argmin join-back, global-scalar
    # HAVING, nested correlated-threshold semi joins)
    "soql_typeof",
    "ann_ivf_kmeans_agreement",
    "multimodal_features_checksum",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q20_promo_suppliers",
    # continuous-ingestion dedup: fingerprint-store fold across batches
    "dedup_incremental_ingest",
    # round 5, second batch: sessionization with explicit ids, cohort
    # retention, median/MAD outlier screen, BM25 retrieval, and the
    # bloom-pruned semi join (scan-level runtime filtering)
    "sessionize_events",
    "cohort_retention",
    "robust_outliers",
    "bm25_topk",
    "bloom_semi_join_revenue",
    "merge_time_travel",
    "pagerank_topk",
    # round 5, third batch: mergeable summaries (two-pass heavy
    # hitters, HLL region rollup, KLL quantile merge), one-pass column
    # profiling, interval union, and the snapshot change feed.
    # triangle_count stays OUT for a fixture artifact (the synthetic
    # part co-occurrence graph is dense — 413k triangles at sf0.01 —
    # so timing it benchmarks triangle materialization, not the
    # orientation machinery; same policy as dedup_simhash).
    "heavy_hitters_twopass",
    "hll_rollup_merge",
    "kll_quantile_merge",
    "column_profile",
    "interval_coverage",
    "merge_change_feed",
    # exact-fold EWMA and the bigram-novelty LM proxy
    "ewma_user_value",
    "bigram_novelty",
    # dynamic partition pruning through the month-partitioned fact
    "dpp_partitioned_join",
    # equi-depth histograms + order-independent table checksum
    "equidepth_histogram",
    "table_checksum",
    # market-basket pair mining + Markov transition matrix
    "market_basket_lift",
    "event_transitions",
    # GROUPED_AGG pandas UDAF (trimmed mean)
    "grouped_agg_trimmed_mean",
    # SCD2 as-was temporal join
    "scd2_point_in_time_join",
    # per-segment distribution drift (log-free chi-square)
    "distribution_drift",
    # raw-SQL front door + tz conversion
    "spark_sql_front",
    "timezone_local_hours",
    # null-skew join bypass + hashing-trick encoding
    "null_skew_outer_join",
    "feature_hashing",
    # composed per-user behavioral profile + top session paths
    "user_behavior_profile",
    "session_paths",
    # blocked Levenshtein record linkage
    "fuzzy_name_match",
    # round 6 additions: the two previously-bench-invisible dedup
    # lanes. Their complete fixture output IS quadratic-ish (dense
    # synthetic near-dup structure — documented at the lanes), but the
    # terminal action here is count() (no result serialization), so
    # what the row measures is the blocking/banding machinery plus
    # pair materialization at a FIXED sf — stable round-over-round,
    # which is exactly what the headline exists to track.
    "dedup_simhash",
    "ngram_jaccard_pairs",
    # round 6: real container decode (PPM/PGM/WAV) via mapInPandas
    "multimodal_decode_stats",
    # round 6 second batch: irregular time series (TWAP), change-point
    # detection, skyline, KMV overlap sketch, join-view IVM, TextRank
    # keyword graph, bounded BFS, and the zone-map pruned scan
    # (write+stats+skip-read throughput)
    "time_weighted_average",
    "cusum_drift_detection",
    "pareto_frontier_parts",
    "kmv_set_overlap",
    "ivm_join_deltas",
    "keyword_textrank",
    "bfs_shortest_paths",
    "zone_map_pruned_scan",
    "rolling_median_7d",
    "phrase_search_positional",
    "exact_median_histogram",
    # round 6 third batch: sketch family completion + seasonal anomaly
    # profiling. linkage_survivorship stays OUT of the headline the
    # way dedup_cluster_bigstar does: its sorted-neighborhood match
    # pairs form name-sorted CHAINS, so components takes the O(log n)
    # star-contraction path — ~12 s of fixed per-round job overhead at
    # fixture scale (measured flat 1.65x for 10x rows; the cost is
    # rounds, not data). It is hash-verified in the correctness window
    # and covered by pytest every session.
    "countmin_point_estimates",
    "seasonal_anomaly_slots",
    "asof_nearest_click",
    "funnel_time_to_convert",
    "multimodal_resize_stats",
    "agms_join_size",
    "ann_recall_metrics",
    "target_encoding_smoothed",
    "forecast_feature_matrix",
    "group_median_twophase",
    "window_sliding_distinct",
    "attribution_channels",
    # round 7 additions: the statistical/BI surface (grouped mode/OLS,
    # correlation matrix, A/B read-out, decile lift, nearest-hub
    # assignment), gaps-and-islands, read-side CDC snapshot diff, and
    # exact proportional stratified sampling
    "mode_per_group",
    "regression_by_group",
    "correlation_matrix",
    "ab_test_lift",
    "decile_lift_table",
    "geo_nearest_hub",
    "gap_islands_activity",
    "snapshot_diff_cdc",
    "stratified_sample_exact",
    # round 7 second batch: conjunctive boolean retrieval, libm-free
    # weighted priority sampling, Benford + chi-square independence DQ
    "boolean_search_and",
    "weighted_sample_priority",
    "benford_first_digit",
    "chi_square_independence",
    "group_p90_twophase",
    # JDBC source/sink leg via embedded Derby (write batch + 4-way
    # striped parallel read + pushed predicate)
    "source_jdbc_roundtrip",
    # sequence-regex behavioral matching + hierarchical shares
    "event_pattern_regex",
    "ratio_to_parent_share",
]


#: the checkout this file lives in; BENCH_OUT.json and the history go here
REPO = os.path.dirname(os.path.abspath(__file__))

#: append-only bench history: one JSON entry per line, oldest first
HISTORY = "BENCH_LOCAL.jsonl"


def append_entry(repo: str, entry: dict) -> None:
    """Append *entry* as one line of the history under *repo*: a single
    write, then flush and fsync, so earlier lines are never rewritten.
    A torn last line (an interrupted writer) is terminated first, so it
    stays one line that :func:`load_history` skips."""
    with open(os.path.join(repo, HISTORY), "ab+") as f:
        end = f.seek(0, os.SEEK_END)
        f.seek(max(0, end - 1))
        torn = end > 0 and f.read(1) != b"\n"
        f.write((b"\n" if torn else b"") + json.dumps(entry).encode() + b"\n")
        f.flush()
        os.fsync(f.fileno())


def load_history(repo: str = REPO) -> list[dict]:
    """The history's entries in recording order. A line that does not
    parse is skipped with a warning on stderr."""
    path = os.path.join(repo, HISTORY)
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for n, line in enumerate(f, 1):
            try:
                out.append(json.loads(line))
            except ValueError:
                print(f"WARNING: {HISTORY} line {n} does not parse; skipped", file=sys.stderr)
    return out


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM and parquet footers with q5 at *sf_dir*, then the
    session's streaming engine (~3 s) and Python DataSource bridge
    (~4 s) with stream_sink_sfetl_native at the smallest fixture, so
    timings measure steady state. Without the second step the spin-up
    lands on whichever stream/sfetl lane is timed first (measured +9 s
    on that lane). The smallest fixture is sf_dir's sibling sf0.001
    when it exists, else sf_dir; a failed machinery warm-up is reported,
    not raised, so the skew is visible."""
    from sf_etl_spark.queries import all_queries

    specs = all_queries()
    specs["q5_revenue_by_nation"].fn(spark, sf_dir).count()
    smallest = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warm_dir = smallest if os.path.isdir(smallest) else sf_dir
    try:
        specs["stream_sink_sfetl_native"].fn(spark, warm_dir).count()
    except Exception as e:  # warm-up must never fail the bench
        print(
            f"WARNING: machinery warm-up failed ({type(e).__name__}: {e}); "
            "first stream/sfetl lane will absorb session spin-up",
            file=sys.stderr,
        )


def best_of(spark, fn, sf_dir: str, runs: int, label: str, action: str = "count") -> float:
    """Best wall time of *runs* repeats of a lane *fn*, each timed from
    DataFrame construction through *action*: ``count`` (the driver's
    terminal action) or ``noop`` (Spark's noop sink, which computes
    every column of every row). Jobs carry *label* as their
    description.

    Best-of-N because the host shows multi-second CPU-contention bursts
    (identical single-task stages vary 10-40x between runs); the
    minimum measures the engine, not the neighbour."""
    sc = spark.sparkContext
    best = float("inf")
    for _ in range(runs):
        sc.setJobDescription(label)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        best = min(best, time.perf_counter() - t0)
        sc.setJobDescription(None)
    return best


def time_lanes(
    spark, names, sf_dir: str, runs: int, action: str = "count"
) -> tuple[dict[str, float], dict[str, float]]:
    """Time each registered lane in *names* with :func:`best_of`,
    printing each result to stderr. Returns ``(timings, loads)``: each
    lane's best seconds rounded to the millisecond, and the host's
    load_1m sampled as the lane finishes, so bench_diff can flag movers
    recorded under contention."""
    from sf_etl_spark.queries import all_queries

    specs = all_queries()
    timings: dict[str, float] = {}
    loads: dict[str, float] = {}
    for name in names:
        timings[name] = round(best_of(spark, specs[name].fn, sf_dir, runs, name, action), 3)
        loads[name] = round(os.getloadavg()[0], 2)
        print(f"{name}: {timings[name]} s", file=sys.stderr)
    return timings, loads


def emit(result: dict, repo: str) -> None:
    """Write the run's one-line JSON to BENCH_OUT.json under *repo*,
    append the run's entry to the history there, then print the line as
    the last stdout line whatever that housekeeping raised.

    The driver keeps only a ~2,000-char tail of stdout, which truncated
    the head of this line for 12 rounds. So the line is mirrored
    verbatim to BENCH_OUT.json (atomic write), and it is printed last,
    after all housekeeping, so the kept tail ends at its terminator.
    The history keeps the complete per-lane map of every run, so any
    lane's drift can be diffed across rounds (tools/bench_diff.py)."""
    one_line = json.dumps(result)
    try:
        out_path = os.path.join(repo, "BENCH_OUT.json")
        tmp_out = out_path + ".tmp"
        with open(tmp_out, "w") as f:
            f.write(one_line + "\n")
        os.replace(tmp_out, out_path)
    except OSError:
        pass  # read-only checkout: the stdout line below still lands

    try:
        runs = result["extended_runs"]
        load_1m = os.getloadavg()[0]
        sys.path.insert(0, os.path.join(repo, "tools"))
        try:
            from bench_history import contended, entry_dict
        except ImportError:
            # bench.py shipped without tools/: record the raw result
            entry = {
                "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                "runs": runs,
                "load_1m": load_1m,
                "contended": False,
                **result,
            }
        else:
            entry = entry_dict(
                recorded_at=time.strftime("%Y-%m-%dT%H:%M:%S"),
                runs=runs,
                load_1m=load_1m,
                # the end-of-run load includes the bench's own load
                # (~4-6 at local[32]), hence the raised allowance
                contended=contended(load_1m, result["loads"], load_allowance=8.0),
                note="",  # an unnoted per-invocation entry
                metric=result["metric"],
                value=result["value"],
                queries=result["queries"],
                extended=result["extended"],
                extended_runs=runs,
                loads=result["loads"],
                excluded={},
                sf=result["sf"],
            )
        append_entry(repo, entry)
    except Exception as e:
        # a read-only checkout or an unwritable history: the run's
        # result stands either way
        print(f"WARNING: bench history not recorded ({type(e).__name__}: {e})", file=sys.stderr)
    finally:
        print(one_line)
        sys.stdout.flush()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from sf_etl_spark.queries import all_queries
    from sf_etl_spark.session import get_spark

    spark = get_spark("sf_etl_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    # Default N=3: the r4 "1.44x drift vs r2" on UNCHANGED code fell to
    # 1.14x (zero queries >=1.5x) the moment best-of-2 became best-of-3
    # — adjudicated as contention noise, recorded in PLANS.md round 5.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings, loads = time_lanes(spark, HEADLINE, sf_dir, runs)

    # Every registered lane NOT in the headline runs best-of-N too
    # ("extended"): the lanes under active development land here first.
    # Construct-executing lanes (merges, streaming replays, ML fits)
    # re-run their fixed machinery each repeat, so their min still
    # contains it — that is the lane's real cost. Membership is
    # automatic; the headline keeps its frozen 147-lane membership so
    # `value` stays round-comparable across the whole history.
    headline_set = set(HEADLINE)
    extended, extended_loads = time_lanes(
        spark, [n for n in all_queries() if n not in headline_set], sf_dir, runs
    )
    loads.update(extended_loads)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,  # headline best-of-N total: round-comparable
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "extended_total_sec": round(sum(extended.values()), 3),
        "extended_runs": runs,  # best-of-N as of r14 (was 1-shot "oneshot")
        "loads": loads,  # per-lane load_1m sampled at lane completion
        "excluded": {},  # every registered lane is timed above
        "sf": sf,
    }
    emit(result, REPO)

    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
