#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a cheap terminal action
(count) so the full plan runs but no result set serializes to the
driver — what matters is engine throughput, not toPandas cost.
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


def emit(result: dict, repo: str) -> None:
    """Mirror the run's one-line JSON to BENCH_OUT.json and append its
    entry to the BENCH_LOCAL history under *repo*, then print the line
    as the last stdout line whatever the housekeeping raised."""
    one_line = json.dumps(result)
    runs = result["extended_runs"]

    # Harden the one-line-JSON channel (r15 verdict task 1): the
    # driver keeps only a ~2,000-char TAIL of stdout, which truncated
    # the head of this (much longer) line for 12 straight rounds and
    # made round-over-round PERF comparison impossible. Two defenses:
    # (a) the line is mirrored VERBATIM to BENCH_OUT.json (atomic
    # write), a fixed sidecar either channel can read; (b) the print
    # moves to the very END of the run — after all history
    # housekeeping — so it is the guaranteed-last stdout line and the
    # kept tail ends exactly at its terminator. Content and
    # methodology are byte-identical to r15; only the emit order and
    # the sidecar are new.
    try:
        out_path = os.path.join(repo, "BENCH_OUT.json")
        tmp_out = out_path + ".tmp"
        with open(tmp_out, "w") as f:
            f.write(one_line + "\n")
        os.replace(tmp_out, out_path)
    except OSError:
        pass  # read-only checkout: the stdout line below still lands

    # Durable full-per-query artifact (r6 verdict task 4): the driver
    # stores only a 2,000-char tail of this stdout, which truncates
    # the per-query map to ~40 rows — so round-over-round regression
    # checks were limited to that overlap. BENCH_LOCAL.json keeps the
    # COMPLETE map for every run, appended per invocation, so any
    # per-lane drift is mechanically diffable across rounds.
    try:
        path = os.path.join(repo, "BENCH_LOCAL.json")
        history = []
        if os.path.exists(path):
            try:
                with open(path) as f:
                    history = json.load(f)
            except ValueError:
                history = []  # corrupt/partial file: restart history, don't wedge
        sys.path.insert(0, os.path.join(repo, "tools"))
        try:
            from bench_history import contended, entry_dict

            # end-of-run load_1m INCLUDES the bench's own local[32]
            # load (~4-6), hence the raised allowance; the per-lane
            # loads carry the relative signal either way
            is_contended = contended(
                os.getloadavg()[0], result["loads"], load_allowance=8.0
            )
            # the canonical entry shape shared with the merge recorder
            # (r14 verdict task 6) — note="" marks an unnoted
            # per-invocation append
            entry = entry_dict(
                recorded_at=time.strftime("%Y-%m-%dT%H:%M:%S"),
                runs=runs,
                load_1m=os.getloadavg()[0],
                contended=is_contended,
                note="",
                metric=result["metric"],
                value=result["value"],
                queries=result["queries"],
                extended=result["extended"],
                extended_runs=runs,
                loads=result["loads"],
                excluded={},
                sf=result["sf"],
            )
        except Exception:
            # history append must never fail on tooling import — fall
            # back to the raw result with minimal context
            entry = {
                "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                "runs": runs,
                "load_1m": os.getloadavg()[0],
                "contended": False,
                **result,
            }
        history.append(entry)
        # write-to-tmp + atomic rename: an interrupted run must never
        # leave a truncated file that poisons every later invocation
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(history, f, indent=1)
        os.replace(tmp, path)
        # Rolling inline window (r11 task 7, policy tightened r12
        # task 7): unnoted per-invocation entries older than the two
        # newest NOTED recordings spill to BENCH_LOCAL_ARCHIVE.json —
        # the full per-lane maps were dominating repo diffs.
        # tools/bench_history.load_history() reads archive+inline as
        # one list, so bench_diff indices and noted-entry lookups are
        # unchanged. Best-effort housekeeping in its own guard (r13
        # ADVICE): an ImportError (bench.py shipped without tools/)
        # must not crash the run after all measurement work is done.
        try:
            from bench_history import spill

            spill(repo)
        except Exception:
            pass
    except Exception as e:
        # a read-only checkout, or a history file that is not a JSON
        # list: the run's result stands either way
        print(f"WARNING: bench history not recorded ({type(e).__name__}: {e})", file=sys.stderr)
    finally:
        # guaranteed-last stdout line (see the BENCH_OUT.json note above)
        print(one_line)
        sys.stdout.flush()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from sf_etl_spark.queries import all_queries
    from sf_etl_spark.session import get_spark

    spark = get_spark("sf_etl_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # Warm the JVM + parquet footers once so timings measure steady
    # state (the driver compares engine throughput, not JIT warmup).
    specs["q5_revenue_by_nation"].fn(spark, sf_dir).count()
    # Machinery warm-up at the SMALLEST available fixture: the first
    # session use of the streaming engine (~3 s) and of the Python
    # DataSource bridge (~4 s) is session-scoped spin-up, not operator
    # work — without this it lands on whichever stream/sfetl lane
    # happens to run first in the one-shot group (measured +9 s on
    # that lane). The fixture is derived from sf_dir's parent (r11
    # ADVICE: a hardcoded path silently no-ops on other hosts), and a
    # skipped/failed warm-up is REPORTED so the skew is visible.
    warm_dir = next(
        (
            d
            for d in (
                os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
                sf_dir,
            )
            if os.path.isdir(d)
        ),
        sf_dir,
    )
    try:
        specs["stream_sink_sfetl_native"].fn(spark, warm_dir).count()
    except Exception as e:  # warm-up must never fail the bench
        print(
            f"WARNING: machinery warm-up failed ({type(e).__name__}: {e}); "
            "first stream/sfetl lane will absorb session spin-up",
            file=sys.stderr,
        )

    # Best-of-N per query: the host VM exhibits multi-second CPU-
    # contention bursts (identical single-task stages vary 10-40x
    # between runs); min-of-N measures the engine, not the neighbor.
    # Default N=3: the r4 "1.44x drift vs r2" on UNCHANGED code fell to
    # 1.14x (zero queries >=1.5x) the moment best-of-2 became best-of-3
    # — adjudicated as contention noise, recorded in PLANS.md round 5.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    # Per-LANE host-load context (r10 verdict task 6): one load_1m
    # sample as each lane finishes, so bench_diff can flag movers
    # recorded under contention instead of trusting a single
    # per-entry load taken at launch (the r10 one-shot trend was
    # briefly polluted by a load-5 driver run).
    loads: dict[str, float] = {}
    for name in HEADLINE:
        fn = specs[name].fn
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        loads[name] = round(os.getloadavg()[0], 2)

    # Every registered lane NOT in the headline runs best-of-N too
    # ("extended", r13 verdict task 3 — known pre-r14 as the
    # single-run "oneshot" group): the lanes under ACTIVE development
    # are exactly the ones that land here first, and their
    # round-over-round story was resting on 1-shot numbers on a host
    # whose same-code totals swing 1.5x in a day. Construct-executing
    # lanes (merges, streaming replays, ML fits) re-run their fixed
    # machinery each repeat, so their min still contains it — that is
    # the lane's real cost — but the min strips the host-contention
    # bursts, which was the point. Membership is automatic: any future
    # lane lands in `extended` unless promoted into HEADLINE; the
    # headline map keeps its frozen 147-lane membership so `value`
    # stays round-comparable across the whole history.
    extended: dict[str, float] = {}
    headline_set = set(HEADLINE)
    for name, spec in specs.items():
        if name in headline_set:
            continue
        fn = spec.fn
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        extended[name] = round(best, 3)
        loads[name] = round(os.getloadavg()[0], 2)

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
    emit(result, os.path.dirname(os.path.abspath(__file__)))

    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
