"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the noop sink (full plan execution,
no driver collect). Times exclude SparkSession startup.

The full dump is archived as bench_history/BENCH_<sha>.json; a run whose
core count differs from ``OFFICIAL_CPUS`` gets a ``_c<cpus>`` suffix so it
never overwrites the official archive.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from henbun_spark import sources
from henbun_spark.operators import relational

OFFICIAL_CPUS = "32"  # core count of the official archive run

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q4_late_shipment_priority",
    "q6_forecast_revenue",
    "q12_priority_by_status",
    "q14_promo_revenue",
    "q22_inactive_customers",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "window_functions_suite",
    "approx_distinct_events",
    "rollup_revenue",
    "top_events_per_user",
    "asof_last_purchase",
    "sessionize_events",
    "session_window_agg",
    "running_total_user",
    "hourly_event_counts",
    "range_join_quantity",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_jaccard",
    "dedup_simhash",
    "simhash_near_pairs",
    "simhash_neighbor_stats",
    "text_stats",
    "text_quality",
    "text_langid",
    "text_tfidf",
    "text_repetition",
    "pipeline_clean_corpus",
    "mix_corpus_sources",
    "pack_sequences_docs",
    "contamination_check",
    "token_histogram",
    "sim_cosine_topk",
    "emb_near_dup_lsh",
    "asof_next_purchase",
    "density_gaussian",
    "density_poisson",
    "transform_softplus",
    "vi_linear_regression",
    "multimodal_features",
    "kmeans_embeddings",
    "dedup_components",
    "chunk_dedup_docs",
    "incremental_dedup_new",
    "pii_redact",
    "lm_score_docs",
    "gapfill_hourly_locf",
    "zorder_events",
    "pca_embeddings",
    "bpe_train_encode",
    "skew_report_events",
    "streaming_dedup_keys",
    "budget_select_docs",
    "gopher_quality_docs",
    "emb_quantize",
    "snapshot_diff_docs",
    "profile_documents",
    "funnel_signup_purchase",
    "hopping_window_counts",
    "session_concurrency_hourly",
    "ewma_user_value",
    "equidepth_histogram",
    "feature_hashing_events",
    "weighted_sample_docs",
    "lm_bigram_docs",
    "pagerank_dup_graph",
    "json_extract_props",
    "pivot_event_types",
    "rolling_1h_user_value",
    "cohort_retention",
    "cms_frequency_users",
    "hll_distinct_users",
    "array_functions_emb",
    "anomaly_zscore_events",
    "asof_tolerance_purchase",
    "triangle_count_dupgraph",
    "row_ids_documents",
    "merge_upsert_docs",
    "scd2_user_intervals",
    "streaming_hopping_counts",
    "fuzzy_match_titles",
    "validate_constraints_events",
    "semantic_dedup_emb",
    "unpivot_pricing_metrics",
    "corr_lineitem_metrics",
    "linreg_value_by_hour",
    "streaming_asof_purchase",
    "minhash_recall_docs",
    "hll_users_by_type",
    "bloom_semi_lineitem",
    "chunk_docs_overlap",
    "quantile_sketch_value",
    "heavy_hitters_users",
    "heavy_hitters_by_type",
    "sliding_distinct_users",
    "gapfill_hourly_interp",
    "dedup_normalized",
    "mix_temperature_sources",
    "rolling_median_user",
    "mv_incremental_daily",
    "ann_topk_pq",
    "boilerplate_chunks_docs",
    "asof_nearest_purchase",
    "assemble_training_corpus",
    "tdigest_quantiles_value",
    "tdigest_by_type",
    "date_trunc_family",
    "null_semantics_suite",
    "video_dedup_frames",
    "salted_join_segments",
    "partition_pruned_scan",
    "audio_dedup_fp",
    "sql_udf_surface",
    "anomaly_mad_events",
    "observed_filter_metrics",
    "training_shards_docs",
    "join_types_suite",
    "rank_gauss_value",
    "winsorize_value_by_type",
    "cap_docs_per_source",
    "upsample_epochs_sources",
    "pack_materialize_docs",
    "weighted_percentile_price",
    "percentile_quantity",
    "hard_negatives_emb",
    "dedup_canonical_best",
    "dsir_select_docs",
    "dedup_containment",
    "curriculum_order_docs",
    "quality_topq_per_source",
    "cross_source_dups",
    "vocab_coverage_curve",
    "dedup_yield_curve",
    "source_kl_matrix",
    "robust_scale_value",
    "length_quantiles_by_source",
    "corpus_layout_order",
    "corpus_layout_desc",
    "row_ids_wide_bins",
    "row_ids_string_bins",
    "diverse_select_emb",
    "split_leakage_report",
    "dedup_substring_spans",
    "dedup_substring_removal",
    "dedup_substring_winnowed",
    "emb_label_outliers",
    "emb_density_outliers",
    "bucketed_join_revenue",
    "bucketed_lookup_revenue",
    "emb_truncated_recall",
    "related_docs_tfidf",
    "lttb_downsample_events",
    "lttb_m4_hourly",
    "twa_value_user",
    "join_size_estimate_cms",
    "counter_delta_user",
    "ohlc_hourly_value",
    "hll_overlap_segments",
    "profile_drift_docs",
    "event_cooccurrence_pmi",
    "event_transition_matrix",
    "emb_centroid_drift",
    "session_top_paths",
    # NOT timed: streaming_bottomk_sample (r12) — same 4-commit
    # foreachBatch machinery; the fold is one TakeOrdered(k) per batch
    # over k+|batch| rows, strictly dominated by the ingest write the
    # other streaming paths already price.
    # NOT timed: streaming_bloom_filter (r12) — same 4-commit
    # foreachBatch machinery; per batch one bloom_build + a <=2048-row
    # bit_or merge, dominated by the ingest write. Its batch twin
    # bloom_semi_lineitem IS timed above.
    # NOT timed: streaming_simhash_degree (r11) — same 4-commit
    # foreachBatch machinery as the other index-maintenance paths; its
    # batch twin simhash_neighbor_stats IS timed above and carries the
    # scale story (banded candidate join + degree aggregation).
    # NOT timed: streaming_ohlc_value (r9) — same 4-commit foreachBatch
    # machinery; its batch twin ohlc_hourly_value IS timed above and
    # carries the scale story (one map-side-combinable aggregation).
    # NOT timed: streaming_lttb_value (r10) — same 4-commit foreachBatch
    # machinery; its batch twin lttb_m4_hourly IS timed above and
    # carries the scale story (one mergeable partial agg + MV-sized
    # finalize windows).
    # NOT timed: streaming_kmeans_update (r9) — 4-commit foreachBatch
    # machinery like the other streaming maintenance paths; its
    # assignment/sufficient-stats math is timed via emb_label_outliers
    # (same quantize + integer-distance shapes) and kmeans_embeddings.
    # NOT timed: streaming_pca_gram — like streaming_hll_users, its 4
    # foreachBatch commits are fixed micro-batch machinery at any SF;
    # it stays on the CORRECTNESS board.
    # NOT timed: streaming_substr_index (r9) — same 4-commit
    # foreachBatch machinery; its batch twin dedup_substring_spans IS
    # timed above and carries the scale story.
    # NOT timed: streaming_heavy_hitters / streaming_mv_daily — like
    # streaming_hll_users, fixed micro-batch commit machinery dominates
    # at any SF; they stay on the CORRECTNESS board.
    # NOT timed: streaming_hll_users — 4 foreachBatch commits dominate
    # (~30s of fixed micro-batch machinery at any SF); it stays on the
    # CORRECTNESS board where the per-batch cost is irrelevant.
]


def force(df):
    df.write.format("noop").mode("overwrite").save()


# --- throttle sentinel -----------------------------------------------------
# This host has two regimes (docs/BENCH_NOTES.md): quiet, and "loud"
# bursts where even a fixed 2M-row scalar job takes multi-second wall
# time. Best-of-2 per query does not help when BOTH attempts land
# inside one burst (BENCH_r09: untouched 3-row queries published at
# 10-14s). The sentinel times a fixed trivial probe after each query;
# when the probe exceeds THROTTLE_FACTOR x its calibrated floor, the
# preceding measurement is suspect -> wait for the probe to recover
# (bounded) and re-run that query once more, keeping the min.

PROBE_CAL_RUNS = 5
THROTTLE_FACTOR = 5.0
PROBE_ABS_FLOOR = 0.08  # never flag below this, however fast the floor
MAX_RERUNS = 25  # suite-wide budget for sentinel-triggered re-runs
RECOVERY_TRIES = 6  # probe re-checks (2s apart) before re-running anyway
# Regime gauge (round 11): the burst sentinel above catches 5x SPIKES,
# but round 10 hit a second regime — UNIFORM 1.2-1.6x drag across every
# query, each probe individually under threshold. The gauge classifies
# the RUN: median of all per-query probe samples vs the run's own floor
# (rolling min = its quietest moment). Median > REGIME_FACTOR x floor
# means most of the run sat above its own best ⇒ archive marked "loud"
# and its numbers should only enter cross-run-minima comparisons.
#
# r12 CALIBRATION (replaces the provisional guess with data — the four
# gauged sf0.1 archives vs the 31-archive pooled per-query minima):
#
#   archive         gauge   drag-vs-pooled-minima
#   BENCH_15b34fd   1.232   1.114   (the first quiet archive)
#   BENCH_169b24e   1.393   1.399
#   BENCH_2a964d3   1.490   1.391
#   BENCH_07f0c17   1.505   1.575
#
# Least squares: drag = 1.40*gauge - 0.60 (max residual 0.12). The
# pooled-minima drag OVERSTATES absolute drag — min-of-31-noisy-runs
# sits below any single quiet run's typical — so the fit is only used
# RELATIVELY: est_drag(g_a)/est_drag(g_b) estimates the uniform host
# factor between two runs (the definition bias cancels in the ratio).
# Values are normalized so the quietest observed gauge (1.232) reads
# 1.0. At gauge 1.30 the model reads ~+8% relative drag, so the 1.3
# threshold survives calibration as "flag runs carrying >~8% estimated
# uniform drag"; re-fit when a quieter archive than 1.232 appears.
REGIME_FACTOR = 1.3
GAUGE_FIT_SLOPE = 1.40
GAUGE_FIT_INTERCEPT = -0.60
IDLE_GAUGE = 1.232


def est_drag(gauge: float | None) -> float | None:
    """Estimated RELATIVE host drag of a run vs a gauge-1.232 quiet run
    (>= 1.0; None when the run predates the gauge). Use as a ratio
    between two runs — see the calibration note above."""
    if gauge is None:
        return None
    raw = GAUGE_FIT_SLOPE * gauge + GAUGE_FIT_INTERCEPT
    idle = GAUGE_FIT_SLOPE * IDLE_GAUGE + GAUGE_FIT_INTERCEPT
    return max(1.0, raw / idle)


def probe_once(spark):
    # small fixed scalar job: one scheduler round-trip + one codegen
    # stage. Size chosen so the quiet-regime cost is ~50-100ms (probe
    # overhead across the suite stays a few seconds) while a throttling
    # burst still inflates it well past THROTTLE_FACTOR x floor.
    t0 = time.time()
    spark.range(0, 1 << 18, 1, 4).selectExpr("sum(id) AS s").collect()
    return time.time() - t0


def probe_threshold(floor: float) -> float:
    return max(THROTTLE_FACTOR * floor, PROBE_ABS_FLOOR)


def format_output(times: dict, sf: float, max_line: int = 1900):
    """(full dict, compact stdout line). The driver captures only the
    LAST ~2000 chars of stdout and parses them as JSON; round 4's full
    129-query line outgrew that (`BENCH_r04.json parsed: null`), so the
    stdout line carries total + the slowest 20 queries only (sub-second
    entries are host noise anyway) and is guaranteed under `max_line`."""
    total = round(sum(t for t in times.values() if t >= 0), 3)
    full = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    slowest = dict(sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:20])
    failed = sorted(n for n, t in times.items() if t < 0)
    compact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "n_failed": len(failed),
        "queries": slowest,
    }
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > max_line and compact["queries"]:
        compact["queries"] = dict(list(compact["queries"].items())[:-2])
        line = json.dumps(compact, separators=(",", ":"))
    return full, line


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re as _re

    m = _re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.1
    spark = sources.get_spark("henbun-bench")
    # warm up the JVM + parquet footers once (subset probe dirs — e.g.
    # gen_sf.py --tables=documents,embeddings — may lack lineitem)
    for warm_table in ("lineitem", "documents"):
        try:
            sources.load_table(spark, sf_dir, warm_table).count()
            break
        except Exception:  # pragma: no cover
            continue

    qs = entry_mod.queries()
    # untimed warmup: one whole-stage-codegen query and one Arrow-UDF
    # query, so the first timed entry doesn't absorb JIT/codegen/Python
    # worker startup and round-over-round per-query deltas are meaningful
    for warm in ("q1_pricing_summary", "density_poisson"):
        try:
            force(qs[warm](spark, sf_dir))
        except Exception:  # pragma: no cover
            pass
    # calibrate the throttle-sentinel probe floor on the warmed JVM.
    # The floor keeps tightening as a ROLLING MIN over every probe the
    # run executes: a calibration that lands inside a loud burst would
    # otherwise inflate the threshold for the whole run.
    floor = min(probe_once(spark) for _ in range(PROBE_CAL_RUNS))
    throttle_events = []
    probe_samples = []  # every per-query probe, for the regime gauge
    reruns_left = MAX_RERUNS

    def timed_run(fn):
        t0 = time.time()
        force(fn(spark, sf_dir))
        return time.time() - t0

    # best-of-2 per query: this VM sees multi-second external throttling
    # bursts (a 3-row scalar query has measured 2s..20s across runs);
    # the min of two spaced attempts is the standard hedge and tracks
    # the plan's real cost instead of host noise.
    attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "2"))
    verbose = os.environ.get("SPARK_GRAFT_BENCH_VERBOSE") == "1"
    # probe-run helpers: SPARK_GRAFT_BENCH_START resumes the list from a
    # named query; SPARK_GRAFT_BENCH_ONLY runs a comma-separated subset.
    headline = list(HEADLINE)
    start_at = os.environ.get("SPARK_GRAFT_BENCH_START")
    if start_at:
        if start_at not in headline:
            print(
                f"bench: SPARK_GRAFT_BENCH_START={start_at!r} is not a "
                f"HEADLINE query. Valid entries:\n  " + "\n  ".join(headline),
                file=sys.stderr,
            )
            sys.exit(2)
        headline = headline[headline.index(start_at):]
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        pick = [n.strip() for n in only.split(",") if n.strip()]
        headline = [n for n in headline if n in pick]
    times = {}
    for name in headline:
        if verbose:
            print(f"# bench start {name}", file=sys.stderr, flush=True)
        fn = qs[name]
        best = None
        failed = False
        for _attempt in range(attempts):
            try:
                dt = timed_run(fn)
                best = dt if best is None else min(best, dt)
            except Exception as exc:  # pragma: no cover
                print(f"# bench {name} failed: {exc}", file=sys.stderr)
                failed = True
                break
        # gauge sample after EVERY query — the regime gauge's median must
        # see the whole suite, including (especially) the stretch after
        # the rerun budget runs out in a throttle-heavy run.
        if not failed and best is not None:
            p = probe_once(spark)
            probe_samples.append(p)
            floor = min(floor, p)  # rolling min — see calibration note
        # sentinel: if the trivial probe is slow RIGHT AFTER this query,
        # both attempts likely sat in a throttling burst -> wait for the
        # probe to recover, then give the query one clean re-run.
        if not failed and best is not None and reruns_left > 0:
            if p > probe_threshold(floor):
                for _ in range(RECOVERY_TRIES):
                    time.sleep(2.0)
                    p = probe_once(spark)
                    floor = min(floor, p)
                    if p <= probe_threshold(floor):
                        break
                reruns_left -= 1
                try:
                    dt = timed_run(fn)
                except Exception:  # pragma: no cover
                    dt = None
                ev = {
                    "query": name,
                    "probe": round(p, 3),
                    "best_before": round(best, 3),
                    "rerun": None if dt is None else round(dt, 3),
                }
                throttle_events.append(ev)
                print(f"# throttle sentinel: {json.dumps(ev)}", file=sys.stderr)
                if dt is not None:
                    best = min(best, dt)
        times[name] = -1.0 if best is None else round(best, 3)
        if verbose:
            print(f"# bench done  {name}: {times[name]}", file=sys.stderr,
                  flush=True)
        # safe here: the query's derived frames were just materialized
        relational.release_scaffold_caches()
    full, line = format_output(times, sf)
    # self-identify probe runs: pooled-minima analyses over sf0.1
    # archives must be able to exclude non-driver corpora (e.g. the
    # Heaps-vocabulary /tmp probe dirs) by content, not filename
    full["sf_dir"] = sf_dir
    full["cpus"] = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    ps = sorted(probe_samples)
    probe_median = ps[len(ps) // 2] if ps else None
    # quartiles too: single-run gauge calibration data. The r11 idle-VM
    # run measured gauge=1.505 WHILE the suite ran 1.22x over cross-run
    # minima — i.e. the "idle" VM was itself in a host-loud window, so
    # the 1.3x factor stands until a genuinely quiet run says otherwise.
    probe_p25 = ps[len(ps) // 4] if ps else None
    probe_p75 = ps[(3 * len(ps)) // 4] if ps else None
    gauge = (
        None
        if probe_median is None
        else probe_median / max(floor, 1e-9)
    )
    full["throttle"] = {
        "probe_floor": round(floor, 4),
        "threshold": round(probe_threshold(floor), 4),
        "events": throttle_events,
        "reruns_used": MAX_RERUNS - reruns_left,
        # regime gauge: suite-median probe vs the run's own quietest
        # probe. "loud" ⇒ uniform host drag; compare via cross-run minima.
        "probe_median": None if probe_median is None else round(probe_median, 4),
        "probe_p25": None if probe_p25 is None else round(probe_p25, 4),
        "probe_p75": None if probe_p75 is None else round(probe_p75, 4),
        "regime_gauge": None if gauge is None else round(gauge, 3),
        "regime": None if gauge is None else ("loud" if gauge > REGIME_FACTOR else "quiet"),
        # estimated uniform drag vs a gauge-1.232 quiet run (the r12
        # calibration fit) — divide totals by this to drag-adjust
        "est_drag": None if gauge is None else round(est_drag(gauge), 3),
    }
    # complete dump -> stderr + BENCH_FULL.json (tools/bench_diff.py);
    # stdout -> exactly one compact parseable line for the driver
    print(json.dumps(full), file=sys.stderr)
    repo = os.path.dirname(os.path.abspath(__file__))
    # a SUBSET or non-driver-dir run is a probe, never the official
    # archive: an isolated re-measure at the same HEAD sha must not
    # clobber BENCH_<sha>.json / BENCH_FULL.json (it did once in r12 —
    # recovered from the stderr dump; this guard makes it structural)
    is_subset = bool(start_at or only)
    is_driver_dir = sf_dir.startswith("/root/testdata/")
    official = sf == 0.1 and not is_subset and is_driver_dir
    try:
        # only the official sf0.1 run owns BENCH_FULL.json (bench_diff's
        # default input); probe SFs land in bench_history only
        if official:
            with open(os.path.join(repo, "BENCH_FULL.json"), "w") as f:
                json.dump(full, f)
        # per-run history keyed by HEAD sha: committed alongside code, so
        # round-over-round per-query diffs never depend on the driver's
        # truncated stdout capture again (the round-4 lost-signal failure)
        import subprocess

        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=repo,
            capture_output=True, text=True,
        ).stdout.strip() or "nogit"
        hist = os.path.join(repo, "bench_history")
        os.makedirs(hist, exist_ok=True)
        # non-default SFs, subset runs and non-driver corpora get their
        # own archive name so a probe run never overwrites the official
        # sf0.1 archive for the same sha
        suffix = "" if sf == 0.1 else f"_sf{sf:g}"
        if not is_driver_dir:
            suffix += "_probe"
        if is_subset:
            suffix += "_partial"
        # core counts other than the official run's get their own archive
        # name: an 8-core scaling run once overwrote the 32-core official
        # archive of the same sha (the name keyed on sha+sf only)
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
        if cpus != OFFICIAL_CPUS:
            suffix += f"_c{cpus}"
        with open(os.path.join(hist, f"BENCH_{sha}{suffix}.json"), "w") as f:
            json.dump(full, f)
    except OSError as exc:  # pragma: no cover
        print(f"# bench: could not write BENCH_FULL.json: {exc}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
