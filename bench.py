#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints two JSON lines (built by ``bench_lines``): first a detail line
  {"metric": "bench_detail", "errors": {name: message}, "stream_batches":
   {sink: [per-micro-batch record, ...]}, "cache_builds": {label: sec}},
then the compact {"metric": "bench_summary", ...} line: the total
(``value``), the core30 / batch / stream subtotals, the d26 yardstick
{"query", "sec"} and every query's seconds under its short key
("query_secs": {"q1": sec, ...}). Ratios are query_secs[k] / yardstick.sec.
The summary is last and small so it survives a 4.6 KB tail-of-stdout
capture intact.

Each query is executed to completion (count() action) after a warm-up pass of
the session; per-query wall time includes plan + execution, not session start.
"""

from __future__ import annotations

import json
import os
import sys
import time

# The bench's cells are measured at local[32]; the session's own default is
# the machine's CPU count.
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "q1_pricing_summary",
    "j1_left_join_dim",
    "j2_inner_join_broadcast",
    "j4_scalar_subquery_latest",
    "j8_salted_join",
    "a2_latest_per_key",
    "a5_summary_stats",
    "a6_count_distinct",
    "a8_cube",
    "w1_ranking",
    "w2_running_sum",
    "w4_range_frame",
    "o3_dedup_keep_last",
    "o5_top_k",
    "r1_melt_unpivot",
    "as1_asof_join",
    "rj1_range_join",
    "e1_tumbling_window",
    "e3_session_window",
    "d1_exact_dedup",
    "d2_fingerprints",
    "d3_minhash_signatures",
    "d4_lsh_jaccard_pairs",
    "d5_simhash",
    "d6_embedding_neardup",
    "d7_dedup_clusters",
    "c1_cleanroom_pipeline",
    "s1_cosine_topk",
    "s3_lsh_bucket_stats",
    "s4_ivf_ann",
    "s5_cosine_topk_gemm",
    "s6_kmeans",
    "sk1_kmv_distinct",
    "w6_distributed_ranks",
    "t8_format_number",
    "mm2_decode_features",
    "tx1_token_stats",
    "tx2_quality_score",
    "tx3_language_id",
    "tx8_top_terms_df",
    "tx9_repetition_stats",
    "mix2_cap_sample",
    "ctm1_contamination",
    "seq1_pack_sequences",
    "d10_editdist_verify",
    "f1_funnel",
    "f2_retention_cohorts",
    "f3_event_transitions",
    "f4_session_paths",
    "seq2_chunk_documents",
    "tx10_token_surprisal",
    "tx11_char_entropy",
    "f5_active_users",
    "s7_ann_recall",
    "c2_quality_representatives",
    "sk2_bloom_membership",
    "a10_grouping_sets",
    "d11_simhash_neardup",
    "mix3_temperature_sampling",
    "d12_containment_neardup",
    "f6_rfm_segments",
    "st7_stream_upsert",
    "q3_shipping_priority",
    "q5_local_supplier",
    "d13_ngram_dup_fraction",
    "s8_label_centroids",
    "q14_promo_revenue",
    "st8_stream_dedup",
    "d14_minhash_estimate_error",
    "a11_histogram",
    "ctm2_embedding_contamination",
    "s9_nprobe_sweep",
    "seq3_curriculum_order",
    "c3_semantic_quality_filter",
    "ts1_resample_gapfill",
    "ts2_forward_fill",
    "w7_rolling_stats",
    "a12_iqr_outliers",
    "q18_large_orders",
    "d15_line_dedup",
    "fz1_fuzzy_match",
    "st9_stream_stream_join",
    "tx12_bigram_surprisal",
    "a13_column_profile",
    "d16_cross_source_dups",
    "mix4_epoch_repeat",
    "j9_snapshot_diff",
    "t11_zscore",
    "st10_stream_session",
    "s10_pq_encode",
    "q10_returned_items",
    "q7_volume_shipping",
    "tx13_langid_confusion",
    "v6_k_anonymity",
    "sk3_countmin_heavyhitters",
    "c4_training_manifest",
    "q13_custdist",
    "q16_supplier_cnt",
    "q21_waiting_supplier",
    "s11_ivfpq_adc",
    "q2_min_cost_supplier",
    "d17_semantic_dedup",
    "mix5_unimax_budget",
    "d18_cdc_chunk_dedup",
    "a14_quality_dup_calibration",
    "a15_key_skew_probe",
    "q22_global_sales_opportunity",
    "bm1_bm25_topk",
    "bm2_hybrid_rrf",
    "q4_priority_check",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q11_important_stock",
    # round 5
    "q20_part_promotion_suppliers",
    "q15_top_supplier",
    "d19_multiprobe_neardup",
    "d20_multiprobe_recall",
    "d21_boilerplate_strip",
    "tx14_hashed_ngram_quality",
    "mix6_dsir_importance",
    "v7_l_diversity",
    "z1_zorder_layout",
    "sk4_hll_distinct",
    # round 6
    "d22_incremental_neardup",
    "st11_stream_incremental_neardup",
    "c5_cleanroom_v2",
    "smp2_kcenter_sample",
    "seq4_epoch_shuffle",
    "v8_referential_integrity",
    "gr1_pagerank",
    "sk5_quantile_sketch",
    "v9_distribution_drift",
    "gr2_salsa",
    # round 7
    "d23_multiprobe_neardup_hi",
    "d24_multiprobe_recall_hi",
    "rj2_interval_join",
    "smp3_weighted_sample",
    "ts3_rollup_cascade",
    "v10_t_closeness",
    "s12_mips_topk",
    "d25_setsim_join_prefix",
    # round 8
    "s13_mips_ann",
    "d26_substring_dedup",
    "gr3_components_star",
    "st12_stream_substring_dedup",
    "sk6_hll_rollup",
    # round 9
    "c6_exact_then_setsim",
    # round 12
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q12_shipmode_priority",
    # round 13
    "mm4_audio_meta",
    "mm5_pixel_stats",
    "mm6_video_meta",
]

# The r1 headline set — kept for the cross-round-comparable core30 subtotal.
CORE30 = {
    "q1_pricing_summary", "j1_left_join_dim", "j2_inner_join_broadcast",
    "j4_scalar_subquery_latest", "j8_salted_join", "a2_latest_per_key",
    "a5_summary_stats", "a6_count_distinct", "a8_cube", "w1_ranking",
    "w2_running_sum", "w4_range_frame", "o3_dedup_keep_last", "o5_top_k",
    "r1_melt_unpivot", "e1_tumbling_window", "e3_session_window",
    "d1_exact_dedup", "d2_fingerprints", "d3_minhash_signatures",
    "d4_lsh_jaccard_pairs", "d5_simhash", "d6_embedding_neardup",
    "s1_cosine_topk", "s3_lsh_bucket_stats", "s4_ivf_ann",
    "mm2_decode_features", "tx1_token_stats", "tx2_quality_score",
    "tx3_language_id",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from nyc_open_data_pipeline_spark.plans import all_queries
    from nyc_open_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    specs = all_queries()

    # --full: time EVERY registered query, not just HEADLINE — the coverage
    # run that proves "no cliff hides in the unbenched micro-queries" with a
    # measurement instead of an assumption (SCALE.md records the artifact).
    # Headline stays the default so the per-round artifact remains
    # cross-round comparable; core30 membership is unaffected.
    bench_names = list(HEADLINE)
    if "--full" in sys.argv[1:]:
        bench_names += [n for n in specs if n not in set(HEADLINE)]
    # SPARK_GRAFT_BENCH_NAMES="a,b,c": bench exactly these queries — the
    # targeted-headroom knob (e.g. core30 + known-expensive set at sf10)
    # so a scale pass doesn't pay the full headline wall-clock.
    only = os.environ.get("SPARK_GRAFT_BENCH_NAMES")
    if only:
        bench_names = [n.strip() for n in only.split(",") if n.strip()]

    # Warm-up: run every headline query once on the smallest corpus so the
    # timed pass measures execution at sf, not one-time JVM JIT + whole-stage
    # codegen compilation of each plan shape (standard steady-state practice).
    warm_dir = "/root/testdata/sf0.001"
    for name in bench_names:
        if name in specs:
            try:
                specs[name].fn(spark, warm_dir).count()
            except Exception:
                pass

    # Discard warm-up-corpus cache builds: cache_build_sec must report the
    # cost of building the AT-SF shared intermediates (the ones min-of-2
    # amortizes away — VERDICT r13 #2), not the sf0.001 warm-up copies.
    from nyc_open_data_pipeline_spark.plans.common import drain_cache_build_secs

    drain_cache_build_secs()
    from nyc_open_data_pipeline_spark.streaming.windows import drain_batch_metrics

    # FULL timed passes, min per query: the host shows bursty external
    # load (observed 3-4x inflation for ~30s windows); separating the
    # repetitions of a query by a whole pass means a burst hits different
    # queries in each pass, and min-of-N recovers the true cost. Default 2;
    # scale probes (few queries x minutes each, where j8-at-sf100 wobbled
    # 85.6-122.9 s across round-5 passes) set SPARK_GRAFT_BENCH_PASSES=3
    # so the min is taken over three load windows (SCALE.md method note).
    # Per-query fault isolation: one broken query must cost only its own
    # timing (null), never the whole artifact (round 2 lost all 56 other
    # timings to a single AnalysisException).
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    if passes < 1:
        # a zero/negative pass count would emit a complete-looking artifact
        # with null for every query — fail loudly instead
        raise ValueError(f"SPARK_GRAFT_BENCH_PASSES must be >= 1, got {passes}")
    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for _ in range(passes):
        drain_batch_metrics()  # keep only the last pass's micro-batch records
        for name in bench_names:
            if name not in specs or name in errors:
                continue
            t0 = time.perf_counter()
            try:
                specs[name].fn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001 — keep the artifact alive
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                timings.setdefault(name, None)  # keep a pass-1 success if any
                continue
            dt = time.perf_counter() - t0
            prev = timings.get(name)
            timings[name] = dt if prev is None else min(prev, dt)

    # Per-micro-batch records (batch_id, rows out, new state keys, wall sec)
    # of the last timed pass, grouped by sink, so the streaming sinks'
    # per-batch cost ships with the artifact instead of being inferred from
    # totals.
    stream_batches: dict[str, list] = {}
    for m in drain_batch_metrics():
        stream_batches.setdefault(m.pop("sink"), []).append(m)

    # Session-cache build accounting: the shared intermediates (_hv_get
    # frames, stream fixtures) are built in pass 1 and warm in pass 2, so
    # min-of-N reports the warm number; the per-label build seconds make the
    # amortized cost visible. They are NOT part of `value`; builds run
    # inside pass-1 query timings.
    cache_builds = drain_cache_build_secs()
    for line in bench_lines(timings, errors, float(sf), stream_batches, cache_builds):
        print(json.dumps(line, separators=(",", ":")))
    spark.stop()


def bench_lines(
    timings: dict[str, float | None],
    errors: dict[str, str],
    sf: float,
    stream_batches: dict[str, list] | None = None,
    cache_builds: dict[str, float] | None = None,
) -> tuple[dict, dict]:
    """(detail line, final ``bench_summary`` line) from per-query seconds
    (None = failed).

    The summary is what survives a tail-of-stdout capture (~4.6 KB kept),
    so it carries the subtotals and every query's seconds under its SHORT
    key (the unique prefix before the first ``_``, e.g. "d26") and nothing
    larger; error messages and the per-batch / per-cache-label records go
    on the detail line printed before it."""
    ok = {k: round(v, 3) for k, v in timings.items() if v is not None}
    total = sum(ok.values())
    # core30 = the 30 queries the first round timed: the headline list grows,
    # so the grand total is not comparable across rounds, the subtotal is.
    core30 = sum(v for k, v in ok.items() if k in CORE30)
    # Batch vs stream split: the st* queries are mostly per-micro-batch
    # Spark fixed cost, which drowns the batch engine's signal in the total.
    stream_total = round(
        sum(v for k, v in ok.items() if k.split("_", 1)[0].rstrip("0123456789") == "st"),
        3,
    )
    cache_builds = cache_builds or {}
    detail = {
        "metric": "bench_detail",
        "errors": errors,
        "stream_batches": stream_batches or {},
        "cache_builds": {k: round(v, 3) for k, v in sorted(cache_builds.items())},
    }
    summary = {
        "metric": "bench_summary",
        "value": round(total, 3),
        "unit": "sec",
        "core30_sec": round(core30, 3),
        "batch_total_sec": round(total - stream_total, 3),
        "stream_total_sec": stream_total,
        "n_queries": len(ok),
        "n_errors": len(errors),
        "sf": sf,
        "cache_build_sec": round(sum(cache_builds.values()), 3),
    }
    # Same-run yardstick: host speed varies 1.4-1.9x between runs on
    # identical code and data, so cross-run comparisons divide by d26, a
    # byte-identical query timed in the SAME run.
    y = ok.get("d26_substring_dedup")
    if y:
        summary["yardstick"] = {"query": "d26_substring_dedup", "sec": y}
    summary["query_secs"] = {k.split("_", 1)[0]: round(v, 2) for k, v in ok.items()}
    return detail, summary


if __name__ == "__main__":
    sys.exit(main())
