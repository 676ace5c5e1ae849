#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints three JSON lines: the main line
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": <sf>, ...},
a {"metric": "cache_build_sec", ...} line, and last a compact
{"metric": "bench_summary", ...} line — subtotals plus every query's seconds
under its short key ("query_secs": {"q1": sec, ...}) — sized to survive the
driver's tail-of-stdout capture intact (see ``bench_lines``).

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
]

# The r3 headline set (58 queries), frozen — cross-round subtotal for r4+ comparisons.
# (Do NOT edit when HEADLINE grows; add a new coreNN instead.)
CORE58 = frozenset(HEADLINE)

# Added after the r3 freeze — timed in the grand total, NOT in core58.
HEADLINE += [
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


def _current_round() -> int | None:
    """The in-progress round number: SPARK_GRAFT_BENCH_ROUND when set, else
    1 + the newest CORRECTNESS_r*.json (the driver writes that artifact at
    each round CLOSE, so mid-round its max is the PRIOR round). Used to
    keep the ratio-delta baseline strictly below the current round — a
    re-run that compared against its own round's BENCH artifact collapsed
    family_ratio_deltas to ~1.0 and blinded ratio_flags exactly when a
    round was being re-measured (ADVICE r12)."""
    import glob
    import re

    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if env:
        try:
            return int(env)
        except ValueError:
            pass  # malformed override: fall through to the artifact scan
            # rather than aborting a bench run that already paid its passes
    here = os.path.dirname(os.path.abspath(__file__))
    best = None
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            best = max(best or 0, int(m.group(1)))
    return best + 1 if best is not None else None


def _latest_prev_bench_summary() -> tuple[str | None, dict | None]:
    """Newest BENCH_r*.json next to this file from a round STRICTLY BELOW
    the current one (see _current_round), unwrapped to the summary dict
    (the driver wraps it as {'parsed': {...}}; a raw summary from a manual
    run is accepted as-is). (None, None) when absent/unreadable."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    cur = _current_round()
    best_n, best = -1, None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if cur is not None and n >= cur:
            continue  # never compare a round against its own artifact
        if n > best_n:
            best_n, best = n, p
    if best is None:
        return None, None
    try:
        with open(best) as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return None, None
    summary = raw.get("parsed") if isinstance(raw.get("parsed"), dict) else raw
    return os.path.basename(best), summary if isinstance(summary, dict) else None


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
    # Headline stays the default so the per-round driver artifact remains
    # cross-round comparable; core30/core58 membership is unaffected.
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

    # Streaming rate metrics (round-7 VERDICT #8): the foreachBatch sinks
    # record per-micro-batch (rows out, new state keys, wall sec); attach
    # the records from the LAST timed pass so st3/st11's per-batch cost
    # structure ships with the bench artifact instead of being inferred
    # from totals. Drained (not cleared mid-run) so warm-up batches from
    # earlier passes don't pile up: keep only the final pass's batches per
    # sink (batch ids restart at 0 each run).
    from nyc_open_data_pipeline_spark.streaming.windows import drain_batch_metrics

    raw_bm = drain_batch_metrics()
    stream_batches: dict[str, list] = {}
    _last_tok: dict[str, int] = {}
    for m in raw_bm:
        rec = dict(m)
        sink = rec.pop("sink", "?")
        # group on the explicit per-sink-construction pass token (ADVICE
        # r8): inferring pass boundaries from batch-id monotonicity merged
        # a checkpoint-resumed pass (ids keep increasing) into the prior
        # pass. Records land in emission order, so "token changed" ==
        # "new pass"; keep only the LAST pass per sink.
        tok = rec.pop("pass_token", -1)
        if sink not in stream_batches or tok != _last_tok.get(sink):
            stream_batches[sink] = []
        _last_tok[sink] = tok
        stream_batches[sink].append(rec)

    # Session-cache build accounting (round-14, VERDICT r13 #2): the shared
    # intermediates (_hv_get frames, stream fixtures) are built in pass 1 and
    # warm in pass 2, so min-of-N reports the warm number — this line makes
    # the amortized build cost visible instead of landing nowhere. It is NOT
    # part of `value` (the cross-round total keeps its 13-round meaning);
    # builds run inside pass-1 query timings exactly as before.
    cache_builds = drain_cache_build_secs()
    out, summary = bench_lines(
        timings,
        errors,
        float(sf),
        full="--full" in sys.argv[1:],
        prev=_latest_prev_bench_summary(),
        stream_batches=stream_batches,
        cache_builds=cache_builds,
    )
    print(json.dumps(out))
    print(json.dumps(
        {
            "metric": "cache_build_sec",
            "value": out["cache_build_sec"],
            "unit": "sec",
            "builds": out["cache_builds"],
            "sf": float(sf),
        },
        separators=(",", ":"),
    ))
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


def bench_lines(
    timings: dict[str, float | None],
    errors: dict[str, str],
    sf: float,
    full: bool = False,
    prev: tuple[str | None, dict | None] = (None, None),
    stream_batches: dict[str, list] | None = None,
    cache_builds: dict[str, float] | None = None,
) -> tuple[dict, dict]:
    """(main line, final ``bench_summary`` line) from per-query seconds
    (None = failed). ``prev`` is the prior round's (artifact name, summary)
    for the yardstick ratio deltas.

    The final line is what survives the driver's tail-of-stdout capture
    (~4.6 KB kept; in round 3 the subtotals printed before the big
    per-query dict were truncated away), so it carries the subtotals and
    every query's seconds under its SHORT key (the unique prefix before
    the first ``_``, e.g. "d26") and nothing larger. Per-query ratios are
    not repeated there: ratio = query_secs[k] / yardstick.sec."""
    timings = {k: (round(v, 3) if v is not None else None) for k, v in timings.items()}
    ok = {k: v for k, v in timings.items() if v is not None}
    total = sum(ok.values())
    # Stable cross-round subtotals: core30 = the 30 queries BENCH_r01 timed;
    # core58 = this round's full headline set, frozen for r4+. The headline
    # list grows every round, so the grand total is not comparable across
    # rounds — the frozen subtotals are.
    core30 = sum(v for k, v in ok.items() if k in CORE30)
    core58 = sum(v for k, v in ok.items() if k in CORE58)

    # Per-family subtotals (prefix up to the first digit) — makes regressions
    # attributable at a glance without diffing 70 per-query numbers.
    families: dict[str, float] = {}
    family_counts: dict[str, int] = {}
    for k, v in ok.items():
        fam = k.split("_", 1)[0].rstrip("0123456789")
        families[fam] = families.get(fam, 0.0) + v
        family_counts[fam] = family_counts.get(fam, 0) + 1
    families = {k: round(v, 3) for k, v in sorted(families.items())}
    family_counts = dict(sorted(family_counts.items()))

    # Batch vs stream split (round-10 verdict #5): the st* family is mostly
    # per-micro-batch Spark fixed cost (~40 s of the sf0.1 headline), which
    # drowns the batch engine's signal in the grand total — report both so a
    # batch-side regression is visible without subtracting by hand.
    stream_total = families.get("st", 0.0)
    batch_total = round(total - stream_total, 3)

    # Same-day yardstick (round-10 verdict #7, SCALE.md §Round 10 method):
    # host speed varies 1.4-1.9x between rounds on identical code+data, so
    # cross-round comparisons are only meaningful as ratios to a
    # byte-identical query measured in the SAME run. d26 is the established
    # yardstick; emit its time and the headline ratios so future BENCH_rN
    # diffs are box-calibrated automatically.
    y = timings.get("d26_substring_dedup")
    yardstick = None
    if y:
        yardstick = {
            "query": "d26_substring_dedup",
            "sec": y,
            "core30_ratio": round(core30 / y, 3),
            "core58_ratio": round(core58 / y, 3),
            "batch_total_ratio": round(batch_total / y, 3),
            # per-family box-calibrated ratios (round-11 verdict #5): a
            # future artifact's family moves are judged on RATIO deltas,
            # not absolute seconds — kills the recurring host-speed
            # forensics (r11's core30 "+5%" was a 1.4x-slower host)
            "family_ratios": {k: round(v / y, 3) for k, v in families.items()},
        }
        prev_name, prev_summary = prev
        prev_y = ((prev_summary or {}).get("yardstick") or {}).get("sec")
        prev_fam = (prev_summary or {}).get("families") or {}
        prev_cnt = (prev_summary or {}).get("family_counts") or {}
        # ratio deltas only against a same-sf artifact: family subtotals
        # scale non-uniformly with sf, so a cross-sf "delta" is noise
        if prev_y and (prev_summary or {}).get("sf") == sf:
            deltas: dict[str, float] = {}
            flags: list[str] = []
            for k, v in families.items():
                pv = prev_fam.get(k)
                if not pv:
                    continue
                cur_n, old_n = family_counts.get(k, 1), prev_cnt.get(k)
                if old_n:
                    # PER-QUERY calibrated cost: a family that gained
                    # queries must not flag just for being bigger
                    d = ((v / cur_n) / y) / ((pv / old_n) / prev_y)
                else:
                    d = (v / y) / (pv / prev_y)
                deltas[k] = round(d, 3)
                # noise floor: families of sub-second queries are per-query
                # fixed-cost dominated (observed same-day flap: ctm1 0.21 ->
                # 0.75 s with identical code), and the d26 yardstick itself
                # is ~1.2-1.6 s at sf0.1 — tiny/tiny ratios flap without
                # meaning. Flag only when the family subtotal AND its mean
                # per-query time are big enough that a 1.3x move is real
                # work, not scheduler jitter.
                if d > 1.3 and v >= 1.5 and v / max(cur_n, 1) >= 0.75:
                    flags.append(k)
            yardstick["ratio_delta_vs"] = prev_name
            yardstick["family_ratio_deltas"] = deltas
            if not prev_cnt:
                # legacy artifact: deltas are not count-normalized, so a
                # family that gained queries inflates honestly — say so
                yardstick["prev_counts_missing"] = True
            # families whose box-calibrated PER-QUERY cost moved >1.3x vs
            # the prior artifact (above the noise floor) — the round-close
            # regression gate reads THIS, not raw seconds
            yardstick["ratio_flags"] = sorted(flags)

    cache_builds = cache_builds or {}
    cache_build_total = round(sum(cache_builds.values()), 3)
    subtotals = {
        "value": round(total, 3),
        "unit": "sec",
        "core30_sec": round(core30, 3),
        "core58_sec": round(core58, 3),
        "batch_total_sec": batch_total,
        "stream_total_sec": round(stream_total, 3),
        "families": families,
        "family_counts": family_counts,
    }
    out = {
        "metric": f"total wall-clock of {len(ok)} "
        + ("registered" if full else "headline")
        + " queries",
        **subtotals,
        "queries": timings,
        "sf": sf,
    }
    if y:
        # per_query_ratio = sec / yardstick_sec (round-11 verdict #5): the
        # box-calibrated per-query number future rounds diff directly.
        out["query_ratios"] = {k: round(v / y, 3) for k, v in ok.items()}
    if yardstick:
        out["yardstick"] = yardstick
    if stream_batches:
        out["stream_batches"] = stream_batches
    if errors:
        out["errors"] = errors
    out["cache_build_sec"] = cache_build_total
    out["cache_builds"] = {k: round(v, 3) for k, v in sorted(cache_builds.items())}

    summary = {
        "metric": "bench_summary",
        **subtotals,
        "n_queries": len(ok),
        "n_errors": len(errors),
        "sf": sf,
        "cache_build_sec": cache_build_total,
    }
    if yardstick:
        summary["yardstick"] = yardstick
    summary["query_secs"] = {k.split("_", 1)[0]: round(v, 2) for k, v in ok.items()}
    return out, summary


if __name__ == "__main__":
    sys.exit(main())
