#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion through the noop sink (full plan
runs, no driver-side result serialization). One untimed warm-up query
first so JVM/codegen startup doesn't pollute the numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Where each run writes its full record (every query's samples); the
# printed line names it when it has to omit queries.
FULL_RECORD = "BENCH_LOCAL.json"

HEADLINE = [
    "q_agg_pricing_summary",
    "q_join_star_multiway",
    "q_join_broadcast",
    "q_join_asof",
    "q_join_range_theta",
    "q_win_rank_topk_per_group",
    "q_win_sessionize",
    "q_agg_count_distinct",
    "q_agg_rollup",
    "q_set_except",
    "q_dedup_exact",
    "q_sort_multi",
    "q_llm_exact_dedup",
    "q_llm_text_stats",
    "q_llm_embed_norm",
    "q_llm_cosine_topk",
    "q_llm_minhash_neardup",
    # added r2 (r1 entries above are unchanged for per-query comparability)
    "q_llm_ngram_jaccard",
    "q_llm_lsh_topk",
    "q_llm_ivf_topk",
    "q_win_sliding_batch",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q10_returned_items",
    "q_llm_doc_chunks",
    "q_llm_context_pack",
    # added r3 (prior entries unchanged for per-query comparability)
    "q_llm_decontaminate",
    "q_llm_cross_dedup",
    "q_agg_sketch_rollup",
    "q_win_time_range_frame",
    "q_join_asof_tolerance",
    "q_join_asof_nearest",
    "q_ts_linear_interp",
    "q_llm_unigram_logprob",
    "q_agg_bitmap_rollup",
    "q_win_rolling_median",
    "q_mm_shard_pack",
    "q_layout_zorder",
    # added r4 (prior entries unchanged for per-query comparability)
    "q_tpch_q2_min_cost_supplier",
    "q_tpch_q8_market_share",
    "q_tpch_q9_product_profit",
    "q_tpch_q13_order_distribution",
    "q_tpch_q17_small_qty_revenue",
    "q_tpch_q21_sole_supplier",
    "q_llm_passage_dedup",
    "q_llm_kmeans_step",
    "q_llm_semdedup",
    "q_llm_quality_classifier",
    "q_stream_late_audit",
    "q_llm_pq_encode",
    "q_llm_ivfpq_search",
    "q_llm_bm25_topk",
    "q_ts_ewma",
    "q_ts_anomaly",
    # added r5 (prior entries unchanged for per-query comparability)
    "q_llm_substring_dedup",
    "q_llm_hard_negatives",
    "q_llm_dsir_weights",
    "q_layout_hilbert",
    "q_llm_gopher_rules",
    "q_llm_bigram_logprob",
    "q_llm_ccnet_buckets",
    "q_emb_dim_stats",
    "q_win_pattern_match",
    "q_llm_temperature_mix",
    "q_graph_ancestry",
    # added late-r5 (prior entries unchanged for per-query comparability)
    "q_llm_softdedup_weights",
    "q_llm_ngram_novelty",
    "q_llm_tokenizer_fertility",
    "q_llm_containment_dedup",
    "q_ts_seasonal_decompose",
    "q_agg_mad_outliers",
    "q_ts_cusum_changepoint",
    "q_llm_minhash_error",
    "q_llm_corpus_audit",
    "q_emb_pca_power_step",
    "q_geo_radius_join",
    "q_win_attribution_multitouch",
    "q_fn_bitwise",
    "q_fn_datetime_arith",
    "q_win_period_over_period",
    "q_agg_weighted_median",
    "q_agg_user_entropy",
    "q_fn_try_arith",
    "q_llm_bpe_train",
    "q_llm_classifier_eval",
    "q_set_relational_division",
    "q_llm_topk_ngrams",
    "q_llm_zipf_fit",
    "q_llm_idf_rarity",
    "q_agg_heavy_hitters",
    "q_win_streaks",
    "q_ts_acf",
    "q_agg_audience_overlap",
    "q_llm_langid_confusion",
    "q_ts_xcorr",
    "q_llm_ctfidf_topics",
    "q_llm_dedup_threshold_sweep",
    # added r6 (prior entries unchanged for per-query comparability)
    "q_join_bloom_prefilter",
    "q_llm_winnowing_fingerprint",
    "q_quality_benford",
    "q_ts_ks_drift",
    "q_ts_psi_drift",
    "q_ts_theil_sen",
    "q_llm_jsd_sources",
    "q_llm_good_turing",
    "q_ts_mann_kendall",
    "q_ab_proportion_test",
    "q_agg_gini_concentration",
    "q_ts_markov_transitions",
    "q_ts_diurnal_percentiles",
    "q_win_hampel",
    # added r7 (prior entries unchanged for per-query comparability)
    "q_llm_edit_distance_neardup",
    "q_llm_doc_perplexity",
    "q_agg_pareto_coverage",
    "q_ts_ohlc_bars",
    "q_fn_url_extract",
    "q_quality_schema_drift",
    "q_ab_delta_method_ci",
    "q_mm_resolution_bucket",
    "q_llm_calibration_bins",
    "q_graph_lpa_step",
    "q_llm_pmi_collocations",
    "q_llm_matryoshka_recall",
    "q_emb_outlier_centroid",
    "q_llm_url_dedup",
    "q_ts_pacf",
    "q_llm_kneser_ney_bigram",
    "q_emb_pq_distortion",
    "q_geo_nearest_neighbor",
    "q_llm_logodds_terms",
    "q_fn_binary_codec",
    "q_ts_downsample_ltob",
    "q_llm_dedup_component_stats",
    "q_emb_isotropy",
    "q_agg_hhi_concentration",
    "q_llm_heaps_law",
    "q_agg_lorenz_points",
    # added r13 (prior entries unchanged for per-query comparability)
    "q_maint_compaction_bins",
    "q_agg_spacesaving_topk",
    # added r14 (prior entries unchanged for per-query comparability)
    "q_agg_pietra_index",
    "q_agg_palma_ratio",
    "q_seq_markov_entropy_rate",
    "q_mm_audio_rms_windows",
    "q_maint_partition_skew",
    "q_agg_ulcer_index",
    "q_ts_cid_ce",
    "q_llm_sequence_pack",
    "q_stats_kendall_w",
    "q_seq_markov_hitting",
    "q_seq_first_touch_attribution",
    "q_quality_ts_gaps",
    "q_ts_cusum_detect",
]
# r8: the bench covers the FULL registered inventory — the explicit
# list above is the round-over-round comparable prefix (order frozen),
# and every other registered query is appended alphabetically at
# runtime, so a new registration can never silently lack timing
# evidence. (Pre-r8 records covered only the explicit list; the
# selection rule was "headline" — now the rule is "everything".)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from ex_hivent_spark.plans.registry import all_specs
    from ex_hivent_spark.session import get_session

    spark = get_session(app_name="ex-hivent-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    suite = HEADLINE + sorted(set(specs) - set(HEADLINE))

    def run(name: str) -> float:
        t0 = time.perf_counter()
        specs[name].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    try:
        run("q_agg_pricing_summary")  # warm-up (JVM + codegen + file listing)
    except Exception:  # noqa: BLE001 - warm-up failure must not kill the bench
        pass

    # Per-query MEDIAN over interleaved rounds: the host shows ±15-40%
    # CPU variance between same-code runs (BASELINE.md r6 addendum), so
    # single-shot per-query times made round-over-round comparisons
    # noisy. Rounds are interleaved (whole suite, repeated) rather than
    # back-to-back per query so a load spike degrades one ROUND of many
    # queries — which the per-query median then discards — instead of
    # all samples of one query. Fault isolation: one broken query must
    # never zero the whole bench — record it under "errors" once and
    # skip it in later rounds.
    import statistics

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {n: [] for n in suite}
    errors: dict[str, str] = {}
    for _ in range(runs):
        for name in suite:
            if name in errors:
                continue
            try:
                samples[name].append(round(run(name), 4))
            except Exception as ex:  # noqa: BLE001
                errors[name] = (
                    str(ex).splitlines()[0][:200] if str(ex) else repr(ex)
                )
    times = {
        name: round(statistics.median(ts), 4)
        for name, ts in samples.items()
        if ts
    }

    total = round(sum(times.values()), 4)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "runs": runs,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Robustness against tail-only output capture: the driver records
    # only the LAST 2000 characters of stdout (the tail field of
    # the r5 bench record, commit 36777d6), and with 100 headline
    # queries the full one-line JSON is
    # ~3 KB — r5's record lost its parsed object to exactly that.
    # So: (1) per-query times stream out first, one short line each,
    # (2) the FULL record goes to FULL_RECORD next to this script
    # (gitignored, so a run never rewrites the committed BENCH_FULL.json
    # record), and (3) the final printed line keeps the
    # mandated schema but includes only as many per-query entries as
    # fit a 1800-char line (HEADLINE order, so the r1-era comparable
    # core always survives), with the overflow counted.
    for name, t in times.items():
        print(f"# {name} {t}")
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, FULL_RECORD), "w") as f:
            json.dump(
                {**out, "samples": {n: ts for n, ts in samples.items() if ts}},
                f,
                indent=1,
            )
    except OSError:
        pass  # read-only checkout: the printed lines are the record
    line_out = dict(out)
    kept: dict[str, float] = {}
    for name in suite:
        if name not in times:
            continue
        trial = {**line_out, "queries": {**kept, name: times[name]}}
        if len(json.dumps(trial, separators=(",", ":"))) > 1800:
            break
        kept[name] = times[name]
    line_out["queries"] = kept
    if len(kept) < len(times):
        line_out["queries_omitted"] = len(times) - len(kept)
        line_out["full_record"] = FULL_RECORD
    print(json.dumps(line_out, separators=(",", ":")))


if __name__ == "__main__":
    main()
