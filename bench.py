"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {"q1": sec, ...}, "sf": ...}

value = total wall-clock over all headline queries (excluding session
startup); per-query times are end-to-end plan build + execution with results
drained by count() on the executors (no driver collect of payloads).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wurzel_spark import get_spark  # noqa: E402
from wurzel_spark.session import codegen_compiles  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

def compact_line(
    times: dict[str, float],
    sf: float,
    total: float,
    oracle_total: float,
    budget: int = 1900,
) -> str:
    """The FINAL stdout line the driver json-parses from a 2000-char tail
    capture. It must fit that capture IN FULL (r7 put ~3.9 KB on this line
    and BENCH_r07.json recorded "parsed": null — the round lost its bench
    metric), so: query names are abbreviated by the deterministic scheme
    abbr(name) = "".join(tok[:3] for tok in name.split("_"))
    ("range_join_clicks_before_purchase" → "ranjoiclibefpur"; collisions
    widen to 4 chars, then numeric suffixes), per-query values are integer
    CENTISECONDS ("q1prisum":32 = 0.32 s), and queries outside the FIXED
    keep-set COMPACT_KEEP are folded into "oth" {"n": count, "cs":
    summed centiseconds} so the total stays reconstructible. Headline
    "value"/"oracle_value" stay in seconds. Full-precision per-query
    numbers (both engines, full names, ratios) live in BENCH_DETAIL.json.

    Keep-set membership is DETERMINISTIC (VERDICT r12 What's-wrong #2):
    through r12 the fold kept the ~109 SLOWEST queries, so boundary
    queries churned with timing noise and every PERF round manufactured
    phantom dropped_from_bench/new_in_bench entries (11/10 in r12).
    COMPACT_KEEP pins membership to exactly the names the r12 line
    carried, in its (r12 time-descending) order; everything else always
    folds to "oth" regardless of speed, so the driver compares the same
    per-query set round over round. Only if the line STILL exceeds
    `budget` does the fold eat into the keep-set's tail (never observed:
    the r12 line measured ~1.77 KB on a theft-inflated box).
    """

    def _abbr(name: str, width: int = 3) -> str:
        return "".join(t[:width] for t in name.split("_"))

    abbr_names = {}
    for name in times:
        abbr_names[name] = _abbr(name)
    collided = {
        n for n, a in abbr_names.items()
        if sum(1 for x in abbr_names.values() if x == a) > 1
    }
    for n in collided:
        abbr_names[n] = _abbr(n, 4)
    if len(set(abbr_names.values())) != len(abbr_names):
        # ADVICE r6: never crash AFTER the measurements exist — disambiguate
        # residual collisions with a numeric suffix instead.
        seen: dict[str, int] = {}
        for n in sorted(abbr_names):
            a = abbr_names[n]
            if a in seen:
                seen[a] += 1
                abbr_names[n] = f"{a}{seen[a]}"
            else:
                seen[a] = 0

    def _cs(sec: float) -> int:
        return int(round(sec * 100))

    kept = [n for n in COMPACT_KEEP if n in times]
    while True:
        dropped = [n for n in times if n not in set(kept)]
        payload = {
            "m": "spark_q_cs",
            "sf": sf,
            "unit": "sec",
            "value": round(total, 3),
            "oracle_value": round(oracle_total, 3),
            "queries": {abbr_names[n]: _cs(times[n]) for n in kept},
        }
        if dropped:
            payload["oth"] = {
                "n": len(dropped),
                "cs": _cs(sum(times[n] for n in dropped)),
            }
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= budget or not kept:
            return line
        kept = kept[:-1]  # fold the fastest remaining query into "oth"


# The fixed compact-line keep-set: exactly the 109 query names the r12
# final line carried, in its order (r12 measured time, descending — an
# emergency overflow fold trims from the END, i.e. the historically
# fastest entries go first). Membership changes are a conscious code
# edit, never a timing artifact. Names absent from a run are skipped.
COMPACT_KEEP = (
    "retrieval_self_eval", "dup_pair_evidence", "curation_funnel_v2",
    "lsh_recall_audit", "supplier_pagerank", "leakage_safe_split",
    "incremental_cluster_members", "importance_sample", "winnow_overlap_pairs_fast",
    "dup_graph_transitivity_capped", "cluster_best_keep_capped", "embedding_projection_stats",
    "cluster_best_keep", "part_affinity_pairs", "ann_topk_ivfpq",
    "dup_graph_kcore", "bitext_margin_pairs", "hilbert_layout_stats",
    "combined_near_dup_pairs", "dedup_clusters", "line_lang_spans",
    "minhash_lsh_pairs", "column_encoding_stats", "score_calibration_bins",
    "ngram_jaccard_pairs", "quality_percentile_gate", "source_overlap_matrix",
    "ngram_diversity_stats", "embedding_pca_power", "kmv_overlap_matrix",
    "bloom_decontam_fast", "score_lift_table", "rfm_segments",
    "fisher_separability_stats", "hash_sample_quantiles", "waterfill_sample_stats",
    "ngram_jaccard_prefix", "ann_topk_pq", "containment_pairs",
    "zorder_layout_stats", "embedding_centroid_stats", "event_theil_sen_trend",
    "source_tv_matrix", "token_budget_waterfill", "bm25_topk",
    "ivf_nprobe_sweep", "kmeans_train_stats", "repetition_stats",
    "lsh_param_sweep", "exact_substring_removal", "knn_label_accuracy",
    "dedup_verdict_matrix", "rendezvous_shard_stats", "brier_decomposition",
    "doc_tfidf_keywords", "index_drift_stats", "embedding_norm_outliers",
    "customer_migration_matrix", "semdedup_keep", "ccnet_lm_perplexity",
    "ngram_diversity_hll_fast", "importance_ess_stats", "active_user_stickiness",
    "embedding_anisotropy", "pmi_bigrams", "fd_violation_stats",
    "ann_topk_lsh", "asof_last_order_before_event", "file_pruning_stats",
    "simhash_near_pairs", "event_hour_anomalies", "matryoshka_recall_stats",
    "duplicated_sentences", "data_budget_plan", "event_mannkendall_trend",
    "embedding_gram_matrix", "bot_score_stats", "event_cusum_drift",
    "incremental_novelty", "supplier_leadtime_stats", "q3_shipping_priority",
    "pipeline_filter_dedup_stats", "decontamination_report", "shuffle_run_stats",
    "decontamination_overlap", "doremi_mixture_weights", "q5_local_supplier_volume",
    "sequence_pack_stats", "ngram_novelty", "binary_embedding_recall",
    "vocab_growth_curve", "quality_threshold_sweep", "filter_agreement_stats",
    "cms_heavy_hitters", "term_freq_of_freq", "corpus_shuffle",
    "hard_negative_mining", "event_type_drift", "event_path_trigrams",
    "q10_returned_items", "kmeans_cell_stats", "langid_confusion",
    "blocklist_filter_stats", "distinctive_terms", "gopher_quality_flags",
    "peak_concurrency_stats", "iqr_outlier_stats", "score_auc_stats",
    "benford_value_audit",
)


HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_order_rank",
    "distribution_stats",
    "events_hourly_stats",
    "sessionize",
    "doc_metrics",
    "token_stats",
    "lang_id",
    "quality_score",
    "fingerprints",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "asof_last_order_before_event",
    "range_join_clicks_before_purchase",
    "pipeline_filter_dedup_stats",
    "events_daily_from_hourly",
    "cohort_retention",
    # round 2: corpus-curation flagships
    "repetition_stats",
    "distinctive_terms",
    "mixture_sample",
    "dedup_near_keep",
    "dedup_clusters",
    # round 3: contamination / LM-quality / containment / radius-search /
    # multimodal manifest + the one-pass combined near-dup family
    "pii_scan",
    "bigram_lm_score",
    "gopher_quality_flags",
    "curation_pipeline_stats",
    "containment_pairs",
    "duplicated_spans",
    "duplicated_sentences",
    "decontamination_overlap",
    "ann_range_search",
    "kmeans_cell_stats",
    "text_embedding_join",
    "multimodal_manifest",
    "combined_near_dup_pairs",
    # round 4: semantic dedup + ranked retrieval + trained clustering +
    # sequence packing + substring-dedup removal
    "semdedup_keep",
    "bm25_topk",
    "kmeans_train_stats",
    "sequence_pack_stats",
    "strip_duplicated_spans",
    # round 4 (cont.): winnowing, training-data ordering, importance
    # resampling, product quantization, corpus profiling
    "winnow_fingerprints",
    # winnow_overlap_pairs (md5-audit config) is NOT benched: the
    # production twin winnow_overlap_pairs_fast below carries the
    # family's headline cost (VERDICT r9 Next #6); the audit config
    # stays registered and oracle-checked at sf0.01.
    "train_split_stats",
    "corpus_shuffle",
    "importance_sample",
    "pq_code_stats",
    "ann_topk_pq",
    "corpus_length_quantiles",
    # round 4 (cont.): selection rules, Bloom decontamination, BPE
    # training, z-order layout, sketches
    "cluster_best_keep",
    "domain_cap_sample",
    "temperature_mixture_sample",
    # bloom_decontam (md5-audit config): production twin
    # bloom_decontam_fast is the benched entry (VERDICT r9 Next #6).
    "bpe_pair_counts",
    "zorder_layout_stats",
    "hll_distinct_stats",
    "cms_heavy_hitters",
    # round 4 (cont.): redaction, eval harness, curriculum, quantization
    "pii_redact",
    "retrieval_self_eval",
    "curriculum_order",
    "sq8_code_stats",
    "data_budget_plan",
    # round 4 (cont.): index maintenance + truncation eval + IVF-PQ
    "index_drift_stats",
    "matryoshka_recall_stats",
    "ann_topk_ivfpq",
    "cluster_best_keep_capped",
    "markdown_structure_stats",
    "license_scan",
    "ngram_jaccard_prefix",
    "incremental_cluster_members",
    # round 5: snapshot diffing, novelty, source-normalized gating,
    # length-bucketed batch planning
    "snapshot_diff",
    "ngram_novelty",
    "incremental_novelty",
    "quality_percentile_gate",
    "length_bucket_batches",
    "training_shard_stats",
    "leakage_safe_split",
    "supplier_pagerank",
    "decontamination_report",
    "curation_funnel_v2",
    # round 6: language composition, duplication budgeting, collocations,
    # drift detection, CDC merge/time-travel
    "lang_share",
    "duplication_profile",
    "pmi_bigrams",
    "event_type_drift",
    "cdc_apply_changes",
    "cdc_snapshot_at",
    # round 7: production-hasher twins (pin the xxhash64-vs-md5 win as a
    # bench line, VERDICT r6 Missing #3) + the capped transitivity config
    "winnow_overlap_pairs_fast",
    "bloom_decontam_fast",
    "dup_graph_transitivity_capped",
    # round 7: ExactSubstr removal (Lee et al. 2022). The strip twin is
    # NOT benched: count() prunes its 1:1 reconstruction through the
    # provably-unique-keyed join (the tlsh_fingerprints precedent), so a
    # timed count would measure an empty projection; the stats query
    # carries the family's full detection cost.
    "exact_substring_removal",
    # round 7 (cont.): C4 line-cleaning battery, distinct-n diversity,
    # hard-negative mining (brute-force-scored configuration)
    "c4_line_filter_stats",
    "ngram_diversity_stats",
    "hard_negative_mining",
    "quality_threshold_sweep",
    "hash_sample_quantiles",
    "embedding_gram_matrix",
    "embedding_pca_power",
    "vocab_growth_curve",
    "source_overlap_matrix",
    "embedding_projection_stats",
    "event_hour_anomalies",
    "dup_graph_kcore",
    "term_freq_of_freq",
    "eval_sample_manifest",
    "proportional_interleave",
    "lsh_param_sweep",
    # ngram_diversity_hll (md5-audit config): production twin
    # ngram_diversity_hll_fast is the benched entry (VERDICT r9 Next #6).
    # round 8: classifier-eval battery + DoReMi-lite mixture
    "score_calibration_bins",
    "tokenizer_fertility_stats",
    "langid_confusion",
    "doremi_mixture_weights",
    "shuffle_run_stats",
    # pii_luhn_validated is EXCLUDED: count() prunes the 1:1 Luhn
    # projection (the tlsh_fingerprints precedent) — a timed count would
    # measure an empty scan, not the digit algebra.
    "inverted_index_stats",
    "score_auc_stats",
    "blocklist_filter_stats",
    "ldiversity_release",
    "ccnet_lm_perplexity",
    "rendezvous_shard_stats",
    "filter_agreement_stats",
    "embedding_norm_outliers",
    "ngram_diversity_hll_fast",
    "corpus_checksum",
    "charclass_stats",
    "join_size_estimate",
    "embedding_nan_stats",
    "priority_sample",
    # round-9 additions; unicode_clean_docs + pii_iban_validated excluded
    # (1:1 row-local projections — count() prunes them, tlsh/luhn
    # precedent; unicode_clean_stats carries the family's scan cost)
    "priority_sample_stratified",
    "unicode_clean_stats",
    "token_budget_waterfill",
    "bitext_margin_pairs",
    "lsh_recall_audit",
    "code_switch_stats",
    "referential_integrity",
    "waterfill_sample_stats",
    "line_lang_spans",
    "embedding_centroid_stats",
    "dup_pair_evidence",
    "event_transition_matrix",
    "dedup_verdict_matrix",
    "binary_embedding_recall",
    "user_type_gini",
    "tcloseness_release",
    "retrieval_ndcg_eval",
    "name_edit_near_pairs",
    "entity_blocking_stats",
    "part_affinity_pairs",
    "readability_stats",
    "event_cusum_drift",
    "magic_byte_stats",
    "benford_value_audit",
    "doc_tfidf_keywords",
    "hilbert_layout_stats",
    "ks_length_drift",
    "rfm_segments",
    "event_path_trigrams",
    "fd_violation_stats",
    "iqr_outlier_stats",
    "event_mannkendall_trend",
    "customer_balance_gini",
    "revenue_hhi_stats",
    "event_acf_stats",
    "cohort_ltv_curve",
    "spearman_qty_price",
    "kmv_overlap_matrix",
    "robust_length_stats",
    "pareto_concentration",
    # round 9 continuation session
    "event_burstiness_stats",
    "event_theil_sen_trend",
    "event_hour_independence",
    "order_gap_stats",
    "file_pruning_stats",
    "customer_migration_matrix",
    "ols_price_quantity",
    "ivf_nprobe_sweep",
    "importance_ess_stats",
    "scd2_intervals",
    "source_tv_matrix",
    "user_retention_curve",
    "funnel_latency_stats",
    "brier_decomposition",
    "purchase_attribution",
    "length_anova_stats",
    "fisher_separability_stats",
    "slo_burn_stats",
    "value_percentiles_by_type",
    "column_encoding_stats",
    "knn_label_accuracy",
    "bot_score_stats",
    "active_user_stickiness",
    "embedding_exact_dups",
    "score_lift_table",
    "simpson_flip_audit",
    "supplier_leadtime_stats",
    "transition_predictability",
    "prefix_template_stats",
    "peak_concurrency_stats",
    "backlog_aging_stats",
    "revenue_growth_stats",
    "seasonality_strength",
    "discount_band_stats",
    "user_activity_fof",
    "single_source_parts",
    "embedding_anisotropy",
    "session_duration_stats",
    "metadata_consistency_stats",
]


def _round_seed() -> int:
    """Deterministic-per-round seed: the count of BENCH_r*.json files in
    the repo root (the driver adds one per round, after its run)."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return len(glob.glob(os.path.join(here, "BENCH_r*.json")))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    spark = get_spark("bench")

    qs = entry_mod.queries()

    # Decorrelate host theft from query identity (VERDICT r11 Next #2):
    # the battery ran in a FIXED order every round, so a host-steal burst
    # early in the run kept re-flagging the same heavy keys round after
    # round and each verdict burned a quiet-box census on it. A seeded
    # per-round shuffle moves every query to a different battery position
    # each round, so a theft window hits different keys — a regression
    # that persists across rounds is then attributable to code from the
    # artifact alone. Deterministic within a round (re-runs compare).
    order = list(HEADLINE)
    seed = _round_seed()
    if os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "1") != "0":
        import random

        random.Random(seed).shuffle(order)

    # The near-dup queries localCheckpoint small intermediates; those
    # blocks are only unpersisted when the driver GC runs the
    # ContextCleaner. 48 query executions without a GC tick let orphaned
    # blocks pile up in the block manager and distort later timings — so
    # collect garbage (py + JVM) after every execution, outside the timed
    # windows.
    def _gc_tick() -> None:
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    # Untimed warmup pass over EVERY headline query: JIT, parquet schema
    # inference (memoized per file by tables.py), page-cache reads and
    # broadcast machinery are one-time session costs, so the timed pass
    # measures warm steady-state throughput — the regime a long-lived
    # cluster runs in. Codegen is one-time only because session.py sizes
    # the generated-class cache to hold the battery (Spark's default of
    # 100 entries recompiled every pass); spark_codegen_compiles records
    # what each query's timed samples still compiled, 0 when warm.
    for name in order:
        fn = qs.get(name)
        if fn is not None:
            fn(spark, sf_dir).count()
            _gc_tick()

    # Median of 3 timed executions per query: this box's host occasionally
    # steals 2-3× wall-clock from one run (PERF.md documents the same code
    # at 2.6 s and 8.6 s minutes apart) — a single sample turns that noise
    # into the recorded number. The median discards one arbitrary stall
    # per query while still charging every real cost.
    n_samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3"))
    times: dict[str, float] = {}
    # Per-query MIN across the samples, recorded beside the median:
    # PERF.md's r11 calibration proved cross-run MIN is the host-noise-
    # free signal (theft only ever ADDS time), so the verdict can read
    # a code regression off min_times without a quiet-box census.
    min_times: dict[str, float] = {}
    compiles: dict[str, int] = {}
    total = 0.0
    for name in order:
        fn = qs.get(name)
        if fn is None:
            continue
        samples = []
        n = 0
        compiled = codegen_compiles(spark)
        for _ in range(n_samples):
            _gc_tick()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        dt = sorted(samples)[len(samples) // 2]
        times[name] = round(dt, 3)
        min_times[name] = round(min(samples), 3)
        compiles[name] = codegen_compiles(spark) - compiled
        total += dt
        print(
            f"# {name}: {dt:.3f}s median of {[round(s, 3) for s in samples]} ({n} rows)",
            file=sys.stderr,
        )

    # Pinned comparison point: the identical oracle SQL on single-process
    # DuckDB over the same parquet — the de-facto baseline this repo is
    # judged against. Recorded per-query so the ratio can be tracked
    # round-over-round.
    oracle_times: dict[str, float] = {}
    oracle_total = 0.0
    try:
        import duckdb

        oracles = entry_mod.oracle_sql()
        con = duckdb.connect()
        tables = "region nation customer supplier part orders lineitem events documents embeddings"
        for t in tables.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in order:
            sql = oracles.get(name)
            if sql is None:
                continue
            con.execute(sql).fetchall()  # warm (page cache, plan)
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            oracle_times[name] = round(dt, 3)
            oracle_total += dt
    except Exception as e:  # noqa: BLE001 — oracle timing is advisory
        print(f"# duckdb oracle timing skipped: {e}", file=sys.stderr)

    # FULL detail goes to a committed FILE, not the tail-captured stdout:
    # r7 put both per-query dicts on the final stdout line (~3.9 KB) and
    # the driver's 2000-char tail capture could no longer hold one complete
    # JSON line — BENCH_r07.json recorded "parsed": null and the round lost
    # its bench metric. The artifact contract is therefore split:
    #   * BENCH_DETAIL.json (repo root, committed) — full query names,
    #     Spark + DuckDB-oracle per-query seconds, per-query ratios, totals.
    #     This is what supports round-over-round RATIO tracking.
    #   * the FINAL stdout line — compact, hard-capped at TAIL_BUDGET chars
    #     so it always survives the driver's tail capture whole.
    detail = {
        "sf": sf,
        "unit": "sec",
        "battery_order_seed": seed,
        "spark_total_sec": round(total, 3),
        "spark_total_min_sec": round(sum(min_times.values()), 3),
        "duckdb_oracle_total_sec": round(oracle_total, 3),
        "spark_queries": times,
        "spark_queries_min": min_times,
        "spark_codegen_compiles": compiles,
        "duckdb_oracle_queries": oracle_times,
        "ratio_spark_over_oracle": {
            n: round(times[n] / oracle_times[n], 2)
            for n in times
            if oracle_times.get(n, 0) >= 0.005
        },
        "ratio_min_spark_over_oracle": {
            n: round(min_times[n] / oracle_times[n], 2)
            for n in min_times
            if oracle_times.get(n, 0) >= 0.005
        },
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:  # read-only checkout: detail is advisory
        print(f"# BENCH_DETAIL.json not written: {e}", file=sys.stderr)
    # Human-readable long line (stderr so it can never displace the final
    # stdout artifact line).
    print("# detail: " + json.dumps(detail, separators=(",", ":")), file=sys.stderr)

    # FINAL stdout line: see compact_line() — hard-capped so it always
    # survives the driver's tail capture whole (the r7 lesson above).
    print(compact_line(times, sf, total, oracle_total))


if __name__ == "__main__":
    main()
