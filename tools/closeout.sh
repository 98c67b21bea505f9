#!/bin/bash
# Close-out chain: every gate re-run on the closing tree, in sequence
# (one sbt at a time — the steps share target/).
#
#   GRAFT_TESTDATA=<root of sf0.001, sf0.01, sf0.1> \
#     tools/closeout.sh TAG [FIRST_STEP]
#
# Steps: 1 test suite, 2 cross-SF oracle (verify_all_sf.sh), 3 full
# reps=3 bench, 4 plan audit, 5 ingest soak, 6 locked-78 subset reps=3,
# 7 view-feed decade. FIRST_STEP (default 1) resumes a broken chain;
# a resumed chain appends to the same chain log. Logs go to
# /tmp/${TAG}_*, the two bench artifacts to BENCH_LOCAL_${TAG}_*.json.
set -u -o pipefail
TAG="${1:?usage: tools/closeout.sh TAG [FIRST_STEP]}"
FIRST="${2:-1}"
DATA="${GRAFT_TESTDATA:?set GRAFT_TESTDATA to the testdata root (holding sf0.001, sf0.01, sf0.1)}"
cd "$(dirname "$0")/.."
LOG="/tmp/${TAG}"
CHAIN="${LOG}_chain.log"
[ "$FIRST" -le 1 ] && : > "$CHAIN"

# The locked-78 subset: the relational, time-series, store and batch
# LLM queries whose timings every round compares against.
L78="q01_pricing_summary,q02_filter_case,q03_join_nation_revenue,q04_left_join_counts,q05_semi_join,q06_anti_join,q07_broadcast_brand,q08_distinct_agg,q09_rollup,q10_cube,q11_window_rank,q12_window_running,q13_topk_per_group,q14_intersect,q15_except,q16_union,q17_string_fns,q18_datetime_fns,q19_math_fns,q20_json_extract,q21_having,q22_orderby_limit,q23_cross_join,q24_full_outer,q25_range_join,q26_grouping_sets,q27_percentiles,q28_word_counts,q29_approx_distinct,q30_candles_1h,q31_resample_1d,q32_gaps,q33_vwap,q34_moving_agg,q35_sessionize,q36_daily_cum,q37_asof_join,q38_gapfill,q39_indicators,q40_store_upsert,q41_store_prune,q42_store_range,q43_map_json,q44_dedup_corpus,q45_quality_filter,q46_corpus_stats,q47_asof_tolerance,q48_asof_forward,q49_range_frame,q4A_first_last,q4B_pivot,q4C_unpivot,q4D_rank_dist,q4E_sliding_window,q4F_store_catalog,q4G_approx_percentile,q4H_edit_distance,q50_exact_dedup,q51_ngram_jaccard,q52_minhash_pairs,q53_simhash_pairs,q54_text_counts,q55_text_lang_fp,q56_topk_cosine,q57_embedding_stats,q58_cosine_neardup,q59_ivf_topk,q60_multimodal_features,q61_streaming_ingest,q62_ysf_roundtrip,q63_ivf_kmeans_recall,q64_bucketed_join,q65_image_decode,q66_doc_chunks,q67_hash_split,q68_repetition_stats,q6A_wav_decode,q6B_lsh_pairs_recall"

say() { echo "$*" | tee -a "$CHAIN"; }

step1() {
  sbt -batch test 2>&1 | tail -8 > "${LOG}_test.log"
  grep -E "Total number|succeeded|FAILED" "${LOG}_test.log" | tee -a "$CHAIN"
}

step2() {
  tools/verify_all_sf.sh "$DATA" "${LOG}_allsf" > "${LOG}_allsf.log" 2>&1
  say "verify_all_sf exit=$?"
  tail -5 "${LOG}_allsf.log" | tee -a "$CHAIN"
}

step3() {
  SPARK_GRAFT_SF_DIR="$DATA/sf0.1" SPARK_GRAFT_BENCH_REPS=3 \
    SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_${TAG}_final.json" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '^\[info\] {' \
    > "${LOG}_bench.log"
  say "bench exit=$? ($(wc -c < "${LOG}_bench.log") bytes)"
}

step4() {
  sbt -batch "runMain graft.tools.PlanAudit $DATA/sf0.01" \
    > "${LOG}_planaudit.log" 2>&1
  say "planaudit exit=$?"
}

step5() {
  sbt -batch "runMain graft.tools.IngestSoak 100 200 10" 2>/dev/null \
    | grep '\[ingsoak\]' > "${LOG}_soak.log"
  say "soak exit=$?"
  tail -20 "${LOG}_soak.log" | tee -a "$CHAIN"
}

step6() {
  SPARK_GRAFT_SF_DIR="$DATA/sf0.1" SPARK_GRAFT_BENCH_REPS=3 \
    SPARK_GRAFT_ONLY="$L78" \
    SPARK_GRAFT_BENCH_OUT="BENCH_LOCAL_${TAG}_locked78.json" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '^\[info\] {' \
    > "${LOG}_locked78.log"
  say "locked78 exit=$?"
}

step7() {
  sbt -batch "runMain graft.tools.ViewBench $DATA/sf0.1 feed-decade" \
    2>/dev/null | grep '"metric"' > "${LOG}_feeddecade.log"
  say "feed-decade exit=$?"
  tee -a "$CHAIN" < "${LOG}_feeddecade.log"
}

NAMES=("" "full test suite" "cross-SF gate" "full reps=3 bench" "plan audit"
  "ingest soak" "locked-78 subset reps=3" "view-feed decade")
for i in 1 2 3 4 5 6 7; do
  [ "$i" -lt "$FIRST" ] && continue
  say "=== [$i/7] ${NAMES[$i]} ==="
  "step$i"
done
say "=== CHAIN DONE ==="
