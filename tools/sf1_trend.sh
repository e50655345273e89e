#!/bin/sh
# Per-round sf1 TREND artifact (VERDICT r6 #4): the light ~3-minute slice
# of the full 35-minute sf1 gate — plan-shape specs (ScaleSpec, incl. the
# AQE skew-join proof) plus heavy-query timings at sf1, written to
# BENCH_sf1_r<N>.json next to the driver's sf0.1 bench so an sf1-only
# plan regression (a join flipping to BNLJ, a 10x time blowup) can never
# ride a round unnoticed. Full oracle verification at sf1 stays in
# tools/sf1_gate.sh.
#
# Usage: sh tools/sf1_trend.sh <round-number> [sf1-dir]
set -e
ROUND=${1:?usage: sh tools/sf1_trend.sh <round-number> [sf1-dir]}
SF1=${2:-/tmp/graft_sf1}
cd "$(dirname "$0")/.."
# r16 (VERDICT r15 #2): BENCH_sf1_r15 predated the round's final commit —
# the trend evidence was one commit stale. Refuse a dirty tree so every
# sf1 artifact provably measures a committed state (Sweep stamps the
# HEAD hash inside the artifact as the cross-check). Override for dev
# iteration only with SPARK_GRAFT_ALLOW_DIRTY=1.
if [ -z "$SPARK_GRAFT_ALLOW_DIRTY" ] && [ -n "$(git status --porcelain)" ]; then
  echo "sf1_trend: working tree is dirty — commit first (or set" \
       "SPARK_GRAFT_ALLOW_DIRTY=1 for a dev run)" >&2
  exit 1
fi
if [ ! -f "$SF1/lineitem.parquet" ]; then
  python3 tools/gen_sf1.py /root/testdata/sf0.1 "$SF1"
fi
SPARK_GRAFT_SF1_DIR="$SF1" sbt -batch "testOnly graft.ScaleSpec"
# r10: extended with the r9 heavy additions (VERDICT r9 #3) — the
# byte-CDC oracle mode is O(len) md5 per doc, so sf1's longer documents
# are exactly where it either stays priced or surfaces super-linear —
# plus the KMV sketch build new in r10.
# r11: extended with the r10 graph family (VERDICT r10 #3) — wedge-join
# (j_ra_linkpred, post agg-before-anti re-plan) and per-round-join
# (j_label_propagation, j_pagerank_personalized) costs are the shapes
# that can step-change at 10x data — plus the composed pipeline chain.
# r13: extended with the r12 winnow/trim/tws family (VERDICT r12 #2 —
# never priced at sf1 before) plus the new suffix-rank ExactSubstr,
# whose log2(L) join rounds are exactly the shape to watch at 10x, and
# the streaming CDC/ivfpq gold read paths.
# r14: extended with the byte-grain twin (~5x positions — the grain
# where super-linearity would surface first), the incremental gram
# probe + sampled RA serves (both amortize frozen state in warmup),
# and the quarantine query (a 2^20-token giant must stay O(one doc)).
# r15: extended with the segmented giant (the 2^20-token doc now INSIDE
# the rank build — the entry where segment-cut overhead would surface)
# and the incremental trim serve (marks join + rebuild, no rank rounds).
# r16: extended with the segmented keep-first (decoded-argmin winner over
# the participating giant — the heaviest new shape) and the streaming
# ExactSubstr registry gold (per-batch gram state build × 3 batches).
# The three newly-fenced trim serves stay sf0.1-only (each re-pays a
# char/byte-grain build; the sf1 trend already carries that build via
# d_exact_substr_bytes).
HEAVY="q5_star_join,j3_closure_pairs,v_ivfpq_topk,d_minhash_lsh,q3_shipping_priority,j1_equi_normalized,a4_session_rollup,d_chunk_dedup,d_cdc_chunk_dedup,t_top_ngrams,q1_pricing_summary,j_pagerank,j_scd2_dimension,j_merge_apply,q8_market_share,d_byte_cdc_dedup,d_byte_cdc_gear,j_pagerank_incremental,a_exact_quantiles,d_incremental_components,a_kmv_cohort_overlap,j_triangle_count,a_topk_sliding,a_hist_sliding_quantiles,j_ra_linkpred,j_label_propagation,j_pagerank_personalized,p_pipeline_e2e,t_winnow_fingerprints,t_winnow_prod_hash,d_winnow_pairs,d_dup_span_fraction,d_dup_span_trim,w_stream_sessions_tws,w_stream_cdc_gold,d_exact_substr,d_exact_substr_trim,d_exact_substr_keepfirst,d_exact_substr_l200,d_exact_substr_bytes,d_exact_substr_incremental,d_exact_substr_quarantine,d_exact_substr_segmented,d_exact_substr_incr_trim,d_winnow_incremental,j_ra_linkpred_sampled,d_exact_substr_keepfirst_segmented,w_stream_exactsubstr_gold"
SPARK_GRAFT_ONLY="$HEAVY" SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Sweep $SF1 BENCH_sf1_r${ROUND}.json"
cat "BENCH_sf1_r${ROUND}.json"
