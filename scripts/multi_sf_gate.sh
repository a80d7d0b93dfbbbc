#!/usr/bin/env bash
# Multi-scale correctness gate (r2, VERDICT next-round #8): run the full
# DuckDB-oracle gate at sf0.001 and sf0.01 to catch scale-dependent
# drift, plus a cheap-oracle subset at sf0.1 (the remaining sf0.1
# oracles are DuckDB-bound: brute-force fuzzy is ~2.5e9 pairs and the
# jaccard oracle ~25M list_intersects — the ENGINE side is exercised at
# sf0.1 by bench.py instead).
set -euo pipefail
cd "$(dirname "$0")/.."

python scripts/check_correctness.py /root/testdata/sf0.001
python scripts/check_correctness.py /root/testdata/sf0.01
python scripts/check_correctness.py /root/testdata/sf0.1 \
    text_langid train_split cap_per_lang price_quantiles ineq_gt_strings \
    ineq_band_strings dedup_exact text_stats multimodal_meta
# standing oracle-dtype gate (r7 verdict item 8): the pandas
# canonicalization class of mismatch (HUGEINT/DECIMAL -> float64)
# is invisible to the fetchall-based gate above — audit every oracle
python scripts/audit_oracle_dtypes.py /root/testdata/sf0.01
# standing streaming parity gate: every streaming operator replayed
# over micro-batches vs its batch twin vs a DuckDB oracle (sf0.001)
python scripts/streaming_parity.py

# standing 10x scaling gate (r9 verdict item 5): every NEW query of
# the round goes in this list; wall must stay within 3x of
# max(input growth, output growth) across sf0.01 -> sf0.1.  The
# second-decade (@sf1) probe for the pair-growth core runs per-round,
# not per-gate (see SCALING.md r10).
NEW_QUERIES="${SPARK_GRAFT_PROBE_QUERIES:-fuzzy_autoskew,ineq_band_autoskew,dedup_minhash,dedup_simhash,containment_quotes,winnow_fingerprints,fair_share,trimmed_stats,benford_audit,record_linkage,bitext_mine,minhash_eval_sampled,rollup_qsketch,winnow_long_grams,lm_perplexity_kn,ppl_buckets_kn,sketch_overlap,mmr_rerank,npmi_phrases,pii_ibans,simhash_eval}"
python scripts/scale_probe.py --queries "$NEW_QUERIES" \
    --sfs /root/testdata/sf0.01,/root/testdata/sf0.1 --max-ratio 3
echo "multi-sf gate: all green"
