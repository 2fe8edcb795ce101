#!/bin/bash
# Scale-curve runner: one fresh JVM per gate (the merge_scale.py
# contract), tiers sf0.1 -> x10 -> x100, 50-min hard cap per gate; a
# timed-out gate leaves no JSON line, which merge_scale.py surfaces as a
# missing gate. Two campaigns:
#
#   tools/run_scale.sh [out]                  # adversarial-replicated lake
#   FRESH=1 tools/run_scale.sh out.fresh      # growing-cardinality lake
#
# GATES="a b ..." overrides either list. /tmp/graft_cp.txt holds the
# runtime classpath, e.g.
#   sbt -batch "export Runtime/fullClasspath" | tail -1 > /tmp/graft_cp.txt
#
# Why each list:
#  - adversarial: the corpus-sized dedup, entity and ANN/embedding gates
#    plus q21_waiting_orders (merge_scale.py's x10 calibration cell).
#    ANN/embedding gates run their SCALED variants, the operating points
#    whose knobs derive from the corpus count; ann_ivf_sq8_persisted
#    expands to build/query cells, and ann_ivf_sq8_append times a fixed
#    2k-vector delta onto the tier's index (cost must track the delta).
#  - growing-cardinality: the two gates whose x100 growth was traced to
#    the replicated lake's fixed cents/letters cardinality
#    (q_golden_record, dedup_clusters) plus the two corpus-sized scans
#    (dedup_substring, ann_sq8_rerank); on a lake whose cardinality grows
#    with n their cells must read near-linear.
set -u
OUT=${1:-/tmp/scale_curve.out}
: > "$OUT"
CP="$(cat /tmp/graft_cp.txt)"
FRESH=${FRESH:-0}
if [ "$FRESH" = "1" ]; then
  DEFGATES="q_golden_record dedup_clusters dedup_substring ann_sq8_rerank"
else
  DEFGATES="dedup_minhash_clusters dedup_clusters dedup_minhash_lsh dedup_minhash_eval q_golden_record q21_waiting_orders dedup_prefix_filter ann_ivf_pq_trained_rerank_scaled ann_ivf_sq8_rerank ann_ivf_sq8_persisted ann_ivf_sq8_append ann_knn_join_scaled emb_knn_components_scaled dedup_substring ann_sq8_rerank"
fi
GATES=${GATES:-$DEFGATES}
for g in $GATES; do
  echo "[runner] $g start $(date +%T)" >&2
  SPARK_GRAFT_CURVE_ONLY="$g" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_CURVE_ITERS=2 \
    SPARK_GRAFT_CURVE_FRESH="$FRESH" \
    timeout 3000 java -Xmx64g -cp "$CP" graft.ScaleCurve 10,100 \
    >> "$OUT" 2>/tmp/scale_curve_${FRESH}_$g.err
  echo "[runner] $g exit=$? $(date +%T)" >&2
done
