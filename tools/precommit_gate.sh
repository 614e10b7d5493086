#!/usr/bin/env bash
# The full local correctness gate — run before any commit that touches
# queries, oracles, or operators. Mirrors what the driver grades plus
# the two surfaces the driver can't see (second SF, degenerate data):
# 354 of the 404 registry queries are NOT in the driver's fixed 50-key
# snapshot, so this script is the only thing standing between an edit
# to one of them and a silently-shipped regression.
#
# Usage: tools/precommit_gate.sh [quick|full-sf01]
#   quick     — reachability audit + sf0.01 registry + pytest only
#               (inner-loop edits);
#   full-sf01 — launch the ~17-min sf0.1 full-registry sweep DETACHED
#               (nohup; outlives tool timeouts) and exit; log + verdict
#               land in /tmp/sweep_sf01.log — REQUIRED whenever a new
#               rounded aggregate or oracle lands (sf0.1 rolls
#               different rounding-boundary dice than the small
#               fixtures; caught 2 real splits in r6);
#   default runs all three SFs + the global-window audit.
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-full}" == "full-sf01" ]]; then
  echo "== detaching sf0.1 full-registry sweep (~17 min) =="
  nohup python tools/check_oracle.py --sf /root/testdata/sf0.1 \
    > /tmp/sweep_sf01.log 2>&1 &
  echo "pid $! — tail -1 /tmp/sweep_sf01.log for the verdict"
  exit 0
fi

echo "== reachability audit (no package def only tests reach) =="
python tools/audit_reachability.py

echo "== oracle gate @ sf0.01 =="
python tools/check_oracle.py

echo "== pytest =="
python -m pytest tests/ -q

if [[ "${1:-full}" != "quick" ]]; then
  echo "== oracle gate @ sf0.001 (different rounding-boundary dice) =="
  python tools/check_oracle.py --sf /root/testdata/sf0.001

  echo "== degenerate sweep (1-row tables, ties, zero vectors) =="
  python tools/make_degenerate.py
  python tools/check_oracle.py --sf /tmp/spark_graft_degenerate

  echo "== seed-randomized fixture sweep (fresh rounding dice) =="
  # a NEW seed every run: r6/r7 caught a real cross-engine split on
  # every fresh dataset; the seed is printed so a catch reproduces
  python tools/make_random_fixture.py
  python tools/check_oracle.py --sf /tmp/spark_graft_randfix

  echo "== distributed fallbacks (SPARK_GRAFT_PLACEMENT=distributed) =="
  # every driver fast path goes through placement.bounded_collect, and
  # the fixtures all fit under its caps — so without these sweeps no
  # distributed fallback would run at gate time and one could rot
  # behind its fast path. Same oracle hash must hold on every path.
  # `distributed` turns off every driver-level collect (NN-descent
  # build + beam probe, merge loop, Bradley-Terry, K-NN Shapley,
  # unigram seed/EM/encode, near-dup components); the beam probe then
  # takes its hop-fused broadcast path (BSP), and the unigram family
  # runs its driver Viterbi kernels in mapInPandas over the words.
  SPARK_GRAFT_PLACEMENT=distributed python tools/check_oracle.py \
    --sf /root/testdata/sf0.001 ann_nndescent_recall ann_tombstone_search \
    bpe_bytelevel_train wordpiece_train bradley_terry knn_shapley \
    unigram_lm_train unigram_lm_encode dedup_clusters dedup_drop

  echo "== per-hop join-cascade beam probe (SPARK_GRAFT_PLACEMENT=cascade) =="
  # `cascade` also turns off the broadcast-level collect, so the beam
  # probe runs the per-hop join cascade — the final fallback when the
  # index artifact exceeds the broadcast caps.
  SPARK_GRAFT_PLACEMENT=cascade python tools/check_oracle.py \
    --sf /root/testdata/sf0.001 ann_nndescent_recall ann_tombstone_search

  echo "== global-window audit =="
  python tools/audit_global_windows.py
fi

echo "== gate PASSED =="
