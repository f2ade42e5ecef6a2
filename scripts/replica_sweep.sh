#!/usr/bin/env bash
# 10x-replica byte-strict scale sweep (SURVEY §6; VERDICT r11 task 7:
# run after every operator batch, not once at round end).
#
# Generates a key-shifted 10x copy of sf0.1 (~sf1: 6M lineitem, 1M
# ticks, 50k docs, 20k vectors), dumps every SQL-oracled query on it,
# and byte-compares against DuckDB. The skip list below is the
# documented REPLICA-EXCLUSION TIER — queries whose DUCKDB ORACLE is
# quadratic in the replica corpus by construction (all-pairs embedding
# baselines, transitive-closure CTEs, and the gates/miners whose
# oracles embed that SQL). Their Spark sides are candidate-bounded and
# hash-verified at sf0.001/0.01/0.1 instead; the production LSH/IVF
# duals of each ARE in the sweep. Keep this list in sync with
# SURVEY §6's "EXCLUDED by design" narrative.
#
# Usage: scripts/replica_sweep.sh [replicas] [srcDir] [repDir] [dumpDir]
set -euo pipefail
cd "$(dirname "$0")/.."

REPLICAS="${1:-10}"
SRC="${2:-/root/testdata/sf0.1}"
REP="${3:-/tmp/sf_rep10}"
DUMP="${4:-/tmp/verify_rep10}"

SKIP=(
  # all-pairs / closure verify-scale baselines (quadratic DuckDB dual)
  q_dedup_embedding q_dedup_clusters q_dedup_clusters_incr
  q_dedup_cluster_stats q_triplet_mine
  q_dedup_canonical q_dedup_canonical_incr
  q_dedup_canonical_quality q_dedup_canonical_quality_incr
  q_source_overlap q_curation_pipeline q_curation_funnel
  q_data_split_cluster q_split_leakage q_knn_classify
  # gates whose ORACLE composes the same all-pairs/closure SQL
  q_embed_dedup_gate q_lsh_refine_gate q_triplet_hard_gate
  # round 12: exact bitext miner + its gate (X x Y quadratic oracle)
  q_bitext_margin q_bitext_gate
)
SKIP_ARGS=""
for q in "${SKIP[@]}"; do SKIP_ARGS+=" skip:$q"; done

echo "[sweep] generating ${REPLICAS}x replica of $SRC -> $REP"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.ReplicaGen $REPLICAS $SRC $REP"
echo "[sweep] dumping SQL-oracled queries on the replica"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.Verify $REP $DUMP sqlonly$SKIP_ARGS"
echo "[sweep] byte-strict oracle compare"
python3 scripts/check_oracle.py "$REP" "$DUMP"
