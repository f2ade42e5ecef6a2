#!/usr/bin/env bash
# ≈sf10 (100× of sf0.1) SPOT sweep of the five most exchange-heavy
# document operators (VERDICT r12 task 3): the 10×-replica sweep caught
# an O-class bug in each of rounds 11-12 (O(G³) ngram repetition,
# editDedup's pre-cap materialization) — this probes the NEXT decade
# (500k docs) where the remaining ones would live.
#
# Only documents/embeddings replicate (the five operators read nothing
# else); the other tables copy through 1× so oracle view registration
# still works. Four operators byte-compare against DuckDB; the fifth —
# q_curation_pipeline — has a transitive-closure oracle that is
# quadratic in the replica corpus by construction (the standing
# replica-exclusion tier), so it runs timed + row-sanity only.
#
# Per-operator wall times print as `[verify] <name> ok in N s` lines —
# record them in SURVEY §6.
#
# Usage: scripts/spot_sweep_sf10.sh [replicas] [srcDir] [repDir] [dumpDir]
set -euo pipefail
cd "$(dirname "$0")/.."

REPLICAS="${1:-100}"
SRC="${2:-/root/testdata/sf0.1}"
REP="${3:-/tmp/sf_rep100}"
DUMP="${4:-/tmp/verify_rep100}"

ORACLED="q_syndication q_dedup_scorecard q_boilerplate q_dedup_edit"

echo "[spot] generating ${REPLICAS}x documents/embeddings replica of $SRC -> $REP"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.ReplicaGen $REPLICAS $SRC $REP only:documents,embeddings"

echo "[spot] dumping the byte-comparable four on the replica"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.Verify $REP $DUMP $ORACLED"

echo "[spot] byte-strict oracle compare"
python3 scripts/check_oracle.py "$REP" "$DUMP"

echo "[spot] timing q_curation_pipeline (closure oracle excluded by design)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  sbt -batch "runMain graft.Verify $REP $DUMP/pipeline q_curation_pipeline"
python3 - "$DUMP/pipeline" <<'EOF'
import sys
import pyarrow.parquet as pq
t = pq.ParquetDataset(sys.argv[1] + "/q_curation_pipeline").read()
assert t.num_rows > 0, "pipeline emitted zero rows at sf10"
print(f"[spot] q_curation_pipeline rows={t.num_rows} (sanity OK)")
EOF
echo "[spot] done"
