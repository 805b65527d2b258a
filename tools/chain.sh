#!/bin/bash
# Evidence chain: Verify → DuckDB scale gate → streaming soak → bench,
# run one after another so no step contends with another for the sbt
# build lock or the cores, and every number is a quiet-host one.
#
# Usage: tools/chain.sh <tag> <sfDir> [q1,q2,...]
#   <tag>     artifact label ending in r<round>, e.g. SF1_r19; writes
#             GATE_SCALE_<tag>.json, SOAK_<tag>.json and BENCH_<tag>.json
#             in the repo root
#   subset    SPARK_GRAFT_ONLY for the Verify dump, the gate and the
#             bench (e.g. a heavy subset at sf10, where a full Verify
#             runs for hours); all registered queries when omitted
# SPARK_GRAFT_CPUS (default 4) is the local core count of every step.
# Logs and the Verify dump go to ${TMPDIR:-/tmp}/chain_<tag>_*.
set -u
if [ $# -lt 2 ]; then
  sed -n '6,14p' "$0"; exit 2
fi
TAG=$1 SF_DIR=$2 SUBSET=${3:-}
ROUND=${TAG##*r}
if [[ $TAG != *r* || ! $ROUND =~ ^[0-9]+$ ]]; then
  echo "tag must end in r<round>: $TAG" >&2; exit 2
fi
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4}
cd "$(dirname "$0")/.."
TMP=${TMPDIR:-/tmp}/chain_$TAG
STAMP() { date -u +%H:%M:%SZ; }

echo "=== [$(STAMP)] step 1: Verify ==="
env ${SUBSET:+SPARK_GRAFT_ONLY="$SUBSET"} sbt -batch "runMain graft.Verify $SF_DIR ${TMP}_verify" \
  > "${TMP}_verify.log" 2>&1
echo "verify exit=$?"
cat "${TMP}_verify/failed.json"; echo

echo "=== [$(STAMP)] step 2: DuckDB scale gate ==="
python3 tools/gate_scale.py "$SF_DIR" "${TMP}_verify" \
  "GATE_SCALE_$TAG.json" 600 4 > "${TMP}_gate.log" 2>&1
echo "gate exit=$?"
tail -5 "${TMP}_gate.log"

echo "=== [$(STAMP)] step 3: streaming soak ==="
sbt -batch "runMain graft.StreamSoak SOAK_$TAG.json" > "${TMP}_soak.log" 2>&1
echo "soak exit=$?"
grep "\[soak\]" "${TMP}_soak.log"

echo "=== [$(STAMP)] step 4: bench (2 runs) ==="
python3 tools/bench_local.py "$ROUND" 2 "$SF_DIR" "$SPARK_GRAFT_CPUS" \
  "BENCH_$TAG.json" "$SUBSET" > "${TMP}_bench.log" 2>&1
echo "bench exit=$?"
tail -3 "${TMP}_bench.log"

echo "=== [$(STAMP)] chain done ==="
