#!/bin/bash
# Cross-core determinism check: run graft.Verify at SPARK_GRAFT_CPUS=4
# and at =2 over one testdata scale, then compare the two dumps query by
# query with tools/parity.py --against (exit 1 on any difference). The
# core count sets the shuffle partitions, so equal dumps show that no
# query's result depends on how its rows are partitioned or ordered
# across tasks.
#
# Usage: bash tools/parity_cores.sh <sfDir> [outRoot]
#   sfDir    testdata scale to verify (a directory of the input parquet)
#   outRoot  directory for the two dumps (default target/parity_cores);
#            the dumps land in <outRoot>/cpus4 and <outRoot>/cpus2
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:?usage: tools/parity_cores.sh <sfDir> [outRoot]}
OUT=${2:-target/parity_cores}

for cpus in 4 2; do
  rm -rf "$OUT/cpus$cpus"
  mkdir -p "$OUT"
  echo "== Verify at SPARK_GRAFT_CPUS=$cpus -> $OUT/cpus$cpus"
  SPARK_GRAFT_CPUS=$cpus sbt -batch "runMain graft.Verify $SF $OUT/cpus$cpus" 2>&1 \
    | grep -E '\[verify\]|Total time' || true
  if [ "$(cat "$OUT/cpus$cpus/_failed.json" 2>/dev/null)" != "{}" ]; then
    echo "!! Verify at $cpus cores failed or produced no dump"; exit 1
  fi
done
python3 tools/parity.py "$OUT/cpus4" --against "$OUT/cpus2"
