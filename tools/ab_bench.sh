#!/bin/bash
# Same-window paired A/B of two graft checkouts on the registry bench.
#
#   tools/ab_bench.sh DIR_A LABEL_A DIR_B LABEL_B [PAIRS]
#
# Runs `graft.Bench` PAIRS times (default 2) from each checkout, alternating
# which side goes first (pair 1: A then B, pair 2: B then A, ...), so drift
# of the host over the session lands on both sides alike. Ref-retry is
# disabled on both sides (SPARK_GRAFT_BENCH_REF points at no file), so the
# medians are raw reads, comparable across the two binaries.
#
# Environment:
#   SPARK_GRAFT_CPUS        Spark cores, default $(nproc)
#   SPARK_GRAFT_BENCH_ONLY  comma-separated query subset (ONLY= is a synonym)
#   SPARK_GRAFT_SF_DIR      corpus directory, passed through to graft.Bench
#   OUT                     artifact directory, default ./bench_evidence
#
# Artifacts: $OUT/ab_<label>_c<cpus>_<pair>.json (the bench's JSON artifact)
# and $OUT/ab_<label>_c<cpus>_<pair>.log (its full output). graft.Bench
# itself writes bench_subset.json (subset runs) or bench_out_c<cpus>.json
# (full runs) in each checkout, over any copy committed there.
set -euo pipefail
if [ $# -lt 4 ]; then
  echo "usage: $0 DIR_A LABEL_A DIR_B LABEL_B [PAIRS]" >&2
  exit 2
fi
DIR_A=$(cd "$1" && pwd); LABEL_A=$2
DIR_B=$(cd "$3" && pwd); LABEL_B=$4
PAIRS=${5:-2}
OUT=$(mkdir -p "${OUT:-bench_evidence}" && cd "${OUT:-bench_evidence}" && pwd)

export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
export SPARK_GRAFT_BENCH_ONLY=${SPARK_GRAFT_BENCH_ONLY:-${ONLY:-}}
[ -n "$SPARK_GRAFT_BENCH_ONLY" ] || unset SPARK_GRAFT_BENCH_ONLY
export SPARK_GRAFT_BENCH_REF=/nonexistent-ab-no-ref
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

run_one() {
  local dir=$1 label=$2 pair=$3
  local name="ab_${label}_c${SPARK_GRAFT_CPUS}_${pair}" start
  start=$(date +%s)
  # A subset run writes bench_subset.json, a full run bench_out_c<cpus>.json.
  local artifact="bench_out_c${SPARK_GRAFT_CPUS}.json"
  [ -z "${SPARK_GRAFT_BENCH_ONLY:-}" ] || artifact=bench_subset.json
  echo "=== $label pair $pair start $(date +%T) ==="
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench") \
    > "$OUT/$name.log" 2>&1
  # Only an artifact this run wrote counts (the checkout may hold an old one).
  if [ "$(stat -c %Y "$dir/$artifact" 2>/dev/null || echo 0)" -lt "$start" ]; then
    echo "$label pair $pair: no fresh $artifact in $dir" >&2; exit 1
  fi
  cp "$dir/$artifact" "$OUT/$name.json"
  tail -n 1 "$OUT/$name.log"
  echo "=== $label pair $pair done $(date +%T) ==="
}

for pair in $(seq 1 "$PAIRS"); do
  if [ $((pair % 2)) -eq 1 ]; then
    run_one "$DIR_A" "$LABEL_A" "$pair"; run_one "$DIR_B" "$LABEL_B" "$pair"
  else
    run_one "$DIR_B" "$LABEL_B" "$pair"; run_one "$DIR_A" "$LABEL_A" "$pair"
  fi
done
echo "AB COMPLETE"
