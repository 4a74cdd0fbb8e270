#!/bin/bash
# Two-cluster-size scaling measurement, literal spark-submit --py-files form
# (north rule: throughput scaling efficiency >=0.8 from N to 4N executors;
# sandbox proxy: taskset-pinned 1 core vs every core on one box).
#
# Protocol (host-throttle discipline, see BASELINE.md):
#   * taskset -c 0 (1 core) vs taskset -c 0-$((NCPU-1)) (every core, from
#     nproc) — pinning is required: an unpinned local[1] JVM leaks host
#     parallelism (GC threads, parquet decode, Python workers) and unfairly
#     speeds the small config;
#   * interleaved rounds (1-vs-all, 1-vs-all, ...), pooled min-of-rounds —
#     external load only ever ADDS time;
#   * identical deterministic input (gen_pages_df: content is a function of
#     (seed, page id) only, independent of parallelism);
#   * efficiency = (t_1 / t_NCPU) / NCPU; triple count must be
#     bit-identical.
#
# Usage: tools/bench_submit_scaling.sh <pages.parquet> [rounds] [kb_artifact]
set -eu
cd "$(dirname "$0")/.."
PAGES=${1:?pages parquet}
ROUNDS=${2:-2}
KB_ART=${3:-}
NCPU=$(env -u OMP_NUM_THREADS nproc)
python tools/package.py >/dev/null
EXTRA=()
[ -n "$KB_ART" ] && EXTRA+=(--kb-artifact "$KB_ART")

run() {  # run <cpuset> <master> <tag>
  local cpuset=$1 master=$2 tag=$3 out
  out=$(mktemp -d /tmp/scaling_out.XXXXXX)
  echo "=== $tag cpuset=$cpuset master=$master $(date +%T)" >&2
  taskset -c "$cpuset" spark-submit --master "$master" --driver-memory 24g \
    --py-files build/ner_spark.zip tools/run_job.py \
    --pages "$PAGES" --out "$out/o" --buckets 8 --materialize-mentions \
    ${EXTRA[@]+"${EXTRA[@]}"} 2>/dev/null | tail -1
  rm -rf "$out"
}

for r in $(seq 1 "$ROUNDS"); do
  run 0 "local[1]" "pin1_r$r"
  run "0-$((NCPU - 1))" "local[$NCPU]" "pin${NCPU}_r$r"
done
