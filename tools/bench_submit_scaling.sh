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
#   * the walls are the ones tools/run_job.py reports: its "phases"
#     (kb_s, mentions_s, triples_s) and its total "sec".
#
# Each run's JSON line goes to stderr.  The last stdout line is one JSON
# summary: the pooled-min wall per phase for each core count and the
# efficiency (t_1 / t_NCPU) / NCPU per phase.  Exits non-zero if the
# triple count differs between any two runs.
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
RUNS=$(mktemp /tmp/scaling_runs.XXXXXX)
trap 'rm -f "$RUNS"' EXIT

run() {  # run <cores> <cpuset>
  local n=$1 cpuset=$2 out line
  out=$(mktemp -d /tmp/scaling_out.XXXXXX)
  echo "=== local[$n] cpuset=$cpuset $(date +%T)" >&2
  line=$(taskset -c "$cpuset" spark-submit --master "local[$n]" \
    --driver-memory 4g --py-files build/ner_spark.zip tools/run_job.py \
    --pages "$PAGES" --out "$out/o" --buckets 8 \
    ${EXTRA[@]+"${EXTRA[@]}"} 2>/dev/null | tail -1)
  rm -rf "$out"
  echo "$line" >&2
  echo "$n $line" >>"$RUNS"
}

for r in $(seq 1 "$ROUNDS"); do
  run 1 0
  run "$NCPU" "0-$((NCPU - 1))"
done

python - "$RUNS" "$PAGES" <<'PY'
import json
import sys

runs: dict[int, list[dict]] = {}
for line in open(sys.argv[1]):
    n, rec = line.split(" ", 1)
    runs.setdefault(int(n), []).append(json.loads(rec))
counts = {r["n_triples"] for rs in runs.values() for r in rs}
if len(counts) != 1:
    sys.exit(f"n_triples differs between runs: {sorted(counts)}")
walls = {n: {k: min({**r["phases"], "sec": r["sec"]}[k] for r in rs)
             for k in ("kb_s", "mentions_s", "triples_s", "sec")}
         for n, rs in sorted(runs.items())}
n_max = max(walls)
print(json.dumps({
    "pages": sys.argv[2], "rounds": len(runs[1]), "n_triples": counts.pop(),
    "walls": walls,
    "efficiency": {k: round(walls[1][k] / walls[n_max][k] / n_max, 3)
                   for k in walls[1]},
}))
PY
