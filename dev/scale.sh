#!/bin/bash
# The scale ritual: the sf0.1 bench, then graft.ScaleBench at each factor
# (default 80 20 10; the first one is the record leg) with the IVF
# quantizer budget capped, then the RProbe dispatch statistic. Records
# land in dev/records/ under <tag>; the run's configuration (git sha,
# heap, cores, IVF cap, factors) goes to dev/records/scale_config_<tag>.json
# first, so a leg that dies still leaves its heap on record.
#
#   dev/scale.sh <tag> [factors...]      e.g. dev/scale.sh 158q_r20 80 20
#
# SPARK_DRIVER_MEM (the forked JVM's -Xmx), SPARK_GRAFT_CPUS and
# SPARK_GRAFT_IVF_K_CAP are read from the environment when set.
set -euo pipefail
tag=${1:?usage: dev/scale.sh <tag> [factors...]}
shift
[ $# -gt 0 ] || set -- 80 20 10
cd "$(dirname "$0")/.."

export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-8g}   # build.sbt's default -Xmx
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
cap=${SPARK_GRAFT_IVF_K_CAP:-64}
rec=dev/records
logs=target/scale_logs
mkdir -p "$rec" "$logs"

sha=$(git rev-parse HEAD)
git diff --quiet HEAD || sha="$sha-dirty"
cat > "$rec/scale_config_$tag.json" <<JSON
{"tag":"$tag","git_sha":"$sha","started":"$(date -u +%FT%TZ)","xmx":"$SPARK_DRIVER_MEM","cpus":$SPARK_GRAFT_CPUS,"ivf_k_cap":$cap,"factors":[$(IFS=,; echo "$*")],"method":"warm-up pass, then median of 3 timed passes"}
JSON

echo "=== bench sf0.1 $(date +%T)"
sbt -batch "runMain graft.Bench" > "$logs/bench_$tag.log" 2>&1
cp target/bench.json "$rec/bench_sf0.1_$tag.json"
cp target/bench_passes.json "$rec/bench_passes_sf0.1_$tag.json"
for f in "$@"; do
  echo "=== ${f}x cap$cap $(date +%T)"
  SPARK_GRAFT_SCALE_FACTOR=$f SPARK_GRAFT_IVF_K_CAP=$cap \
    sbt -batch "runMain graft.ScaleBench" > "$logs/scale_${f}x_$tag.log" 2>&1
  cp target/scale_bench.json "$rec/scale_bench_${f}x_cap${cap}_$tag.json"
done
echo "=== rprobe $(date +%T)"
sbt -batch "Test/runMain graft.RProbe" 2>/dev/null | grep RPROBE \
  | tee "$rec/rprobe_$tag.txt" || true
echo "=== done $(date +%T)"
