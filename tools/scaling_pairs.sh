#!/bin/bash
# N -> 4N scaling runner (v3 protocol): 1.6M-doc fixture, tmpfs for
# shuffle/segment spill (-Djava.io.tmpdir/-Dspark.local.dir=/dev/shm), heap
# 1.5 GB/core, AlwaysPreTouch, interleaved order, probe before every run.
# Appends one JSON line per run to OUT; LABEL tags the rows ("<LABEL>-<pair>",
# proto "v3-<LABEL>-tmpfs-<A>to<B>").
# Usage: tools/scaling_pairs.sh <levelA> <levelB> [N_PAIRS] [DOCS] [RUNS_PER_LEVEL] [OUT] [LABEL]
# Prereqs: /tmp/graft-cp.txt (the runtime classpath, one line) and
#   /tmp/calib/Calib.java (a copy of tools/Calib.java).
set -u
A=${1:-2}; B=${2:-8}; PAIRS=${3:-1}; DOCS=${4:-1600000}; RUNS=${5:-2}
OUT=${6:-"$(dirname "$0")/scaling_r06.jsonl"}; LABEL=${7:-r6}
CP=$(cat /tmp/graft-cp.txt)
TMPF="-Djava.io.tmpdir=/dev/shm/graft-tmp -Dspark.local.dir=/dev/shm/graft-tmp"
JBASE="-XX:+AlwaysPreTouch -XX:+UseTransparentHugePages $TMPF -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"

heap_for() { echo "$(( $1 * 1536 ))m"; }

probe() {
  local o1 f c
  o1=$(cd /tmp/calib && timeout 300 java Calib.java 2>/dev/null)
  f=$(sed -n 's/.*fault=\([0-9.]*\).*/\1/p' <<<"$o1")
  c=$(sed -n 's/.*cpu=\([0-9.]*\).*/\1/p' <<<"$o1")
  echo "${f:-99} ${c:-99}"
}

run_level() { # $1=cpus $2=heap
  local line
  line=$(SPARK_GRAFT_CPUS=$1 SPARK_GRAFT_CORPUS_DOCS=$DOCS \
    timeout 3600 java -Xms$2 -Xmx$2 $JBASE -cp "$CP" graft.tools.ScalingBench 2>/dev/null \
    | grep '"metric":"scaling_build_sec"' | tail -1)
  if [ -z "$line" ]; then echo "fail"; else
    python3 -c "import json,sys; print(json.loads(sys.argv[1])['value'])" "$line"
  fi
}

for pair in $(seq 1 "$PAIRS"); do
  if [ $((pair % 2)) -eq 1 ]; then ORDER="$A $B"; else ORDER="$B $A"; fi
  for cpus in $ORDER; do
    heap=$(heap_for "$cpus")
    for r in $(seq 1 "$RUNS"); do
      p=$(probe)
      t=$(run_level "$cpus" "$heap")
      [ "$t" = "fail" ] && t=-1
      echo "{\"pair\":\"$LABEL-$pair\",\"cpus\":$cpus,\"heap\":\"$heap\",\"build_sec\":$t,\"probe\":\"$p\",\"docs\":$DOCS,\"proto\":\"v3-$LABEL-tmpfs-${A}to${B}\"}" | tee -a "$OUT"
    done
  done
done
