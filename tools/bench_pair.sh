#!/bin/bash
# Paired cross-binary A/B — the round-18 drift protocol's cross-round form.
# Interleaves BenchOne JVMs over two classpaths (HEAD vs a baseline build,
# e.g. a worktree of the previous round's commit) so each adjacent A/B pair
# shares the same ~minute of host weather; the PAIRED ratios cancel the
# co-tenant CPU contention that makes raw cross-session wall-clock
# unreadable (BASELINE.md round-18: same binary 0.84-3.13 s over 90 min,
# paired ratios +/-15%).
#
# Usage: tools/bench_pair.sh BASE_CLASSES_DIR q105 [q106 ...]
#   BASE_CLASSES_DIR: target/scala-2.13/classes of the baseline checkout
#   env: SF (default sf0.1), REPS (A/B pairs per query, default 3),
#        RUNS (in-JVM BenchOne iterations, min taken, default 3),
#        SPARK_GRAFT_CPUS (cores for both arms, default nproc)
set -eo pipefail
BASE=$1; shift
SF=${SF:-/root/testdata/sf0.1}
REPS=${REPS:-3}
RUNS=${RUNS:-3}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
HEADCP=${HEADCP:-/root/repo/target/scala-2.13/classes}
# ORDER=BA runs the baseline arm first in each pair — flip it to cancel
# position bias (the first JVM of a session reads the parquet cold, and a
# fixed A-first order attributes that penalty to one arm; run AB then BA
# and read both medians)
ORDER=${ORDER:-AB}
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done

# Both arms get the same cores and the same 64 MB broadcast threshold: a
# baseline whose BenchOne builds its own session otherwise plans with its
# own core count and Spark's 10 MB default, and the ratio would measure the
# settings rather than the code (the system property only fills in what a
# session leaves unset).
one() { # one BenchOne JVM: $1=classes $2=query -> min steady-state seconds
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" java $ADD_OPENS -Xmx16g -Xms16g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.sql.autoBroadcastJoinThreshold=67108864 \
    -cp "$1:/opt/spark/jars/*" graft.BenchOne "$2" "$SF" "$RUNS" 2>/dev/null \
    | awk '/^run /{ if (min=="" || $3+0 < min) min=$3+0 } END { print min }'
}

for q in "$@"; do
  ratios=""
  for r in $(seq 1 "$REPS"); do
    if [ "$ORDER" = "BA" ]; then
      b=$(one "$BASE" "$q")   # baseline arm first
      a=$(one "$HEADCP" "$q") # HEAD arm, back-to-back with its pair
    else
      a=$(one "$HEADCP" "$q") # HEAD arm
      b=$(one "$BASE" "$q")   # baseline arm, back-to-back with its pair
    fi
    ratio=$(python3 -c "print(f'{$a/$b:.3f}')")
    echo "$q pair $r: head=${a}s base=${b}s paired_ratio=$ratio"
    ratios="$ratios $ratio"
  done
  python3 - "$q" $ratios <<'EOF'
import sys, statistics
q, rs = sys.argv[1], [float(x) for x in sys.argv[2:]]
print(f"{q} PAIRED MEDIAN head/base = {statistics.median(rs):.3f}  (pairs: {rs})")
EOF
done
