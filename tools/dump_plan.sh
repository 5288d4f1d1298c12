#!/bin/bash
# Dump explain("formatted") for one query. Usage: dump_plan.sh <query> <outfile> [sfdir]
set -e
Q=$1; OUT=$2; SF=${3:-/root/testdata/sf0.1}
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
# one core per shuffle partition, as perfbench runs; heap = half of RAM, clamped to 2-8 GB
CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
MEM=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)
SPARK_GRAFT_CPUS=$CPUS java $AO -Xmx$MEM -cp "$CP" graft.Explain "$Q" "$SF" 2>/dev/null \
  | sed -n '/== Physical Plan ==/,$p' > "$OUT"
wc -l "$OUT"
