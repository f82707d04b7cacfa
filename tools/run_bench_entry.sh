#!/bin/bash
# Usage: run_bench_entry.sh <entry[,entry]> <cpus> <xmx> [outfile]
# Writes the bench's JSON result line to OUT only when java exits 0; the
# run's stderr goes to OUT.log (or target/bench_entry.log for stdout).
set -o pipefail
ENTRY="$1"; CPUS="${2:-32}"; XMX="${3:-8g}"; OUT="${4:-/dev/stdout}"
if [ "$OUT" = /dev/stdout ]; then LOG="target/bench_entry.log"; else LOG="$OUT.log"; fi
mkdir -p "$(dirname "$LOG")"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
RESULT="$(
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_BENCH_ONLY="$ENTRY" \
SPARK_GRAFT_BENCH_OUT="${BENCH_OUT:-target/bench_entry.json}" \
java $AO -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx$XMX -XX:ReservedCodeCacheSize=512m -XX:+TieredCompilation \
  -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100 \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench 2> >(tee "$LOG" >&2) | tail -1
)"
STATUS=$?
if [ $STATUS -ne 0 ]; then
  echo "run_bench_entry.sh: graft.Bench failed for '$ENTRY' (exit $STATUS); see $LOG" >&2
  exit $STATUS
fi
printf '%s\n' "$RESULT" > "$OUT"
