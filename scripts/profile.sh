#!/usr/bin/env bash
# Profile one perfbench run with Java Flight Recorder and print the top
# inclusive frames of Spark's executor task threads and of the streaming
# query's thread. Builds first (perfbench/build.py), then runs
#   python3 perfbench/run.py --workload <workload> --seed <seed> --seconds 10
# with JAVA_TOOL_OPTIONS starting a recording of execution samples every
# 1 ms in the run's JVM, so the benchmark itself is not edited. The whole
# run is sampled: set-up, drain and live phase (the driver-side reference
# check runs on other threads and is not counted).
# Usage: scripts/profile.sh <workload> <seed> [top] [regex]
# With a regex, only the frames it finds are listed (e.g. 'Json|Snapshot').
# The recording is kept under .perfbench_profile/<workload>-<seed>/.
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 2 ] || { echo "usage: $0 <workload> <seed> [top] [regex]" >&2; exit 2; }
WORKLOAD="$1"; SEED="$2"; TOP="${3:-30}"; ONLY="${4:-}"
OUT="$PWD/.perfbench_profile/$WORKLOAD-$SEED"
rm -rf "$OUT"; mkdir -p "$OUT"
cat > "$OUT/cpu-1ms.jfc" <<'JFC'
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="execution samples every 1 ms">
  <event name="jdk.ExecutionSample">
    <setting name="enabled">true</setting>
    <setting name="period">1 ms</setting>
  </event>
</configuration>
JFC
python3 perfbench/build.py > /dev/null
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$OUT/,settings=$OUT/cpu-1ms.jfc,dumponexit=true,maxsize=0 -XX:FlightRecorderOptions=stackdepth=512" \
  python3 perfbench/run.py --workload "$WORKLOAD" --seed "$SEED" --seconds 10 > "$OUT/run.out" 2> "$OUT/run.err" \
  || { echo "perfbench run failed, see $OUT/run.err" >&2; exit 1; }
tail -n 1 "$OUT/run.out"
for rec in "$OUT"/*.jfr; do java scripts/JfrTop.java "$rec" "$TOP" "$ONLY"; done
