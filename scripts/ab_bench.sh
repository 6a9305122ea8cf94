#!/usr/bin/env bash
# Interleaved A/B bench: alternate two compiled class trees through
# graft.Bench on the same sf dir, N reps each, so slow box-noise drift
# hits both sides equally. Usage:
#   scripts/ab_bench.sh <classesA> <classesB> <reps> <outPrefix>
# Emits <outPrefix>_{a,b}_<i>.json
set -euo pipefail
cd "$(dirname "$0")/.."
A="$1"; B="$2"; REPS="$3"; OUT="$4"
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
  java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
FLAGS+=(--add-opens "java.base/sun.nio.ch=ALL-UNNAMED" \
  --add-opens "java.base/sun.nio.cs=ALL-UNNAMED" \
  --add-opens "java.base/sun.security.action=ALL-UNNAMED" \
  --add-opens "java.base/sun.util.calendar=ALL-UNNAMED")
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
for i in $(seq 1 "$REPS"); do
  for side in a b; do
    cp="$A"; [ "$side" = b ] && cp="$B"
    echo "[ab] rep $i side $side" >&2
    java "${FLAGS[@]}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Xmx8g -cp "$cp:/opt/spark/jars/*" graft.Bench \
      > "${OUT}_${side}_${i}.json" 2> "${OUT}_${side}_${i}.err" || echo "[ab] FAILED $side $i" >&2
  done
done
