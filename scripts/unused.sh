#!/usr/bin/env bash
# List what src/main/scala declares or imports and never uses, per file:
# compiles it with the Scala compiler in Spark's jars (as perfbench/build.py
# does) with -Wunused:imports,privates,locals,implicits,params,patvars into
# a temporary directory, and prints those warnings grouped by file.
# Jars: $SPARK_HOME/jars, else the unmanagedBase of build.sbt.
# Usage: scripts/unused.sh
set -euo pipefail
cd "$(dirname "$0")/.."
SCALA=2.13.17
if [ -n "${SPARK_HOME:-}" ]; then JARS="$SPARK_HOME/jars"
else JARS=$(sed -n 's/.*unmanagedBase *:= *file("\([^"]*\)").*/\1/p' build.sbt); fi
[ -n "$JARS" ] && [ -d "$JARS" ] || { echo "no Spark jars: set SPARK_HOME" >&2; exit 1; }
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
find src/main/scala -name '*.scala' | sort > "$TMP/sources"
COMPILER="$JARS/scala-compiler-$SCALA.jar:$JARS/scala-library-$SCALA.jar:$JARS/scala-reflect-$SCALA.jar"
java -Xss8m -Xmx2g -cp "$COMPILER" scala.tools.nsc.Main \
  -Wunused:imports,privates,locals,implicits,params,patvars \
  -classpath "$(printf '%s:' "$JARS"/*.jar)" -d "$TMP" "@$TMP/sources" > "$TMP/log" 2>&1 || {
  cat "$TMP/log" >&2; exit 1; }
python3 - "$TMP/log" <<'PY'
import re, sys
from collections import defaultdict
found = defaultdict(list)
for line in open(sys.argv[1], encoding="utf-8", errors="replace"):
    m = re.match(r"^(.+\.scala):(\d+):(?:\d+:)? warning: (.*)$", line.rstrip("\n"))
    if m and re.search(r"[Uu]nused|never used|never updated", m.group(3)):
        found[m.group(1)].append((int(m.group(2)), m.group(3)))
for f in sorted(found):
    print(f"{f} ({len(found[f])})")
    for ln, msg in sorted(found[f]):
        print(f"  {ln}: {msg}")
print(f"{sum(map(len, found.values()))} findings in {len(found)} files")
PY
