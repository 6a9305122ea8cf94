#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships with
Spark's jars. Classes go to .bench_build/classes/{main,bench}; a build is
skipped when the stamped source hash is unchanged.

Usage: python3 perfbench/build.py [repo_root]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar dir the sbt build uses (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(root, "build.sbt")).read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def jars(jar_dir):
    found = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return found


def sources(root, rel):
    out = []
    for d, _, files in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, jar_dir):
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(jar_dir, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    try:
        subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
                        "-d", out, "@" + argfile], check=True, stdout=sys.stderr)
    finally:
        os.remove(argfile)


def build(root):
    """Compile what changed; return the runtime classpath."""
    jar_dir = spark_jars(root)
    base = os.path.join(root, ".bench_build", "classes")
    main_out, bench_out = os.path.join(base, "main"), os.path.join(base, "bench")
    main_src = sources(root, "src/main/scala")
    bench_src = sources(root, "perfbench/src")
    if not main_src:
        raise SystemExit("no program sources under src/main/scala")
    for srcs, out, cp in ((main_src, main_out, jars(jar_dir)),
                          (bench_src, bench_out, [main_out] + jars(jar_dir))):
        stamp = os.path.join(out, ".stamp")
        want = digest(srcs) if out == main_out else digest(srcs) + digest(main_src)
        if os.path.exists(stamp) and open(stamp).read() == want:
            continue
        shutil.rmtree(out, ignore_errors=True)
        scalac(srcs, out, cp, jar_dir)
        with open(stamp, "w") as fh:
            fh.write(want)
    return [bench_out, main_out, os.path.join(jar_dir, "*")]


if __name__ == "__main__":
    print(":".join(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "."))))
