#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload many_keys --seed 1 --seconds 10 --trace 0

Builds the program (perfbench/build.py), generates the workload's inputs from
--seed inside a private run root, runs the measured JVM (graft.perfbench.Main),
checks the outputs, deletes the run root and prints the result as the last
line of stdout. The line before it is the run record: output hash, mcc, exact
counts and the environment stamp. Exits 1 if the outputs are wrong.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("many_keys", "drift_adapt")
END_TO_END = {
    "setup_s": "s", "cpu_ms_per_kevent": "ms", "ok_ratio": "ratio", "heap_live_mb": "MB",
}
PER_LAYER = {
    "throughput_eps": "1/s", "lat_p50_ms": "ms", "live_batch_cpu_ms": "ms", "setup.wall_s": "s",
    "mb.latest_offset_ms": "ms", "mb.query_planning_ms": "ms", "mb.add_batch_ms": "ms",
    "mb.wal_commit_ms": "ms", "mb.commit_offsets_ms": "ms", "mb.trigger_p50_ms": "ms",
    "mb.trigger_p90_ms": "ms", "mb.batches": "count",
    "ingest.get_batch_ms": "ms", "ingest.rows": "count",
    "state.rows_total": "count", "state.rows_updated": "count", "state.memory_mb": "MB",
    "state.all_updates_ms": "ms", "state.commit_ms": "ms",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "task.run_ms": "ms", "task.gc_ms": "ms",
    "task.skew": "ratio",
    "runtime.step_eps": "1/s", "runtime.detections": "count", "runtime.forecasts": "count",
    "adapt.collect_ms": "ms", "adapt.read_ms": "ms", "adapt.train_ms": "ms",
    "adapt.opt_step_ms": "ms", "adapt.finalise_ms": "ms", "adapt.load_ms": "ms",
    "adapt.table_ms": "ms", "adapt.stall_ms": "ms", "adapt.publish_p50_s": "s",
    "adapt.reports": "count", "adapt.retrains": "count", "adapt.optimizations": "count",
    "adapt.opt_steps": "count", "adapt.swaps": "count", "adapt.paused_events": "count",
    "setup.session_s": "s", "setup.compile_ms": "ms", "setup.train_ms": "ms",
    "setup.first_batch_s": "s",
    "quality.mcc": "mcc",
    "gate.total_s": "s", "gate.batches": "count", "gate.slices_s": "s",
    "gate.cef22_s": "s", "gate.cef28_s": "s", "gate.cef38_s": "s", "gate.cef40_s": "s",
    "gate.cef43_s": "s", "gate.cef54_s": "s",
    "gen.late_p99_ms": "ms", "calib_s": "s",
}
HEAP = "3g"
# one C1 and one C2 compiler thread: with the default (up to three C2 threads
# added while the JIT is busy) the JVM ran more busy threads than the machine
# has cores during the whole measured run. The threads must also live as long
# as the JVM, since the CPU-time metrics leave their time out (Env.cpuMs).
JIT = ["-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads"]
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# names the checkout may gain while a run is under way; anything else is a leak
OWN_DIRS = {".bench_build", ".perfbench_run", ".perfbench_traces"}


def events_table(seed, rows, path):
    """An sf0.01-shaped `events` table: ids 0..rows-1 in time order over 30
    days, 150 users, five event types, skewed values, a small JSON payload."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(259.2, rows)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("int64")
    types = np.array(["click", "error", "purchase", "signup", "view"])
    value = np.round(np.maximum(rng.lognormal(3.45, 1.0, rows), 0.01), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, rows, dtype="int64")),
        "event_type": pa.array(types[rng.integers(0, 5, rows)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def check_gates(gates_dir, tables_dir):
    """Compare each gate's rows with its DuckDB oracle: columns by name, rows
    sorted, values exact. Returns (ok, bad names)."""
    import duckdb
    import numpy as np
    oracle = json.load(open(os.path.join(gates_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tables_dir}/events.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    ok, bad = 0, []
    for name, sql in sorted(oracle.items()):
        got = canon(con.sql(f"SELECT * FROM '{gates_dir}/{name}/*.parquet'").df())
        exp = canon(con.sql(sql).df())
        same = list(got.columns) == list(exp.columns) and len(got) == len(exp)
        for c in got.columns if same else []:
            g, e = got[c], exp[c]
            if g.dtype.kind != e.dtype.kind:
                same = False
            elif g.dtype.kind == "f":
                same = same and np.array_equal(g.values, e.values, equal_nan=True)
            else:
                same = same and g.astype(str).equals(e.astype(str))
        if same:
            ok += 1
        else:
            bad.append(name)
    return ok, bad


def scaffold_leftovers(pid, bases):
    """Streaming-scaffold dirs the finished JVM still owns (its pid marker)."""
    found = []
    for base in bases:
        for name in os.listdir(base) if os.path.isdir(base) else []:
            marker = os.path.join(base, name, ".graft-owner.pid")
            try:
                if name.startswith("graft-") and open(marker).read().strip() == str(pid):
                    found.append(os.path.join(base, name))
            except OSError:
                pass
    return found


def self_times(spans):
    """Per layer (the span name up to its first dot): total and self time,
    where self time leaves out the part covered by spans nested inside."""
    spans = sorted(spans, key=lambda x: (x[1], -x[2]))
    table = {}
    for i, (name, start, dur) in enumerate(spans):
        end, child = start + dur, 0.0
        for other, s2, d2 in spans[i + 1:]:
            if s2 >= end:
                break
            if s2 + d2 <= end and other.split(".")[0] != name.split(".")[0]:
                child += d2
        row = table.setdefault(name.split(".")[0], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["calls"] += 1
        row["total_ms"] += dur
        row["self_ms"] += dur - child
    return dict(sorted(table.items()))


def write_trace(repo, args, result):
    """Spans, the per-layer self-time table and the MCC series of a traced run."""
    out = os.path.join(repo, ".perfbench_traces", f"{args.workload}-seed{args.seed}")
    os.makedirs(out, exist_ok=True)
    spans = result["trace"].get("spans", [])
    table = self_times(spans)
    with open(os.path.join(out, "trace.json"), "w") as fh:
        json.dump({"spans": spans, "gate_spans": result["trace"].get("gate_spans", []),
                   "self_time": table, "gate_self_time": self_times(result["trace"].get("gate_spans", [])),
                   "mcc_series": result["trace"].get("mcc_series", []),
                   "latency_ms": result["record"]["live_latency_ms"],
                   "traced_e2e": result["e2e"]}, fh)
    with open(os.path.join(out, "layers.txt"), "w") as fh:
        fh.write(f"{'layer':12s} {'calls':>6s} {'total_ms':>12s} {'self_ms':>12s}\n")
        for k, v in table.items():
            fh.write(f"{k:12s} {v['calls']:6d} {v['total_ms']:12.1f} {v['self_ms']:12.1f}\n")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", type=int, choices=(0, 1), default=0,
                    help="drop one output row and alter another (checker self-test)")
    ap.add_argument("--held-out-seed", type=int, default=None,
                    help="seed reserved for confirming claims; noted in the record")
    args = ap.parse_args()

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "src", "main", "scala")):
        sys.exit(f"no program sources in {repo}: run from the root of a checkout")
    classpath = build.build(repo)

    before = set(os.listdir(repo))
    root = os.path.join(repo, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--inject", str(args.inject), "--root", root]
        if args.workload == "many_keys" and args.trace:
            # the traced run also measures the queries layer (streaming gates)
            tables = os.path.join(root, "tables")
            events_table(args.seed, 10000, os.path.join(tables, "main", "events.parquet"))
            events_table(args.seed + 1, 1000, os.path.join(tables, "warm", "events.parquet"))
            jvm_args += ["--tables", tables]
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Dperfbench.heap={HEAP}"] + JIT +
               [f"-Djava.io.tmpdir={root}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
               + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", ":".join(classpath), "graft.perfbench.Main"] + jvm_args)
        log = os.path.join(root, "jvm.log")
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0:
            sys.stderr.write(open(log).read()[-6000:])
            sys.exit(f"benchmark JVM failed: {code}")
        result = json.load(open(os.path.join(root, "result.json")))

        attempted, failed, correct = result["attempted"], result["failed"], result["correct"]
        record = result["record"]
        if os.path.isdir(os.path.join(root, "gates")):
            ok, bad = check_gates(os.path.join(root, "gates"), os.path.join(root, "tables", "main"))
            record["gate_sweep"]["oracle_ok"] = ok
            record["gate_sweep"]["oracle_mismatch"] = bad
            correct = correct and not bad
        leftovers = scaffold_leftovers(proc.pid, [os.path.join(root, "tmp"), "/dev/shm"])
        leftovers += sorted(set(os.listdir(repo)) - before - OWN_DIRS)
        record["leftovers"] = leftovers
        correct = correct and not leftovers
        record["held_out_seed"] = args.held_out_seed
        record["seconds"] = args.seconds
        if args.trace:
            record["trace_dir"] = write_trace(repo, args, result)

        if args.trace:
            layers = dict(result["layers"], **{"calib_s": record["calib_s"]})
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(result["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"record": record}, sort_keys=True))
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
        sys.stdout.flush()
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
