#!/usr/bin/env python3
"""The graft benchmark.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the engine and the
harness from source on first use (sbt, offline), generates the
workload's inputs from the seed, runs the harness JVM, checks the
outputs and prints one JSON object as the last line of stdout. With
`--trace 0` it reports the end-to-end metrics, with `--trace 1` the
per-layer metrics. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import stats  # noqa: E402
import streamgen  # noqa: E402

WORKLOADS = ("fraud_batch", "fraud_stream", "curation")
# generated input per closed-loop workload: order-date slice in days,
# events, documents (sf0.1 has 2,405 days, 100,000 events, 5,000 documents)
INPUTS = {"fraud_batch": (12, 50_000, 0), "curation": (30, 60_000, 2_500)}
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch")

E2E = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_ms", "ms"),
       ("latency_p99_ms", "ms"), ("drain_rows_per_s", "rows/s")]
LAYER = [
    ("session.start_s", "s"),
    ("sources.scan_s", "s"), ("sources.sink_s", "s"), ("sources.sink_files", "count"),
    ("sources.sink_rows_per_file", "rows"), ("sources.merge_s", "s"),
    ("sources.merge_files_read", "count"),
    ("fraud.build_s", "s"), ("fraud.exec_s", "s"), ("fraud.graph_s", "s"),
    ("dedup.build_s", "s"), ("dedup.build_jobs", "count"), ("dedup.exec_s", "s"),
    ("functions.pairs_out", "count"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.rows_per_trigger", "rows"),
    ("streaming.backlog_files_end", "count"), ("streaming.generator_lag_ms", "ms"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.scheduler_delay_s", "s"),
    ("catalyst.planning_ms", "ms"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"), ("spark.task_failures", "count"),
    ("self.harness_s", "s"), ("self.sources_s", "s"), ("self.fraud_s", "s"),
    ("self.dedup_s", "s"), ("self.streaming_s", "s"),
    ("trace.overhead_s", "s"), ("trace.coverage", "ratio"), ("fail_ratio", "ratio"),
]
ENGINE = ["spark.jobs", "spark.tasks", "spark.scheduler_delay_s", "catalyst.planning_ms",
          "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_write_mb",
          "spark.spill_mb", "spark.gc_s", "spark.task_failures", "functions.pairs_out"]
SELF_LAYERS = ["harness", "sources", "fraud", "dedup", "streaming"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources_digest(root):
    h = hashlib.sha256()
    tracked = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
               os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, fs in sorted(os.walk(base)):
            tracked += [os.path.join(d, f) for f in sorted(fs)]
    for p in tracked:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the engine (with its own build) and the harness; records
    the harness classpath and the engine's JVM options. Skipped when the
    sources are unchanged since the last build in this checkout."""
    digest = _sources_digest(root)
    stamp = os.path.join(LAUNCH, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


# ---------------------------------------------------------------- run

def run_jvm(args, work, data, out):
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(LAUNCH, "jvm_options.txt")).read().split("\n") if o]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", *opts,
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--data", data, "--work", work, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--seed", str(args.seed), "--python", sys.executable,
           "--bench-dir", HERE]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        # own process group, so a timeout or a SIGTERM to this script
        # stops the JVM and its children too
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("graftbench: stopped")
        signal.signal(signal.SIGTERM, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if code != 0 or not os.path.exists(out):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- closed loop

def closed_loop_metrics(raw, trace):
    passes = raw["passes"]
    attempted = sum(p["operations"] for p in passes)
    failures = [f for p in passes for f in p["failures"]]
    setup = raw["setup"]["setup_s"]
    if not trace:
        walls = [p["wall_s"] for p in passes]
        pass_s = stats.median(walls)
        tail = stats.percentile(walls, 99) if stats.p99_supported(len(walls)) else max(walls)
        log(f"{len(walls)} passes: median {pass_s:.3f} s, slowest {max(walls):.3f} s; "
            f"set-up {setup:.3f} s")
        metrics = {"setup_s": setup, "pass_s": pass_s, "latency_p50_ms": pass_s * 1e3,
                   "latency_p99_ms": tail * 1e3, "drain_rows_per_s": raw["rows_in"] / pass_s}
        return metrics, attempted, len(failures), failures
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    per_pass = [dict(p["metrics"]) for p in traced]
    for m in per_pass:
        files = m.get("sources.sink_files", 0.0)
        m["sources.sink_rows_per_file"] = m.get("sink.rows", 0.0) / files if files else 0.0
    selfs = stats.layer_self_times(raw["spans"])
    walls = {p["pass"]: p["wall_s"] for p in traced}
    for p, m in zip(traced, per_pass):
        own = selfs.get(p["pass"], {})
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = own.get(layer, 0.0)
        m["trace.coverage"] = stats.coverage(own, walls[p["pass"]])
    metrics = {k: stats.median([m.get(k, 0.0) for m in per_pass]) for k, _ in LAYER}
    metrics["session.start_s"] = raw["setup"]["session_start_s"]
    metrics["trace.overhead_s"] = stats.median([p["wall_s"] for p in traced]) - \
        stats.median([p["wall_s"] for p in plain])
    log(f"{len(traced)} traced and {len(plain)} untraced passes")
    return metrics, attempted, len(failures), failures


# ---------------------------------------------------------------- stream

def _file_batches(checkpoint):
    """{input file name: batch id} from the file source's metadata log."""
    out = {}
    src = os.path.join(checkpoint, "sources", "0")
    for f in os.listdir(src):
        if f.startswith("."):
            continue
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _sink_ids(sink):
    import pyarrow.dataset as ds
    t = ds.dataset(sink, format="parquet", partitioning="hive").to_table(columns=["transaction_id"])
    return t.column("transaction_id").to_pylist()


def _expected_ids(raw, gen_log):
    ids = []
    for kind, prefix in (("warmup_dir", "W"), ("backlog_dir", "B")):
        n = len([f for f in os.listdir(raw[kind]) if f.endswith(".csv")])
        ids += [f"{prefix}-{i}" for i in range(n * streamgen.EVENTS_PER_FILE)]
    for rec in gen_log:
        ids += [f"L-{i}" for i in range(rec["first"], rec["first"] + rec["rows"])]
    return ids


def stream_metrics(raw, trace):
    # one record per live file; each carries its generator run's end
    gen_log = []
    for g in raw["generators"]:
        with open(g["log"]) as f:
            gen_log += [dict(r, gen_end_ms=g["end_ms"]) for r in json.load(f)]
    triggers = raw["triggers"]
    commit = {t["batch"]: t["start_ms"] + t["phases_ms"].get("triggerExecution", 0)
              for t in triggers}
    batch_of = _file_batches(raw["checkpoint"])

    # exactly-once: every generated id in the sink once, nothing else
    expected = _expected_ids(raw, gen_log)
    seen = {}
    for tid in _sink_ids(raw["sink"]):
        seen[tid] = seen.get(tid, 0) + 1
    exp_set = set(expected)
    failed = sum(1 for t in expected if seen.get(t, 0) != 1) + \
        sum(c for t, c in seen.items() if t not in exp_set)
    failures = [f"{failed} transaction ids not in the sink exactly once"] if failed else []
    for g in raw["generators"]:
        if g["exit"] != 0:
            failures.append(f"generator exited {g['exit']}")
            failed += 1
    attempted = len(expected)

    # latency: creation (due time) to the commit of the batch that read it;
    # an event never committed misses every limit
    lat = []
    for rec in gen_log:
        b = batch_of.get(rec["file"])
        ms = commit[b] - rec["due_ms"] if b in commit else float("inf")
        lat += [ms] * rec["rows"]
    backlog = [f"backlog-{k:06d}.csv" for k in range(raw["backlog_files"])]
    drain_batches = {batch_of.get(f) for f in backlog}
    if None in drain_batches or not raw["drain_committed"]:
        drain_s = float("inf")
    else:
        drain_s = (max(commit[b] for b in drain_batches) - raw["drain_start_ms"]) / 1e3
    setup = raw["setup"]["setup_s"]
    if not trace:
        p50, p99 = stats.percentile(lat, 50), stats.percentile(lat, 99)
        tail_p, tail_v = stats.tail_percentile(lat)
        log(f"{len(lat)} events in {len(gen_log)} files: latency p50 {p50:.1f} ms, "
            f"p99 {p99:.1f} ms, p{tail_p:.2f} {tail_v:.1f} ms (the highest percentile with "
            f"10 events beyond it); backlog {raw['backlog_rows']} rows drained in {drain_s:.3f} s")
        cap = lambda x: x if x != float("inf") else 1e9  # noqa: E731
        metrics = {"setup_s": setup, "pass_s": cap(drain_s), "latency_p50_ms": cap(p50),
                   "latency_p99_ms": cap(p99), "drain_rows_per_s": raw["backlog_rows"] / cap(drain_s)}
        return metrics, attempted, failed, failures

    # the traced half's triggers are the ones the engine probe listened
    # to; the untraced half's are the overhead baseline
    traced_batches = set(raw["traced_batches"])
    live_batches = {batch_of.get(r["file"]) for r in gen_log} - {None}
    traced = [t for t in triggers if t["batch"] in traced_batches]
    untraced = [t for t in triggers if t["batch"] in live_batches - traced_batches]
    drain = [t for t in triggers if t["batch"] in drain_batches]

    def phase(name):
        return stats.median([t["phases_ms"].get(name, 0) for t in traced])

    def trigger_ms(ts):
        return stats.median([t["phases_ms"]["triggerExecution"] for t in ts])

    files_end = sum(1 for r in gen_log
                    if batch_of.get(r["file"]) is None
                    or commit[batch_of[r["file"]]] > r["gen_end_ms"])
    sink_files = raw["traced_sink_files"]
    metrics = {k: 0.0 for k, _ in LAYER}
    metrics.update({
        "session.start_s": raw["setup"]["session_start_s"],
        "sources.sink_s": phase("addBatch") / 1e3,
        "sources.sink_files": sink_files / len(traced),
        "sources.sink_rows_per_file": sum(t["rows"] for t in traced) / max(1, sink_files),
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.rows_per_trigger": stats.median([t["rows"] for t in drain]),
        "streaming.backlog_files_end": files_end,
        "streaming.generator_lag_ms": max(r["written_ms"] - r["due_ms"] for r in gen_log),
        "trace.overhead_s": (trigger_ms(traced) - trigger_ms(untraced)) / 1e3,
    })
    for k in ENGINE:
        metrics[k] = raw["engine"].get(k, 0.0) / len(traced)
    selfs = stats.layer_self_times(raw["spans"])
    for layer in SELF_LAYERS:
        metrics[f"self.{layer}_s"] = stats.median([v.get(layer, 0.0) for v in selfs.values()])
    walls = {t["batch"]: t["phases_ms"]["triggerExecution"] / 1e3 for t in traced}
    metrics["trace.coverage"] = stats.median(
        [stats.coverage(selfs[b], walls[b]) for b in walls if walls[b] > 0])
    log(f"{len(traced)} traced and {len(untraced)} untraced live triggers, {len(drain)} drain triggers")
    return metrics, attempted, failed, failures


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("graftbench: run from the root of a graft source checkout "
                         "(build.sbt and src/main/scala/graft not found)")
    build(root)

    work = os.path.join(root, ".graftbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        if args.workload == "fraud_stream":
            streamgen.prepare(args.seed, os.path.join(data, "stream"))
        else:
            datagen.generate(data, args.seed, *INPUTS[args.workload])
        raw = run_jvm(args, work, data, os.path.join(work, "raw.json"))
        if args.workload == "fraud_stream":
            metrics, attempted, failed, failures = stream_metrics(raw, args.trace)
        else:
            metrics, attempted, failed, failures = closed_loop_metrics(raw, args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures[:20]:
        log(f"FAILED: {f}")
    units = dict(LAYER if args.trace else E2E)
    if args.trace:
        metrics["fail_ratio"] = failed / attempted
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
