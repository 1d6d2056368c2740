#!/usr/bin/env python3
"""Benchmark of the batch engine: three closed-loop workloads, one client.

    python3 perfbench/run.py --workload query_slice --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's Scala code with sbt (offline); later runs reuse the build
while the sources are unchanged. Every run generates its inputs from
--seed, starts one fresh JVM at local[nproc], checks every output, and
prints as its last stdout line one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer ones with --trace 1). Lines before it print every metric by name with its
unit, and the environment stamp. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "query_slice.json")
HEAP = "3g"
JVM_TIMEOUT_S = 170

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# --seconds sets the size of the timed section as whole units of work:
# round(seconds / unit_s) units, where unit_s is the unit's nominal
# length on a 4-core machine. The work per run is therefore fixed for a
# given --seconds, and wall_s compares across commits.
WORKLOADS = {
    "query_slice": {"unit_s": 10.0},  # one pass over q01-q54
    "doc_ingest": {"unit_s": 10.0, "batch_docs": 100},  # one upsertBatch
    "file_batch": {"unit_s": 2.5, "files": 1200},  # one corpus pass
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s"),
              ("op_p50_s", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    # query_slice
    ("queries.build_s", "s"), ("plans.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.Relational.exec_s", "s"), ("queries.TextQueries.exec_s", "s"),
    ("queries.VectorQueries.exec_s", "s"), ("queries.DedupQueries.exec_s", "s"),
    ("queries.MultimodalQueries.exec_s", "s"),
    # doc_ingest
    ("streaming.upsert_s", "s"), ("streaming.scrub_s", "s"),
    ("streaming.replaced_probe_s", "s"), ("streaming.mine_s", "s"),
    ("streaming.lm_counts_s", "s"), ("streaming.lm_score_s", "s"),
    ("operators.PartitionedCommit.corpus.commit_s", "s"),
    ("operators.PartitionedCommit.shingles.commit_s", "s"),
    ("operators.PartitionedCommit.candidates.commit_s", "s"),
    ("operators.PartitionedCommit.signatures.commit_s", "s"),
    ("operators.PartitionedCommit.lm.commit_s", "s"),
    ("operators.PartitionedCommit.touched_probe_s", "s"),
    ("operators.PartitionedCommit.stage_write_s", "s"),
    ("operators.PartitionedCommit.verify_s", "s"),
    ("operators.PartitionedCommit.swap_s", "s"),
    ("operators.PartitionedCommit.touched_buckets", "count"),
    ("operators.PartitionedCommit.write_amp", "ratio"),
    ("streaming.state_bytes", "bytes"), ("streaming.state_files", "count"),
    # file_batch
    ("sources.scanFiles_s", "s"), ("operators.Pipeline.run_s", "s"),
    ("operators.CommitSink.writeVerified_s", "s"),
    ("operators.Pipeline.statusEvents_s", "s"),
    ("operators.Pipeline.success_ratio", "ratio"),
    ("operators.Retry.retries", "count"),
    ("operators.CommitSink.files_written", "count"),
    # the Spark engine, every workload
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.task_overhead_s", "s"), ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    # the trace itself
    ("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"), ("trace.span_coverage", "ratio"),
    ("gen.input_s", "s"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(ROOT, "project", "build.properties")
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_stamp():
    md = hashlib.sha256()
    for p in _source_files():
        md.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            md.update(f.read())
    return md.hexdigest()


def build(deadline):
    """Compile the program and the benchmark's Scala code unless the last build is of
    the same sources; return the benchmark's JVM classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, timeout=max(60, deadline - time.time()))
    if proc.returncode != 0:
        raise RuntimeError("sbt build failed")
    log("build took %.1f s" % (time.time() - t0))
    with open(cp_file) as g:
        classpath = g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


# ------------------------------------------------------------- environment

def calibrate():
    """Seconds for a fixed CPU-only loop: an ungated diagnostic of how
    fast this machine ran this time."""
    block = b"\x5a" * 65536
    t0 = time.perf_counter()
    md = hashlib.sha256()
    for _ in range(1500):
        md.update(block)
    return time.perf_counter() - t0


def cpu_jiffies():
    """The machine's CPU time counters (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: an ungated diagnostic of contention from outside."""
    if before is None or after is None or sum(after) == sum(before):
        return None
    return (after[7] - before[7]) / (sum(after) - sum(before))


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + source_stamp()[:16]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# -------------------------------------------------------------- workloads

def make_inputs(workload, seed, units, inputs):
    cfg = WORKLOADS[workload]
    if workload == "query_slice":
        with open(EXPECTED) as f:
            names = sorted(json.load(f))
        return gen.gen_query_slice(names, seed, units, inputs)
    if workload == "doc_ingest":
        return gen.gen_doc_ingest(DATA, seed, inputs, units, cfg["batch_docs"])
    return gen.gen_file_batch(DATA, seed, inputs, cfg["files"])


def run_jvm(classpath, workload, units, trace, inputs, work, deadline):
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(WORK, "traces", "%s-%d.jsonl" % (workload, os.getpid()))
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap: its peak resident size does not hinge on when
    # the collector chose to grow it
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--cpus", str(nproc()), "--units", str(units),
            "--trace", str(trace), "--inputs", inputs, "--work", work, "--data", DATA,
            "--out", out, "--trace-out", trace_out]
    launch = time.time_ns()
    proc = subprocess.Popen(cmd + ["--launch-epoch-ns", str(launch)], cwd=work,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("benchmark JVM timed out")
    if code != 0:
        raise RuntimeError("benchmark JVM exited with %d" % code)
    with open(out) as f:
        return json.load(f), trace_out


def end_to_end(result):
    sec = result["sections"][0]
    ops = [o["s"] for o in sec["ops"]]
    return {
        "setup_s": result["setup_s"],
        "wall_s": sec["wall_s"],
        "items_per_s": sec["items"] / sec["wall_s"],
        "op_p50_s": statistics.median(ops),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result, gen_s):
    # the overhead compares the traced section with the untraced replay
    # that follows it; warm-up still under way counts against tracing,
    # so the figure errs high
    _, traced, after = result["sections"]
    untraced = after["wall_s"]
    layers = dict(traced["layers"])
    layers["trace.untraced_wall_s"] = untraced
    layers["trace.overhead_s"] = traced["wall_s"] - untraced
    layers["gen.input_s"] = gen_s
    # a layer this workload does not exercise did no work: 0
    return {name: float(layers.get(name, 0.0)) for name, _ in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + 880  # a first run also builds

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the program's sources (build.sbt, src/main/scala) are not here; "
            "run from the root of a checkout of the repository")
        return 2

    classpath = build(deadline)
    deadline = time.time() + JVM_TIMEOUT_S

    units = max(1, round(args.seconds / WORKLOADS[args.workload]["unit_s"]))
    work = os.path.join(WORK, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        t0 = time.perf_counter()
        manifest = make_inputs(args.workload, args.seed, units, inputs)
        gen_s = time.perf_counter() - t0
        calib_s = calibrate()
        jiffies = cpu_jiffies()
        result, trace_file = run_jvm(classpath, args.workload, units, args.trace,
                                     inputs, work, deadline)
        steal = steal_share(jiffies, cpu_jiffies())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.workload == "query_slice":
        with open(EXPECTED) as f:
            verdicts, problems = checks.query_slice(result, json.load(f))
    elif args.workload == "doc_ingest":
        verdicts, problems = checks.doc_ingest(result, manifest)
    else:
        verdicts, problems = checks.file_batch(result, manifest)
    for p in problems:
        log("CHECK FAILED: " + p)
    flat = [v for s in verdicts for v in s]
    attempted, failed = len(flat), flat.count(False)

    stamp = {"workload": args.workload, "seed": args.seed, "units": units,
             "trace": args.trace, "nproc": nproc(), "heap": HEAP,
             "heap_mb": result["env"]["heap_mb"], "jdk": result["env"]["jdk"],
             "spark": result["env"]["spark"], "commit": commit_id(),
             "calibration_s": round(calib_s, 4), "gen_s": round(gen_s, 4),
             "steal": None if steal is None else round(steal, 4)}
    print("stamp " + json.dumps(stamp, sort_keys=True))
    row = "%-48s %16.6f %-5s %s"
    print(row % ("failed_ratio", failed / attempted, "ratio", "n=%d" % attempted))
    if args.trace:
        metrics, units_of = per_layer(result, gen_s), dict(PER_LAYER)
        for name, _ in PER_LAYER:
            print(row % (name, metrics[name], units_of[name], ""))
        self_s = {}
        with open(trace_file) as f:
            for line in f:
                sp = json.loads(line)
                self_s[sp["name"]] = self_s.get(sp["name"], 0.0) + sp["self_s"]
        per_unit = result["sections"][1]["units"]  # the traced section
        for name, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(row % ("self " + name, v / per_unit, "s", "per unit"))
        print("trace spans: " + os.path.relpath(trace_file, ROOT))
    else:
        metrics, units_of = end_to_end(result), dict(END_TO_END)
        ops = sorted(o["s"] for o in result["sections"][0]["ops"])
        for name, unit in END_TO_END:
            print(row % (name, metrics[name], unit, "n=%d" % len(ops)))
        if len(ops) >= 100:  # ten samples beyond it
            print(row % ("op_p90_s", statistics.quantiles(ops, n=10)[-1], "s",
                         "n=%d" % len(ops)))
    out = {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
