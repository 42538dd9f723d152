#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload mapreduce_sql_stream --seed 1 --seconds 16 --trace 0

Run from the repository root. It builds the engine and the harness from
source (scalac) unless the build under .bench_build/ is current, runs
the workload in one JVM as a closed loop (one client thread issuing gates
one after another in a local[nproc] session), checks every gate against its
DuckDB oracle with graft.Verify and tools/check_oracle.py, and prints the
metrics. The last stdout line is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
ones with --trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
OUT = os.path.join(REPO, ".bench_build", "perfbench")
FIXTURES = os.path.join(BENCH, "fixtures", "sf0.01")

# Each gate is a SparkEntry.queries name; the seed fixes the order within
# each warm pass. README.md gives the reasons for each list.
WORKLOADS = {
    # the paper's MapleJuice jobs (range-shuffle wordcount, the two-stage
    # Condorcet vote, contact tracing), relational gates and two Structured
    # Streaming gates: short jobs where fixed per-job and per-micro-batch
    # driver cost is a large share
    "mapreduce_sql_stream": [
        "mj_wordcount_range", "vote_condorcet", "trace_contact", "q3_top_orders",
        "q28_array_fns", "stream_line_rt", "stream_dedup",
    ],
    # the LLM-data pipeline: similarity join, dedup and text kernels,
    # tokenizer and retrieval gates with interpreted higher-order functions;
    # executor-bound, no streaming
    "curation_kernels": [
        "dedup_jaccard", "dedup_simhash", "decon_overlap", "text_winnow",
        "bpe_encode", "bm25_topk",
    ],
}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

JVM_HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the engine's build.sbt compiles against
    (its unmanagedBase); it holds Spark and the Scala compiler."""
    with open(os.path.join(REPO, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def scala_sources():
    files = []
    for r in (os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash(jars):
    h = hashlib.sha256()
    for f in scala_sources() + [os.path.join(REPO, "build.sbt")]:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with the Scala compiler among the
    Spark jars, unless the last build is of these exact sources; return the
    harness's runtime classpath. Needs only java: no sbt, no dependency
    cache, nothing outside the checkout is written."""
    jars = spark_jars()
    classes = os.path.join(OUT, "classes")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_hash(jars)
    if (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return classpath
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    log("building engine and harness (scalac)")
    t0 = time.time()
    # -usejavacp: compile against the compiler JVM's own classpath, the jars
    proc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                           "-Djava.io.tmpdir=" + staging, "-cp", os.path.join(jars, "*"),
                           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging,
                           *scala_sources()],
                          cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return classpath


def commit_id():
    """The commit SHA, with -dirty for uncommitted changes; outside a git
    checkout, a hash of the built sources."""
    try:
        sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                               capture_output=True, text=True, check=True).stdout.strip()
        return sha + ("-dirty" if dirty else "")
    except (OSError, subprocess.CalledProcessError):
        return "src-" + source_hash(spark_jars())[:12]


def run_harness(classpath, workload, seed, seconds, trace, tag):
    """Run the workload in one JVM; return the raw measurements and the
    directory graft.Verify dumped the gate outputs into."""
    gates = WORKLOADS[workload]
    tmp = os.path.join(OUT, "tmp", tag)
    raw_path = os.path.join(OUT, tag + ".raw.json")
    verify_out = os.path.join(tmp, "verify")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(raw_path):
        os.remove(raw_path)
    # -XX:-UsePerfData: no hsperfdata file under /tmp; everything a run
    # writes stays in the checkout.
    # -XX:TieredStopAtLevel=1: C1 only. A run ends long before C2 reaches
    # its steady state on these short gates. With C2, a pass took 1.6 to
    # 2.3 times the CPU time it takes with C1 alone, at about the same wall
    # time, and how far C2 had got varied from run to run (README.md,
    # Steadiness).
    cmd = ["java", *OPENS, JVM_HEAP, "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=2g",
           "-XX:MetaspaceSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
           "-cp", classpath, "perfbench.Harness", FIXTURES, ",".join(gates),
           str(seed), str(seconds), str(trace), raw_path, verify_out]
    # graft.Verify reads its gate list and core count from the environment
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(gates),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    log_path = os.path.join(OUT, tag + ".log")
    with open(log_path, "w") as log_fh:
        proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=log_fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if not os.path.exists(raw_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("perfbench: harness failed (%s), log %s" % (rc, log_path))
    with open(raw_path) as fh:
        raw = json.load(fh)
    if rc != 0:
        log("graft.Verify exited %s: gate outputs incomplete, see %s" % (rc, log_path))
    return raw, verify_out


def oracle_check(verify_out):
    """Rows per gate that tools/check_oracle.py passed, and its report."""
    proc = subprocess.run([sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
                           FIXTURES, verify_out], cwd=REPO, capture_output=True, text=True)
    verified = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"OK\s+(\S+): (\d+) rows", line)
        if m:
            verified[m.group(1)] = int(m.group(2))
    return verified, proc.stdout + proc.stderr


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala", "graft"),
              os.path.join(REPO, "tools", "check_oracle.py"), FIXTURES]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        raise SystemExit("perfbench: not a graft checkout, missing " + ", ".join(missing))
    if shutil.which("java") is None:
        raise SystemExit("perfbench: java is required")

    os.makedirs(OUT, exist_ok=True)
    classpath = build()
    tag = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    try:
        t0 = time.time()
        raw, verify_out = run_harness(classpath, args.workload, args.seed, args.seconds, args.trace, tag)
        t1 = time.time()
        verified, report = oracle_check(verify_out)
        t2 = time.time()
    finally:
        shutil.rmtree(os.path.join(OUT, "tmp", tag), ignore_errors=True)

    gates = WORKLOADS[args.workload]
    bad = metrics.failures(raw, verified)
    attempted = len(metrics.gate_runs(raw))
    unverified = [g for g in gates if g not in verified]
    correct = not bad and not unverified

    e2e = metrics.end_to_end(raw)
    e2e["failed_ratio"] = len(bad) / attempted
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": raw["env"]["nproc"], "master": raw["env"]["master"],
        "max_heap_mb": raw["env"]["max_heap_mb"], "jvm_args": raw["env"]["jvm_args"],
        "jdk": raw["env"]["jdk"], "spark": raw["env"]["spark"],
        "scala": raw["env"]["scala"], "commit": commit_id(),
        "gates_sha256": hashlib.sha256(",".join(gates).encode()).hexdigest()[:16],
    }
    warm = metrics.warm_passes(raw, traced=False)
    print("# env " + json.dumps(stamp, sort_keys=True))
    print("# gate runs: %d attempted (cold and warm-up pass %d each; "
          "%d samples over %d untraced warm passes)"
          % (attempted, len(raw["passes"][0]["samples"]),
             sum(len(p["samples"]) for p in warm), len(warm)))
    print("# run timing: harness JVM %.1f s, oracle check %.1f s" % (t1 - t0, t2 - t1))
    print("# box.canary_s series " + " ".join("%.4f" % c for c in raw["canary_s"]))
    for line in report.splitlines():
        if line.startswith(("FAIL", "FAILURES")):
            print("# oracle " + line)
    for g in unverified:
        print("# FAILED oracle check: " + g)
    for idx, g, why in bad:
        print("# FAILED gate run pass %d %s: %s" % (idx, g, why))
    for name, value in e2e.items():
        print("# %-18s %12.4f %s" % (name, value, metrics.unit_of(name)))

    if args.trace:
        layers = metrics.per_layer(raw)
        self_time = metrics.self_times(raw["spans"])
        for name in metrics.PER_LAYER:
            print("# %-32s %16.4f %s" % (name, layers[name], metrics.unit_of(name)))
        print("# span self time (s, all traced passes): " + json.dumps(
            {k: round(v, 4) for k, v in sorted(self_time.items())}))
        trace_path = os.path.join(OUT, tag + ".trace.json")
        with open(trace_path, "w") as fh:
            json.dump({"env": stamp, "end_to_end": e2e, "per_layer": layers,
                       "self_time_s": self_time, "census": raw["census"],
                       "spans": raw["spans"], "listener": raw["listener"],
                       "stream_events": raw["stream_events"]}, fh)
        print("# trace written to " + os.path.relpath(trace_path, REPO))
        out = metrics.result(layers, metrics.PER_LAYER, correct, attempted, len(bad))
    else:
        out = metrics.result(e2e, metrics.END_TO_END, correct, attempted, len(bad))
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
