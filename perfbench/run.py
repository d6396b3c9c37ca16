#!/usr/bin/env python3
"""graft benchmark: build the library and the benchmark from source, run
one workload, check its outputs and print the metrics.

    python3 perfbench/run.py --workload tsdb|dedup_ann --seed N --seconds S --trace 0|1

Run from the repository root. A run launches one benchmark JVM, which sets up,
warms up, runs timed passes for SECONDS (and at least MIN_PASSES) and checks
its outputs. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Lines before it report host health and, when traced, the tracing
overhead and each layer's self time.

Compilation (sbt, offline) runs before the first JVM launch and only when a
source file changed; it is outside every timed figure. Everything a run
writes stays under perfbench/work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WARMUP_PASSES = 1
MIN_PASSES = 3
HEAP = "1g"

# The phase walls read_s and write_s are printed but not reported as
# metrics: on a shared host their spread exceeds any usable bound (README,
# "Reference figures"); the phases' CPU-seconds stand in for them.
END_TO_END = [
    ("setup_s", "s"), ("read_cpu_s", "s"), ("write_cpu_s", "s"), ("scan_mb", "MB"),
    ("shuffle_mb", "MB"), ("stored_mb", "MB"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("uts.build_s", "s"), ("uts.build_jobs", "count"), ("sql.plan_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_only_s", "s"), ("spark.driver_share", "ratio"),
    ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("io.files_read", "count"), ("io.files_written", "count"),
    ("exchange.shuffle_read_mb", "MB"), ("exchange.spill_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("dedup.append_s", "s"), ("dedup.probe_s", "s"), ("dedup.cc_s", "s"),
    ("dedup.candidates", "count"), ("dedup.pairs", "count"),
    ("ann.append_s", "s"), ("ann.probe_s", "s"), ("ann.candidates", "count"),
    ("ann.recall_at_k", "ratio"),
    ("materialize.jobs", "count"), ("materialize.storage_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.jit_cpu_s", "s"),
]
PHASE_METRICS = ["read_s", "write_s", "read_cpu_s", "write_cpu_s"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile through sbt when a source changed; return (classpath, java options)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    opts_file = os.path.join(WORK, "java-options.txt")
    fresh = (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
             and os.path.exists(cp_file) and os.path.exists(opts_file))
    if not fresh:
        log("perfbench: compiling (sbt, offline) ...")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            sys.exit("perfbench: build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log("perfbench: compiled in %.0f s" % (time.time() - t0))
    cp = open(cp_file).read().split("\n")
    opts = [o for o in open(opts_file).read().split("\n") if o and not o.startswith("-Xmx")]
    return cp, opts


def run_jvm(args, cp, opts, cores):
    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP,
            # C1 only, and no code-cache flushing: the timed passes run
            # settled code from the first pass on (README, "Steady state").
            "-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + opts + ["-cp", ":".join(cp), "perfbench.Main",
                     "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--scale", str(args.scale), "--warmup", str(WARMUP_PASSES),
                     "--min-passes", str(MIN_PASSES), "--work", work,
                     "--cores", str(cores), "--clk-tck", str(os.sysconf("SC_CLK_TCK")),
                     "--launch-ms", str(int(time.time() * 1000))])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        try:
            out, _ = p.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: benchmark JVM timed out")
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if p.returncode != 0 or not lines:
            sys.exit("perfbench: benchmark JVM failed (exit %d)" % p.returncode)
        if args.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(WORK, "spans-%s.jsonl" % args.workload))
        return json.loads(lines[-1][len("PERFBENCH "):])
    finally:
        # Never leave the JVM behind, whatever ended this run.
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    # A termination signal unwinds through run_jvm's cleanup.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tsdb", "dedup_ann"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the self-test uses a small one")
    ap.add_argument("--dump", help="also write the JVM's raw per-pass figures to this file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no library sources next to perfbench/ (run from a full checkout)")
    os.makedirs(WORK, exist_ok=True)
    cp, opts = build()
    cores = len(os.sched_getaffinity(0))

    r = run_jvm(args, cp, opts, cores)
    if args.dump:
        with open(args.dump, "w") as fh:
            json.dump(r, fh)

    for p in r["problems"]:
        log("perfbench: CHECK FAILED: " + p)
    traced = [p for p in r["passes"] if p["traced"] == 1.0]
    plain = [p for p in r["passes"] if p["traced"] == 0.0]

    print("host: steal_share=%.4f loop_ms_start=%.1f loop_ms_end=%.1f cpus=%d passes=%d" % (
        r["steal_share"], r["loop_ms_start"], r["loop_ms_end"], cores, len(r["passes"])))
    if args.trace == 0:
        vals = {m: median([p[m] for p in plain]) for m in PHASE_METRICS + [
            "scan_mb", "shuffle_mb", "stored_mb"]}
        print("phase walls (not metrics): read_s=%.4f write_s=%.4f" % (vals["read_s"], vals["write_s"]))
        vals["setup_s"] = r["setup_s"]
        vals["peak_rss_mb"] = r["vmhwm_mb"]
        metrics = {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}
    else:
        for m in PHASE_METRICS:
            on, off = median([p[m] for p in traced]), median([p[m] for p in plain])
            print("trace overhead: %s traced %.4f untraced %.4f (%+.1f%%)" % (
                m, on, off, 100.0 * (on / off - 1) if off else 0.0))
        for k in sorted(r["self_s"]):
            print("self time per pass: %s %.4f s" % (k, r["self_s"][k]))
        metrics = {}
        for n, u in PER_LAYER:
            v = r["check"][n] if n in r["check"] else median([p.get(n, 0.0) for p in traced])
            metrics[n] = {"value": v, "unit": u}
    print(json.dumps({
        "correct": not r["problems"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
