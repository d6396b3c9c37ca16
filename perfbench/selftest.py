#!/usr/bin/env python3
"""Self-test of the benchmark: both workloads, untraced and traced, at a
small input size with every output check on. Fails on any error, wrong
output, failed operation, missing metric or non-positive end-to-end metric.

    python3 perfbench/selftest.py          # from the repository root, ~6 min
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the metric lists live there)


def main():
    failures = []
    spec = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(spec):
        b = json.load(open(spec))
        for key, mine in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            if [(m["name"], m["unit"]) for m in b[key]] != mine:
                failures.append("BENCHMARK.json %s differs from run.py" % key)
    for workload in ("tsdb", "dedup_ann"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.25"]
            p = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                               text=True, timeout=900)
            name = "%s trace=%d" % (workload, trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append("%s: exit %d" % (name, p.returncode))
                continue
            r = json.loads(lines[-1])
            want = run.PER_LAYER if trace else run.END_TO_END
            problems = []
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append("result keys %s" % sorted(r))
            if r.get("correct") is not True:
                problems.append("outputs not correct")
            if r.get("failed") != 0 or r.get("attempted", 0) < 1:
                problems.append("attempted %s failed %s" % (r.get("attempted"), r.get("failed")))
            metrics = r.get("metrics", {})
            if sorted(metrics) != sorted(n for n, _ in want):
                problems.append("metric names %s" % sorted(metrics))
            for n, unit in want:
                m = metrics.get(n, {})
                if m.get("unit") != unit:
                    problems.append("%s unit %s" % (n, m.get("unit")))
                if not trace and not m.get("value", 0) > 0:
                    problems.append("%s is %s" % (n, m.get("value")))
            print("%s: %s" % (name, "ok" if not problems else "; ".join(problems)), flush=True)
            failures += ["%s: %s" % (name, x) for x in problems]
    if failures:
        sys.exit("self-test FAILED:\n  " + "\n  ".join(failures))
    print("self-test passed")


if __name__ == "__main__":
    main()
