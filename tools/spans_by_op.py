#!/usr/bin/env python3
"""Per-operation wall time from a traced perfbench run.

Usage: python3 tools/spans_by_op.py [spans.jsonl | workload]

Reads the span file a traced run leaves (`perfbench/run.py --workload W
--trace 1` writes perfbench/work/spans-W.jsonl; a bare workload name reads
that file) and prints, for each operation, its wall time in every traced
pass and the median over passes. An operation is a span of layer "op",
grouped under the phase span ("write", "read") it runs in; each phase span
starts one pass of that phase, and an operation run several times in one
pass (the IVF probes) is summed within the pass. Read-only: the file is
opened for reading and nothing is written.
"""
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def by_op(spans):
    """{(phase, op): [seconds in pass 0, pass 1, ...]} in first-seen order."""
    by_id = {s["id"]: s for s in spans}
    pass_of = {}  # phase span id -> (phase name, pass index)
    seen = {}
    for s in sorted((s for s in spans if s["layer"] == "phase"), key=lambda s: s["start_ns"]):
        pass_of[s["id"]] = (s["name"], seen.get(s["name"], 0))
        seen[s["name"]] = seen.get(s["name"], 0) + 1

    def phase(s):
        while s["layer"] != "phase":
            if s["parent"] not in by_id:
                return None
            s = by_id[s["parent"]]
        return pass_of[s["id"]]

    out = {}
    for s in sorted(spans, key=lambda s: s["start_ns"]):
        if s["layer"] != "op":
            continue
        p = phase(s)
        if p is None:
            continue
        name, k = p
        times = out.setdefault((name, s["name"]), [0.0] * seen[name])
        times[k] += (s["end_ns"] - s["start_ns"]) / 1e9
    return out


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    path = argv[1]
    if not os.path.exists(path) and os.sep not in path:
        path = os.path.join("perfbench", "work", "spans-%s.jsonl" % path)
    ops = by_op(load(path))
    if not ops:
        sys.exit("no op spans in %s" % path)
    width = max(len("%s/%s" % k) for k in ops)
    print("%-*s  %s  median" % (width, "phase/op", "per pass (s)"))
    for (ph, op), times in ops.items():
        print("%-*s  %s  %.3f" % (width, "%s/%s" % (ph, op),
                                  " ".join("%.3f" % t for t in times),
                                  statistics.median(times)))


if __name__ == "__main__":
    main(sys.argv)
