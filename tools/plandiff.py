#!/usr/bin/env python3
"""Compare two BenchProbe plan dumps file by file.

Usage: python3 tools/plandiff.py DIR_A DIR_B

Each DIR holds the formatted physical plans that `graft.BenchProbe` writes
when SPARK_GRAFT_PROBE_PLANDIR is set (one `<query>_<suffix>.txt` per
query). Files are paired by name. Before comparing, only what changes from one run
of the same code to the next is normalized, plus one token that only
names the registry file a gate's closure is declared in:

  #123, #123L         expression ids: a per-JVM counter, so the same plan
                      gets different ids depending on what ran before it.
  plan_id=123         exchange plan ids: the same kind of counter.
  SomeRDD[123]        RDD ids: SparkContext's counter, bumped by every job
                      and checkpoint earlier in the JVM.
  X$$Lambda$N/0x..@h  a closure's JVM name: the lambda counter, the hidden
                      class address and the identity hash vary per JVM.
  registry closures   the class in front of a closure declared by a gate
                      builder: graft.SparkEntry or an object under
                      graft.gates. It names the source file that declares
                      the builder, not what the closure computes, so moving
                      a builder between registry files renames it. Closure
                      owners in library code (graft.ops.Text, ...) are
                      compared verbatim.
  Some.Object@1a2b3c  an object's identity hash (aggregator instances).
  part-00002-<uuid>   the part number of the first file an index lists:
                      listing order follows the random file names.
  8-4-4-4-12 hex      UUIDs: Spark names every written file part-N-<uuid>,
                      versioned tables name snapshot dirs v<k>-<uuid>.
  graft-<kind>-123    per-JVM scratch directories from SparkEntry.fixture
                      (createTempDirectory appends a random number);
                      streaming checkpoint dirs graft-ckpt-p<pid>-... carry
                      the process id.
  .../graft-<kind>    the java.io.tmpdir in front of such a directory, which
                      differs between two runs that must not share scratch.
  gid plans           a plan with a `gid` column comes from Spark's rewrite
                      of distinct aggregates over several children: the
                      groups are numbered in the iteration order of a hash
                      map keyed by expressions with expression ids, so the
                      group order (Expand rows, the order of the group
                      columns in every list, the `gid = k` literals) varies
                      between runs. In such plans only, the items of every
                      bracketed list are compared as a sorted multiset and
                      the group numbers are masked.

Everything else (operators, their order, filters, partitioning, corpus
paths, literal values, codegen ids) is compared verbatim, so a changed
plan shows as a diff.

If both dirs hold an `oracle_sql.json` (the file graft.Verify writes), the
two are also checked to parse to equal JSON objects.

Prints one unified diff per differing file and a summary line; exits 0 when
the dumps agree and 1 when they do not.
"""
import difflib
import json
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\bgraft\.(?:SparkEntry|gates\.\w+)\$\$\$Lambda"), "<registry>$$$Lambda"),
    (re.compile(r"\b([A-Za-z_][\w.$]*)@[0-9a-f]{1,8}\b"), r"\1@<hash>"),
    (re.compile(r"\bpart-\d{5}-(?=[0-9a-f]{8}-)"), "part-N-"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\bgraft-ckpt-p\d+-"), "graft-ckpt-p<pid>-"),
    (re.compile(r"\b(graft-[a-z][a-z0-9]*(?:-[a-z][a-z0-9]*)*)-\d+\b"), r"\1-<n>"),
    (re.compile(r"(?:file:)?/[^\s\[\],]*?/(graft-[a-z])"), r"<tmp>/\1"),
]


GID_LITERAL = re.compile(r"gid#N = \d+")
CLOSE = {"[": "]", "(": ")"}


def sort_lists(s):
    """`s` with the comma-separated items of every bracketed list sorted,
    innermost lists first."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c in CLOSE:
            depth, j = 0, i
            while j < len(s):
                if s[j] in CLOSE:
                    depth += 1
                elif s[j] in CLOSE.values():
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            items, cur, d = [], "", 0
            for ch in s[i + 1:j]:
                if ch == "," and d == 0:
                    items.append(cur.strip())
                    cur = ""
                    continue
                d += ch in CLOSE
                d -= ch in CLOSE.values()
                cur += ch
            items.append(cur.strip())
            items = sorted("k" if x.isdigit() else sort_lists(x) for x in items)
            out.append(c + ", ".join(items) + s[j:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    if "gid#N" in text:
        text = "\n".join(sort_lists(GID_LITERAL.sub("gid#N = k", line))
                         for line in text.split("\n"))
    return text


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = argv[1], argv[2]
    plans_a = {f for f in os.listdir(a) if f.endswith(".txt")}
    plans_b = {f for f in os.listdir(b) if f.endswith(".txt")}
    differ = 0
    for f in sorted(plans_a ^ plans_b):
        print(f"only in {a if f in plans_a else b}: {f}")
        differ += 1
    for f in sorted(plans_a & plans_b):
        ta = normalize(read(os.path.join(a, f))).splitlines()
        tb = normalize(read(os.path.join(b, f))).splitlines()
        if ta != tb:
            differ += 1
            sys.stdout.writelines(
                line + "\n" for line in difflib.unified_diff(
                    ta, tb, os.path.join(a, f), os.path.join(b, f), lineterm=""))
    oa, ob = os.path.join(a, "oracle_sql.json"), os.path.join(b, "oracle_sql.json")
    oracle = ""
    if os.path.exists(oa) and os.path.exists(ob):
        ja, jb = json.loads(read(oa)), json.loads(read(ob))
        if ja == jb:
            oracle = f", oracle_sql.json equal ({len(ja)} keys)"
        else:
            keys = sorted(k for k in set(ja) | set(jb) if ja.get(k) != jb.get(k))
            print(f"oracle_sql.json differs at {len(keys)} keys: {', '.join(keys)}")
            oracle = ", oracle_sql.json differs"
            differ += 1
    print(f"plandiff: {len(plans_a & plans_b)} plans compared, {differ} differ{oracle}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
