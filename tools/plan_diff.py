#!/usr/bin/env python3
"""Diff two graft.tools.PlanDump output directories, query by query.

    python3 tools/plan_diff.py <parentDir> <changeDir>
    python3 tools/plan_diff.py --selftest

PlanDump writes `<query>_<suffix>.txt` per query. Files are paired by
query name (the part before the last `_`). Before diffing, both sides
are normalized so that only plan shape remains: expression ids (`#N`),
lambda variable suffixes (`x_N`), construction-job durations, RDD ids,
`at <file>:<line>` call sites, `plan_id=N`, JVM object and lambda
names, and UUIDs (a streaming query's run id, a memory stream's source
id) are replaced by placeholders. For each query the script prints
the number of differing lines and the differing lines themselves
(unified diff, no context). Exit status is 0 whatever the diff.
"""

import difflib
import os
import re
import sys

RULES = [
    # streaming run and source ids; before the @OBJ rule, which would
    # otherwise eat a UUID group that follows an '@'
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}\b"), "UUID"),
    # construction-time job header: "(rdd, 0.47s)"
    (re.compile(r"\((\w+), [0-9.]+s\)"), r"(\1, Ns)"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r" at [\w$.<>]+\.(scala|java):\d+"), r" at FILE:LINE"),
    # JVM lambda classes and default toString object names
    (re.compile(r"\$\$Lambda[$/\w.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@OBJ"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"#\d+L?\b"), "#N"),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def load(path):
    with open(path, encoding="utf-8") as f:
        return [normalize(l.rstrip("\n")) for l in f]


def by_query(d):
    return {f.rsplit("_", 1)[0]: os.path.join(d, f)
            for f in sorted(os.listdir(d)) if f.endswith(".txt")}


def _selftest():
    line = ("StateStoreSaveExec [k#12], state info [ checkpoint = file:/t, "
            "runId = 0f8e2a51-9c3d-4b7a-8e21-5d6c7b8a9f00, opId = 0, ver = 1]")
    want = ("StateStoreSaveExec [k#N], state info [ checkpoint = file:/t, "
            "runId = UUID, opId = 0, ver = 1]")
    assert normalize(line) == want, normalize(line)
    other = line.replace("0f8e2a51-9c3d-4b7a-8e21-5d6c7b8a9f00",
                         "a1b2c3d4-0000-4000-8000-123456789abc")
    assert normalize(other) == want, normalize(other)
    src = "Arguments: 6b1d0e3c-77aa-4e0f-9a1b-2c3d4e5f6a7b, MemoryStream[v#3]"
    assert normalize(src) == "Arguments: UUID, MemoryStream[v#N]", normalize(src)
    # a hex object name that is not a UUID keeps its own rule
    assert normalize("Foo@1a2b3c4d") == "Foo@OBJ"
    print("OK selftest: run and source UUIDs masked")


def main(argv):
    if argv[1:] == ["--selftest"]:
        _selftest()
        return
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = by_query(argv[1]), by_query(argv[2])
    for q in sorted(set(parent) | set(change)):
        if q not in parent or q not in change:
            side = "parent" if q in parent else "change"
            print(f"== {q}: only in {side}")
            continue
        # [2:] skips the ---/+++ file header; plan lines may start with
        # "---" themselves
        diff = [l for l in list(difflib.unified_diff(
                    load(parent[q]), load(change[q]), lineterm="", n=0))[2:]
                if not l.startswith("@@")]
        print(f"== {q}: {len(diff)} differing lines")
        for l in diff:
            print(l)


if __name__ == "__main__":
    main(sys.argv)
