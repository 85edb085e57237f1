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
id) are replaced by placeholders. Construction-time jobs reach
PlanDump's listener in no fixed order (a builder may submit them from
concurrent driver threads), so each file is split into its
`--- construction-time job N ...` sections and the final plan, `N` is
masked, and the sections are compared in sorted order. For each query
the script prints the number of differing lines and the differing lines
themselves (unified diff, no context). Exit status is 0 whatever the
diff.
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
    # construction-time job header: "job 3 (rdd, 0.47s)"
    (re.compile(r"construction-time job \d+ \((\w+), [0-9.]+s\)"),
     r"construction-time job N (\1, Ns)"),
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


def canonical(lines):
    """Normalized lines with the construction-job sections sorted: the
    lines before the first job, the sorted jobs, then the final plan."""
    head, jobs, final = [], [], []
    part = head
    for line in map(normalize, lines):
        if line.startswith("--- construction-time job "):
            jobs.append([])
            part = jobs[-1]
        elif line.startswith("=== ") and line.endswith(" final plan ==="):
            part = final
        part.append(line)
    return head + [l for job in sorted(jobs) for l in job] + final


def load(path):
    with open(path, encoding="utf-8") as f:
        return canonical(l.rstrip("\n") for l in f)


def differing(a, b):
    # [2:] skips the ---/+++ file header; plan lines may start with
    # "---" themselves
    return [l for l in list(difflib.unified_diff(a, b, lineterm="", n=0))[2:]
            if not l.startswith("@@")]


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
    # construction jobs captured in another order, with other numbers
    # and durations, read as no difference; a changed job does not
    job_a = ["--- construction-time job 1 (rdd, 0.47s) ---",
             "== Physical Plan ==", "* Scan parquet (1)", ""]
    job_b = ["--- construction-time job 2 (command, 1.02s) ---",
             "== Physical Plan ==", "Execute InsertIntoHadoopFsRelationCommand (3)", ""]
    head = ["--- listener bus drained=true, 2 construction jobs captured ---"]
    final = ["=== q final plan ===", "== Physical Plan ==", "* Project (2)"]
    swapped = [job_b[0].replace("job 2", "job 1").replace("1.02s", "0.9s")] + job_b[1:] + \
        [job_a[0].replace("job 1", "job 2")] + job_a[1:]
    assert differing(canonical(head + job_a + job_b + final),
                     canonical(head + swapped + final)) == []
    changed = swapped[:2] + ["Execute InsertIntoHiveTable (3)"] + swapped[3:]
    assert len(differing(canonical(head + job_a + job_b + final),
                         canonical(head + changed + final))) == 2
    print("OK selftest: run and source UUIDs masked; construction jobs compared in any order")


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
        diff = differing(load(parent[q]), load(change[q]))
        print(f"== {q}: {len(diff)} differing lines")
        for l in diff:
            print(l)


if __name__ == "__main__":
    main(sys.argv)
