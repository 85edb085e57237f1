#!/usr/bin/env python3
"""Benchmark of the engine's group pipeline and its query catalog.

    python3 perfbench/run.py --workload groups_many_small --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and this
harness with sbt (`perfbench/build.sbt`) and caches the classpath under
`perfbench/target`; later runs start the JVM directly. Every input is made
from `--seed`. The last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`, named as in BENCHMARK.json.
The line before it is a `{"detail": ...}` object with the input digest, the
failed checks, error rate and tracing overhead. Exits non-zero if any output
check fails, the layer reconciliation of a traced run included.
"""
import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

import gen_tables

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORK_ROOT = HERE / "work"

# Input sizes: rows and clients of the many-small-groups corpus, catalog
# scale factor, rows of the few-capped-groups corpus. "tiny" is the
# self-test scale.
SCALES = {
    "full": {"rows": 50_000, "groups": 25_000, "sf": 0.01, "capped_rows": 20_000},
    "tiny": {"rows": 6_000, "groups": 2_000, "sf": 0.001, "capped_rows": 3_000},
}

# Bytes per corpus row of the cap on the few-capped-groups corpus: it binds on
# the two largest of its eight clients only.
CAP_PER_ROW = 40

# Fewest cold repetitions (fresh JVMs) of the catalog workload in one run.
CATALOG_MIN_REPS = 2

# Reconciliation tolerance: the share of traced wall time that the
# construction, Catalyst, Janino and job-active parts may leave unexplained.
RECONCILE_TOLERANCE = 0.25

JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx2g",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    """Spark's local cores: half the CPUs this process may use. The other
    half is left to the driver thread, the JIT and GC threads and to the
    host's other work; with every CPU given to tasks, the run-to-run spread
    of the timings was three times as wide on a shared 4-vCPU host."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of the build inputs and of the checkout's location, which the
    cached classpath names."""
    h = hashlib.sha256(str(ROOT).encode())
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds with sbt when the sources changed since the cached build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    fp = source_fingerprint()
    cp_file = TARGET / "perfbench-classpath.txt"
    fp_file = TARGET / "perfbench-fingerprint.txt"
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    fp_file.write_text(fp)
    return lines[-1].strip()


def jvm(cp, work, opts, timeout):
    """Runs one JVM of the harness and returns the JSON it wrote."""
    out = work / f"jvm-{time.time_ns()}.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    args = []
    for k, v in {**opts, "work": str(work), "out": str(out)}.items():
        args += [f"--{k}", str(v)]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    log = work / "jvm.log"
    t0 = time.perf_counter()
    with open(log, "ab") as lf:
        proc = subprocess.run(
            [java, *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args],
            cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf, timeout=timeout)
    if proc.returncode != 0 or not out.is_file():
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        fail(f"harness JVM failed ({proc.returncode})")
    return {**json.loads(out.read_text()), "process_s": time.perf_counter() - t0}


# ---------------------------------------------------------------- checks

def check_stats(stats_dir, input_path, key):
    """GroupCounts text output against DuckDB over the same parquet input."""
    schema = pq.read_schema(next(pathlib.Path(input_path).glob("*.parquet"))
                            if os.path.isdir(input_path) else input_path)
    size, words = [], []
    for f in schema:
        t, c = str(f.type), f'"{f.name}"'
        if t == "string":
            size.append(f"strlen({c})")
            words.append(f"len(string_split(regexp_replace({c}, '^\\s+|\\s+$', '', 'g'), ' '))")
        elif t.startswith("list<"):
            width = 8 if ("double" in t or "int64" in t) else 4
            size.append(f"{width} * len({c})")
        else:
            size.append("8" if t in ("int64", "double", "timestamp[us]") else "4")
    src = f"{input_path}/*.parquet" if os.path.isdir(input_path) else input_path
    con = duckdb.connect()
    want = {r[0]: tuple(int(x) for x in r[1:]) for r in con.execute(
        f"SELECT CAST(\"{key}\" AS VARCHAR), count(*), sum({' + '.join(size)}), sum({' + '.join(words)}) "
        f"FROM read_parquet('{src}') GROUP BY 1").fetchall()}
    got = stats_lines(stats_dir)
    bad = [g for g in want if got.get(g) != want[g]] + [g for g in got if g not in want]
    return {"name": "group_counts_vs_duckdb", "ok": not bad,
            "detail": f"{len(bad)} of {len(want)} groups differ"
                      + (f"; first {bad[0]}: {got.get(bad[0])} vs {want.get(bad[0])}" if bad else "")}


def stats_lines(stats_dir):
    """Parses the GroupCounts text shards into {group: (examples, bytes, words)}."""
    got = {}
    for f in pathlib.Path(stats_dir).glob("part-*"):
        for line in f.read_text().splitlines():
            if line == "group_id,num_examples,num_bytes,num_words":
                continue
            g, n, b, w = line.rsplit(",", 3)
            got[g] = (int(n), int(b), int(w))
    return got


def file_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()


def input_bytes(stats_dir):
    """Total `num_bytes` over all groups of a GroupCounts output."""
    return sum(b for _, b, _ in stats_lines(stats_dir).values())


def check_oracle(data, results):
    """Each sampled query's result against its DuckDB oracle, with the
    repository's own compare (tools/check_oracle.py)."""
    proc = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(data), str(results)],
                          stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=120)
    status = {"": (False, f"no oracle result (exit {proc.returncode}): {proc.stderr[-500:]}")}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL"):
            status[parts[1].rstrip(":")] = (parts[0] == "OK", line)
    return status


# ---------------------------------------------------------------- workloads

def run_groups(args, scale, cp, work):
    corpus = work / "corpus"
    t0 = time.perf_counter()
    n_groups, n_rows = gen_tables.write_groups(corpus, args.seed, scale["rows"], scale["groups"])
    gen = time.perf_counter() - t0
    limit = 2_000_000_000  # Pack.BytesLimit, the 2 GB cap: it never binds here
    res = jvm(cp, work, {
        "mode": "groups", "workload": args.workload, "input": corpus, "limit": limit,
        "seconds": args.seconds, "trace": args.trace, "cores": cores()},
        timeout=170)
    checks = list(res["checks"])
    checks.append(check_stats(res["stats_dir"], str(corpus), "client_id"))
    phases = res["phases"]
    timed = [p for p in phases if not p["traced"]]
    facts = res["facts"]
    e2e = {
        "setup_s": gen + res["marks_s"]["warmup"],
        "pack_s": median(p["pack_s"] for p in timed),
        "stats_s": median(p["stats_s"] for p in timed),
        "load_first_group_s": median(p["load_first_group_s"] for p in timed),
        "load_s": median(p["load_s"] for p in timed),
        "shard_bytes_per_input_byte": facts["shard_bytes"] / input_bytes(res["stats_dir"]),
    }
    e2e["calls_total_s"] = median(p["pack_s"] + p["stats_s"] + p["load_s"] for p in timed)
    e2e["calls_geomean_s"] = geomean([e2e["pack_s"], e2e["stats_s"], e2e["load_s"]])
    layers = {}
    detail = {"input_digest": file_digest(sorted(corpus.glob("*.parquet"))),
              "generate_s": gen, "jvm_marks_s": res["marks_s"], "jvm_process_s": res["process_s"],
              "groups": n_groups, "rows": n_rows, "limit": limit,
              "iterations": [{k: round(v, 4) for k, v in p.items()} for p in phases],
              "calib_s": res["calib_s"]}
    if args.trace:
        traced = res["layers"]
        layers = {k: median(l[k] for l in traced) for k in traced[0]}
        layers.update(res["probes"])
        walls = [p["pack_s"] + p["stats_s"] + p["load_s"] for p in phases]
        on = [w for w, p in zip(walls, phases) if p["traced"]]
        off = [w for w, p in zip(walls, phases) if not p["traced"]]
        detail["trace_overhead_s"] = median(on) - median(off) if off else None
    layers.update(pack_layers(facts, res))
    return e2e, layers, checks, len(phases) * 3, detail


def pack_layers(facts, res):
    return {
        "pack.kept_ratio": facts["kept_ratio"],
        "pack.max_group_mb": facts["max_group_mb"],
        "tfrecordio.shards": facts["shards"],
        "tfrecordio.shard_mb": facts["shard_bytes"] / 2 ** 20,
        "host.calib_start_s": res["calib_s"][0],
        "host.calib_end_s": res["calib_s"][1],
        "jvm.peak_rss_mb": res["peak_rss_mb"],
    }


def run_catalog(args, scale, cp, work):
    data, corpus = work / "tables", work / "corpus"
    t0 = time.perf_counter()
    gen_tables.write(data, args.seed, scale["sf"])
    gen_tables.write_groups(corpus, args.seed, scale["capped_rows"], None)
    gen = time.perf_counter() - t0
    limit = scale["capped_rows"] * CAP_PER_ROW
    # Cold repetitions, each a fresh JVM: at least CATALOG_MIN_REPS, then
    # until `seconds` have passed. Each times the queries, then passes of
    # the group pipeline on the few-capped-groups corpus. The first one then
    # runs the output checks and writes the query results for the oracle
    # check; in a traced run it is the traced repetition.
    reps = []
    start = time.perf_counter()
    while len(reps) < CATALOG_MIN_REPS or time.perf_counter() - start < args.seconds:
        first = not reps
        opts = {"mode": "catalog", "cores": cores(), "data": data, "pipeline": corpus,
                "limit": limit, "trace": int(bool(args.trace) and first)}
        if first:
            opts["results"] = work / "results"
        reps.append(jvm(cp, work, opts, timeout=150))
        reps[-1]["traced"] = bool(opts["trace"])

    full = reps[0]
    names = [q["name"] for q in full["queries"]]
    t0 = time.perf_counter()
    oracle = check_oracle(data, work / "results")
    oracle_s = time.perf_counter() - t0
    checks = []
    for name in names:
        runs = [q for r in reps for q in r["queries"] if q["name"] == name]
        errors = [q["error"] for q in runs if not q["ok"]]
        ok, line = oracle.get(name, oracle[""])
        checks.append({"name": f"query:{name}", "ok": ok and not errors,
                       "detail": "; ".join(errors) or line})
    checks += full["checks"]
    checks.append(check_stats(full["stats_dir"], str(corpus), "client_id"))

    timed = [r for r in reps if not r["traced"]]
    per_query = {}
    for name in names:
        ts = [q["wall_s"] for r in timed for q in r["queries"] if q["name"] == name and q["ok"]]
        if ts:
            per_query[name] = median(ts)
    phases = [p for r in reps for p in r["phases"]]
    facts = full["facts"]
    e2e = {
        "setup_s": gen + median(r["session_s"] + r["warmup_s"] for r in reps),
        "pack_s": median(p["pack_s"] for p in phases),
        "stats_s": median(p["stats_s"] for p in phases),
        "load_first_group_s": median(p["load_first_group_s"] for p in phases),
        "load_s": median(p["load_s"] for p in phases),
        "shard_bytes_per_input_byte": facts["shard_bytes"] / input_bytes(full["stats_dir"]),
        "calls_total_s": sum(per_query.values()),
        "calls_geomean_s": geomean(list(per_query.values())),
    }
    detail = {"input_digest": file_digest(sorted(data.glob("*.parquet"))
                                          + sorted(corpus.glob("*.parquet"))),
              "queries": names, "reps": len(reps), "limit": limit,
              "iterations": [{k: round(v, 4) for k, v in p.items()} for p in phases],
              "generate_s": gen, "jvm_marks_s": [r["marks_s"] for r in reps],
              "jvm_process_s": [r["process_s"] for r in reps], "oracle_s": oracle_s,
              "calib_s": [r["calib_s"] for r in reps],
              "query_s": {k: round(v, 4) for k, v in per_query.items()}}
    layers = {}
    if args.trace:
        ok = [q for q in full["queries"] if q["ok"]]
        keys = [k for k in ok[0] if k.startswith("spark.")] if ok else []
        layers = sum_layers(ok, keys)
        layers.update(full["probes"])
        detail["layer_record"] = {q["name"]: {k: round(q[k], 4) for k in keys} for q in ok}
        untraced = median(sum(q["wall_s"] for q in r["queries"] if q["ok"]) for r in timed)
        detail["trace_overhead_s"] = sum(q["wall_s"] for q in ok) - untraced
    layers.update(pack_layers(facts, full))
    return e2e, layers, checks, len(names) * len(reps) + len(phases) * 3, detail


def sum_layers(records, keys):
    """Per-query layer records summed; ratios recomputed from the sums."""
    out = {k: sum(q[k] for q in records) for k in keys}
    wall = out.get("spark.wall_s", 0.0)
    if wall > 0:
        cores_ = cores()
        task = cores_ * wall - out["spark.idle_core_s"]
        out["spark.util"] = task / (cores_ * wall)
        out["spark.driver_share"] = (out["spark.construct_s"] + out["spark.compile_s"]) / wall
        out["spark.unexplained_share"] = abs(sum(
            q["spark.wall_s"] * q["spark.unexplained_share"] for q in records)) / wall
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("groups_many_small", "catalog_sample"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = ap.parse_args()
    # a stop request unwinds like an error: subprocess.run kills and waits
    # for the running child, and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scale = SCALES[args.scale]
    cp = classpath()
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        runner = run_catalog if args.workload == "catalog_sample" else run_groups
        e2e, layers, checks, ops, detail = runner(args, scale, cp, work)
        if args.trace:
            share = layers["spark.unexplained_share"]
            checks.append({"name": "layers_reconcile", "ok": share <= RECONCILE_TOLERANCE,
                           "detail": f"unexplained share {share:.4f}, tolerance {RECONCILE_TOLERANCE}"})
        failed = [c for c in checks if not c["ok"]]
        if failed:
            # the reasons go to stderr too, with the end of the JVM log
            for c in failed:
                print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
            log = work / "jvm.log"
            if log.is_file():
                sys.stderr.write(log.read_text(errors="replace")[-6000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = ops + len(checks)
    detail.update({
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "error_rate": len(failed) / attempted,
        "failed_checks": failed, "checks_passed": len(checks) - len(failed),
    })
    # the metric names and units are those of BENCHMARK.json
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted, values = (spec["per_layer"], layers) if args.trace else (spec["end_to_end"], e2e)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not computed: {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
