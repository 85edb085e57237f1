#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB correctness gate.

Runs each oracle SQL from <outdir>/oracle_sql.json in DuckDB against the
same parquet tables, loads the Spark result parquet, sorts columns by
name and rows by all columns, and diffs values. Mirrors (our best guess
of) the driver's compare so oracle mistakes surface before round end.

Usage: python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_r1
       python3 tools/check_oracle.py --selftest   # ulp-sensitivity check
"""
import json, math, sys
import duckdb
import pyarrow.parquet as pq
import pathlib


def _selftest():
    """The comparator must flag a 1-ulp float difference (driver parity)."""
    import pyarrow as pa
    a, b = 0.1 + 0.2, 0.3  # differ by 1 ulp; equal after round(..., 6)
    assert a != b
    ta = pa.table({"x": [a]})
    tb = pa.table({"x": [b]})

    def render(tbl):
        out = []
        for row in tbl.to_pylist():
            v = row["x"]
            out.append(repr(v) if not math.isnan(v) else "NaN")
        return out

    assert render(ta) != render(tb), "ulp perturbation NOT detected"
    print("OK selftest: 1-ulp float difference detected")

    # A raw-bytes output column must be flagged: the driver sorts with
    # pandas sort_values, which throws TypeError('unhashable type:
    # bytearray') on BinaryType columns (sank group_counts_binary_key
    # in round 6 while this pre-flight, then sorting rendered strings,
    # stayed green). The pre-flight must be a strict superset of the
    # driver's failure modes.
    tbin = pa.table({"group_id": [b"\x00\xff", b"\x01"], "n": [1, 2]})
    try:
        _driver_sort_probe(tbin)
    except TypeError:
        print("OK selftest: binary column caught by driver-sort probe")
    else:
        raise AssertionError("binary column NOT caught by driver-sort probe")
    _driver_sort_probe(pa.table({"s": ["a", "b"], "n": [1, 2]}))
    print("OK selftest: string/int columns pass driver-sort probe")

    # the CTE lint counts table reads only: a quoted 'g' (a regex flag),
    # a column x.g and a select-list g are not reads of CTE g
    inst = _cte_expansion_lint("selftest", """
        WITH g AS (SELECT 1 AS g),
        p AS (SELECT x.g, regexp_replace('a', 'a', 'b', 'g') AS r, g
              FROM g x)
        SELECT * FROM p""")
    assert inst["g"] == 1, inst
    print("OK selftest: quoted 'g' and column x.g are not CTE reads")
    # a three-deep chain read twice per level multiplies to 2^3 and warns
    chain = """
        WITH a AS (SELECT 1 AS v),
        b AS (SELECT * FROM a, a AS a2),
        c AS (SELECT * FROM b JOIN b AS b2 ON true)
        SELECT * FROM c, (SELECT * FROM c) c2"""
    assert _cte_expansion_lint("selftest_chain", chain, threshold=8)["a"] == 8
    print("OK selftest: three-deep chain read twice per level warns")


def _driver_sort_probe(tbl):
    """Replicate the driver's pandas compare boundary: to_pandas() then
    sort_values over every column. The driver fetches the DuckDB side
    via fetchdf, which materializes BLOB as *bytearray* (unhashable —
    pandas factorize crashes); pyarrow's to_pandas gives hashable
    *bytes*, which is why round 6's pre-flight stayed green while the
    driver crashed. Coerce bytes -> bytearray first so this probe raises
    exactly where the driver would — locally, before round end."""
    df = tbl.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: bytearray(v) if isinstance(v, (bytes, bytearray)) else v)
    df.sort_values(by=list(df.columns), inplace=False, kind="mergesort")


def _table_refs(name, sql):
    """Times `name` is read as a table in `sql` (quoted strings already
    stripped): right after FROM or JOIN, or after a comma of a FROM
    list — a comma whose nearest clause keyword at the same paren depth
    is FROM, JOIN or ON. A column `x.name`, a select-list `, name` and
    a call `name(` are not table reads."""
    import re
    n = 0
    for m in re.finditer(r"(\bFROM|\bJOIN|,)\s+%s\b(?!\s*[.(])" % re.escape(name),
                         sql, re.I):
        if m.group(1) != ",":
            n += 1
            continue
        depth, k = 0, m.start()
        while k > 0:
            k -= 1
            ch = sql[k]
            if ch == ")":
                depth += 1
            elif ch == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and ch.isalpha() and (k == 0 or not (
                    sql[k - 1].isalnum() or sql[k - 1] == "_")):
                w = re.match(r"\w+", sql[k:]).group(0).upper()
                if w in ("FROM", "JOIN", "ON"):
                    n += 1
                    break
                if w in ("SELECT", "WHERE", "GROUP", "ORDER", "HAVING",
                         "WINDOW", "QUALIFY", "LIMIT", "VALUES", "WITH",
                         "BY", "USING", "RETURNING"):
                    break
    return n


def _cte_expansion_lint(name, sql, threshold=32):
    """DuckDB re-expands PLAIN (non-MATERIALIZED) CTEs per reference,
    MULTIPLICATIVELY down a chain — a deep multiply-referenced chain
    made r8's PCA-deflation oracle hang in EXPLAIN alone. Estimate each
    plain CTE's instantiation count topologically (instantiations of a
    CTE = sum of its referrers' instantiations x reference count;
    MATERIALIZED CTEs count once) and warn when any estimate crosses
    `threshold` — the lint that keeps the lesson durable.

    ADVISORY, not a gate: materializing also BLOCKS predicate/filter
    pushdown into the CTE, which can be far worse than re-expansion
    when the CTE feeds filtered pairwise joins (select_kcenter's
    normalized-vector CTE: inlined+pushed plain form beats the
    materialized full cross product). A/B-time before applying; a
    reviewed-and-declined flag is a valid resolution."""
    import re
    sql = re.sub(r"'(?:[^']|'')*'", "''", sql)
    defs = [(m.group(1), m.group(2) is not None, m.start())
            for m in re.finditer(r"(\w+)\s+AS\s+(MATERIALIZED\s+)?\(", sql)]
    if not defs:
        return {}
    names = [d[0] for d in defs]
    mat = {d[0]: d[1] for d in defs}
    pos = {d[0]: d[2] for d in defs}
    # reference counts of each cte inside each cte body and the final
    # select (table reads; a body is its def's parenthesized span)
    def body(p):
        o, depth = sql.index("(", p), 0
        for k in range(o, len(sql)):
            depth += {"(": 1, ")": -1}.get(sql[k], 0)
            if depth == 0:
                return o, k + 1
        return o, len(sql)
    region_of = {n: body(pos[n]) for n in names}
    tail_start = max(b for _, b in region_of.values())
    inst = {}
    # REVERSE order: a CTE's referrers appear later in the WITH chain,
    # so their instantiation counts must exist before the referee's —
    # forward iteration always read the 1.0 default and the
    # multiplicative chain (the exact exponential case this lint is
    # for) never propagated
    for n in reversed(names):
        refs = 0.0
        for m, (a, b) in region_of.items():
            if m == n:
                continue
            cnt = _table_refs(n, sql[a:b])
            if cnt:
                refs += cnt * (1.0 if mat.get(m, False) else inst.get(m, 1.0))
        refs += _table_refs(n, sql[tail_start:])
        inst[n] = 1.0 if mat[n] else max(refs, 1.0)
    worst = max(inst.items(), key=lambda kv: kv[1])
    if worst[1] >= threshold:
        print(f"LINT {name}: plain CTE '{worst[0]}' expands ~{worst[1]:.0f}x "
              f"(chain re-expansion) — mark it AS MATERIALIZED")
    return inst


if sys.argv[1] == "--selftest":
    _selftest()
    sys.exit(0)

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))


fail = 0
for name, sql in sorted(oracle.items()):
    _cte_expansion_lint(name, sql)
    spark_dir = pathlib.Path(outdir) / name
    files = list(spark_dir.glob("*.parquet"))
    if not files:
        print(f"FAIL {name}: no spark result parquet"); fail += 1; continue
    try:
        duck = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}"); fail += 1; continue
    spark = pq.read_table(files[0])
    # sort columns by name
    dcols, scols = sorted(duck.column_names), sorted(spark.column_names)
    if dcols != scols:
        print(f"FAIL {name}: columns differ duck={dcols} spark={scols}"); fail += 1; continue
    # Type-CLASS parity: the driver hashes python-native values, which
    # normalizes int widths (int32 vs int64 rows passed r01/r02) but NOT
    # numeric classes — a DuckDB HUGEINT/DECIMAL (e.g. any un-CAST
    # windowed/plain sum) arrives as Decimal('3') vs Spark's 3 and
    # hash-fails even though str() renders both as "3" (this sank
    # events_sessions_30min.session_seq in round 2). Flag class drift.
    def tclass(t):
        s = str(t)
        for k in ("int", "float", "double", "decimal", "string", "large_string",
                  "bool", "binary", "timestamp", "date", "list"):
            if s.startswith(k):
                return {"double": "float", "large_string": "string"}.get(k, k)
        return s
    dtypes = {f.name: tclass(f.type) for f in duck.schema}
    stypes = {f.name: tclass(f.type) for f in spark.schema}
    drift = {c: (dtypes[c], stypes[c]) for c in dcols if dtypes[c] != stypes[c]}
    if drift:
        print(f"FAIL {name}: type-class drift (decimal/float vs int hashes differ in the driver): {drift}")
        fail += 1; continue
    # Driver-sort parity: the driver sorts BOTH result frames with pandas
    # sort_values before hashing; columns pandas cannot factorize
    # (BinaryType -> bytearray) crash its comparator (round 6:
    # group_counts_binary_key). Probe both sides the driver's way.
    try:
        _driver_sort_probe(duck)
        _driver_sort_probe(spark)
    except TypeError as e:
        print(f"FAIL {name}: driver's pandas sort would crash ({e}); "
              f"re-encode the offending column (hex/base64) at the query boundary")
        fail += 1; continue
    def norm(tbl):
        # EXACT value compare — the driver hashes exact rendered values,
        # so any local rounding here is weaker than the gate (round 1:
        # events_sessions_30min passed locally at round-6 but failed the
        # driver on a final-ulp double-sum difference). repr() of a float
        # is shortest-roundtrip: two floats render equal iff bit-equal
        # (modulo -0.0/NaN, which we normalize).
        rows = []
        for row in tbl.select(dcols).to_pylist():
            vals = []
            for c in dcols:
                v = row[c]
                if isinstance(v, float):
                    if math.isnan(v):
                        v = "NaN"
                    else:
                        v = repr(v + 0.0 if v != 0.0 else 0.0)
                vals.append(str(v))
            rows.append("|".join(vals))
        return sorted(rows)
    d, s = norm(duck), norm(spark)
    if len(d) != len(s):
        print(f"FAIL {name}: row counts duck={len(d)} spark={len(s)}"); fail += 1; continue
    bad = [(a, b) for a, b in zip(d, s) if a != b]
    if bad:
        print(f"FAIL {name}: {len(bad)}/{len(d)} rows differ; first: duck={bad[0][0]!r} spark={bad[0][1]!r}")
        fail += 1
    else:
        print(f"OK   {name}: {len(d)} rows match")
# queries without oracle: rows-only
import os
for name in sorted(os.listdir(outdir)):
    p = pathlib.Path(outdir) / name
    if p.is_dir() and name not in oracle:
        n = sum(f.stat().st_size for f in p.glob("*.parquet"))
        print(f"INFO {name}: no oracle (rows-only check), parquet bytes={n}")
sys.exit(1 if fail else 0)
