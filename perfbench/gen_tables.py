"""Seeded generators for the benchmark inputs: the catalog tables and the
group corpora.

Writes the ten parquet tables the query catalog reads (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one row group each,
with the column names and types of the reference test data. Sizes follow
the scale factor `sf` (lineitem = 6,000,000 x sf rows). The same seed gives
the same tables.

    python3 perfbench/gen_tables.py <out_dir> <seed> [sf]

`write_groups` makes the federated-learning-shaped corpora of the group
pipeline: many Zipf-sized clients, or a few clients under a binding cap.
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
GROUP_WORDS = ["data", "group", "client", "model", "round", "batch", "token",
               "shard", "record", "update", "weight", "train", "eval", "local",
               "global", "server", "device", "sample", "label", "feature",
               "vector", "merge", "split", "stream", "window", "federated",
               "average", "private", "noise", "budget", "loss", "step",
               "epoch", "cache", "query", "index", "pack", "limit", "bytes",
               "proto"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]


def _micros(y, m, d):
    epoch = datetime.datetime(1970, 1, 1)
    return int((datetime.datetime(y, m, d) - epoch).total_seconds()) * 1_000_000


def _days(rng, n, lo, hi):
    """Midnight timestamps (microseconds) drawn uniformly in [lo, hi]."""
    day = 86_400_000_000
    return lo + rng.integers(0, (hi - lo) // day + 1, n) * day


def _ts(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, sources):
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, sources, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, _micros(1995, 1, 1), _micros(2001, 8, 1))),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, _micros(1995, 1, 2), _micros(2001, 11, 4)))})
    start = _micros(2024, 1, 1)
    span = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, span, n_evt))),
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    out["documents"] = documents(rng, n_doc, 20)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def group_sizes(rows, groups, rng):
    """Rows per client, largest first: Zipf(1) sizes over `groups` clients
    with a +-25% jitter, at least one row each, or with `groups` None eight
    clients, the first holding about half."""
    if groups is None:
        frac = np.array([0.5, 0.2, 0.1, 0.07, 0.05, 0.04, 0.03, 0.01])
        return np.maximum(1, (rows * frac * rng.uniform(0.95, 1.05, 8)).astype(np.int64))
    jitter = rng.uniform(0.75, 1.25, groups)
    ranks = np.arange(1, groups + 1)
    c = rows / np.log(groups + 1)
    for _ in range(4):
        c *= rows / np.maximum(1, (c / ranks * jitter).astype(np.int64)).sum()
    return np.maximum(1, (c / ranks * jitter).astype(np.int64))


def write_groups(out_dir, seed, rows, groups, files=8):
    """One row per example, grouped by `client_id` (sizes from
    `group_sizes`), rows of a client scattered over the files. The columns
    cover every tf.train.Example feature kind: int64 (`ex_id`, `label`),
    float (`score`), bytes (`client_id`, `text`) and a float list (`emb`)."""
    rng = np.random.default_rng([seed, 2])
    sizes = group_sizes(rows, groups, rng)
    client = rng.permutation(np.repeat(np.arange(len(sizes)), sizes))
    n = len(client)
    ends = np.cumsum(rng.integers(8, 48, n)).tolist()
    words = [GROUP_WORDS[i] for i in rng.integers(0, len(GROUP_WORDS), ends[-1]).tolist()]
    texts = [" ".join(words[a:b]) for a, b in zip([0] + ends[:-1], ends)]
    emb = (rng.integers(-10000, 10001, n * 16) / 1000.0).astype(np.float32)
    table = pa.table({
        "client_id": [f"client_{c:06d}" for c in client],
        "ex_id": np.arange(n, dtype=np.int64),
        "label": rng.integers(0, 10, n).astype(np.int64),
        "score": (rng.integers(0, 100000, n) / 1000.0).astype(np.float32),
        "text": texts,
        "emb": pa.ListArray.from_arrays(np.arange(0, n * 16 + 1, 16, dtype=np.int32), emb)})
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return len(sizes), n


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
