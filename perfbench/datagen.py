"""Benchmark inputs: the headline tables.

Headline tables are written as one parquet file each, rows in generation
order. Their contents are fixed: `tables()` draws them from CONTENT_SEED in
the same order and with the same distributions as the generator of the
repository's reference tables (the `sf<scale>` directories that `graft.Bench`
and `graft.Verify` read), so at sf 0.1, 0.01 and 0.001 it yields those
tables value for value. Check that with

    python3 perfbench/datagen.py --compare <sf dir> <scale>

The headline workloads therefore measure the same data as `graft.Bench`, and
the expected query digests in digests.tsv hold for every run. (A run's seed
varies the order the queries run in, not the tables.)

Row counts at sf 0.1: lineitem 600 000, orders 150 000, events 100 000,
documents 5 000, embeddings 2 000.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
SF = 0.1

# List orders are part of the contents: each categorical column is drawn as
# an index into its list.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUSES = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # en three times as likely
DIM = 64
EVENT_DAYS = 30


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end] (whole days)."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def tables(sf=SF):
    """Return {name: pyarrow.Table} with the fixed content, rows in
    generation order (key order, except lineitem). Events span 30 days at
    every scale; documents and embeddings keep at least 500 rows.
    """
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = _pick(rng, ADJ, n_part)
    noun = _pick(rng, NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
        "l_linestatus": _pick(rng, LINE_STATUSES, n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    # sorted uniform instants over the span, taken at ns and truncated to µs
    secs = np.sort(rng.uniform(0.0, EVENT_DAYS * 86400.0, n_events))
    ts = (np.datetime64(dt.datetime(2024, 1, 1), "ns")
          + (secs * 1e9).astype("timedelta64[ns]")).astype("datetime64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # 10-99 random words per document; then 5 % of the documents, at distinct
    # positions, are overwritten in turn by a copy of another one with " dup"
    # appended (so a copy of a copy ends in " dup dup", and two copies of one
    # source are exact duplicates)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
            for _ in range(n_docs)]
    n_dup = n_docs // 20
    dup_at = rng.choice(n_docs, n_dup, replace=False)
    dup_of = rng.integers(0, n_docs, n_dup)
    for at, of in zip(dup_at, dup_of):
        text[at] = text[of] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    v = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def compare(sf_dir, sf):
    """Check `tables(sf)` against the reference tables in `sf_dir`, column by
    column in row order; return the names of the tables that differ.
    """
    differ = []
    for name, t in tables(sf).items():
        ref = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        if ref.schema.remove_metadata() != t.schema or not ref.equals(t):
            differ.append(name)
    return differ


def write(out_dir, sf=SF):
    """Write every table to `out_dir/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys
    if sys.argv[1] == "--compare":
        bad = compare(sys.argv[2], float(sys.argv[3]))
        print("differ: " + ", ".join(bad) if bad else "all tables equal")
        sys.exit(1 if bad else 0)
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else SF)
