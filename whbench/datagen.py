"""Seeded warehouse tables with the shape of the sf0.1 test fixtures.

The engine's query registry reads ten parquet tables (a TPC-H-like star
schema, an event stream and two LLM-curation tables). This module writes
the same tables, with the same parquet types (timestamps are naive
microseconds, as in the sf0.001-sf0.1 fixture files), row counts and
categorical values, from a seed: the same seed gives byte-identical
files, another seed gives other values with the same distributions.
Keys are uniform, except that no order goes to a customer whose key is
a multiple of three (TPC-H's rule), so a third of the customers are
idle and the anti join over them has rows to get wrong. The queries'
DuckDB oracles run over the very files the engine reads.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a the data spark query table column row key value join group sort "
         "order filter scan hash window stream batch vector customer part "
         "line agg merge fast slow big small").split()


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return (pd.Timestamp(start)
            + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")).values


def _write(out, name, df):
    t = pa.Table.from_pandas(df, preserve_index=False)
    # the fixture files store naive microsecond timestamps
    t = t.cast(pa.schema([
        f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
        for f in t.schema], metadata=t.schema.metadata))
    pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5% near-duplicates (another document plus one marker token) and a
    # few exact copies: the dedup and clustering queries need both
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


def generate(out, seed, sf):
    """Write the ten tables at scale `sf` for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10000 * sf), int(150000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)

    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    _write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}))
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, n_part),
                                              _pick(rng, NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}))
    active = np.arange(n_cust, dtype=np.int64)
    active = active[active % 3 != 0]
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": active[rng.integers(0, len(active), n_ord)],
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}))
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)}))
    gaps = rng.exponential(26.0, n_ev)
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01")
               + pd.to_timedelta(np.cumsum(gaps), unit="s")).floor("us").values,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    _write(out, "documents", _documents(rng, int(50000 * sf)))
    pq.write_table(_embeddings(rng, int(20000 * sf)),
                   os.path.join(out, "embeddings.parquet"))
