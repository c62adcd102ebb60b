"""Generate the query workload's input tables.

The tables are the scale-factor-0.1 star schema the graft queries are
written against (`region nation customer supplier part orders lineitem
events documents embeddings`, one parquet file each): uniform keys,
dates, prices and categories; events in id order with exponential
values; documents of 10 to 99 words from a 30-word vocabulary, 250 of
them a copy of another plus the word "dup"; unit-length embeddings
whose labels carry no signal. With the default seed the frames equal
the sf0.1 data set value for value (BASELINE.md records the
comparison). One seed always yields byte-identical inputs.
"""
import os

import numpy as np
import pandas as pd

SF = 0.1
DATA_SEED = 42
WORDS = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, offsets):
    return np.datetime64(start, "s") + offsets.astype("timedelta64[D]")


def tables(seed=DATA_SEED):
    """Return {table name: pandas DataFrame} for one seed."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_line = int(1500000 * SF), int(6000000 * SF)
    n_events, n_docs, n_vecs = 100000, 5000, 2000
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, ["BUILDING", "AUTOMOBILE", "MACHINERY",
                                      "HOUSEHOLD", "FURNITURE"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = "red blue small large hot cold old new".split()
    noun = "anvil widget gizmo bolt gear plate rod ring".split()
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, adj, n_part),
                                              _choice(rng, noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                "ECONOMY", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _choice(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _choice(rng, ["O", "F"], n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line))})
    # events arrive in id order over 30 days of January 2024
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
        "event_type": _choice(rng, ["click", "view", "purchase", "signup",
                                    "error"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # documents: each draws its length, then its words; then 250
    # near-duplicates, each another document (drawn with replacement,
    # so two near-duplicates of one source are exact copies) plus "dup"
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.choice(len(words), int(rng.integers(10, 100)))])
             for _ in range(n_docs)]
    near = rng.choice(n_docs, 250, replace=False)
    for d, s in zip(near, rng.integers(0, n_docs, 250)):
        texts[d] = texts[s] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)})
    return out


def write(out_dir, seed=DATA_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), engine="pyarrow",
                      index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)

