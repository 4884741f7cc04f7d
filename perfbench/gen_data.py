#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes `orders`, `lineitem` and `documents` parquet tables with the same
schema and value domains as the project's TPC-H-ish test data (see
TESTDATA.md and tools/gen_scale_fixture.py), at a given scale factor:
lineitem holds about 6,000,000 * sf rows. It also writes `rules`, the
stored rule table customer-detail pages match against (the reference keeps
FP-Growth rules in its database): the RULES most frequent item pairs as
single-item rules with their confidence and lift. The tables depend only on the
scale factor and the fixed DATA_SEED, never on a benchmark run's seed, so
every run of a workload reads the same tables and the run seed varies only
the request stream (see streams.py).

Part keys are uniform except for BUNDLES co-purchased pairs: in a
BUNDLE_SHARE of the orders with two or more lines, the first two lines are
a bundle, drawn with Zipf(1) popularity. Without them no part pair reaches
the min-support values the program's callers use (0.002 to 0.02); with
them the most popular bundle has a support of about 0.05 and the 25th
about 0.002, so min-support decides how many rules a request returns.

Usage: python3 perfbench/gen_data.py <sf> <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
RULES = 200
BUNDLES = 100
BUNDLE_SHARE = 0.3
EPOCH_95 = np.datetime64("1995-01-01")
SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANGP = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])


def sizes(sf):
    """Row counts per table; streams.py uses the customer count."""
    return {"customers": max(int(150_000 * sf), 1),
            "parts": max(int(200_000 * sf), 1),
            "orders": max(int(1_500_000 * sf), 1),
            "documents": max(int(50_000 * sf), 1)}


def ts_us(days):
    return (EPOCH_95 + (days * 86400).astype("timedelta64[s]")) \
        .astype("datetime64[us]")


def pair_rules(basket, item):
    """Top RULES item pairs by basket count as rules a -> b (a < b), with
    confidence = n(a, b) / n(a) and lift = n(a, b) * baskets / (n(a) n(b)),
    counted over distinct (basket, item)."""
    key = np.unique(basket * (item.max() + 1) + item)
    b, i = np.divmod(key, item.max() + 1)
    items, n_item = np.unique(i, return_counts=True)
    count = dict(zip(items.tolist(), n_item.tolist()))
    n_baskets = np.unique(b).size
    pairs = []
    for d in range(1, 7):  # at most 7 lines per basket
        same = b[d:] == b[:-d]
        pairs.append(np.stack([i[:-d][same], i[d:][same]], axis=1))
    pairs = np.concatenate(pairs)
    uniq, n_pair = np.unique(pairs, axis=0, return_counts=True)
    top = np.lexsort((uniq[:, 1], uniq[:, 0], -n_pair))[:RULES]
    a, c, n = uniq[top, 0], uniq[top, 1], n_pair[top]
    na = np.array([count[x] for x in a.tolist()], dtype=np.float64)
    nc = np.array([count[x] for x in c.tolist()], dtype=np.float64)
    return pa.table({
        "antecedent": pa.array([[x] for x in a.tolist()],
                               pa.list_(pa.int64())),
        "consequent": pa.array([[x] for x in c.tolist()],
                               pa.list_(pa.int64())),
        "confidence": n / na,
        "lift": n * n_baskets / (na * nc)})


def add_bundles(partkey, lines, n_p):
    """Overwrites the first two lines of a share of the orders with a
    bundle. A generator of its own, so the other tables and columns are
    the same as without bundles."""
    rng = np.random.default_rng(DATA_SEED + 1)
    k = min(BUNDLES, n_p // 2)
    pairs = rng.permutation(n_p)[:2 * k].reshape(k, 2)
    weight = 1.0 / np.arange(1, k + 1)
    first = np.cumsum(lines) - lines
    chosen = (lines >= 2) & (rng.random(lines.size) < BUNDLE_SHARE)
    at = first[chosen]
    pick = pairs[rng.choice(k, at.size, p=weight / weight.sum())]
    partkey[at] = pick[:, 0]
    partkey[at + 1] = pick[:, 1]


def generate(sf, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    n_c, n_p, n_o, n_d = (n["customers"], n["parts"], n["orders"],
                          n["documents"])

    odate = np.floor(rng.uniform(0, SPAN_DAYS, n_o))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_o)]}),
        os.path.join(out, "orders.parquet"))

    # 1..7 lines per order (mean 4)
    lines = rng.integers(1, 8, n_o)
    lok = np.repeat(np.arange(n_o), lines)
    n_l = lok.size
    ship = np.repeat(odate, lines) + rng.uniform(1, 95, n_l)
    partkey = rng.integers(0, n_p, n_l)
    add_bundles(partkey, lines, n_p)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n_c // 15, 1), n_l),
                              pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_l), 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_l)],
        "l_shipdate": ts_us(np.minimum(ship, SPAN_DAYS + 95))}),
        os.path.join(out, "lineitem.parquet"))

    pq.write_table(pair_rules(lok, partkey), os.path.join(out, "rules.parquet"))

    # 10..100 words from the vocabulary; every 625th document repeats the
    # previous one exactly (the exact-dedup stage's input)
    lens = rng.integers(10, 101, n_d)
    texts = []
    for i in range(n_d):
        if i % 625 == 624:
            texts.append(texts[i - 1])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB),
                                                     lens[i])]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_d, p=LANGP)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(float(sys.argv[1]), sys.argv[2])
