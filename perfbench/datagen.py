"""Seeded input tables for the benchmark workloads.

The tables follow the schemas and distributions of the engine's test data
(events, documents, embeddings and the TPC-H-style star schema), sized by a
scale factor `sf` with the same per-key density at every size: 1e6·sf
events over 15000·sf users (about 67 events per user over 30 days),
50000·sf documents and embeddings, and the TPC-H row counts. The same seed
and scale factor always give byte-identical parquet files.

- events: uniform timestamps over January 2024, event ids in time order,
  five event types in equal shares, exponential values (mean 50, two
  decimals) and a small JSON `props` payload.
- documents: 10-99 words over a 30-word vocabulary in five languages
  (44% en). 0.2% are planted exact copies of an earlier document and 5%
  planted near-copies (a tenth of the words redrawn, with a `dup` marker).
- embeddings: isotropic unit vectors in 64 dimensions with ten labels, plus
  1% planted near-copies (cosine about 0.99 to their source).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.15, 0.13, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold")
PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TS0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 1_000_000
DAY_US = 86400 * 1_000_000
DATE0_US = 788918400 * 1_000_000  # 1995-01-01

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, sf: float) -> pa.Table:
    n = max(1, round(1_000_000 * sf))
    users = max(1, round(15_000 * sf))
    ts = np.sort(TS0_US + rng.integers(0, SPAN_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(rng, sf: float) -> pa.Table:
    n = max(2, round(50_000 * sf))
    vocab = np.asarray(VOCAB)
    lens = rng.integers(10, 100, n)
    pool = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    words = [list(pool[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # planted exact copies (0.2%) and near-copies (5%) of earlier documents
    for j in rng.choice(np.arange(1, n), size=max(1, n // 500), replace=False):
        words[j] = list(words[rng.integers(0, j)])
    for j in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        w = list(words[rng.integers(0, j)])
        for p in rng.integers(0, len(w), max(1, len(w) // 10)):
            w[p] = vocab[rng.integers(0, len(vocab))]
        words[j] = w + ["dup"]
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, sf: float, dim: int = 64) -> pa.Table:
    n = max(2, round(50_000 * sf))
    v = rng.standard_normal((n, dim)).astype(np.float32)
    planted = rng.choice(np.arange(1, n), size=max(1, n // 100), replace=False)
    for j in planted:
        v[j] = v[rng.integers(0, j)] + rng.normal(0, 0.02, dim).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array(np.char.add(
                np.char.add(np.asarray(PART_ADJ)[rng.integers(0, 7, n_part)], " "),
                np.asarray(PART_NOUN)[rng.integers(0, 7, n_part)])),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array(np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": _ts(DATE0_US + DAY_US * rng.integers(0, 2405, n_ord)),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.asarray(("F", "O"))[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(DATE0_US + DAY_US * rng.integers(1, 2500, n_li)),
        }),
    }
    return out


def make_tables(out_dir: str, seed: int, sizes: dict[str, float]) -> str:
    """Write the tables for (seed, sizes) under `out_dir`, one
    `<table>.parquet` each, unless a completed set is already there.
    `sizes` maps "events", "documents", "embeddings" and "tpch" (the seven
    star-schema tables) to a scale factor."""
    marker = os.path.join(out_dir, ".complete")
    want = {"seed": seed, "sizes": sizes}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    # one child generator per table group, so a table's rows do not depend
    # on which other tables were requested
    seeds = dict(zip(("events", "documents", "embeddings", "tpch"),
                     np.random.SeedSequence(seed).spawn(4)))
    makers = {"events": events, "documents": documents, "embeddings": embeddings}
    built: dict[str, pa.Table] = {}
    for group, sf in sizes.items():
        rng = np.random.default_rng(seeds[group])
        if group == "tpch":
            built.update(tpch(rng, sf))
        else:
            built[group] = makers[group](rng, sf)
    for name, table in built.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump(want, f)
    return out_dir
