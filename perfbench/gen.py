"""Seeded input generation for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
as one parquet file per table, with the column names and types of the
TPC-H-like test fixtures the queries were written against (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``, ``events``, ``documents``, ``embeddings``).  The same seed
gives byte-identical inputs; different seeds keep every table's size and
every column's distribution, so selectivities stay equal across seeds.

Each seed also draws an offset for every TPC-H primary/foreign key pair
(the key-remapping scheme of the scale-up fixtures): join results keep
their shape while no two seeds share key values.  Document and vector
ids start at 0, because the text stages shard on ``doc_id % 8``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STOPWORDS = ["the", "a", "and", "of", "to", "be", "that", "have", "with", "in"]
LANGS = ["de", "en", "en", "en", "fr"]
EMB_DIM = 64


def _ts(days: np.ndarray, base: str) -> pa.Array:
    epoch = np.datetime64(base, "us")
    return pa.array(epoch + (days * 86_400_000_000).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tbl.num_rows


def _vocabulary(rng, size: int = 30_000) -> np.ndarray:
    letters = rng.integers(0, 26, (2 * size, 9)) + ord("a")
    lengths = rng.integers(3, 10, 2 * size)
    words = {bytes(row[:k].astype(np.uint8)).decode() for row, k in zip(letters, lengths)}
    words = rng.permutation(sorted(words - set(STOPWORDS)))[: size - len(STOPWORDS)]
    return np.concatenate([STOPWORDS, words])


def _documents(rng, n_docs: int):
    """Zipf-distributed word text (stopwords most frequent) with planted
    near-duplicates: about one document in ten copies an earlier one
    with a single word changed, which keeps its char-4-shingle Jaccard
    well above the 0.7 dedup threshold."""
    vocab = _vocabulary(rng)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            if len(words) >= 40:
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, 200)])
                texts.append(" ".join(words))
                continue
        n = int(rng.integers(8, 121))
        texts.append(" ".join(rng.choice(vocab, n, p=p)))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n_vecs: int):
    vecs = (rng.standard_normal((n_vecs, EMB_DIM)) * 0.12).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }


def generate(out_dir: str, seed: int, sf: float, tables) -> dict[str, int]:
    """Write the requested ``tables`` at scale ``sf`` (1.0 = 6M lineitem
    rows) under ``out_dir``; return ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # keys stay well inside int32 for the int32 columns and leave room
    # for doc_id % 8 / o_orderkey % 100 style derived keys
    cust_off, supp_off, part_off, order_off = (
        int(x) * 1000 for x in rng.integers(0, 1000, 4)
    )
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    rows: dict[str, int] = {}
    want = set(tables)

    if "region" in want:
        rows["region"] = _write(out_dir, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        })
    if "nation" in want:
        rows["nation"] = _write(out_dir, "nation", {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5).astype(np.int32)),
        })
    if "customer" in want:
        keys = np.arange(n_cust, dtype=np.int64) + cust_off
        rows["customer"] = _write(out_dir, "customer", {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        })
    if "supplier" in want:
        keys = np.arange(n_supp, dtype=np.int64) + supp_off
        rows["supplier"] = _write(out_dir, "supplier", {
            "s_suppkey": pa.array(keys),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        })
    if "part" in want:
        adj = rng.integers(0, len(P_ADJ), n_part)
        noun = rng.integers(0, len(P_NOUN), n_part)
        rows["part"] = _write(out_dir, "part", {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64) + part_off),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)),
        })
    if "orders" in want or "lineitem" in want:
        order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
        if "orders" in want:
            rows["orders"] = _write(out_dir, "orders", {
                "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64) + order_off),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders) + cust_off),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
                "o_orderdate": _ts(order_days, "1995-01-01"),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
            })
        if "lineitem" in want:
            per_order = rng.integers(1, 8, n_orders)
            okeys = np.repeat(np.arange(n_orders), per_order)
            n_li = len(okeys)
            linenumber = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
            qty = rng.integers(1, 51, n_li).astype(np.float64)
            rows["lineitem"] = _write(out_dir, "lineitem", {
                "l_orderkey": pa.array(okeys.astype(np.int64) + order_off),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li) + part_off),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li) + supp_off),
                "l_linenumber": pa.array(linenumber.astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts(order_days[okeys] + rng.integers(1, 122, n_li), "1995-01-01"),
            })
    if "events" in want:
        n_ev = int(1_000_000 * sf)
        secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
        rows["events"] = _write(out_dir, "events", {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us")
                           + (secs * 1e6).astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        })
    if "documents" in want:
        rows["documents"] = _write(out_dir, "documents",
                                   _documents(rng, int(50_000 * sf)))
    if "embeddings" in want:
        rows["embeddings"] = _write(out_dir, "embeddings",
                                    _embeddings(rng, int(50_000 * sf)))
    return rows

