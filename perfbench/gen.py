#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes parquet tables in the layout the graft readers expect
(``<dir>/<table>.parquet``, schemas as in FIXTURES.md §2) for one workload:

* ``markt``  — ``events`` (``--events`` rows over 1.5% as many users, about
  13 events per (user, event type) push as in the sf0.1 testdata; more
  events mean more pushes while the customer dimension stays at 15,000
  rows), ``customer``, ``nation``, ``region``.
* ``vector`` — ``documents`` (``--docs`` rows with exact and near-duplicate
  pairs at two perturbation rates), ``embeddings`` (``--vectors`` unit
  vectors of dimension 64). The corpus op derives its two daily snapshots
  from ``documents``.

Every directory also holds small stand-ins for the remaining star-schema
tables, so an oracle that registers all tables can open each one.
The same ``--seed`` and sizes give byte-identical files.

Usage: gen.py --workload markt --seed 1 --out DIR [--events 100000]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
USERS_PER_EVENT = 0.015
CUSTOMERS = 15_000
EMBED_DIM = 64
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86_400 * 1_000_000


def write(table: pa.Table, path: str) -> None:
    # one row group, no dictionary/statistics variance: the same table gives
    # the same bytes on every run
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def star_dims(rng: np.random.Generator, out: str) -> None:
    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, CUSTOMERS)]}),
        f"{out}/customer.parquet")


def stand_ins(out: str) -> None:
    """One-row supplier/part/orders/lineitem tables (and empty events,
    documents, embeddings where the workload has none)."""
    ts = pa.array([T0_US // 1000], pa.timestamp("ms"))
    tables = {
        "supplier": pa.table({"s_suppkey": pa.array([0], pa.int64()), "s_name": ["S0"],
                              "s_nationkey": pa.array([0], pa.int32()), "s_acctbal": [0.0]}),
        "part": pa.table({"p_partkey": pa.array([0], pa.int64()), "p_name": ["P0"],
                          "p_brand": ["B0"], "p_type": ["T0"],
                          "p_size": pa.array([1], pa.int32()), "p_retailprice": [1.0]}),
        "orders": pa.table({"o_orderkey": pa.array([0], pa.int64()),
                            "o_custkey": pa.array([0], pa.int64()), "o_orderstatus": ["O"],
                            "o_totalprice": [1.0], "o_orderdate": ts, "o_orderpriority": ["1"]}),
        "lineitem": pa.table({"l_orderkey": pa.array([0], pa.int64()),
                              "l_partkey": pa.array([0], pa.int64()),
                              "l_suppkey": pa.array([0], pa.int64()),
                              "l_linenumber": pa.array([1], pa.int32()),
                              "l_quantity": [1.0], "l_extendedprice": [1.0], "l_discount": [0.0],
                              "l_tax": [0.0], "l_returnflag": ["N"], "l_linestatus": ["O"],
                              "l_shipdate": ts}),
        "events": pa.table({"event_id": pa.array([], pa.int64()),
                            "ts": pa.array([], pa.timestamp("us")),
                            "user_id": pa.array([], pa.int64()),
                            "event_type": pa.array([], pa.string()),
                            "value": pa.array([], pa.float64()),
                            "props": pa.array([], pa.string())}),
        "documents": docs_table(np.array([], np.int64), [], np.array([], str)),
        "embeddings": pa.table({"vec_id": pa.array([], pa.int64()),
                                "embedding": pa.array([], pa.list_(pa.float32())),
                                "label": pa.array([], pa.int32())}),
    }
    for name, t in tables.items():
        if not os.path.exists(f"{out}/{name}.parquet"):
            write(t, f"{out}/{name}.parquet")


def events(rng: np.random.Generator, n: int, out: str) -> None:
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, n))
    props = np.array([f'{{"k": {k}}}' for k in range(100)])
    write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(n * USERS_PER_EVENT)), n), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": props[rng.integers(0, 100, n)]}), f"{out}/events.parquet")


def random_text(rng: np.random.Generator) -> list:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 101))]


def perturb(rng: np.random.Generator, words: list, rate: float) -> list:
    """Replace about `rate` of the words (at least one) with vocabulary words."""
    out = list(words)
    k = max(1, int(round(rate * len(out))))
    for i in rng.choice(len(out), size=min(k, len(out)), replace=False):
        out[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return out


def doc_texts(rng: np.random.Generator, n: int) -> list:
    """n texts of which 15% form duplicate pairs: a third exact copies
    (tagged 'dup'), a third near copies at 5% word perturbation, a third at
    20%; the rest are independent."""
    texts = [random_text(rng) for _ in range(n)]
    order = rng.permutation(n)
    pairs = order[: 2 * (3 * n // 40)].reshape(-1, 2)
    third = len(pairs) // 3
    for j, (a, b) in enumerate(pairs):
        if j < third:
            texts[a] = texts[a] + ["dup"]
            texts[b] = list(texts[a])
        else:
            texts[b] = perturb(rng, texts[a], 0.05 if j < 2 * third else 0.20)
    return [" ".join(t) for t in texts]


def langs(rng: np.random.Generator, n: int) -> np.ndarray:
    return LANGS[rng.choice(5, n, p=LANG_P)]


def docs_table(ids: np.ndarray, texts: list, lang: np.ndarray) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def vectors(rng: np.random.Generator, n: int, out: str) -> None:
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())}), f"{out}/embeddings.parquet")


def generate(workload: str, seed: int, out: str, events_n: int = 100_000,
             docs: int = 5000, vecs: int = 2000) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, {"markt": 1, "vector": 2}[workload]])
    if workload == "markt":
        events(rng, events_n, out)
        star_dims(rng, out)
    elif workload == "vector":
        write(docs_table(np.arange(docs), doc_texts(rng, docs), langs(rng, docs)),
              f"{out}/documents.parquet")
        vectors(rng, vecs, out)
        star_dims(rng, out)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    stand_ins(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["markt", "vector"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--vectors", type=int, default=2000)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.events, a.docs, a.vectors)


if __name__ == "__main__":
    main()
