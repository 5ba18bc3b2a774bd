"""Seeded synthetic tables for the benchmark.

Writes the engine's star schema (region, nation, customer, supplier,
part, orders, lineitem) and the corpus tables (events, documents,
embeddings) as one parquet file each, with the physical schemas and
member-key domains of the driver-generated test data (FIXTURES.md §B):
int32 region/nation keys, ``Brand#1..25``, five market segments,
ship dates 1995-2001, a January-2024 event stream, documents with
exact and near duplicates.  The same seed always gives the same
bytes, so the DuckDB oracle and the engine read identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts.  Customers are deliberately many relative to facts so the
# Customer.Customer drilldown is a wide (about 12k rows) result, which
# is what makes result shaping and serialization visible per request.
SIZES = {
    "bench": dict(customer=15_000, supplier=100, part=2_000,
                  orders=30_000, lineitem=90_000, events=10_000,
                  documents=150, embeddings=500),
    "smoke": dict(customer=150, supplier=10, part=200, orders=1_500,
                  lineitem=6_000, events=1_000, documents=120,
                  embeddings=100),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("the a of and batch part spark line column order small sort fast "
         "value scan hash slow group agg filter query big key window row "
         "table stream merge data vector join scale plan shuffle stage "
         "tuple page block index cache disk net customer").split()
ADJS = ["large", "hot", "small", "cold", "dim", "light", "dark", "fast",
        "slow", "new"]
NOUNS = ["ring", "bolt", "case", "disk", "wire", "pipe", "gear", "plate",
         "lens", "coil"]
SHIP_DAY0 = np.datetime64("1995-01-01")
SHIP_DAYS = 2500


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int,
                   n_part: int, n_supp: int) -> pa.Table:
    """``n`` lineitem rows drawn from the generator; also used for the
    append batches of the dashboard workload."""
    sdate = SHIP_DAY0 + rng.integers(1, SHIP_DAYS, n).astype("timedelta64[D]")
    cols = {
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": sdate.astype("datetime64[us]"),
    }
    schema = pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])
    return pa.table(cols, schema=schema)


def generate(out: str, seed: int, size: str = "bench",
             corpus: bool = False) -> dict:
    """Write the star schema (or, with ``corpus``, the corpus tables)
    under ``out``; returns the row counts used."""
    n = SIZES[size]
    os.makedirs(out, exist_ok=True)
    if corpus:
        _corpus(out, n, np.random.default_rng([seed, 5]))
        return dict(n)
    rng = np.random.default_rng(seed)

    _write(out, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    nc = n["customer"]
    _write(out, "customer",
           {"c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))

    ns = n["supplier"]
    _write(out, "supplier",
           {"s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10_000, ns), 2)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    npart = n["part"]
    _write(out, "part",
           {"p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{ADJS[i % 10]} {NOUNS[(i // 10) % 10]}"
                       for i in range(npart)],
            "p_brand": [f"Brand#{1 + i % 25}" for i in range(npart)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0,
                                      1)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    no = n["orders"]
    odate = SHIP_DAY0 + rng.integers(0, SHIP_DAYS - 100, no).astype(
        "timedelta64[D]")
    _write(out, "orders",
           {"o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, no)]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", pa.string())]))

    pq.write_table(lineitem_table(rng, n["lineitem"], no, npart, ns),
                   os.path.join(out, "lineitem.parquet"))
    return dict(n)


def _corpus(out: str, n: dict, rng: np.random.Generator) -> None:
    """events, documents and embeddings."""
    nev = n["events"]
    ev0 = np.datetime64("2024-01-01T00:00:00.000000")
    ts = np.sort(ev0 + rng.integers(0, 30 * 86_400_000_000, nev)
                 .astype("timedelta64[us]"))
    _write(out, "events",
           {"event_id": np.arange(nev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(nev // 60, 5), nev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.choice(5, nev, p=[.35, .3, .1, .1, .15])],
            "value": np.round(rng.exponential(80, nev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]},
           pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))

    # documents: ~90% unique, the rest exact copies or one-word edits of
    # earlier documents (so exact dedup, near-dup and clustering all
    # find work)
    nd = n["documents"]
    n_base = int(nd * 0.9)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(30, 90, n_base)]
    for j, src in enumerate(rng.integers(0, n_base, nd - n_base)):
        t = texts[int(src)]
        if j % 2:
            w = t.split()
            w[int(rng.integers(0, len(w)))] = str(
                vocab[int(rng.integers(0, len(vocab)))])
            t = " ".join(w)
        texts.append(t)
    _write(out, "documents",
           {"doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=[.4, .2, .15, .15, .1])],
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    ne = n["embeddings"]
    emb = rng.normal(0.0, 0.12, (ne, 64)).clip(-0.4, 0.4).astype(np.float32)
    _write(out, "embeddings",
           {"vec_id": np.arange(ne, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), type=pa.float32()), 64).cast(
                pa.list_(pa.float32())),
            "label": rng.integers(0, 10, ne).astype(np.int32)},
           pa.schema([("vec_id", pa.int64()),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))
