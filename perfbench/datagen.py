"""Seeded inputs of the benchmark, written as parquet with pyarrow (no
Spark), so the envelope generator process can read them too.

* ``orders``: the TPC-H ``orders`` shape keyed by ``id`` (``o_orderkey``
  renamed to the engine's key column), the mirror every write workload
  backfills.
* ``embeddings``: ``id``-keyed 64-d unit vectors in tight sub-clusters,
  the k-NN serving table.
* ``surface_tables``: the ten tables ``queries()`` entries read, in the
  schemas of ``registry.TESTDATA_SCHEMAS``, sized by a scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY0 = np.datetime64("1992-01-01", "us")
N_DAYS = 2405  # 1992-01-01 .. 1998-08-02, TPC-H's order date range

ORDERS_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
])
EMBED_DIM = 64


def order_rows(rng: np.random.Generator, ids: np.ndarray,
               n_customers: int) -> pd.DataFrame:
    """Fresh order images for ``ids`` (also used for the updates and
    creates of the change stream, so every image has one distribution)."""
    n = len(ids)
    return pd.DataFrame({
        "id": ids.astype(np.int64),
        "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
        "o_orderstatus": np.array(STATUSES, dtype=object)[
            rng.choice(3, n, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n), 2),
        "o_orderdate": DAY0 + rng.integers(0, N_DAYS, n).astype(
            "timedelta64[D]").astype("timedelta64[us]"),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, n)],
    })


def write_orders(path: str, seed: int, rows: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    df = order_rows(rng, np.arange(rows), max(rows // 10, 1))
    pq.write_table(pa.Table.from_pandas(df, ORDERS_SCHEMA,
                                        preserve_index=False), path)
    return df


def embedding_rows(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    """Unit vectors in tight sub-clusters of exactly 20 members, spread
    over ten clusters: a vector's ten nearest neighbours are members of
    its own sub-cluster, so a k-NN answer has a clear exact top-10 for
    recall to be measured against."""
    n = len(ids)
    n_sub = max(n // 20, 1)
    fixed = np.random.default_rng(7)
    centers = fixed.normal(size=(10, EMBED_DIM))
    subs = (centers[np.arange(n_sub) % 10]
            + 0.4 * fixed.normal(size=(n_sub, EMBED_DIM)))
    sub = rng.permutation(np.arange(n) % n_sub)
    vecs = subs[sub] + 0.05 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "id": ids.astype(np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": (sub % 10).astype(np.int32),
    })


EMBED_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def write_embeddings(path: str, seed: int, rows: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    df = embedding_rows(rng, np.arange(rows))
    pq.write_table(pa.Table.from_pandas(df, EMBED_SCHEMA,
                                        preserve_index=False), path)
    return df


# -- the analytics surface ---------------------------------------------------

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join index query stream batch event mirror change commit vector "
         "token filter range score match phrase group count sum").split()


def _ts(rng, n, start, days):
    return (np.datetime64(start, "us")
            + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]"))


def surface_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The ten fixture tables at scale ``sf`` (lineitem ~6M x sf rows),
    in TESTDATA_SCHEMAS column order and types."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_part = max(int(200_000 * sf), 40)
    n_supp = max(int(10_000 * sf), 5)
    n_events = max(int(1_000_000 * sf), 300)
    n_docs = max(int(50_000 * sf), 100)
    n_vecs = max(int(20_000 * sf), 100)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], dtype=object)[
            rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = ["cold", "hot", "blue", "red", "green", "small", "large",
                  "shiny", "matte", "soft"]
    nouns = ["widget", "gadget", "bolt", "gear", "panel", "valve"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, 10, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "SMALL",
                            "MEDIUM", "LARGE"], dtype=object)[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 1.01, 2),
    })
    orders = order_rows(rng, np.arange(n_ord), n_cust)
    t["orders"] = orders.rename(columns={"id": "o_orderkey"})
    okeys = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = (orders["o_orderdate"].to_numpy()[okeys]
            + rng.integers(1, 122, n_line).astype("timedelta64[D]")
            .astype("timedelta64[us]"))
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okeys.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, n_line)],
        "l_shipdate": ship,
    })
    n_users = max(n_events // 60, 15)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_events, "2024-01-01", 30)),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"], dtype=object)[
            rng.choice(5, n_events, p=[0.4, 0.3, 0.15, 0.1, 0.05])],
        "value": np.round(rng.uniform(0, 500, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    lens = rng.integers(8, 40, n_docs)
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
                 for k in lens],
        "lang": np.array(["en", "es", "de", "fr", "it"], dtype=object)[
            rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
    })
    t["documents"]["n_chars"] = t["documents"]["text"].str.len().astype(np.int64)
    emb = embedding_rows(rng, np.arange(n_vecs))
    t["embeddings"] = emb.rename(columns={"id": "vec_id"})
    return t


def write_surface(sf_dir: str, sf: float, seed: int) -> None:
    from postgres_opensearch_cdc_spark.registry import TESTDATA_SCHEMAS

    os.makedirs(sf_dir, exist_ok=True)
    for name, df in surface_tables(sf, seed).items():
        schema = _arrow_schema(TESTDATA_SCHEMAS[name])
        pq.write_table(pa.Table.from_pandas(df[schema.names], schema,
                                            preserve_index=False),
                       os.path.join(sf_dir, f"{name}.parquet"))


def _arrow_schema(struct) -> pa.Schema:
    kinds = {
        "LongType": pa.int64(), "IntegerType": pa.int32(),
        "DoubleType": pa.float64(), "StringType": pa.string(),
        "TimestampType": pa.timestamp("us"), "FloatType": pa.float32(),
        "DateType": pa.date32(),
    }

    def conv(dt):
        name = type(dt).__name__
        if name == "ArrayType":
            return pa.list_(conv(dt.elementType))
        return kinds[name]

    return pa.schema([(f.name, conv(f.dataType)) for f in struct.fields])
