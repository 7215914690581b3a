"""Seeded generator for the star-schema fixture tables the query registry
reads (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings).

Schemas, value domains and row counts follow the fixture tables the
registry was built against: TPC-H-shaped facts and dimensions that scale
with ``sf``, an ``events`` stream table, a small-vocabulary ``documents``
corpus in which 5% of documents are a near copy of another (text plus
" dup"), and 64-dimension unit embeddings clustered by label. Everything
is drawn from one ``numpy`` generator, so the same (sf, seed) always
writes byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, _EPOCH_1995, 2499, n_li),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": _EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    out["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths.tolist()]
    # 5% near-duplicates: the text of another document plus one token
    for i in rng.choice(n, n // 20, replace=False).tolist():
        src = int(rng.integers(0, n))
        texts[i] = (texts[src] if src != i else texts[(i + 1) % n]) + " dup"
    return pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(dest: str, sf: float, seed: int) -> None:
    """Write every table as ``dest/<name>.parquet`` (one file each)."""
    os.makedirs(dest, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
