"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine's queries read (``region`` .. ``embeddings``,
one parquet file each, the same schemas and value domains as the engine's
test data) from a seed and a scale factor. Pure NumPy + PyArrow: no Spark,
so generation costs the same on every commit of the engine.

Row counts at scale factor ``sf``: customer 150k·sf, supplier 10k·sf,
part 200k·sf, orders 1.5M·sf, lineitem 6M·sf, events 1M·sf,
documents 50k·sf, embeddings 20k·sf (region and nation are fixed).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
_DAY_US = 86_400_000_000


def _rows(sf: float, base: int) -> int:
    return max(1, int(round(base * sf)))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    d = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def events_columns(rng, n: int, n_users: int) -> dict:
    """Events-shaped columns (``ts`` sorted over 30 days); the live
    generator reuses every column except ``ts``."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024_US
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n).astype(str)),
                             "}"),
    }


def _documents(rng, n: int) -> dict:
    texts = []
    for i in range(n):
        words = rng.choice(VOCAB, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    # ~1% exact and ~1% near duplicates (the dedup operators' input)
    for i in range(1, n, 97):
        texts[i] = texts[i - 1]
    for i in range(2, n, 101):
        texts[i] = texts[i - 2] + " dup"
    text = np.array(texts, dtype=object)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(0.0, 0.03, (10, 64))
    label = rng.integers(0, 10, n)
    x = centers[label] + rng.normal(0.0, 0.125, (n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; the same (seed, sf) gives the
    same bytes."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _rows(sf, 150_000), _rows(sf, 10_000)
    n_part, n_ord = _rows(sf, 200_000), _rows(sf, 1_500_000)
    n_li = _rows(sf, 6_000_000)
    i32 = np.int32
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    cols = {
        "region": {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": np.char.add("NATION_", np.arange(25).astype(str)),
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": np.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"]
                                     )[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": np.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(np.array(adj)[rng.integers(0, 8, n_part)], " "),
                np.array(noun)[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                "SMALL", "STANDARD"]
                               )[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000)
                                      / 10.0, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"]
                                      )[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li),
                                        2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"]
                                     )[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        },
        "events": events_columns(rng, _rows(sf, 1_000_000), n_cust),
        "documents": _documents(rng, _rows(sf, 50_000)),
        "embeddings": _embeddings(rng, _rows(sf, 20_000)),
    }
    return {t: pa.table(c) for t, c in cols.items()}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet`` (one row group,
    like the engine's test data); returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
        counts[name] = tbl.num_rows
    return counts
