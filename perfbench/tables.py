"""Seeded stand-in for the query suite's input tables.

Writes the ten tables the workload registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``) as
one parquet file each, with the column names, types and value domains of
the TPC-H-like test data the queries were written against. Row counts
scale with ``sf`` the same way (``lineitem`` = 6M × sf). The same
``(sf, seed)`` always gives byte-identical values.

Time columns (``events.ts``, ``orders.o_orderdate``,
``lineitem.l_shipdate``) are parquet ``TIMESTAMP(MICROS)`` without a zone
(``isAdjustedToUTC=false``), the logical type the test data stores them
with. Spark reads that type as ``TIMESTAMP_NTZ`` on every session,
``get_spark``'s included (its ``nanosAsLong`` setting applies to
``TIMESTAMP(NANOS)`` only), so ``load_table`` takes the same path for
``events.ts`` here as on the test data.

Only NumPy and pyarrow are used, so inputs exist before any Spark session
starts and their cost stays out of every measured region.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def _take(domain, idx: np.ndarray) -> pa.Array:
    return pa.array(list(domain)).take(pa.array(idx.astype(np.int32)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _us(first) // _US_PER_DAY, _us(last) // _US_PER_DAY
    return _ts(rng.integers(lo, hi + 1, n) * _US_PER_DAY)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, with a few exact
    duplicates and ~3% near-duplicates (one word replaced), so the
    dedup and similarity queries have real matches to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 97))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": _take(LANGS, rng.integers(0, len(LANGS), n)),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around ten labelled centres."""
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, type=pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _take(SEGMENTS, rng.integers(0, 5, n_cust)),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, type=pa.int64()),
            "p_name": pa.array(
                [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _take(P_TYPES, rng.integers(0, len(P_TYPES), n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": _take("FOP", rng.integers(0, 3, n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _take(PRIORITIES, rng.integers(0, 5, n_ord)),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _take("ANR", rng.integers(0, 3, n_li)),
            "l_linestatus": _take("FO", rng.integers(0, 2, n_li)),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    start = _us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
            "event_type": _take(EVENT_TYPES, rng.integers(0, 5, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> int:
    """Write every table under ``sf_dir``; returns the total row count."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = 0
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
