"""Seeded synthetic inputs for the benchmark.

Writes the ten parquet tables every registry key reads (``io.TABLES``)
with the schemas and value distributions of the reference fixtures
(TPC-H-ish star schema, a 30-day ``events`` stream, a 31-word
``documents`` corpus with planted near/exact duplicates, and unit-norm
64-d ``embeddings``).  Same ``seed`` and ``sf`` give byte-identical
files.  Sizes scale with ``sf`` exactly like the fixtures: ``sf=0.01``
is 60k lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJ = ("blue", "cold", "hot", "red", "small", "large", "green", "shiny")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_NS = 86_400 * 10**9


def _dates(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lens.sum())
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # ~5% near-duplicates (one word swapped, " dup" appended) and ~0.2%
    # exact copies, each of a random other document
    order = rng.permutation(n)
    n_near, n_exact = max(2, n // 20), max(1, n // 500)
    for i in order[:n_near]:
        src = texts[int(rng.integers(0, n))].split()
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src) + " dup" * int(rng.integers(1, 3))
    for i in order[n_near : n_near + n_exact]:
        texts[i] = texts[int(rng.integers(0, n))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Every table as a DataFrame, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    keys = np.arange(n_part)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys.astype(np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    # events: exponential inter-arrivals over 30 days, ids in time order
    gaps = rng.exponential(1.0, n_ev)
    offs = (np.cumsum(gaps) / gaps.sum() * (30 * _DAY_NS - 10**9)).astype(np.int64)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "ns") + offs.astype("timedelta64[ns]"))
            .astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet`` (one row group
    each, like the fixtures) unless a complete set is already there."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False,
            row_group_size=len(df) + 1,
        )
    open(done, "w").close()
    return out_dir
