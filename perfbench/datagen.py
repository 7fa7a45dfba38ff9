"""Seeded synthetic tables for the benchmark.

Writes the ten tables the gates of ``__spark_entry__`` read (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) as one parquet file each.  Column names, types, value
domains and row counts per scale factor follow the repository's
synthetic test tables; the values themselves come from ``seed``, so the
same seed always writes the same bytes.

Row counts at scale factor ``sf``: lineitem 6M·sf, orders 1.5M·sf,
events 1M·sf, part 200k·sf, customer 150k·sf, supplier 10k·sf,
documents max(500, 50k·sf), embeddings max(500, 20k·sf).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_DUP_FRAC = 0.05  # documents that copy another document's text + " dup"
_EMB_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None):
    """String column drawn from ``values`` (dictionary-decoded)."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)
    ).cast(pa.string())


def _days(rng, n: int, first: dt.datetime, last: dt.datetime) -> pa.Array:
    """Midnight timestamps, uniform over [first, last]."""
    span = (last - first).days
    us = _day_us(first) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf: float, seed: int, stream: int = 0) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, generated from ``seed``;
    ``stream`` selects an independent data set for the same seed."""
    rng = np.random.default_rng([seed, stream])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(n_ev * 0.015))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, part_names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(
            rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
        ),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days(
            rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
        ),
    })
    ev_start = _day_us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_start
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })
    out["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, _EMB_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.astype(np.float32).ravel()), _EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 10-100 words over a 30-word
    vocabulary; a fixed share copy another document's text plus the
    token ``dup``, so the near-duplicate detectors find real pairs."""
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(_WORDS[w] for w in word_ids[pos:pos + k]))
        pos += k
    dup_ids = rng.choice(n, size=round(n * _DUP_FRAC), replace=False)
    for i, j in zip(dup_ids, rng.integers(0, n, len(dup_ids))):
        texts[i] = texts[j if j != i else (i + 1) % n] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(out_dir: Path, sf: float, seed: int, stream: int = 0) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(sf, seed, stream).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
