"""Deterministic synthetic tables with the schema the suite's queries read.

The suite's queries read ten parquet tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). The benchmark generates its
own copy from a fixed seed so it needs nothing outside its checkout; the
row counts at scale 0.1 match the suite's sf0.1 tables (150,000 orders,
15,000 customers, ~600,000 line items).

``documents`` carries planted near-duplicates: every 50th document with at
least 30 words is followed by a copy with one word replaced, so its word
3-gram Jaccard to the original is >= 0.8. The planted pairs are written to
``planted_pairs.parquet``; random documents share almost no 3-grams, so the
planted pairs are exactly the pairs a Jaccard >= 0.5 search must find.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings", "planted_pairs",
)
_VOCAB = (
    "a the spark data query table row column scan filter join group agg "
    "sort hash key value batch stream window order line part customer "
    "vector fast slow big small merge"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """Uniform two-decimal amounts (exact cents, as the suite's tables)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _documents(rng, n: int) -> tuple[pa.Table, pa.Table]:
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    while len(texts) < n:
        words = list(rng.choice(_VOCAB, rng.integers(10, 101)))
        texts.append(" ".join(words))
        if len(texts) % 50 == 1 and len(words) >= 30 and len(texts) < n:
            i = int(rng.integers(0, len(words)))
            words[i] = "zz" + words[i]  # a token no other document has
            pairs.append((len(texts) - 1, len(texts)))
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    planted = pa.table({
        "id_a": np.array([a for a, _ in pairs], dtype=np.int64),
        "id_b": np.array([b for _, b in pairs], dtype=np.int64),
    })
    return docs, planted


def generate(out_dir: str, scale: float) -> None:
    """Write every table in ``TABLES`` under ``out_dir``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = max(200, int(20_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adjectives = ["large", "hot", "small", "green", "shiny", "plain"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[i % 6]} {nouns[(i // 6) % 6]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, n_part, 900.0, 2000.0),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    n_line = 4 * n_orders
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _money(rng, n_line, 900.0, 2000.0), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
    })
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_events // 66), n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, n_events, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"], tables["planted_pairs"] = _documents(rng, n_docs)
    vecs = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def ensure(scale: float) -> str:
    """The data directory for ``scale``, generated on first use.

    Its name carries a hash of this file (which holds ``DATA_SEED``), so a
    change to the generator or the seed gets fresh tables, and fresh oracle
    digests with them. Generation goes into a temporary directory renamed
    into place, so an interrupted or concurrent run never sees half-written
    tables."""
    with open(__file__, "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()[:12]
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data",
                           f"sf{scale:g}-{stamp}")
    if not os.path.isdir(out_dir):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        generate(tmp, scale)
        try:
            os.rename(tmp, out_dir)
        except OSError:  # another run finished first
            shutil.rmtree(tmp)
    return out_dir
