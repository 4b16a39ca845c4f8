"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is made here from one seed:
the TPC-H-shaped tables (plus events, documents and embeddings) that the
catalog queries read, the Yelp scrape batches, the endpoint request
parameters, the query order and the query-vector ids. The same seed gives
byte-identical inputs.

The table shapes follow the repository's synthetic test tiers (column
names, types, value domains and the ~5% near-duplicate documents), so the
catalog's DuckDB oracles apply unchanged.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "nut", "screw", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64

_EPOCH_DAY = datetime(1995, 1, 1)


def _micros(days: np.ndarray) -> pa.Array:
    base = int((_EPOCH_DAY - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def make_tables(out: Path, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write the catalog's tables for scale ``sf`` into ``out``; returns
    each table's row count."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _micros(order_days),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    okey = rng.integers(0, n_ord, n_line, dtype=np.int64)
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _micros(order_days[okey] + rng.integers(1, 96, n_line))})
    month_us = 30 * 86_400_000_000
    start = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(rng.integers(0, month_us, n_ev)) + start, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out, "documents", make_documents(rng, n_docs))
    _write(out, "embeddings", make_embeddings(rng, n_vecs))
    return {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_docs, "embeddings": n_vecs}


def make_documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a 30-word vocabulary; one in twenty is a
    near-duplicate of an earlier document (its text plus a marker word),
    so every dedup tier has work to do."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def make_embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit-norm float32 vectors, uniformly spread on the sphere."""
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32)}


# ---- Yelp ingest/serve inputs ---------------------------------------------

def yelp_batches(seed: int, n_base: int, n_batches: int, batch_rows: int,
                 overlap: float) -> list[list[dict]]:
    """A base scrape plus ``n_batches`` re-scrape batches. Each batch
    re-scrapes a seeded ``overlap`` share of already-known businesses
    (with fresh attribute draws, so the merge updates them) and adds
    novel ones."""
    from tests.yelp_fixtures import make_results

    rng = random.Random(seed)
    n_new = batch_rows - int(batch_rows * overlap)
    total = n_base + n_batches * n_new
    universe = make_results(total, seed=seed)
    batches = [universe[:n_base]]
    known = n_base
    for b in range(n_batches):
        redraw = make_results(total, seed=seed * 1000 + b + 1)
        old = rng.sample(range(known), batch_rows - n_new)
        batch = [redraw[i] for i in old] + universe[known:known + n_new]
        rng.shuffle(batch)
        batches.append(batch)
        known += n_new
    return batches


def yelp_requests(rng: random.Random, n: int) -> list[tuple]:
    """``n`` endpoint requests: (kind, params). Kinds cycle so every burst
    holds all four; parameters are seeded draws."""
    from tests.yelp_fixtures import CATEGORIES, WEEKDAYS

    kinds = ["category", "day", "open_now", "deep_page"]
    out = []
    for i in range(n):
        kind = kinds[i % 4]
        if kind == "category":
            out.append((kind, {"category": rng.choice(CATEGORIES).lower(),
                               "page": rng.randint(1, 3)}))
        elif kind == "day":
            out.append((kind, {"weekday": rng.choice(WEEKDAYS), "page": rng.randint(1, 3)}))
        elif kind == "open_now":
            now = datetime(2024, 3, 4, tzinfo=timezone.utc) + timedelta(
                days=rng.randint(0, 6), minutes=rng.randint(0, 24 * 60 - 1))
            out.append((kind, {"now": now}))
        else:
            out.append((kind, {"category": rng.choice(CATEGORIES).lower(),
                               "depth": rng.uniform(0.3, 0.95)}))
    rng.shuffle(out)
    return out
