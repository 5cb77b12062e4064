"""Seeded input generator for the benchmark.

Every input a workload reads is derived here from one integer seed, with
numpy's PCG64 generator, and written as one parquet file per table in the
layout ``sdg_data_catalog_spark.catalog.table`` reads. The shapes follow the
sf0.1 star schema the engine is developed against (row counts, key ranges,
value distributions, the 30-word document vocabulary with 5% ``dup``
near-copies, nanosecond ``events.ts``), so no
operator meets a distribution it was not written for. The program is never
imported here: it only ever receives the generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01
_EPOCH_2024_NS = 1_704_067_200 * 10**9  # 2024-01-01


def _write(out_dir: str, name: str, cols: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    ms = _EPOCH_1995_MS + (first_day + rng.integers(0, n_days, n)) * _DAY_MS
    return pa.array(ms, pa.timestamp("ms"))


def star_schema(rng: np.random.Generator, out_dir: str) -> None:
    """region, nation, customer, supplier, part, orders, lineitem at the
    sf0.1 sizes (15k customers, 150k orders, 600k line items)."""
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(regions),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("O", "P", "F"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("N", "A", "R"), n_li),
        "l_linestatus": _pick(rng, ("O", "F"), n_li),
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })


def events(rng: np.random.Generator, out_dir: str, n: int, n_users: int) -> None:
    """Click-stream events over 30 days of January 2024, ids in time order,
    ``ts`` stored as TIMESTAMP(NANOS) like the driver's file."""
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n)) + _EPOCH_2024_NS
    _write(out_dir, "events", {
        "event_id": np.arange(n),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, out_dir: str, n: int, first_id: int = 0, ids=None) -> None:
    """Word-soup documents of 10-100 words over the 30-word vocabulary; 5%
    are an earlier document plus a trailing ``dup`` (the near-duplicates
    the dedup operators look for). Ids are ``first_id`` onwards, or ``ids``."""
    doc_ids = np.arange(first_id, first_id + n) if ids is None else np.asarray(ids)
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": doc_ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{d % 20}" for d in doc_ids]),
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    })


def relational(seed: int, out_dir: str) -> None:
    """catalog_queries input: the star schema."""
    star_schema(np.random.default_rng([seed, 1]), out_dir)


def publish_batches(seed: int, prefix: str, n_batches: int, docs_per_batch: int,
                    events_per_batch: int, scrape_docs: int) -> tuple[list[str], str, list[int]]:
    """catalog_publish input: one sf-style dir per cycle, ``<prefix>_b<k>``
    (documents and events of that batch, doc ids disjoint across batches),
    and one corpus dir, ``<prefix>_scrape``, whose documents the scrape
    slices walk. The scrape corpus ids have seeded gaps, so a slice is not a
    plain id range. Returns the batch dirs, the corpus dir and its ids."""
    rng = np.random.default_rng([seed, 3])
    dirs = []
    for b in range(n_batches):
        d = f"{prefix}_b{b}"
        documents(rng, d, docs_per_batch, first_id=b * docs_per_batch)
        events(rng, d, n=events_per_batch, n_users=300)
        dirs.append(d)
    scrape_dir = f"{prefix}_scrape"
    ids = np.sort(rng.choice(scrape_docs * 3, scrape_docs, replace=False))
    documents(rng, scrape_dir, scrape_docs, ids=ids)
    return dirs, scrape_dir, ids.tolist()
