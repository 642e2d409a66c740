"""Seeded generator for the registry tables the ``registry_mix`` queries read.

Writes one parquet file per table with the column names and physical types
of ``io.schemas.TABLE_DDL`` (the static-schema catalog the engine applies on
read). The value shapes follow the harness tables (TPC-H-style star schema
plus ``events`` and ``documents``), as measured on its sf0.01 and sf0.1
files (see perfbench/README.md, *Inputs*):

* ``documents``: words drawn uniformly from the same 30-word vocabulary,
  10 to 99 words per document (uniform), language ``en`` 41% and the four
  others ~15% each; 5% of the documents are a copy of another document
  with the word ``dup`` appended, the harness's near-duplicate shape;
* ``events``: exponential gaps between strictly increasing timestamps over
  30 days, ``user_id`` over a tenth of the customers, five event types in
  equal shares, exponential ``value`` with mean 50;
* ``lineitem`` rows pick their order uniformly (about 4 lines per order),
  and ``customer`` doubles as the contacts source of the contacts queries.

Sizes follow a scale factor ``sf`` the way the harness tables do (at
``sf=0.01``: 1,500 customers, 15,000 orders, 60,000 line items, 10,000
events, 500 documents). The same ``(seed, sf)`` gives identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_SHARES = [0.41, 0.15, 0.15, 0.15, 0.14]
#: share of documents that copy another one plus the word "dup"
DUP_SHARE = 0.05
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables under ``out_dir``; return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    day0 = np.datetime64("1995-01-01", "D")

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(retail, pa.float64()),
        }
    )
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    sdate = day0 + rng.integers(1, 2499, n_line).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * retail[l_part] + rng.integers(0, 100, n_line) / 100, 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["O", "F"], n_line),
            "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = 1 + rng.exponential(30 * 86_400_000_000 / n_evt, n_evt).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_evt), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n_evt),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), pa.float64()),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    dups = rng.choice(n_doc, int(round(DUP_SHARE * n_doc)), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _choice(rng, LANGS, n_doc, p=LANG_SHARES),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    return pa.array(cents / 100, pa.float64())


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]
