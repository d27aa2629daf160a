"""Seeded input tables for the benchmark.

The complaints fixture (``sources.fixtures.COMPLAINTS_FIXTURE_SQL``) is a view
over four star-schema tables: orders, customer, nation and documents.  This
module writes those four tables as parquet, with the column names and types
the fixture reads, from nothing but a seed and a row count.  The same seed and
row count always give the same tables.

Shape choices, so the workloads have something to find:
- ``o_custkey`` is skewed (a few companies own many complaints), like the real
  corpus's big banks;
- ``o_orderstatus`` (→ ``timely``) depends on order year and priority, so the
  timely classifier has signal to learn;
- ``o_orderpriority`` (→ ``product``) leans toward the response class the
  fixture derives from ``o_orderkey % 20``, so the 8-class tree has signal too;
- documents are drawn from five topic vocabularies, so LDA has topics to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_NATIONS = 25
FIRST_DAY = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - FIRST_DAY).astype(int))

TOPICS = [
    "loan mortgage payment escrow refinance servicer modification foreclosure",
    "card credit charge dispute fee merchant statement billing",
    "account bank deposit overdraft checking withdrawal branch savings",
    "report credit bureau score inquiry identity theft fraud",
    "debt collector collection call letter lawsuit validation harassment",
]
COMMON = "company customer service told would never received asked time days".split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]

# The fixture's company_response CASE over o_orderkey % 20, as a class index
# (0 = 'Closed with explanation', ... 7 = 'Closed with relief').
_RESPONSE_OF_MOD20 = np.array([0] * 10 + [1] * 3 + [2] * 2 + [3] * 2 + [4, 5, 6])


def _response_class(orderkey: np.ndarray) -> np.ndarray:
    cls = _RESPONSE_OF_MOD20[orderkey % 20]
    # the fixture maps % 20 == 19 to 'Untimely response' only when % 40 == 19
    return np.where((orderkey % 20 == 19) & (orderkey % 40 != 19), 7, cls)


def sizes(n_orders: int) -> dict[str, int]:
    return {
        "orders": n_orders,
        "customer": max(50, n_orders // 10),
        "nation": N_NATIONS,
        "documents": max(100, n_orders // 20),
    }


def make_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """Build the four fixture tables for ``seed`` at ``n_orders`` complaints."""
    rng = np.random.default_rng(seed)
    n = sizes(n_orders)

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
    })

    n_cust = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })

    key = np.arange(n_orders, dtype=np.int64)
    days = rng.integers(0, N_DAYS, n_orders)
    year = (FIRST_DAY + days).astype("datetime64[Y]").astype(int) + 1970
    lean = rng.random(n_orders) < 0.5
    prio = np.where(lean, _response_class(key) % 5, rng.integers(0, 5, n_orders))
    logit = -1.2 + 0.45 * (2001 - year) + 0.35 * prio
    finished = rng.random(n_orders) < 1.0 / (1.0 + np.exp(-logit))
    status = np.where(finished, "F", rng.choice(["O", "P"], n_orders))
    orders = pa.table({
        "o_orderkey": pa.array(key, pa.int64()),
        "o_custkey": pa.array((n_cust * rng.random(n_orders) ** 2).astype(np.int64)),
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.lognormal(11.0, 0.8, n_orders), 2),
        "o_orderdate": pa.array(
            (FIRST_DAY + days).astype("datetime64[us]"), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(PRIORITIES)[prio],
    })

    n_docs = n["documents"]
    topic_words = [t.split() for t in TOPICS]
    texts = []
    for _ in range(n_docs):
        words = topic_words[rng.integers(0, len(TOPICS))]
        length = int(rng.integers(12, 60))
        on_topic = rng.random(length) < 0.7
        texts.append(" ".join(
            words[rng.integers(0, len(words))] if t else COMMON[rng.integers(0, len(COMMON))]
            for t in on_topic
        ))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"orders": orders, "customer": customer, "nation": nation, "documents": documents}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
