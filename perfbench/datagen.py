"""Seeded inputs for every workload.

Catalog tables follow the column shapes of the engine's test tables
(TPC-H-like star schema, an ``events`` stream table, ``documents`` and
``embeddings``, see ``TESTDATA.md``), scaled by ``sf`` as those are.  Readings
files follow ``datamodel.READING_SCHEMA``; every numeric datapoint is a
pure function of ``(seed, id)``, so a checker can recompute the value any
delivered row must carry without keeping the generated rows around.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: changes whenever this file does: keys caches of results derived from
#: the generated tables
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]

CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window parquet"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "red", "green", "black", "white", "small", "large", "tiny"]
_THINGS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "pipe"]
_DAY_US = 86_400 * 1_000_000


def _dates(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    us = base + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``sf`` (lineitem = 6M x sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{_COLORS[a]} {_THINGS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2499),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + np.datetime64(
        "2024-01-01", "us"
    ).astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(_WORDS), k)])
        for k in rng.integers(10, 101, n_docs)
    ]
    # a few exact duplicates, as the test tables carry, so the dedup
    # queries have something to find
    for i in rng.choice(n_docs, max(2, n_docs // 600), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_catalog(out_dir: str, sf: float, seed: int) -> int:
    """Write every catalog table as ``<out_dir>/<table>.parquet``; returns
    the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in catalog_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows


# ---------------------------------------------------------------------------
# readings
# ---------------------------------------------------------------------------

READING_ARROW_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("asset_code", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_ts", pa.timestamp("us", tz="UTC")),
    ("reading", pa.map_(pa.string(), pa.float64())),
    ("reading_str", pa.map_(pa.string(), pa.string())),
])
N_ASSETS = 16
_T0_US = int(np.datetime64("2024-01-01", "us").astype("int64"))


def datapoints(seed: int, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The two numeric datapoints of readings ``ids``: exact binary
    fractions, so the expected filter output is exact in float64."""
    h = (ids * 2654435761 + seed * 40503) % 1_000_003
    return h / 64.0, (h % 4099) / 8.0 - 256.0


def expected(values: np.ndarray) -> np.ndarray:
    """T1 ``scale`` (5, 10) followed by T9 scale35 (5, 10)."""
    return (values * 5.0 + 10.0) * 5.0 + 10.0


def readings_table(seed: int, first_id: int, n: int) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    value, aux = datapoints(seed, ids)
    offsets = pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32))
    keys = pa.array(np.tile(np.array(["value", "aux"], dtype=object), n), pa.string())
    vals = pa.array(np.column_stack([value, aux]).ravel(), pa.float64())
    s_offsets = pa.array(np.arange(0, n + 1, dtype=np.int32))
    s_keys = pa.array(np.full(n, "unit", dtype=object), pa.string())
    s_vals = pa.array(np.full(n, "kW", dtype=object), pa.string())
    user_ts = _T0_US + ids * 1000
    return pa.Table.from_arrays(
        [
            pa.array(ids),
            pa.array(np.char.add("asset", (ids % N_ASSETS).astype(str)).astype(object), pa.string()),
            pa.array(user_ts + 500, pa.timestamp("us", tz="UTC")),
            pa.array(user_ts, pa.timestamp("us", tz="UTC")),
            pa.MapArray.from_arrays(offsets, keys, vals),
            pa.MapArray.from_arrays(s_offsets, s_keys, s_vals),
        ],
        schema=READING_ARROW_SCHEMA,
    )


def write_readings(path: str, seed: int, first_id: int, n: int) -> None:
    pq.write_table(readings_table(seed, first_id, n), path)
