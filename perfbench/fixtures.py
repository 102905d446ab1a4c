"""Deterministic batch fixtures for the benchmark.

The registry's queries read ten parquet tables (``region`` ... ``embeddings``)
from a scale-factor directory. The benchmark makes its own copy here, with
the value domains and row counts of the engine's TPC-H-shaped fixtures
(``FIXTURES.md`` section 4), so it needs nothing outside its checkout:

* row counts scale with ``sf`` exactly as the committed fixture sizes do
  (``lineitem`` = 6M x sf, ``orders`` = 1.5M x sf, ...);
* every table is written as ONE row group, like those fixtures, because the
  engine's ``rebalance_for_compute`` decisions depend on scan split counts;
* timestamps are ``timestamp[us]``, naive UTC;
* about 5% of ``documents`` are a copy of another document plus " dup", so
  the dedup queries find real near-duplicates.

The tables depend only on ``sf``, ``FIXTURE_SEED`` and this generator; the
workload seed never reaches them, so the DuckDB oracle results can be
cached per ``generator_key``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400_000_000


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _epoch_us(first) // _DAY_US, _epoch_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def make_tables(sf: float, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(150_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
    }

    # Events: ids in time order over 30 days, exponential values (mean 50).
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _epoch_us("2024-01-01")
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    # Documents: 10-99 words from a 31-word vocabulary; ~5% are another
    # document's text plus " dup" (near-duplicates for the dedup queries).
    texts = [
        " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), rng.integers(10, 100)))
        for _ in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    # Embeddings: 64-d unit vectors, weakly clustered by one of 10 labels.
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.14 * centers[labels] + rng.normal(scale=1 / 8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def generator_key(sf: float) -> str:
    """Hash of what the tables depend on: this module's source, ``sf`` and
    the numpy and pyarrow versions that draw and write them."""
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(f"{sf!r} {np.__version__} {pa.__version__}".encode())
    return h.hexdigest()[:16]


def ensure_fixtures(root: str, sf: float) -> tuple[str, str]:
    """Write the tables under ``root``, unless the tables of the current
    generator are already there; return (sf_dir, key). A changed generator,
    ``sf`` or library version gives a new key, so a new directory and a
    fresh oracle cache."""
    key = generator_key(sf)
    sf_dir = os.path.join(root, f"sf{sf:g}-{key}")
    done = os.path.join(sf_dir, "COMPLETE")
    if not os.path.exists(done):
        os.makedirs(sf_dir, exist_ok=True)
        for name, table in make_tables(sf).items():
            path = os.path.join(sf_dir, f"{name}.parquet")
            pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        open(done, "w").close()
    return sf_dir, key
