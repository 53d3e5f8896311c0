"""Seeded input generators. The same seed gives byte-identical inputs;
the program under test only ever sees the files written here.

Inputs are written once per seed under the work directory and reused
by later runs with that seed, so their cost stays out of every timing.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROUTE_TOPIC = "orders"
ROUTE_BUCKETS = (("Platinum", 70), ("Gold", 30))
ROUTE_PARTITIONS = 12
ROUTE_EVENTS = 200_000
ROUTE_FILES = 8

# Traffic shares of the configured topic's valid keys: deliberately
# not the 70/30 allocation.
_BUCKET_SHARE = {"Platinum": 0.4, "Gold": 0.6}
_FOREIGN_FRAC = 0.05
_UNKNOWN_FRAC = 0.05
_NULL_FRAC = 0.01


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_expected.json"))


def _finish(path: str, expected: dict) -> None:
    tmp = os.path.join(path, "_expected.json.tmp")
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, os.path.join(path, "_expected.json"))


def keyed_events(work: str, seed: int) -> tuple[str, dict]:
    """FIXTURES.md §1 key mix: plain, one-suffix, two-suffix and
    whitespace-padded keys of the two configured buckets, ~5% unknown
    buckets, ~5% foreign-topic records and ~1% NULL keys.

    Returns ``(dir, expected)`` where ``expected`` holds the generated
    per-bucket totals and per-``route_status`` counts."""
    path = os.path.join(work, "inputs", f"route-{seed}")
    if _done(path):
        with open(os.path.join(path, "_expected.json")) as f:
            return path, json.load(f)
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = ROUTE_EVENTS
    ids = np.arange(n, dtype=np.int64)
    foreign = rng.random(n) < _FOREIGN_FRAC
    kind = rng.random(n)
    null_key = kind < _NULL_FRAC
    unknown = (kind >= _NULL_FRAC) & (kind < _NULL_FRAC + _UNKNOWN_FRAC)
    platinum = rng.random(n) < _BUCKET_SHARE["Platinum"]
    shape = rng.integers(0, 4, n)
    group = rng.integers(0, 20, n)

    keys: list[str | None] = []
    for i in range(n):
        if null_key[i]:
            keys.append(None)
            continue
        name = "Silver" if unknown[i] else ("Platinum" if platinum[i] else "Gold")
        s = shape[i]
        if s == 0:
            keys.append(name)
        elif s == 1:
            keys.append(f"{name}-{i}")
        elif s == 2:
            keys.append(f"{name}-Group{group[i]:02d}-{i}")
        else:
            keys.append(f" {name} -{i}")
    topics = np.where(foreign, "audit", ROUTE_TOPIC)
    table = pa.table(
        {
            "record_id": pa.array(ids),
            "topic": pa.array(topics.tolist(), pa.string()),
            "key": pa.array(keys, pa.string()),
            "value": pa.array((ids * 7919 % 100_003).astype(str).tolist(), pa.string()),
        }
    )
    step = -(-n // ROUTE_FILES)
    for f in range(ROUTE_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f:02d}.parquet"))

    own = ~foreign
    valid = own & ~null_key & ~unknown
    expected = {
        "events": n,
        "bucket_totals": {
            "Platinum": int((valid & platinum).sum()),
            "Gold": int((valid & ~platinum).sum()),
        },
        "status": {
            "routed": int(valid.sum()),
            "unroutable": int((own & (null_key | unknown)).sum()),
            "starved": 0,
            "bypassed": int(foreign.sum()),
        },
    }
    _finish(path, expected)
    return path, expected


# ---------------------------------------------------------------------------
# Fixture-style tables for query_mix: the schemas of the TPC-H-ish test
# corpus (TESTDATA.md), uniform value ranges like it, sized by ``sf``.
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data stream batch spark query table row column key value scan sort "
    "hash join group agg filter window merge order line part customer vector "
    "fast slow big small"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_DAY_US = 86_400 * 1_000_000


def _ts_us(rng, n: int, start: str, days: int, *, midnight: bool) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    if midnight:
        vals = base + rng.integers(0, days, n) * _DAY_US
    else:
        vals = base + rng.integers(0, days * _DAY_US, n)
    return pa.array(vals, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 80)))]
        texts.append(" ".join(words))
    langs = rng.choice([l for l, _ in _LANGS], n, p=[p for _, p in _LANGS])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def fixture_tables(work: str, seed: int, sf: float) -> str:
    """Write the ten corpus tables, one ``<name>.parquet`` each, and
    return their directory (a loader's ``sf_dir``)."""
    path = os.path.join(work, "inputs", f"tables-{seed}-sf{sf:g}")
    if _done(path):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.01
    n_events, n_docs, n_vecs = int(10_000 * k), int(500 * k), int(500 * k)
    n_orders, n_items, n_cust = int(15_000 * k), int(60_000 * k), int(1_500 * k)
    n_supp, n_part = max(10, int(100 * k)), int(2_000 * k)

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, n_cust, -999, 9999),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust
                ).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, n_supp, -999, 9999),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [f"part {i}" for i in range(n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
                "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": _money(rng, n_part, 900, 2100),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
                "o_totalprice": _money(rng, n_orders, 1000, 500_000),
                "o_orderdate": _ts_us(rng, n_orders, "1995-01-01", 2404, midnight=True),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
                ).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, n_items).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_items).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_items).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_items).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
                "l_extendedprice": _money(rng, n_items, 900, 105_000),
                "l_discount": rng.integers(0, 11, n_items) / 100.0,
                "l_tax": rng.integers(0, 9, n_items) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_items).tolist(),
                "l_linestatus": rng.choice(["O", "F"], n_items).tolist(),
                "l_shipdate": _ts_us(rng, n_items, "1995-01-02", 2498, midnight=True),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(50, n_events // 67), n_events).astype(np.int64)),
                "event_type": rng.choice(_EVENT_TYPES, n_events).tolist(),
                "value": np.round(rng.exponential(60, n_events), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    _finish(path, {name: t.num_rows for name, t in tables.items()})
    return path
