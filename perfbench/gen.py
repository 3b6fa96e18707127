"""Deterministic input generators for the benchmark.

Every generator takes a seed and returns pyarrow tables; the same seed
gives byte-identical parquet files (test_perfbench.py pins this).
The engine never sees the seed, only the files.

Two kinds of input:

- ``cdc_log``: a changelog in the ``events`` schema (event_id, ts, user_id,
  event_type, value, props). ``event_id`` is the log position and ``ts``
  rises with it, so (ts, event_id) is the offset order. The key
  distribution is the knob the CDC workloads turn: a wide, uniform key
  space (few events per key) for the snapshot load, a narrow, skewed one
  (many updates per key) for the change tail.
- ``fixture``: the ten tables of the query fixture (TPC-H-ish star schema,
  the ``events`` changelog, ``documents`` and ``embeddings``), with the
  schemas and value distributions of the repository's sf fixtures, at a
  chosen scale factor.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# event_type values of the events fixture; 'signup' maps to insert,
# 'error' to delete, the rest to update (the engine's op mapping).
EVENT_TYPES = np.array(["signup", "error", "purchase", "view", "click"])
_LOG_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_LOG_SPAN_US = 30 * 86_400_000_000  # 30 days
_DATE_BASE_US = 788_918_400_000_000  # 1995-01-01 00:00:00 UTC
_DAY_US = 86_400_000_000

WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the".split()
)


def cdc_log(seed: int, n_events: int, n_keys: int, skew: float = 1.0) -> pa.Table:
    """A changelog of ``n_events`` over keys ``[0, n_keys)``.

    ``skew`` = 1 draws keys uniformly; ``skew`` > 1 draws
    ``floor(n_keys * u**skew)``, which piles events onto the low keys (the
    hot rows of an OLTP table)."""
    rng = np.random.default_rng(seed % 2**64)
    u = rng.random(n_events)
    user_id = np.minimum((n_keys * u**skew).astype(np.int64), n_keys - 1)
    ts = _LOG_START_US + np.sort(rng.integers(0, _LOG_SPAN_US, n_events))
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    k = pa.array(rng.integers(0, 100, n_events)).cast(pa.string())
    props = pc.binary_join_element_wise('{"k": ', k, "}", "")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts).cast(pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(etype),
            "value": pa.array(value),
            "props": props,
        }
    )


def _dates(rng, n: int, max_days: int, first_day: int = 0) -> pa.Array:
    days = rng.integers(first_day, max_days, n)
    return pa.array(_DATE_BASE_US + days * _DAY_US).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; one in twenty is a
    near-duplicate (an earlier document's text plus ' dup'), the shape
    the dedup keys look for."""
    lens = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts: list[str] = []
    pos = 0
    dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[src[i]] + " dup")
        else:
            texts.append(" ".join(words[pos : pos + lens[i]]))
        pos += lens[i]
    langs = np.array(["en", "zh", "de", "es", "fr"])
    lang = langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    source = np.array([f"src{i % 20}" for i in range(n)])[rng.permutation(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(source),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def fixture(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.01: 60k
    lineitem rows, 10k events over 150 keys)."""
    rng = np.random.default_rng(seed % 2**64)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    colors = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    nouns = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                    nouns[rng.integers(0, 8, n_part)],
                )
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, 2405),
            "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _dates(rng, n_li, 2498, first_day=1),
        }
    )
    t["events"] = cdc_log(int(rng.integers(1 << 31)), n_ev, max(15, int(15_000 * sf)))
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table (the fixture layout); a name
    may carry a subdirectory."""
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)


def digest(out_dir: str) -> str:
    """sha256 over every file under ``out_dir`` (paths and bytes, sorted)."""
    h = hashlib.sha256()
    paths = sorted(
        os.path.relpath(os.path.join(r, f), out_dir)
        for r, _, fs in os.walk(out_dir)
        for f in fs
    )
    for rel in paths:
        h.update(rel.encode())
        with open(os.path.join(out_dir, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
