"""Seeded generator of the benchmark's input tables.

Writes the ten tables the package reads (``sources/testdata.py``
``TABLES``) as one Parquet file each, with the physical schema and the
row counts per scale factor of the testdata in TESTDATA.md: a TPC-H-ish
star schema, an ``events`` stream, a ``documents`` corpus (bags of a
30-word vocabulary, 10-99 tokens, 5% near-duplicates marked by a trailing
``dup`` token) and unit-norm 64-d ``embeddings``. The same seed gives
byte-identical inputs. ``python3 perfbench/datashape.py`` compares a
generated directory with the testdata statistic by statistic; the
figures are in README.md.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _write(out: Path, name: str, cols: dict[str, pa.Array | np.ndarray]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet", compression="snappy")


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Random bags of WORDS, 10-99 tokens; 5% are near-duplicates of
    another document with a trailing ``dup`` token."""
    words = np.asarray(WORDS)
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return texts


def generate(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables at scale factor ``sf`` under ``out``; return
    the row counts of the largest ones."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, n_cust // 10)
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    t0 = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    texts = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vecs}
