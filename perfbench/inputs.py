"""Seeded input generation for the benchmark workloads.

The program receives only the parquet files written here (one
``{table}.parquet`` per corpus table, the layout ``sources/tables.py``
loads) and the HTTP requests the dashboard clients send. Every table
is synthesized from ``--seed`` with NumPy, in the shapes of the
engine's reference corpus (a TPC-H-like star schema, an ``events``
stream, a transcript-like ``documents`` table and 64-d unit
``embeddings``):

- documents: 30-word vocabulary, 10-100 words per doc, ``lang`` skewed
  toward ``en``, ``source = src{doc_id % 20}``. A fixed share of docs
  are planted near-duplicates (an earlier doc's text with ``dup``
  inserted at a random word position) and a few are exact copies, so
  the near-dup and contamination layers have real work.
- embeddings: i.i.d. Gaussian directions, normalized, then rotated by a
  seeded random orthogonal matrix (distance-preserving). ``vec_id``
  equals the ``doc_id`` of the document the vector belongs to.
- ids are contiguous from 0 (queries pin ``vec_id = 0`` as the probe
  vector) but rows are written in a seeded shuffled order.

The same seed and scale give byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "small", "red", "cold", "green", "dark")
PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.003


@dataclass(frozen=True)
class Scale:
    docs: int
    vectors: int
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    event_days: int


# `bench` is what the timed runs use; `tiny` is the harness self-test
# size (the sf0.001 row counts, smaller still for the star schema).
# Events are dense (one day, 50 users) so per-user sessions stay few:
# the dashboard's session_windows_per_user response is a few hundred
# rows, not thousands, and requests measure per-request costs rather
# than JSON encoding.
SCALES = {
    "bench": Scale(docs=600, vectors=300, customers=1500, suppliers=100,
                   parts=2000, orders=15000, lineitems=60000, events=8000,
                   users=50, event_days=1),
    "tiny": Scale(docs=200, vectors=100, customers=150, suppliers=10,
                  parts=200, orders=1500, lineitems=6000, events=1000,
                  users=20, event_days=2),
}


def _write(out_dir: str, name: str, cols: dict, order: np.ndarray) -> None:
    table = pa.table({k: (v.take(pa.array(order)) if isinstance(v, pa.Array)
                          else v[order]) for k, v in cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], dict]:
    lengths = rng.integers(10, 101, size=n)
    words = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in lengths]
    # Planted duplicates copy a doc with a SMALLER id, as a real crawl
    # re-encounters a page after its first sighting.
    ids = rng.permutation(np.arange(1, n))
    n_near = int(round(NEAR_DUP_SHARE * n))
    n_exact = max(1, int(round(EXACT_DUP_SHARE * n)))
    for d in ids[:n_near]:
        src = words[int(rng.integers(0, d))].split(" ")
        pos = int(rng.integers(0, len(src) + 1))
        words[d] = " ".join(src[:pos] + ["dup"] + src[pos:])
    for d in ids[n_near:n_near + n_exact]:
        words[d] = words[int(rng.integers(0, d))]
    return words, {"near_dup_docs": n_near, "exact_dup_docs": n_exact}


def _rotation(rng: np.random.Generator, dim: int) -> np.ndarray:
    q, r = np.linalg.qr(rng.normal(size=(dim, dim)))
    return q * np.sign(np.diag(r))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    day = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + day.astype("timedelta64[D]"), pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: str = "bench") -> dict:
    """Write the ten corpus tables for ``seed`` under ``out_dir`` and
    return the properties the workloads' layers depend on."""
    s = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def shuffled(n):
        return rng.permutation(n)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS, dtype=object)}, np.arange(5))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}, np.arange(25))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(s.customers)],
                           dtype=object),
        "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[
            rng.integers(0, 5, s.customers)]}, shuffled(s.customers))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(s.suppliers)],
                           dtype=object),
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers)},
        shuffled(s.suppliers))
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN],
                     dtype=object)
    _write(out_dir, "part", {
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), s.parts)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)],
                            dtype=object)[rng.integers(0, 25, s.parts)],
        "p_type": np.array(PART_TYPES, dtype=object)[
            rng.integers(0, len(PART_TYPES), s.parts)],
        "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) / 10, 2)},
        shuffled(s.parts))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"), dtype=object)[
            rng.integers(0, 3, s.orders)],
        "o_totalprice": _money(rng, 1000, 500000, s.orders),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                             s.orders),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, s.orders)]}, shuffled(s.orders))
    n = s.lineitems
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, s.orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"), dtype=object)[
            rng.integers(0, 3, n)],
        "l_linestatus": np.array(("F", "O"), dtype=object)[
            rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                            n)}, shuffled(n))

    n = s.events
    offsets = np.sort(rng.integers(0, s.event_days * 86400 * 10**6, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype(
        "timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, s.users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          dtype=object)}, shuffled(n))

    texts, dup_props = _documents(rng, s.docs)
    text_arr = np.array(texts, dtype=object)
    _write(out_dir, "documents", {
        "doc_id": np.arange(s.docs, dtype=np.int64),
        "text": text_arr,
        "lang": np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), s.docs, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(s.docs)],
                           dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        shuffled(s.docs))

    v = rng.normal(size=(s.vectors, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = (v @ _rotation(rng, DIM)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), DIM)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(s.vectors, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, s.vectors).astype(np.int32)},
        shuffled(s.vectors))

    return {"scale": scale, **asdict(s), **dup_props,
            "near_dup_share": round(dup_props["near_dup_docs"] / s.docs, 4),
            "input_text_bytes": sum(len(t.encode()) for t in texts)}
