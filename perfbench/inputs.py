"""Seeded input generator for the benchmark.

``generate(out_dir, seed, sizes)`` writes one parquet file per table in the
star-schema layout the registry rigs read (``region nation customer supplier
part orders lineitem events documents embeddings``, same column names and
types), so rigs run unchanged against ``out_dir``.

Documents follow the replica model: a base corpus of bag-of-words documents
is replicated ``sizes.replicas`` times; the seed picks each replica's Caesar
rotation of the text (so replicas share statistics but not words) and the
permutation of document keys.  The seed also picks the planted duplicates:

- exact duplicates: a copy of another document's text;
- near duplicates: another document's text plus the token ``" dup"``
  (character-shingle Jaccard well above 0.9, far from the 0.6 probe
  threshold, so banded and exhaustive near-dup checks agree).

Only numpy and pyarrow are used: no Spark session is needed to build the
inputs, and the same seed always gives byte-identical tables.
"""

from __future__ import annotations

import dataclasses
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
P_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO",
                    "MEDIUM"])
P_ADJ = np.array(["large", "hot", "blue", "small", "red", "shiny"])
P_NOUN = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve"])
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
LINES_PER_ORDER = 4        # mean; 1..7 lines per order
EVENTS = 200
DIM = 64
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.002


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input set."""

    orders: int = 1500
    customers: int = 150
    parts: int = 200
    suppliers: int = 10
    base_docs: int = 500
    replicas: int = 1
    embeddings: int = 500


@dataclasses.dataclass
class Truth:
    """What the generator planted, for checks that have no affordable
    oracle twin."""

    near_dup_pairs: list[tuple[int, int]]    # (original id, copy id)
    exact_dup_pairs: list[tuple[int, int]]
    incoming: dict = dataclasses.field(default_factory=dict)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _rotate(text: str, shift: int) -> str:
    if shift == 0:
        return text
    low = string.ascii_lowercase
    return text.translate(str.maketrans(low, low[shift:] + low[:shift]))


def _star(out_dir: str, rng: np.random.Generator, s: Sizes) -> None:
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, s.customers)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers)}))
    pk = np.arange(s.parts, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(P_ADJ[rng.integers(0, 6, s.parts)],
                                          " "),
                              P_NOUN[rng.integers(0, 6, s.parts)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, s.parts).astype(str)),
        "p_type": P_TYPES[rng.integers(0, 6, s.parts)],
        "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 2000) * 0.1, 2)}))

    n_o = s.orders
    odate = EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": odate,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_o)]}))

    lines = rng.integers(1, 2 * LINES_PER_ORDER, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    partkey = rng.integers(0, s.parts, n_l)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, s.suppliers, n_l),
        "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 2000) * 0.1
                                           + rng.uniform(0, 1200, n_l)), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, n_l) * DAY_US}))

    n_e = EVENTS
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_e)),
        "user_id": rng.integers(0, max(1, n_e // 66), n_e),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}))


def _documents(out_dir: str, rng: np.random.Generator, s: Sizes) -> Truth:
    n_base = s.base_docs
    base = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n)])
            for n in rng.integers(10, 101, n_base)]
    # plant duplicates inside the base corpus: the copy keeps its own
    # slot, its original is any other document
    slots = rng.permutation(n_base)
    n_near = int(n_base * NEAR_DUP_FRAC)
    n_exact = max(1, int(n_base * EXACT_DUP_FRAC))
    near = [(int(slots[2 * i]), int(slots[2 * i + 1])) for i in range(n_near)]
    used = 2 * n_near
    exact = [(int(slots[used + 2 * i]), int(slots[used + 2 * i + 1]))
             for i in range(n_exact)]
    for orig, copy in near:
        base[copy] = base[orig] + " dup"
    for orig, copy in exact:
        base[copy] = base[orig]

    shifts = [0] + list(rng.choice(np.arange(1, 26), s.replicas - 1,
                                   replace=False))
    n = n_base * s.replicas
    ids = rng.permutation(n).astype(np.int64)      # key permutation

    def doc_id(rep: int, slot: int) -> int:
        return int(ids[rep * n_base + slot])

    texts = [_rotate(t, int(sh)) for sh in shifts for t in base]
    lang = LANGS[rng.choice(5, n, p=LANG_P)]
    _write(out_dir, "documents", pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    return Truth(
        near_dup_pairs=[(doc_id(r, a), doc_id(r, b))
                        for r in range(s.replicas) for a, b in near],
        exact_dup_pairs=[(doc_id(r, a), doc_id(r, b))
                         for r in range(s.replicas) for a, b in exact])


def random_unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embeddings(out_dir: str, rng: np.random.Generator, s: Sizes) -> None:
    vecs = random_unit(rng, s.embeddings, DIM)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, s.embeddings).astype(np.int32)}))


def generate(out_dir: str, seed: int, sizes: Sizes) -> Truth:
    """Write every table for ``seed`` into ``out_dir``; return the planted
    truth.  Each table draws from its own stream, so changing one size
    leaves the other tables unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    root = np.random.SeedSequence(seed)
    star, docs, vecs = (np.random.default_rng(s) for s in root.spawn(3))
    _star(out_dir, star, sizes)
    truth = _documents(out_dir, docs, sizes)
    _embeddings(out_dir, vecs, sizes)
    return truth
