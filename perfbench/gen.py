"""Seeded input generator for the benchmark workloads.

Every table has the schema of the repository's sf0.1 testdata (``events``,
``orders``, ``documents``, ``embeddings``) and a shape modelled on it:
events spread evenly over January 2024 (sf0.1: 100,000 events over 30
days, 1,500 users), orders from which the program derives CRM leads and
campaign spend, 30-word vocabulary documents of 44..577 characters with
~5% " dup" near-copies and a few exact copies, and unit-norm 64-d
float32 embeddings in 10 labelled clusters. Sizes are fixed per size
class, so two seeds give inputs of the same size and only the values
differ. The same seed gives byte-identical files.

Nothing here imports Spark: inputs are written before the clock starts
and the program under test only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY0 = dt.datetime(2024, 1, 1)
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class Size:
    events_per_day: int
    boot_days: int      # dag/ivm bootstrap covers January days [0, boot_days)
    batch_days: int     # op i lands January day boot_days + i
    n_orders: int
    n_users: int
    n_docs: int
    n_vecs: int
    dim: int = 64


SIZES = {
    # events, users and orders at the sf0.1 rate; the corpus is smaller
    # than sf0.1's 5,000 documents / 2,000 vectors, whose first op and
    # output-check oracle do not fit the run budget (README.md)
    "default": Size(
        events_per_day=3333, boot_days=20, batch_days=10, n_orders=150000,
        n_users=1500, n_docs=400, n_vecs=400,
    ),
    "tiny": Size(
        events_per_day=40, boot_days=20, batch_days=6, n_orders=3000,
        n_users=150, n_docs=200, n_vecs=120,
    ),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # another table's values for the same seed
    return np.random.default_rng([seed, *stream.encode()])


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return path


# -- events ---------------------------------------------------------------
def events_for_days(seed: int, size: Size, first_day: int, n_days: int) -> pa.Table:
    """Events of days [first_day, first_day + n_days); event ids are
    dense and follow day order, so day d's ids are a fixed range."""
    per = size.events_per_day
    cols: dict[str, list] = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for d in range(first_day, first_day + n_days):
        r = _rng(seed, f"events/{d}")
        secs = np.sort(r.integers(0, 86400 * 1_000_000, per))
        cols["event_id"].append(np.arange(d * per, (d + 1) * per, dtype=np.int64))
        cols["ts"].append(
            np.datetime64(DAY0 + dt.timedelta(days=d), "us") + secs.astype("timedelta64[us]")
        )
        cols["user_id"].append(r.integers(0, size.n_users, per))
        cols["event_type"].append(np.array(EVENT_TYPES)[r.integers(0, 5, per)])
        cols["value"].append(np.round(r.uniform(0, 200, per), 2))
        cols["props"].append(np.char.add(
            np.char.add('{"k": ', r.integers(0, 100, per).astype(str)), "}"
        ))
    cat = {k: np.concatenate(v) if v else np.array([]) for k, v in cols.items()}
    return pa.table({
        "event_id": pa.array(cat["event_id"], pa.int64()),
        "ts": pa.array(cat["ts"], pa.timestamp("us")),
        "user_id": pa.array(cat["user_id"], pa.int64()),
        "event_type": pa.array(cat["event_type"].tolist(), pa.string()),
        "value": pa.array(cat["value"], pa.float64()),
        "props": pa.array(cat["props"].tolist(), pa.string()),
    })


def orders(seed: int, size: Size) -> pa.Table:
    """Orders without keys that are both a lead source and a spend
    source (``o_orderkey % 15 == 10``), so every order has one landing
    day (:func:`order_day`)."""
    r = _rng(seed, "orders")
    keys = np.arange(size.n_orders * 15 // 14 + 15, dtype=np.int64)
    keys = keys[keys % 15 != 10][: size.n_orders]
    n = len(keys)
    days = r.integers(0, 365 * 7, n)
    return pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(0, max(n // 10, 1), n), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUS)[r.integers(0, 3, n)].tolist()),
        "o_totalprice": pa.array(np.round(r.uniform(900, 400000, n), 2)),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01", "us") + (days * 86400 * 1_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(np.array(PRIORITY)[r.integers(0, 5, n)].tolist()),
    })


def order_day(keys: np.ndarray) -> np.ndarray:
    """January day index at which each order lands. The program derives
    a CRM lead from ``o_orderkey % 3 == 1`` dated day
    ``(o_orderkey % 211) * 13 % 30`` and a campaign spend from
    ``o_orderkey % 5 == 0`` dated day ``o_orderkey % 31``
    (``sources/synthetic.py``); an order lands with the day it dates.
    Orders that feed neither land with the bootstrap."""
    lead = np.where(keys % 3 == 1, (keys % 211) * 13 % 30, 0)
    return np.where(keys % 5 == 0, keys % 31, lead)


# -- corpus ---------------------------------------------------------------
def documents(seed: int, size: Size) -> pa.Table:
    """Which documents are near or exact copies of which, and every
    document's length, come from a fixed stream; the seed picks the
    words, languages and vectors. The near-duplicate clusters the
    corpus operators resolve, and so their work, are then the same
    shape for every seed."""
    shape, r = _rng(0, "documents/shape"), _rng(seed, "documents")
    n = size.n_docs
    texts: list[str] = []
    for i in range(n):
        u, j, k = shape.random(), int(shape.integers(0, max(i, 1))), int(shape.integers(8, 100))
        if i > 20 and u < 0.05:      # near-copy of an earlier doc
            texts.append(texts[j] + " dup")
        elif i > 20 and u < 0.052:   # exact copy
            texts.append(texts[j])
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), k)]))
    texts = [t[:577] for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, size: Size) -> pa.Table:
    """Cluster labels come from a fixed stream (see :func:`documents`);
    the seed picks the cluster centres and the noise."""
    shape, r = _rng(0, "embeddings/shape"), _rng(seed, "embeddings")
    n, d = size.n_vecs, size.dim
    labels = shape.integers(0, 10, n).astype(np.int32)
    centers = r.normal(0, 1, (10, d))
    m = centers[labels] + r.normal(0, 2.0, (n, d))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def shard(docs: pa.Table, vecs: pa.Table, seed: int, i: int) -> tuple[pa.Table, pa.Table]:
    """Shard i: a seeded row permutation of the corpus. Ids are kept, so
    every shard has the same answer, but each is a new file with a new
    identity — the program's per-input memo cannot serve it."""
    r = _rng(seed, f"shard/{i}")
    return (
        docs.take(pa.array(r.permutation(docs.num_rows))),
        vecs.take(pa.array(r.permutation(vecs.num_rows))),
    )


def write_corpus_shards(root: str, seed: int, size: Size, n: int, small: dict) -> list[str]:
    """``n`` shard directories, each a complete source directory (the
    corpus files plus the small relational tables the source views
    read)."""
    docs, vecs = documents(seed, size), embeddings(seed, size)
    dirs = []
    for i in range(n):
        d = os.path.join(root, f"shard{i:03d}")
        sd, sv = shard(docs, vecs, seed, i)
        write(sd, os.path.join(d, "documents.parquet"))
        write(sv, os.path.join(d, "embeddings.parquet"))
        link_small(small, d)
        dirs.append(d)
    return dirs


# -- relational source dirs -----------------------------------------------
def write_small(root: str, seed: int, size: Size) -> dict:
    """All orders and a one-day events file, shared by hard link into
    every source dir that needs them whole."""
    return {
        "orders.parquet": write(orders(seed, size), os.path.join(root, "small", "orders.parquet")),
        "events.parquet": write(
            events_for_days(seed, size, 0, 1), os.path.join(root, "small", "events.parquet")
        ),
    }


def link_small(small: dict, d: str, skip: tuple = ()) -> None:
    os.makedirs(d, exist_ok=True)
    for name, src in small.items():
        if name not in skip:
            os.link(src, os.path.join(d, name))


def write_dag_dirs(root: str, seed: int, size: Size) -> list[str]:
    """Source dirs for the DAG workload: dir 0 holds the bootstrap days,
    dir i (i >= 1) the bootstrap plus the first i batch days — one
    landed January day per op, its events together with the orders whose
    derived lead or spend is dated that day, so every model ingests new
    rows. A new directory per landing is how a new batch reaches the
    program: source registration is memoized per directory."""
    all_orders = orders(seed, size)
    day = order_day(all_orders.column("o_orderkey").to_numpy())
    dirs = []
    for i in range(size.batch_days + 1):
        d = os.path.join(root, f"src{i:03d}")
        write(events_for_days(seed, size, 0, size.boot_days + i), os.path.join(d, "events.parquet"))
        write(all_orders.filter(pa.array(day < size.boot_days + i)),
              os.path.join(d, "orders.parquet"))
        dirs.append(d)
    return dirs


# -- change batches (ivm_refresh) -----------------------------------------
def ivm_batch(seed: int, size: Size, i: int, live_ids: np.ndarray) -> pa.Table:
    """Mixed change batch i: one new day of events (inserts), ~5% of the
    new day's volume as user reassignments of live events (updates) and
    ~3% as deletes of live events. Updates keep event_type, so no event
    crosses the view's row filter; ``__del`` marks the deletes."""
    r = _rng(seed, f"ivm/{i}")
    ins = events_for_days(seed, size, size.boot_days + i, 1)
    n_upd = max(size.events_per_day // 20, 1)
    n_del = max(size.events_per_day // 30, 1)
    pick = r.choice(live_ids, n_upd + n_del, replace=False)
    upd_ids, del_ids = np.sort(pick[:n_upd]), np.sort(pick[n_upd:])
    old = events_for_ids(seed, size, np.concatenate([upd_ids, del_ids]))
    upd = old.slice(0, n_upd).set_column(
        2, "user_id", pa.array(r.integers(0, size.n_users, n_upd), pa.int64())
    )
    dele = old.slice(n_upd)
    flag = lambda t, v: t.append_column("__del", pa.array([v] * t.num_rows, pa.bool_()))
    return pa.concat_tables([flag(ins, False), flag(upd, False), flag(dele, True)])


def events_for_ids(seed: int, size: Size, ids: np.ndarray) -> pa.Table:
    """The generated rows of the given event ids, in the order given."""
    per = size.events_per_day
    days = sorted({int(i) // per for i in ids})
    t = pa.concat_tables([events_for_days(seed, size, d, 1) for d in days])
    pos = {int(e): k for k, e in enumerate(t.column("event_id").to_numpy())}
    return t.take(pa.array([pos[int(i)] for i in ids]))


def write_ivm_batches(root: str, seed: int, size: Size, n: int) -> list[str]:
    """``n`` change batches; batch i only updates or deletes events that
    are live after batches 0..i-1 are applied."""
    per = size.events_per_day
    live = set(range(size.boot_days * per))
    paths = []
    for i in range(n):
        b = ivm_batch(seed, size, i, np.array(sorted(live), dtype=np.int64))
        live.update(b.filter(pc.invert(b["__del"]))["event_id"].to_pylist())
        live.difference_update(b.filter(b["__del"])["event_id"].to_pylist())
        paths.append(write(b, os.path.join(root, "batches", f"b{i:03d}.parquet")))
    return paths


def apply_batches(base: pa.Table, batches: list[pa.Table]) -> pa.Table:
    """Raw events after upserting/deleting the batches in order (by
    event_id) — the input of the full-recompute check."""
    import pandas as pd

    cur = base.to_pandas().set_index("event_id")
    for b in batches:
        bd = b.to_pandas().set_index("event_id")
        cur = cur.drop(index=bd.index, errors="ignore")
        cur = pd.concat([cur, bd[~bd["__del"]].drop(columns="__del")])
    return pa.Table.from_pandas(cur.reset_index(), schema=base.schema, preserve_index=False)
