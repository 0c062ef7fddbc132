"""Seeded inputs for the benchmark workloads.

Everything the package receives is generated here from the run's seed:
the parquet tables the warehouse_query workload reads, the graph behind
``deptree``, the warehouse_ingest bulk load and CDC stream, and the
documents and embeddings the curation_batch workload curates. The
tables have the column names and physical types of the repository's
synthetic TPC-H/events/documents test tables (TESTDATA.md), so ``__spark_entry__``
compositions run on them unchanged. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("new", "active", "paused", "closed", "archived")

EPOCH_2024 = dt.datetime(2024, 1, 1)
EPOCH_1995 = dt.datetime(1995, 1, 1)
MONTH_SECONDS = 30 * 86_400


def _ts_us(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(base_us + seconds.astype(np.int64), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def events_table(rng: np.random.Generator, n: int = 30_000,
                 users: int = 1_500) -> pa.Table:
    """Event stream over January 2024. Instants are distinct microsecond
    offsets, so every (user, ts) pair is unique and the SCD-2 version
    chain built from it has no zero-length or tied versions."""
    offs = np.sort(rng.choice(MONTH_SECONDS * 1_000_000, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(EPOCH_2024, offs),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def orders_lineitem_tables(rng: np.random.Generator, n_orders: int = 15_000,
                           lines_per_order: int = 4) -> tuple[pa.Table, pa.Table]:
    day = 86_400 * 1_000_000
    o_days = rng.integers(0, 6 * 365, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_orders // 10, n_orders, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_orders), 2)),
        "o_orderdate": _ts_us(EPOCH_1995, o_days * day),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    n = n_orders * lines_per_order
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    ship = o_days[okey] + rng.integers(1, 120, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1, dtype=np.int32),
                                         n_orders)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, RETURN_FLAGS, n),
        "l_linestatus": _pick(rng, LINE_STATUS, n),
        "l_shipdate": _ts_us(EPOCH_1995, ship * day),
    })
    return orders, lineitem


def graph_edges(rng: np.random.Generator, n: int = 3_000,
                roots: int = 30) -> dict[int, list[int]]:
    """Parent → children forest: node i > roots hangs under a random
    earlier node, so the closure of any seed is finite and acyclic."""
    children: dict[int, list[int]] = {i: [] for i in range(n)}
    for i in range(roots, n):
        children[int(rng.integers(max(0, i - 400), i))].append(i)
    return children


def write_query_inputs(data_dir: str, seed: int) -> dict:
    """Write the warehouse_query tables under ``data_dir``; returns the
    graph used by ``deptree`` (its closure is computed in Python)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(events_table(rng), os.path.join(data_dir, "events.parquet"))
    orders, lineitem = orders_lineitem_tables(rng)
    pq.write_table(orders, os.path.join(data_dir, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(data_dir, "lineitem.parquet"))
    return {"graph": graph_edges(rng)}


# ---------------------------------------------------------------------------
# warehouse_ingest: bulk load + CDC stream


def bulk_objects(rng: np.random.Generator, n: int) -> list[tuple]:
    """(oid, status, qty, price) for the initial load."""
    st = rng.integers(0, len(STATUSES), n)
    qty = rng.integers(0, 1_000, n)
    price = np.round(rng.uniform(1, 1_000, n), 2)
    return [(i, STATUSES[st[i]], int(qty[i]), float(price[i])) for i in range(n)]


# batch-size strata of the CDC stream, log-spaced over 2..1000 oids
SIZE_STRATA = ((2, 9), (9, 43), (43, 208), (208, 1_000))


class CdcStream:
    """Seeded trickle batches of (oid, status, qty, price), one list per
    commit, drawn against the state that the batches drawn so far leave
    (so every batch must be committed, in order). ``cycle()`` gives one
    batch from every size stratum, in seeded order, log-uniform within
    the stratum, so every seed commits the same size mix. Oids are
    skewed toward the most recent ones (the top of the key range, which
    also grows by a few brand-new oids per batch), and about one row in
    ten is resent unchanged so the merge's same-hash skip is exercised.
    A seed gives the same batches however many are drawn."""

    def __init__(self, rng: np.random.Generator, bulk: list[tuple]):
        self.rng = rng
        self.state = {o: (s, q, p) for o, s, q, p in bulk}
        self.top = len(bulk)

    def batch(self, stratum: int) -> list[tuple]:
        rng, top = self.rng, self.top
        lo, hi = SIZE_STRATA[stratum]
        size = max(int(lo * (hi / lo) ** rng.random()), 2)
        fresh = int(rng.integers(0, 3))
        # distinct oids, weighted toward the top of the key range: the
        # largest log(u)/w keys are a weighted sample without replacement
        # (Efraimidis-Spirakis)
        w = np.linspace(1 / top, 1.0, top) ** 4
        keys = np.log(rng.random(top)) / w
        take = max(size - fresh, 1)
        picks = np.argpartition(keys, top - take)[top - take:]
        oids = sorted({int(o) for o in picks} | set(range(top, top + fresh)))
        self.top += fresh
        batch = []
        for o in oids:
            prev = self.state.get(o)
            if prev is not None and rng.random() < 0.1:
                batch.append((o, *prev))
                continue
            row = (STATUSES[int(rng.integers(0, len(STATUSES)))],
                   int(rng.integers(0, 1_000)),
                   float(np.round(rng.uniform(1, 1_000), 2)))
            self.state[o] = row
            batch.append((o, *row))
        return batch

    def strata_order(self) -> list[int]:
        return [int(k) for k in self.rng.permutation(len(SIZE_STRATA))]

    def cycle(self) -> list[list[tuple]]:
        return [self.batch(k) for k in self.strata_order()]


def ingest_stream(seed: int, n_objects: int) -> tuple[list[tuple], CdcStream]:
    """(bulk rows, CDC stream) for one seed."""
    rng = np.random.default_rng([seed, 2])
    bulk = bulk_objects(rng, n_objects)
    return bulk, CdcStream(rng, bulk)


def embedding_rows(rng: np.random.Generator, oids, dim: int = 16) -> list[tuple]:
    vecs = rng.normal(size=(len(oids), dim)).round(4)
    return [(int(o), [float(x) for x in v]) for o, v in zip(oids, vecs)]


# ---------------------------------------------------------------------------
# curation_batch: documents + embeddings

WORDS = ("the", "a", "join", "hash", "row", "batch", "scan", "column",
         "customer", "filter", "small", "slow", "merge", "order", "vector",
         "line", "table", "data", "agg", "value", "key", "stream", "window",
         "spark", "part", "group", "big", "sort", "query", "fast")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def documents_table(rng: np.random.Generator, n: int = 500,
                    near_dups: int = 20) -> pa.Table:
    """Word-salad documents of 10..99 words. ``near_dups`` of them copy
    an earlier document of at least 30 words with its last word changed:
    one 3-gram shingle differs, so each such pair has word-3-gram Jaccard
    of at least 27/29 and LSH at 64 hashes / 16 bands finds it with
    certainty for practical purposes."""
    words = np.asarray(WORDS, dtype=object)
    docs = [list(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
            for _ in range(n)]
    for i in sorted(rng.choice(np.arange(n // 2, n), near_dups, replace=False)):
        src = [j for j in range(i) if len(docs[j]) >= 30]
        copy = list(docs[src[int(rng.integers(0, len(src)))]])
        copy[-1] = next(w for w in words[rng.permutation(len(WORDS))] if w != copy[-1])
        docs[i] = copy
    text = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int = 500, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a 0..9 label."""
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_curation_inputs(data_dir: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 8])
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(documents_table(rng), os.path.join(data_dir, "documents.parquet"))
    pq.write_table(embeddings_table(rng), os.path.join(data_dir, "embeddings.parquet"))
