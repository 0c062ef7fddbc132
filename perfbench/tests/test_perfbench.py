"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import collections
import itertools
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import check, datagen  # noqa: E402
from perfbench.trace import (Tracer, layer_self_times, parse_duration,  # noqa: E402
                             self_times, tail)


class _FakeCtx:
    spark = None

    def __init__(self, seed):
        self.seed = seed


def _query_ops(seed, n):
    """Kinds and literals of the first ``n`` warehouse_query ops, read
    off the Op closures without running them."""
    from perfbench.query import QueryWorkload

    wl = QueryWorkload(_FakeCtx(seed))
    wl.eng = wl.con = wl.data_dir = None
    wl.oracles = collections.defaultdict(str)
    out = []
    for _role, op in itertools.islice(itertools.chain.from_iterable(wl.rounds()), n):
        cells = tuple(c.cell_contents for c in (op.build.__closure__ or ())
                      if isinstance(c.cell_contents, (int, float, str, list)))
        out.append((op.kind, cells))
    return out


def test_same_seed_same_op_list():
    a, b = _query_ops(7, 40), _query_ops(7, 40)
    assert a == b
    assert _query_ops(8, 40) != a


def test_every_round_holds_every_kind_once():
    from perfbench import curation
    from perfbench.query import READ_PASSES, QueryWorkload

    every = QueryWorkload.KINDS * READ_PASSES + curation.KINDS
    n = len(every)
    kinds = [k for k, _ in _query_ops(3, 3 * n)]
    for r in range(3):
        assert sorted(kinds[r * n:(r + 1) * n]) == sorted(every)
        # the curation jobs close the round, in pipeline order
        assert kinds[(r + 1) * n - len(curation.KINDS):(r + 1) * n] == list(curation.KINDS)


def _batches(seed, cycles):
    bulk, stream = datagen.ingest_stream(seed, 2000)
    return bulk, [b for _ in range(cycles) for b in stream.cycle()]


def test_same_seed_same_batches():
    bulk1, b1 = _batches(5, 8)
    bulk2, b2 = _batches(5, 8)
    assert bulk1 == bulk2 and b1 == b2
    assert _batches(6, 8)[1] != b1
    for batch in b1:
        oids = [r[0] for r in batch]
        assert oids == sorted(set(oids))          # one row per oid
        assert 1 <= len(batch) <= 1_000
    # every cycle holds one batch per size stratum
    n = len(datagen.SIZE_STRATA)
    for c in range(len(b1) // n):
        sizes = sorted(len(b) for b in b1[c * n:(c + 1) * n])
        for size, (lo, hi) in zip(sizes, datagen.SIZE_STRATA):
            assert lo <= size <= hi


def test_stream_follows_what_it_gave():
    """Batches are drawn against the state earlier batches left: a new
    oid is new to every earlier batch, and a resent row repeats the
    object's latest value."""
    bulk, stream = datagen.ingest_stream(4, 2000)
    latest = {o: (s, q, p) for o, s, q, p in bulk}
    warm = [stream.batch(k) for k in stream.strata_order()[:3]]
    resends = 0
    for batch in warm + [b for _ in range(6) for b in stream.cycle()]:
        for o, *row in batch:
            resends += latest.get(o) == tuple(row)
            latest[o] = tuple(row)
    assert max(latest) == stream.top - 1
    assert resends > 0


def test_same_seed_same_corpus(tmp_path):
    datagen.write_curation_inputs(str(tmp_path / "a"), 3)
    datagen.write_curation_inputs(str(tmp_path / "b"), 3)
    for t in ("documents", "embeddings"):
        x = pd.read_parquet(tmp_path / "a" / f"{t}.parquet")
        y = pd.read_parquet(tmp_path / "b" / f"{t}.parquet")
        assert x.drop(columns=[c for c in x if c == "embedding"]).equals(
            y.drop(columns=[c for c in y if c == "embedding"]))
        if t == "embeddings":
            assert np.array_equal(np.stack(x.embedding), np.stack(y.embedding))
    docs = pd.read_parquet(tmp_path / "a" / "documents.parquet")
    assert (docs.n_chars == docs.text.str.len()).all()
    # the injected near-duplicates differ from an earlier doc in one word
    words = [t.split() for t in docs.text]
    near = sum(1 for i, w in enumerate(words)
               if any(len(v) == len(w) >= 30 and v[:-1] == w[:-1] and v != w
                      for v in words[:i]))
    assert near >= 15


def test_traced_layers_cover_the_curation_modules():
    from perfbench.harness import traced_layers

    layers = {}
    for owner, attr, layer in traced_layers():
        assert callable(getattr(owner, attr))
        layers[attr] = layer
    assert layers["curate_corpus"] == "functions.curation"
    assert layers["minhash_dedup_pairs"] == "functions.dedup"
    assert layers["pq_train"] == "functions.similarity.train"
    assert layers["pq_encode"] == "functions.similarity.encode"
    assert layers["ivfpq_topk"] == "functions.similarity.probe"
    assert {"functions.text", "functions.classifier", "functions.bpe",
            "functions.sampling"} <= set(layers.values())


def test_same_seed_same_tables(tmp_path):
    g1 = datagen.write_query_inputs(str(tmp_path / "a"), 9)["graph"]
    g2 = datagen.write_query_inputs(str(tmp_path / "b"), 9)["graph"]
    assert g1 == g2
    for t in ("events", "orders", "lineitem"):
        x = pd.read_parquet(tmp_path / "a" / f"{t}.parquet")
        y = pd.read_parquet(tmp_path / "b" / f"{t}.parquet")
        pd.testing.assert_frame_equal(x, y)
    ev = pd.read_parquet(tmp_path / "a" / "events.parquet")
    assert not ev.duplicated(["user_id", "ts"]).any()


@pytest.mark.parametrize("n", [1, 5, 19, 20, 21, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    values = list(np.random.default_rng(n).permutation(n).astype(float))
    pct, val, beyond = tail(values)
    above = sum(1 for v in values if v > val)
    if n < 20:
        # too few for ten beyond: the upper quartile stands in
        assert pct == 75.0 and beyond == above
        assert sorted(values)[(3 * (n - 1)) // 4] <= val <= max(values)
    else:
        assert beyond == above == 10
        assert pct >= 50.0
        # the next order statistic up would leave fewer than ten beyond
        assert sum(1 for v in values if v > sorted(values)[n - 10]) < 10


def test_self_time_is_duration_minus_covered_children():
    spans = [
        [0, "op", 0.0, 10.0, None, 1],
        [1, "plan.build", 1.0, 4.0, 0, 1],
        [2, "engine.read", 1.5, 3.0, 1, 1],
        [3, "mql.compile", 2.0, 2.5, 2, 1],
        [4, "spark.exec", 5.0, 9.0, 0, 1],
        [5, "temporal", 6.0, 7.0, 4, 1],
        [6, "temporal", 6.5, 8.0, 4, 1],   # overlaps its sibling
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3 - 1.5)
    assert st[2] == pytest.approx(1.5 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(4 - 2.0)   # union of [6,7] and [6.5,8]
    layers = layer_self_times(spans, {1})
    # one thread never opens overlapping siblings; if it did, their
    # overlap would be counted in both
    assert sum(layers.values()) == pytest.approx(10.0 + 0.5)
    assert layers["unattributed"] == pytest.approx(3.0)


def test_tracer_spans_nest_and_sum_to_wall():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer(True)
    tr.wrap(Owner, "work", "layer")
    tr.op_id = 0
    with tr.span("op"):
        with tr.span("plan.build"):
            assert Owner.work(1) == 2
    tr.unwrap_all()
    assert Owner.work.__name__ == "work" and tr.counts[(0, "layer.calls")] == 1
    total = sum(layer_self_times(tr.spans, {0}).values())
    assert total == pytest.approx(tr.spans[0][3] - tr.spans[0][2])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op"):
        tr.count("x")
    assert tr.spans == [] and not tr.counts


def test_parse_duration():
    assert parse_duration("total (min, med, max)\n1.2 s (0 ms, 3 ms, 40 ms)") == 1.2
    assert parse_duration("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
    assert parse_duration("total\n2.0 m (1 s)") == 120.0
    assert parse_duration("n/a") == 0.0


def test_frame_diff_and_closure():
    a = pd.DataFrame({"x": [2, 1], "y": [0.5, 0.25]})
    b = pd.DataFrame({"y": [0.25, 0.5], "x": [1, 2]})
    assert check.frame_diff(a, b) is None
    assert check.frame_diff(a, b.assign(y=[0.25, 0.6])) is not None
    assert check.frame_diff(a, b.iloc[:1]) is not None
    g = {0: [1, 2], 1: [3], 2: [], 3: [4], 4: []}
    assert check.closure(g, [0], None) == [0, 1, 2, 3, 4]
    assert check.closure(g, [0], 1) == [0, 1, 2]
