"""Crash-sweep of the TIERED ANN-index compaction protocol: the intent
records each merge group as it starts, so a crash anywhere in the pass
(between the consolidated write and the original-directory deletes —
the cross-level duplicate-id window) is converged by the next
compaction call TIERED — only the crashed group's directories are
re-touched; the base consolidated level stays byte-identical on disk
(the no-full-rewrite evidence). Closes the round-11 documented hole
where a crashed tiered pass escalated to a full O(|index|) rewrite."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.fs import LocalFS
from metrique_spark.objects import stamp
from test_fault_injection import FaultFS, InjectedFault


def _vrows(spark, rows, day):
    df = spark.createDataFrame(
        rows, "oid long, embedding array<double>, label int")
    return stamp(df, oid="oid",
                 start=F.to_timestamp(F.lit(day)), sort_arrays=False)


def _file_stats(root):
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size,
                                                 st.st_mtime_ns)
    return out


N_BASE = 2048


def _build(spark, wh, kind):
    """Cube + index + three refresh-appended small batches above a
    large base level. Returns (tier threshold, base-file relpaths)."""
    eng = Engine(spark, warehouse=wh)
    rows = [(i, [float(((i + 2) * (j + 1)) % 7 - 3) for j in range(8)],
             0) for i in range(N_BASE)]
    eng.upsert("vx", _vrows(spark, rows, "2014-01-01"), stamped=True)
    kw = (dict(nlist=2, m=4, k=4) if kind == "ivfpq"
          else dict(nlist=2))
    eng.build_vector_index("vx", "cx", vec_col="embedding", kind=kind,
                           **kw)
    sub = "codes" if kind == "ivfpq" else "vectors"
    root = os.path.join(eng._ann_path("vx", "cx"), sub)
    base = set(_file_stats(root))  # written by the build = base level
    for day, oid in (("2014-02-01", 999_990), ("2014-03-01", 999_991),
                     ("2014-04-01", 999_992)):
        eng.upsert("vx", _vrows(
            spark, [(oid, [float(oid % 5 + j) for j in range(8)], 1)],
            day), stamped=True)
        eng.refresh_vector_index("vx", "cx")
    stats = _file_stats(root)
    appended = {p: v for p, v in stats.items() if p not in base}
    assert appended, "test premise: append batches exist"
    if kind == "ivfpq":
        # the PQ compactor classifies tiers by TOKEN du (includes crc
        # sidecars) — compute the threshold in the same units
        tok: dict[str, int] = {}
        for r, _dirs, _f in os.walk(root):
            b = os.path.basename(r)
            if b.startswith("__abatch="):
                t = b[len("__abatch="):]
                tok[t] = tok.get(t, 0) + eng.fs.du(r)
        thr = max(s for t, s in tok.items() if t != "base")
        assert tok["base"] > thr, \
            "test premise: base level must sit above the tier threshold"
    else:
        thr = max(s for s, _m in appended.values())
        assert all(stats[p][0] > thr for p in base), \
            "test premise: base level must sit above the tier threshold"
    return thr, base


def _stored_ids(spark, apath, kind):
    sub = "codes" if kind == "ivfpq" else "vectors"
    df = spark.read.parquet(os.path.join(apath, sub))
    return [r["_oid"] for r in df.select("_oid").collect()]


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["ivfpq", "ivf"])
def test_fault_sweep_tiered_index_compaction(spark, tmp_path, kind):
    template = str(tmp_path / "template")
    thr, base_rels = _build(spark, template, kind)
    sub = "codes" if kind == "ivfpq" else "vectors"
    want_ids = set(range(N_BASE)) | {999_990, 999_991, 999_992}
    q = spark.createDataFrame(
        [(0, [1.0] * 8)], "_oid long, embedding array<double>")

    # clean pass: count the compaction's own control-plane mutations
    clean_wh = str(tmp_path / "clean")
    shutil.copytree(template, clean_wh)
    eng0 = Engine(spark, warehouse=clean_wh,
                  fs=FaultFS(LocalFS(), None))
    eng0.compact_vector_index("vx", "cx", small_bytes=thr)
    total = eng0.fs.used
    assert total >= 3  # intent write, group record/phases, deletes
    baseline = sorted(map(tuple, eng0.vector_search(
        "vx", "cx", q, k=5, allow_stale=True).collect()))

    faulted = 0
    for k in range(total):
        wh = str(tmp_path / f"k{k}")
        shutil.copytree(template, wh)
        eng = Engine(spark, warehouse=wh)
        apath = eng._ann_path("vx", "cx")
        root = os.path.join(apath, sub)
        base_before = {p: v for p, v in _file_stats(root).items()
                       if p in base_rels}
        try:
            crashed = Engine(spark, warehouse=wh,
                             fs=FaultFS(LocalFS(), k))
            crashed.compact_vector_index("vx", "cx", small_bytes=thr)
            continue  # this budget survived the whole pass
        except InjectedFault:
            faulted += 1
        # resume: the SAME tiered call completes the recorded group —
        # never a full rewrite (base level byte-identical below)
        eng.compact_vector_index("vx", "cx", small_bytes=thr)
        assert not eng.fs.isfile(eng._ann_intent_path("vx", "cx"))
        base_after = {p: v for p, v in _file_stats(root).items()
                      if p in base_rels}
        assert base_after == base_before, (k, "base level rewritten")
        ids = _stored_ids(spark, apath, kind)
        assert len(ids) == len(set(ids)), (k, "duplicate ids survived")
        assert set(ids) == want_ids, (k, "ids lost or invented")
        got = sorted(map(tuple, eng.vector_search(
            "vx", "cx", q, k=5, allow_stale=True).collect()))
        assert got == baseline, (k, "search drifted after resume")
    assert faulted >= 1  # the sweep actually crossed crash points


def test_resume_pq_drops_torn_consolidated_dirs_first(spark, tmp_path):
    """A REAL-WORLD crash mid-consolidated-write (outside the fault
    model's atomic data writes) leaves TORN ``__abatch=<out>`` dirs:
    some clusters written, others not. The resume must delete them
    before rebuilding — its dynamic overwrite only replaces partitions
    present in the rebuilt output, and the re-dedup may assign a
    duplicate id's surviving row to a DIFFERENT cluster than the
    crashed run did, which would leave the torn copy as a permanent
    duplicate."""
    import glob as _glob
    import json

    wh = str(tmp_path / "wh")
    thr, _base = _build(spark, wh, "ivfpq")
    eng = Engine(spark, warehouse=wh)
    apath = eng._ann_path("vx", "cx")
    # crash exactly at the first original-dir delete: the consolidated
    # write completed and the intent carries the group
    with pytest.raises(InjectedFault):
        crashed = Engine(spark, warehouse=wh, fs=FaultFS(LocalFS(), 2))
        crashed.compact_vector_index("vx", "cx", small_bytes=thr)
    ipath = eng._ann_intent_path("vx", "cx")
    intent = json.loads(eng.fs.read_text(ipath))
    out_tok = intent["pending"]["out"]
    out_dirs = sorted(_glob.glob(
        f"{apath}/codes/cluster=*/__abatch={out_tok}"))
    assert out_dirs, "premise: consolidated dirs landed before crash"
    # tear the consolidated write: drop one cluster's out dir (with a
    # single-cluster output this degrades to the fully-absent case —
    # also converged by the rebuild)
    eng.fs.delete_dir(out_dirs[0])
    # resume converges: rebuild from the (complete) originals, no
    # duplicates, no torn leftovers
    eng.compact_vector_index("vx", "cx", small_bytes=thr)
    ids = _stored_ids(spark, apath, "ivfpq")
    assert len(ids) == len(set(ids)), "torn dir survived as duplicates"
    assert set(ids) == set(range(N_BASE)) | {999_990, 999_991, 999_992}


def test_legacy_groupless_compact_intent_still_escalates(spark,
                                                         tmp_path):
    """An op=compact intent WITHOUT a recorded group (written by a
    pre-resume engine) still escalates to the full consolidation — the
    only convergence that vintage supports."""
    import json

    wh = str(tmp_path / "wh")
    _build(spark, wh, "ivfpq")
    eng = Engine(spark, warehouse=wh)
    ipath = eng._ann_intent_path("vx", "cx")
    eng.fs.write_text(ipath, json.dumps({"op": "compact"}))
    apath = eng._ann_path("vx", "cx")
    eng.compact_vector_index("vx", "cx", small_bytes=1)
    # full escalation: everything consolidated into one level
    assert eng._index_batch_count(apath, "ivfpq") == 1
    assert not eng.fs.isfile(ipath)


def _census_collision_setup(spark, wh):
    """Full-compact the index into one cmp level, then re-append an
    EXISTING id (a new version of oid 999_990): the next full merge's
    deduped census equals the cmp level's own token — the out-token-
    in-group corner."""
    import glob as _glob

    _build(spark, wh, "ivfpq")
    eng = Engine(spark, warehouse=wh)
    eng.compact_vector_index("vx", "cx", small_bytes=None)
    apath = eng._ann_path("vx", "cx")
    cmp_dirs = sorted(_glob.glob(
        f"{apath}/codes/cluster=*/__abatch=cmp*"))
    assert cmp_dirs, "premise: one consolidated cmp level exists"
    cmp_tok = os.path.basename(cmp_dirs[0])[len("__abatch="):]
    # re-append a duplicate id: a new version of an indexed oid
    eng.upsert("vx", _vrows(
        spark, [(999_990, [9.0] * 8, 2)], "2014-05-01"), stamped=True)
    eng.refresh_vector_index("vx", "cx")
    dup_dirs = sorted(
        d for d in _glob.glob(f"{apath}/codes/cluster=*/__abatch=*")
        if os.path.basename(d) != f"__abatch={cmp_tok}")
    assert dup_dirs, "premise: the duplicate-id append landed"
    dup_tok = os.path.basename(dup_dirs[0])[len("__abatch="):]
    return eng, apath, cmp_tok, dup_tok


def test_compact_never_records_out_token_inside_its_own_group(
        spark, tmp_path):
    """When a merge group's deduped census collides with one of its
    OWN cmp levels (re-appended identical ids), the compactor must not
    write under that member's token — a crash mid-overwrite would tear
    ORIGINAL data the resume then mistakes for torn output. The token
    is deterministically suffixed instead, so the consolidated write
    lands in fresh directories and out ∉ group holds. Content-wise
    this is the case that proved 'skip the write' unsafe: after the
    duplicate-id refresh, the cmp level's content has drifted from its
    token name (the removal rewrote it in place), so only a real
    merge-and-rewrite keeps every id."""
    import glob as _glob

    eng, apath, cmp_tok, dup_tok = _census_collision_setup(
        spark, str(tmp_path / "wh"))
    croot = os.path.join(apath, "codes")
    removed = eng.compact_vector_index("vx", "cx", small_bytes=None)
    assert removed >= 1
    # both the old cmp level and the duplicate append are gone; the
    # survivor is the suffixed fresh token
    assert not _glob.glob(f"{croot}/cluster=*/__abatch={cmp_tok}")
    assert not _glob.glob(f"{croot}/cluster=*/__abatch={dup_tok}")
    assert _glob.glob(f"{croot}/cluster=*/__abatch={cmp_tok}r")
    ids = _stored_ids(spark, apath, "ivfpq")
    assert len(ids) == len(set(ids))
    assert set(ids) == set(range(N_BASE)) | {999_990, 999_991, 999_992}


def test_resume_escalates_out_token_in_group_without_data_loss(
        spark, tmp_path):
    """A PRE-fix writer crashed mid-overwrite of the corner above:
    the intent's out token is one of the group's own levels and the
    level is TORN (duplicate rows in a wrong-cluster dir). The resume
    must treat the surviving out-token dirs as SOURCE (rebuild from
    all surviving group dirs including them, write before any delete)
    — the old code deleted them first and lost every id unique to the
    level."""
    import glob as _glob
    import json

    eng, apath, cmp_tok, dup_tok = _census_collision_setup(
        spark, str(tmp_path / "wh"))
    croot = os.path.join(apath, "codes")
    # simulate the pre-fix torn overwrite: duplicate one cluster's cmp
    # parquet file into ANOTHER cluster's cmp dir (same ids, wrong
    # cluster — the re-assignment symptom), so the census mismatches
    cmp_dirs = sorted(_glob.glob(f"{croot}/cluster=*/__abatch={cmp_tok}"))
    assert len(cmp_dirs) >= 2, "premise needs two clusters"
    src_files = [f for f in os.listdir(cmp_dirs[0])
                 if f.endswith(".parquet")]
    shutil.copyfile(os.path.join(cmp_dirs[0], src_files[0]),
                    os.path.join(cmp_dirs[1], "torn-" + src_files[0]))
    ipath = eng._ann_intent_path("vx", "cx")
    eng.fs.write_text(ipath, json.dumps(
        {"op": "compact",
         "pending": {"kind": "pq", "group": sorted([cmp_tok, dup_tok]),
                     "out": cmp_tok}}))
    eng.compact_vector_index("vx", "cx", small_bytes=None)
    ids = _stored_ids(spark, apath, "ivfpq")
    assert len(ids) == len(set(ids)), "torn duplicate survived"
    assert set(ids) == set(range(N_BASE)) | {999_990, 999_991, 999_992}, \
        "resume lost ids unique to the out-token level"
    assert not eng.fs.isfile(ipath)
