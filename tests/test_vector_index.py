"""Engine-managed ANN indexes: built under the writer lease from the
committed generation, stamped with it, staleness-checked at search time
against the live manifest pointer — a search against an index whose
corpus has since changed fails loud instead of silently returning
neighbors from a superseded generation."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.functions import similarity as sim
from metrique_spark.objects import stamp


SF0001 = "/root/testdata/sf0.001"


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _emb_cube(spark, engine, cube="vecs"):
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    # sort_arrays=False: stamp's container normalization sorts array
    # fields for order-insensitive hashing, which would destroy vector
    # semantics — the documented requirement for vector cubes
    obj = stamp(emb.select(F.col("vec_id").alias("oid"),
                           F.col("embedding").cast("array<double>")
                           .alias("embedding"), "label"),
                oid="oid", start=F.to_timestamp(F.lit("2014-01-01")),
                sort_arrays=False)
    engine.upsert(cube, obj, stamped=True)
    return emb


def test_build_search_matches_inplan(spark, engine):
    emb = _emb_cube(spark, engine)
    engine.build_vector_index("vecs", "e_sq8", vec_col="embedding",
                              kind="sq8")
    q = (engine.find("vecs", fields="embedding")
         .where(F.col("_oid") < 5)
         .select(F.col("_oid"), "embedding"))
    got = sorted(map(tuple, engine.vector_search(
        "vecs", "e_sq8", q, k=3).collect()))
    want = sorted(map(tuple, sim.quantized_topk(
        emb.select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("embedding")),
        emb.where("vec_id < 5").select(
            "vec_id", F.col("embedding").cast("array<double>")
            .alias("embedding")), "sq8", topk=3).collect()))
    assert got == want and len(got) == 15
    ix = engine.vector_index_list("vecs")
    assert ix["e_sq8"]["kind"] == "sq8" and not ix["e_sq8"]["stale"]


def test_stale_index_fails_loud_until_rebuilt(spark, engine):
    _emb_cube(spark, engine)
    engine.build_vector_index("vecs", "ix", vec_col="embedding",
                              kind="ivfpq", nlist=4, m=4, k=8)
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert engine.vector_search("vecs", "ix", q, k=3).count() == 3
    # the corpus moves on -> the index is stale
    upd = stamp(spark.createDataFrame(
        [(1, [0.5] * 64, 0)], "oid long, embedding array<double>, label int"),
        oid="oid", start=F.to_timestamp(F.lit("2014-02-01")))
    engine.upsert("vecs", upd, stamped=True)
    assert engine.vector_index_list("vecs")["ix"]["stale"]
    with pytest.raises(ValueError, match="generation"):
        engine.vector_search("vecs", "ix", q, k=3)
    # deliberate stale read still possible; rebuild clears it
    assert engine.vector_search("vecs", "ix", q, k=3,
                                allow_stale=True).count() == 3
    engine.build_vector_index("vecs", "ix", vec_col="embedding",
                              kind="ivfpq", nlist=4, m=4, k=8)
    assert not engine.vector_index_list("vecs")["ix"]["stale"]
    assert engine.vector_search("vecs", "ix", q, k=3).count() == 3


def test_unknown_kind_and_missing_index(spark, engine):
    _emb_cube(spark, engine)
    with pytest.raises(ValueError, match="kind"):
        engine.build_vector_index("vecs", "x", vec_col="embedding",
                                  kind="hnsw")
    # a param the kind does not take fails before any build; sq8 takes
    # none, not even the flat writer's storage knobs
    for bad in ({"m": 4}, {"gbuckets": 4}, {"content_hash": False}):
        with pytest.raises(TypeError, match="no params"):
            engine.build_vector_index("vecs", "x", vec_col="embedding",
                                      kind="sq8", **bad)
    assert "x" not in engine.vector_index_list("vecs")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    with pytest.raises(ValueError, match="no committed"):
        engine.vector_search("vecs", "nope", q)


def test_index_survives_commits_and_search_uses_current_only(
        spark, engine):
    _emb_cube(spark, engine)
    # two more upserts create TWO closed batches so the later compact
    # is a real commit (<=1 closed token is a documented no-op)
    for i, day in ((1, "2014-02-01"), (2, "2014-03-01")):
        upd = stamp(spark.createDataFrame(
            [(i, [0.5 + i] * 64, 0)],
            "oid long, embedding array<double>, label int"),
            oid="oid", start=F.to_timestamp(F.lit(day)),
            sort_arrays=False)
        engine.upsert("vecs", upd, stamped=True)
    engine.build_vector_index("vecs", "ivf", vec_col="embedding",
                              kind="ivf", nlist=4)
    assert not engine.vector_index_list("vecs")["ivf"]["stale"]
    # compact is a commit too: the index dir survives the sweep but the
    # generation moved -> stale
    engine.compact("vecs")
    assert engine.vector_index_list("vecs")["ivf"]["stale"]
    engine.build_vector_index("vecs", "ivf", vec_col="embedding",
                              kind="ivf", nlist=4)
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    out = engine.vector_search("vecs", "ivf", q, k=3, nprobe=4)
    assert out.count() == 3


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))


def test_vector_index_on_object_store_backend(spark, tmp_path):
    """The ANN lifecycle's control-plane writes (marker, sidecar,
    invalidation) go through the FileSystem interface, so the protocol
    must hold end-to-end on the rename-free ObjectStoreFS backend too."""
    from metrique_spark.fs import ObjectStoreFS

    store = ObjectStoreFS()
    eng = Engine(spark, warehouse=str(tmp_path / "objwh"), fs=store,
                 lock_ttl=3600)
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet").limit(200)
    obj = stamp(emb.select(F.col("vec_id").alias("oid"),
                           F.col("embedding").cast("array<double>")
                           .alias("embedding")),
                oid="oid", start=F.to_timestamp(F.lit("2014-01-01")),
                sort_arrays=False)
    eng.upsert("vo", obj, stamped=True)
    eng.build_vector_index("vo", "s", vec_col="embedding", kind="sq8")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vo", "s", q, k=3).count() == 3
    assert not eng.vector_index_list("vo")["s"]["stale"]
    # a commit moves the generation -> stale detection through the store
    upd = stamp(spark.createDataFrame(
        [(1, [0.5] * 64)], "oid long, embedding array<double>"),
        oid="oid", start=F.to_timestamp(F.lit("2014-02-01")),
        sort_arrays=False)
    eng.upsert("vo", upd, stamped=True)
    with pytest.raises(ValueError, match="generation"):
        eng.vector_search("vo", "s", q, k=3)
    eng.build_vector_index("vo", "s", vec_col="embedding", kind="sq8")
    assert eng.vector_search("vo", "s", q, k=3).count() == 3


def _vrows(spark, rows, day):
    return stamp(spark.createDataFrame(
        rows, "oid long, embedding array<double>, label int"),
        oid="oid", start=F.to_timestamp(F.lit(day)), sort_arrays=False)


def test_refresh_ivf_appends_and_removes(spark, tmp_path):
    """upsert -> refresh_vector_index -> stale: False, WITHOUT
    re-encoding the corpus: the refreshed index's physical content is
    exactly the live current (id, vector) set — changed ids removed from
    their old bucket dirs and re-appended, brand-new ids appended, all
    against the frozen stored centroids."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"),
                 keep_generations=4)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.upsert("vecs", _vrows(spark, [(1, [0.5] * 64, 0),
                                      (99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    assert eng.vector_index_list("vecs")["ix"]["stale"]
    res = eng.refresh_vector_index("vecs", "ix")
    assert res["appended"] == 2 and res["removed"] == 1
    assert not eng.vector_index_list("vecs")["ix"]["stale"]
    # physical content == live current rows, exactly
    stored = {(r["_oid"], tuple(r["v"])) for r in spark.read.parquet(
        eng._ann_path("vecs", "ix") + "/vectors")
        .selectExpr("_oid", "v").collect()}
    live = {(r["_oid"], tuple(r["embedding"])) for r in
            eng.find("vecs", fields="embedding").collect()}
    assert stored == live
    assert (1, tuple([0.5] * 64)) in stored
    assert (99_999, tuple([0.25] * 64)) in stored
    # search works and a second refresh is a no-op
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "ix", q, k=3).count() == 3
    assert eng.refresh_vector_index("vecs", "ix") == {
        "appended": 0, "removed": 0, "gen": 2}


def test_refresh_ivfpq_parity_and_deletion(spark, tmp_path):
    """Refresh on the cluster-partitioned IVF-PQ layout: codes after the
    refresh equal a frozen-model re-encode of the live corpus (parity
    with a rebuild under the same stored codebooks/centroids — the
    contract; a retrained rebuild is a different approximation), and an
    oid whose history_replace left it with no current row is removed
    without an append."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"),
                 keep_generations=4)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "px", vec_col="embedding",
                           kind="ivfpq", nlist=4, m=4, k=8)
    # change one vector + delete oid 2 (replace history with closed-only)
    eng.upsert("vecs", _vrows(spark, [(3, [0.75] * 64, 0)],
                              "2014-02-01"), stamped=True)
    gone = stamp(spark.createDataFrame(
        [(2, [0.0] * 64, 0, "2014-01-01", "2014-01-02")],
        "oid long, embedding array<double>, label int, s string, e string"),
        oid="oid", start="s", end="e", sort_arrays=False)
    eng.upsert("vecs", gone, autosnap=False, stamped=True)
    res = eng.refresh_vector_index("vecs", "px")
    assert res["appended"] == 1 and res["removed"] == 2
    assert not eng.vector_index_list("vecs")["px"]["stale"]
    apath = eng._ann_path("vecs", "px")
    codes, meta = sim.read_pq_index(spark, apath, fs=eng.fs)
    live = eng.find("vecs", fields="embedding").select(
        F.col("_oid"), "embedding")
    want = sim.pq_encode(live, meta["books"], id_col="_oid",
                         vec_col="embedding")
    got_codes = {(r["_oid"], tuple(r["codes"]))
                 for r in codes.select("_oid", "codes").collect()}
    want_codes = {(r["_oid"], tuple(r["codes"]))
                  for r in want.collect()}
    assert got_codes == want_codes
    assert not any(i == 2 for i, _ in got_codes)
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "px", q, k=3).count() == 3


def test_refresh_content_diff_needs_no_retention(spark, tmp_path):
    """The index carries what the refresh diffs against — raw vectors
    (IVF) or the __vh fingerprint (PQ families) — so keep_generations=0
    refreshes fine: no time travel, no retained snapshot."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))   # keep = 0
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.build_vector_index("vecs", "sx", vec_col="embedding",
                           kind="sq8")
    eng.upsert("vecs", _vrows(spark, [(1, [0.5] * 64, 0),
                                      (99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    for name in ("ix", "sx"):
        res = eng.refresh_vector_index("vecs", name)
        assert res["appended"] == 2 and res["removed"] == 1, name
        assert not eng.vector_index_list("vecs")[name]["stale"]


def test_refresh_legacy_pq_requires_retained_generation(spark, tmp_path):
    """A fingerprint-less PQ index (content_hash=False — the
    pre-fingerprint layout) can only diff by time-traveling the cube to
    its indexed generation; with keep_generations=0 that snapshot is
    swept, so refresh fails loud with the retention hint."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))   # keep = 0
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "px", vec_col="embedding",
                           kind="pq", m=4, k=8, content_hash=False)
    eng.upsert("vecs", _vrows(spark, [(1, [0.5] * 64, 0)],
                              "2014-02-01"), stamped=True)
    with pytest.raises(ValueError, match="keep_generations"):
        eng.refresh_vector_index("vecs", "px")


def test_refresh_converges_raw_append_duplicates(spark, tmp_path):
    """Self-healing: a raw append_to_pq_index that re-added an existing
    id left TWO rows for it in the codes; one refresh converges the
    index back to exactly one row per live id."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding",
                           kind="sq8")
    apath = eng._ann_path("vecs", "sx")
    dup = (eng.find("vecs", fields="embedding")
           .where(F.col("_oid") == 7)
           .select(F.col("_oid"), "embedding"))
    sim.append_to_pq_index(dup, apath, vec_col="embedding", fs=eng.fs)
    codes, _ = sim.read_pq_index(spark, apath, fs=eng.fs)
    assert codes.where(F.col("_oid") == 7).count() == 2
    # gen unchanged -> force the diff by bumping the corpus trivially
    eng.upsert("vecs", _vrows(spark, [(99_998, [0.2] * 64, 0)],
                              "2014-02-01"), stamped=True)
    eng.refresh_vector_index("vecs", "sx")
    codes, _ = sim.read_pq_index(spark, apath, fs=eng.fs)
    assert codes.where(F.col("_oid") == 7).count() == 1


def test_refresh_sq8_flat_layout(spark, tmp_path):
    """The flat __abatch layout (sq8/pq): removal rewrites only the hit
    batch partitions and the appended batch lands token-keyed; content
    equals a frozen-param re-encode of the live corpus."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"),
                 keep_generations=4)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding",
                           kind="sq8")
    eng.upsert("vecs", _vrows(spark, [(4, [0.33] * 64, 0)],
                              "2014-02-01"), stamped=True)
    res = eng.refresh_vector_index("vecs", "sx")
    assert res["appended"] == 1 and res["removed"] == 1
    apath = eng._ann_path("vecs", "sx")
    codes, meta = sim.read_pq_index(spark, apath, fs=eng.fs)
    params = [(p[0], p[1]) for p in meta["params"]]
    live = eng.find("vecs", fields="embedding").select(
        F.col("_oid"), "embedding")
    want = {(r["_oid"], tuple(r["codes"])) for r in sim.sq8_encode(
        live, params, id_col="_oid", vec_col="embedding").collect()}
    got = {(r["_oid"], tuple(r["codes"]))
           for r in codes.select("_oid", "codes").collect()}
    assert got == want
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3


def test_auto_refresh_closes_staleness_loop(spark, tmp_path):
    """An index built with auto_refresh=True never goes stale: every
    commit's epilogue refreshes it, so a search right after an upsert
    works without a manual refresh; a plain index on the same cube still
    fails loud (the default stays opt-in)."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "auto", vec_col="embedding",
                           kind="ivf", nlist=4, auto_refresh=True)
    eng.build_vector_index("vecs", "manual", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.upsert("vecs", _vrows(spark, [(1, [0.5] * 64, 0),
                                      (99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    ix = eng.vector_index_list("vecs")
    assert not ix["auto"]["stale"] and ix["manual"]["stale"]
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "auto", q, k=3).count() == 3
    with pytest.raises(ValueError, match="generation"):
        eng.vector_search("vecs", "manual", q, k=3)
    # the refreshed content tracks the live corpus exactly
    stored = {(r["_oid"], tuple(r["v"])) for r in spark.read.parquet(
        eng._ann_path("vecs", "auto") + "/vectors")
        .selectExpr("_oid", "v").collect()}
    live = {(r["_oid"], tuple(r["embedding"])) for r in
            eng.find("vecs", fields="embedding").collect()}
    assert stored == live


def test_refresh_on_object_store_backend(spark, tmp_path):
    """The refresh protocol's control-plane ops (marker delete/rewrite,
    sidecar read, emptied-partition deletes) all go through the
    FileSystem interface — pin the whole upsert → refresh → search loop
    on the rename-free ObjectStoreFS backend too."""
    from metrique_spark.fs import ObjectStoreFS

    eng = Engine(spark, warehouse=str(tmp_path / "objwh"),
                 fs=ObjectStoreFS(), lock_ttl=3600)
    _emb_cube(spark, eng, cube="vo")
    eng.build_vector_index("vo", "sx", vec_col="embedding", kind="sq8")
    eng.upsert("vo", _vrows(spark, [(1, [0.5] * 64, 0),
                                    (99_999, [0.25] * 64, 1)],
                            "2014-02-01"), stamped=True)
    res = eng.refresh_vector_index("vo", "sx")
    assert res["appended"] == 2 and res["removed"] == 1
    assert not eng.vector_index_list("vo")["sx"]["stale"]
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vo", "sx", q, k=3).count() == 3


def test_vacuum_sweeps_crashed_index_build(spark, tmp_path, monkeypatch):
    """A build that crashes before its marker write leaves an
    uncommitted _ann_* directory — dead weight no search can use.
    vacuum() sweeps it; committed indexes survive the same sweep."""
    from metrique_spark.functions import similarity as sim_mod

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "keep", vec_col="embedding",
                           kind="ivf", nlist=4)

    real = sim_mod.write_quantized_index

    def crash(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected crash before marker")

    monkeypatch.setattr(sim_mod, "write_quantized_index", crash)
    with pytest.raises(RuntimeError, match="injected"):
        eng.build_vector_index("vecs", "dead", vec_col="embedding",
                               kind="sq8")
    monkeypatch.undo()
    path = eng._path("vecs")
    assert eng.fs.isdir(eng.fs.join(path, "_ann_dead"))
    assert "dead" not in eng.vector_index_list("vecs")  # uncommitted
    eng.vacuum("vecs")
    assert not eng.fs.isdir(eng.fs.join(path, "_ann_dead"))
    # the committed index is untouched and still searches
    assert "keep" in eng.vector_index_list("vecs")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "keep", q, k=3).count() == 3


def test_drop_column_refuses_index_columns_and_autorefreshes(spark,
                                                            tmp_path):
    """drop_column must not strand a committed ANN index: dropping the
    index's vec_col is refused with the dependency named, and dropping
    an UNRELATED column runs the auto-refresh epilogue like every other
    commit — an auto_refresh=True index keeps searching across the
    generation bump instead of going stale."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ax", vec_col="embedding",
                           kind="ivf", nlist=4, auto_refresh=True)
    with pytest.raises(ValueError, match="depends on it"):
        eng.drop_column("vecs", "embedding")
    eng.drop_column("vecs", "label")
    assert "label" not in eng.table("vecs").columns
    ix = eng.vector_index_list("vecs")["ax"]
    assert not ix["stale"] and not ix.get("refreshing")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "ax", q, k=3).count() == 3


def test_refresh_crash_is_recoverable_not_sweepable(spark, tmp_path,
                                                    monkeypatch):
    """A refresh that crashes mid-mutation leaves the committed marker
    in place plus the _refresh.json intent: searches fail loud with the
    in-flight error (allow_stale does NOT bypass it — the data is torn,
    not merely stale), vacuum leaves the directory alone, and re-running
    the refresh converges the content — a crash costs a re-run, never
    the full rebuild the old delete-marker-first protocol forced."""
    from metrique_spark.functions import similarity as sim_mod

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.upsert("vecs", _vrows(spark, [(1, [0.5] * 64, 0),
                                      (99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)

    def crash(*a, **kw):
        raise RuntimeError("injected crash mid-refresh")

    monkeypatch.setattr(sim_mod, "append_to_ivf_index", crash)
    with pytest.raises(RuntimeError, match="injected"):
        eng.refresh_vector_index("vecs", "ix")
    monkeypatch.undo()
    path = eng._path("vecs")
    # committed marker still present; intent flags the in-flight state
    assert eng.fs.isfile(eng._ann_meta_path("vecs", "ix"))
    assert eng.fs.isfile(eng._ann_intent_path("vecs", "ix"))
    ix = eng.vector_index_list("vecs")["ix"]
    assert ix["refreshing"] and ix["stale"]
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    with pytest.raises(ValueError, match="in flight"):
        eng.vector_search("vecs", "ix", q, k=3)
    with pytest.raises(ValueError, match="in flight"):
        eng.vector_search("vecs", "ix", q, k=3, allow_stale=True)
    eng.vacuum("vecs")
    assert eng.fs.isdir(eng.fs.join(path, "_ann_ix"))  # NOT swept
    # the re-run converges: content == live corpus, search works
    res = eng.refresh_vector_index("vecs", "ix")
    assert res["gen"] == 2
    assert not eng.fs.isfile(eng._ann_intent_path("vecs", "ix"))
    stored = {(r["_oid"], tuple(r["v"])) for r in spark.read.parquet(
        eng._ann_path("vecs", "ix") + "/vectors")
        .selectExpr("_oid", "v").collect()}
    live = {(r["_oid"], tuple(r["embedding"])) for r in
            eng.find("vecs", fields="embedding").collect()}
    assert stored == live
    assert eng.vector_search("vecs", "ix", q, k=3).count() == 3


def test_drift_flag_flips_on_shifted_distribution(spark, tmp_path):
    """Frozen-model refresh ships a drift signal. On a corpus of four
    tight clusters along orthogonal axes, an in-distribution append
    (copies of corpus vectors under new ids) keeps rebuild_recommended
    False; a batch living on an axis the training never saw — near-zero
    similarity to every frozen centroid, magnitudes outside every
    trained sq8 range — trips the flag for both families. The flag is
    advisory: refresh correctness is unaffected either way."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    dim = 8
    rows = []
    for c in range(4):
        for i in range(50):
            v = [0.0] * dim
            v[c] = 1.0
            v[6] = 0.01 * ((i % 7) - 3)
            v[7] = 0.005 * ((i % 5) - 2)
            rows.append((c * 1000 + i, v, c))
    eng.upsert("vecs", _vrows(spark, rows, "2014-01-01"), stamped=True)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4, train_iters=2)
    eng.build_vector_index("vecs", "sx", vec_col="embedding",
                           kind="sq8")
    base = eng.vector_index_list("vecs")["ix"]["drift_base"]
    assert base["metric"] == "centroid_sim" and base["value"] > 0.3
    # in-distribution: 20 corpus vectors (5 per cluster) under fresh ids
    indist = [(10_000 + j, rows[j][1], rows[j][2])
              for j in range(0, 200, 10)]
    eng.upsert("vecs", _vrows(spark, indist, "2014-02-01"), stamped=True)
    r1 = eng.refresh_vector_index("vecs", "ix")
    assert r1["appended"] == 20
    assert not r1["drift"]["rebuild_recommended"]
    r1s = eng.refresh_vector_index("vecs", "sx")
    assert r1s["drift"]["metric"] == "clip_frac"
    assert r1s["drift"]["appended"] == 0.0
    assert not r1s["drift"]["rebuild_recommended"]
    # out-of-distribution: axis 5 carries all the mass — orthogonal to
    # every trained centroid, far outside every trained per-dim range
    ood = []
    for j in range(20):
        v = [0.0] * dim
        v[5] = 100.0 + 0.1 * j
        ood.append((20_000 + j, v, 9))
    eng.upsert("vecs", _vrows(spark, ood, "2014-03-01"), stamped=True)
    r2 = eng.refresh_vector_index("vecs", "ix")
    d = r2["drift"]
    assert d["metric"] == "centroid_sim"
    assert d["appended"] < d["baseline"] - d["tolerance"]
    assert d["rebuild_recommended"]
    r2s = eng.refresh_vector_index("vecs", "sx")
    assert r2s["drift"]["metric"] == "clip_frac"
    assert r2s["drift"]["rebuild_recommended"]
    # the flag is advisory: the refresh itself stayed correct
    assert not eng.vector_index_list("vecs")["ix"]["stale"]
    assert eng.vector_index_list("vecs")["ix"]["drift_last"][
        "rebuild_recommended"]


def _abatch_dirs(eng, cube, name):
    import os

    root = os.path.join(eng._ann_path(cube, name), "codes")
    out = []
    for dirpath, dirs, _ in os.walk(root):
        for d in dirs:
            if d.startswith("__abatch="):
                out.append(os.path.join(dirpath, d))
    return out


def test_compact_vector_index_consolidates_batches(spark, tmp_path):
    """Two refresh appends leave one __abatch directory per hit
    bucket/cluster per refresh; compact_vector_index rewrites each to a
    single consolidated batch with IDENTICAL search results, leaves the
    marker generation untouched, and vacuum leaves the compacted index
    alone."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "px", vec_col="embedding",
                           kind="ivfpq", nlist=4, m=4, k=8)
    for day, oid in (("2014-02-01", 99_998), ("2014-03-01", 99_999)):
        eng.upsert("vecs", _vrows(spark, [(oid, [0.3] * 64, 1)], day),
                   stamped=True)
        eng.refresh_vector_index("vecs", "px")
    assert len(_abatch_dirs(eng, "vecs", "px")) > 4  # base + appends
    q = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [0.3] * 64)],
        "_oid long, embedding array<double>")
    before = sorted(map(tuple, eng.vector_search("vecs", "px", q, k=5)
                        .collect()))
    gen_before = eng.vector_index_list("vecs")["px"]["gen"]
    removed = eng.compact_vector_index("vecs", "px")
    assert removed > 0
    dirs = _abatch_dirs(eng, "vecs", "px")
    # exactly one consolidated batch per populated cluster
    parents = {d.rsplit("/", 2)[-2] for d in dirs}
    assert len(dirs) == len(parents)
    after = sorted(map(tuple, eng.vector_search("vecs", "px", q, k=5)
                       .collect()))
    assert after == before
    assert eng.vector_index_list("vecs")["px"]["gen"] == gen_before
    assert not eng.fs.isfile(eng._ann_intent_path("vecs", "px"))
    eng.vacuum("vecs")
    assert sorted(map(tuple, eng.vector_search("vecs", "px", q, k=5)
                      .collect())) == before
    # idempotent: nothing left to consolidate
    assert eng.compact_vector_index("vecs", "px") == 0


def test_compact_vector_index_ivf_files(spark, tmp_path):
    """IVF compaction consolidates the per-bucket FILE count (appends
    land extra files, not batch dirs) with identical search results."""
    import os

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.upsert("vecs", _vrows(spark, [(99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    eng.refresh_vector_index("vecs", "ix")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    before = sorted(map(tuple, eng.vector_search("vecs", "ix", q, k=5)
                        .collect()))
    removed = eng.compact_vector_index("vecs", "ix")
    assert removed > 0
    vroot = os.path.join(eng._ann_path("vecs", "ix"), "vectors")
    for d in os.listdir(vroot):
        if d.startswith("bucket="):
            n = sum(f.endswith(".parquet")
                    for f in os.listdir(os.path.join(vroot, d)))
            assert n == 1
    assert sorted(map(tuple, eng.vector_search("vecs", "ix", q, k=5)
                      .collect())) == before
    # stored content still equals the live corpus exactly (dedup did
    # not drop a distinct id)
    stored = {r["_oid"] for r in spark.read.parquet(
        vroot).select("_oid").collect()}
    live = {r["_oid"] for r in eng.find("vecs").select("_oid").collect()}
    assert stored == live
    assert eng.compact_vector_index("vecs", "ix") == 0


def test_compact_vector_index_crash_is_recoverable(spark, tmp_path,
                                                   monkeypatch):
    """A compaction that crashes mid-rewrite leaves marker+intent:
    searches refuse the index, vacuum leaves it alone, and the next
    refresh converges the duplicate window — then compaction re-runs
    clean."""
    from metrique_spark.functions import similarity as sim_mod

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding",
                           kind="sq8")
    eng.upsert("vecs", _vrows(spark, [(99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    eng.refresh_vector_index("vecs", "sx")

    def crash(*a, **kw):
        raise RuntimeError("injected compaction crash")

    monkeypatch.setattr(sim_mod, "compact_pq_index", crash)
    with pytest.raises(RuntimeError, match="injected"):
        eng.compact_vector_index("vecs", "sx")
    monkeypatch.undo()
    assert eng.fs.isfile(eng._ann_intent_path("vecs", "sx"))
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    with pytest.raises(ValueError, match="in flight"):
        eng.vector_search("vecs", "sx", q, k=3)
    eng.vacuum("vecs")
    assert eng.fs.isfile(eng._ann_meta_path("vecs", "sx"))  # not swept
    eng.refresh_vector_index("vecs", "sx")  # converges + clears intent
    assert not eng.fs.isfile(eng._ann_intent_path("vecs", "sx"))
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3
    eng.compact_vector_index("vecs", "sx")
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3


def test_drift_reports_bucket_skew(spark, tmp_path):
    """Centroid-family refreshes report the post-refresh inverted-list
    balance (max/mean bucket size) alongside the distribution metric —
    the measured form of the documented 'rebuild when bucket sizes
    skew' trigger."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4)
    eng.upsert("vecs", _vrows(spark, [(99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)
    res = eng.refresh_vector_index("vecs", "ix")
    assert res["drift"]["bucket_skew"] >= 1.0


def test_auto_compact_index_batches(spark, tmp_path):
    """Engine(auto_compact_index_batches=N): a refresh that leaves more
    than N append granules triggers compact_vector_index as its
    epilogue — the index never accumulates unbounded tiny batch
    partitions under a nightly-refresh regime, and the trigger
    converges (the compacted state counts 1, so it does not re-fire)."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"),
                 auto_compact_index_batches=2)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding", kind="sq8")
    tripped = 0
    for i, day in enumerate(("2014-02-01", "2014-03-01", "2014-04-01")):
        eng.upsert("vecs", _vrows(
            spark, [(200_000 + i, [0.2 + 0.01 * i] * 64, 1)], day),
            stamped=True)
        res = eng.refresh_vector_index("vecs", "sx")
        tripped += res.get("compacted", 0)
    assert tripped > 0  # some refresh crossed the limit and compacted
    apath = eng._ann_path("vecs", "sx")
    assert eng._index_batch_count(apath, "sq8") <= 2  # bounded, converged
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3
    # content still exactly the live corpus
    stored = {r["_oid"] for r in spark.read.parquet(
        apath + "/codes").select("_oid").collect()}
    live = {r["_oid"] for r in eng.find("vecs").select("_oid").collect()}
    assert stored == live


def test_drift_tol_recorded_per_index(spark, tmp_path):
    """A build-time drift tolerance rides the marker: later refreshes
    (auto included) apply it without the caller re-passing the knob —
    an absurdly tight tolerance flips the flag even for an
    in-distribution append, and vector_index_list(counts=True) reports
    the append-granule count compaction bounds."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    emb = _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="ivf", nlist=4, drift_tol=-1.0)
    indist = [(1_000_000 + r["vec_id"], [float(x) for x in r["embedding"]],
               0) for r in emb.limit(5).collect()]
    eng.upsert("vecs", _vrows(spark, indist, "2014-02-01"), stamped=True)
    res = eng.refresh_vector_index("vecs", "ix")
    # appended < baseline - (-1.0) always holds -> flagged by the
    # RECORDED tolerance, no argument passed to refresh
    assert res["drift"]["tolerance"] == -1.0
    assert res["drift"]["rebuild_recommended"]
    ix = eng.vector_index_list("vecs", counts=True)["ix"]
    assert ix["drift_tol"] == -1.0 and ix["batches"] >= 1


def test_search_waits_out_inflight_refresh_with_lock_wait(spark,
                                                          tmp_path):
    """Engine(lock_wait=N) applies to READERS of a mid-mutation index
    too: instead of the in-flight error, vector_search polls the intent
    away (the common case is an auto-refresh commit epilogue finishing
    in seconds) and then answers from the committed state."""
    import json
    import threading

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), lock_wait=30.0)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding", kind="sq8")
    # simulate an in-flight refresh: intent present, then a 'writer'
    # finishes (deletes it) while the search is waiting
    ipath = eng._ann_intent_path("vecs", "sx")
    eng.fs.write_text(ipath, json.dumps({"op": "refresh",
                                         "target_gen": 99}))
    threading.Timer(1.5, lambda: eng.fs.delete(ipath)).start()
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3
    # the fail-fast default still raises immediately
    ff = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.fs.write_text(ipath, json.dumps({"op": "compact"}))
    try:
        with pytest.raises(ValueError, match="in flight"):
            ff.vector_search("vecs", "sx", q, k=3)
    finally:
        eng.fs.delete(ipath)


def test_compact_refuses_torn_crashed_refresh(spark, tmp_path,
                                              monkeypatch):
    """A refresh that crashed MID-MUTATION (intent op=refresh, marker
    gen != target_gen — content torn) must not be compacted directly:
    compaction would consolidate the half-refreshed data and erase the
    torn-content flag. compact_vector_index refuses and steers to
    refresh_vector_index, which converges — then compaction runs."""
    from metrique_spark.functions import similarity as sim_mod

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding", kind="sq8")
    eng.upsert("vecs", _vrows(spark, [(99_999, [0.25] * 64, 1)],
                              "2014-02-01"), stamped=True)

    def crash(*a, **kw):
        raise RuntimeError("injected crash mid-refresh")

    monkeypatch.setattr(sim_mod, "append_to_pq_index", crash)
    with pytest.raises(RuntimeError, match="injected"):
        eng.refresh_vector_index("vecs", "sx")
    monkeypatch.undo()
    # torn state: intent present, marker gen behind the intent's target
    assert eng.fs.isfile(eng._ann_intent_path("vecs", "sx"))
    with pytest.raises(ValueError, match="refresh_vector_index"):
        eng.compact_vector_index("vecs", "sx")
    # intent untouched by the refusal: searches still refuse too
    assert eng.fs.isfile(eng._ann_intent_path("vecs", "sx"))
    eng.refresh_vector_index("vecs", "sx")  # self-healing convergence
    eng.compact_vector_index("vecs", "sx")  # now fine
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    assert eng.vector_search("vecs", "sx", q, k=3).count() == 3


def test_search_wait_survives_concurrent_drop(spark, tmp_path):
    """A lock_wait reader whose index is DROPPED while it polls the
    intent away gets the same 'no committed vector index' ValueError as
    the pre-wait check — never a raw file-not-found from the marker
    re-read."""
    import json
    import threading

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), lock_wait=30.0)
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "sx", vec_col="embedding", kind="sq8")
    ipath = eng._ann_intent_path("vecs", "sx")
    eng.fs.write_text(ipath, json.dumps({"op": "refresh",
                                         "target_gen": 99}))

    # the drop removes the whole _ann_sx dir — intent included, which
    # ends the reader's poll; the marker re-read must then refuse, not
    # raise a raw file-not-found
    threading.Timer(
        1.0, lambda: eng.drop_vector_index("vecs", "sx")).start()
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    with pytest.raises(ValueError, match="no committed vector index"):
        eng.vector_search("vecs", "sx", q, k=3)


def test_drop_vector_index_then_drop_column(spark, tmp_path):
    """drop_vector_index releases the index under the lease (searches
    refuse immediately, the directory is gone, re-drop returns False)
    and unblocks drop_column of the formerly-depended-on column."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    _emb_cube(spark, eng)
    eng.build_vector_index("vecs", "ix", vec_col="embedding",
                           kind="sq8")
    with pytest.raises(ValueError, match="drop_vector_index"):
        eng.drop_column("vecs", "embedding")
    assert eng.drop_vector_index("vecs", "ix") is True
    assert "ix" not in eng.vector_index_list("vecs")
    assert not eng.fs.isdir(eng._ann_path("vecs", "ix"))
    assert eng.drop_vector_index("vecs", "ix") is False  # idempotent
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "_oid long, embedding array<double>")
    with pytest.raises(ValueError, match="no committed"):
        eng.vector_search("vecs", "ix", q, k=3)
    eng.drop_column("vecs", "embedding")  # no longer blocked
    assert "embedding" not in eng.table("vecs").columns


def _layout_dirs(root):
    """Partition directory names under ``root`` (two levels deep)."""
    import os

    return {d: sorted(c for c in os.listdir(os.path.join(root, d))
                      if "=" in c)
            for d in os.listdir(root) if "=" in d}


def test_stored_index_format_is_pinned(spark, tmp_path):
    """The on-disk layout of every stored kind — sidecar keys and values,
    partition directory names — is the format old indexes were written
    in; readers of indexes built by earlier versions depend on it."""
    import json
    import os

    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def write(kind, **kw):
        path = str(tmp_path / kind)
        sim.write_quantized_index(df, path, kind, **kw)
        return path, json.load(open(os.path.join(path, "_pq.json")))

    pq_path, pq = write("pq", m=4, k=4, iters=1)
    assert set(pq) == {"format", "kind", "m", "k", "iters", "id_col",
                       "sub_len", "books", "vh", "gbuckets"}
    assert {n: pq[n] for n in ("format", "kind", "m", "k", "iters",
                               "id_col", "sub_len", "vh", "gbuckets")} == {
        "format": 1, "kind": "pq", "m": 4, "k": 4, "iters": 1,
        "id_col": "vec_id", "sub_len": 2, "vh": True, "gbuckets": 16}
    assert [len(b) for b in pq["books"]] == [4] * 4
    assert all(len(cw) == 2 for b in pq["books"] for cw in b)

    sq_path, sq = write("sq8")
    assert set(sq) == {"format", "kind", "id_col", "params", "vh",
                       "gbuckets"}
    assert {n: sq[n] for n in ("format", "kind", "id_col", "vh",
                               "gbuckets")} == {
        "format": 1, "kind": "sq8", "id_col": "vec_id", "vh": True,
        "gbuckets": 16}
    assert len(sq["params"]) == 8
    assert all(len(p) == 2 and p[0] <= p[1] for p in sq["params"])

    for path in (pq_path, sq_path):
        dirs = _layout_dirs(os.path.join(path, "codes"))
        assert dirs and all(d.startswith("__gbucket=") for d in dirs)
        assert {int(d.split("=")[1]) for d in dirs} <= set(range(16))
        assert all(c == ["__abatch=base"] for c in dirs.values())

    ivfpq_path, ivfpq = write("ivfpq", nlist=2, m=4, k=4)
    assert set(ivfpq) == {"format", "kind", "m", "k", "iters", "nlist",
                          "coarse_iters", "id_col", "sim_decimals",
                          "sub_len", "books", "centroids", "vh"}
    assert {n: ivfpq[n] for n in (
        "format", "kind", "m", "k", "iters", "nlist", "coarse_iters",
        "id_col", "sim_decimals", "sub_len", "vh")} == {
        "format": 1, "kind": "ivfpq", "m": 4, "k": 4, "iters": 1,
        "nlist": 2, "coarse_iters": 1, "id_col": "vec_id",
        "sim_decimals": 6, "sub_len": 2, "vh": True}
    cids = [c[0] for c in ivfpq["centroids"]]
    assert cids == sorted(cids) and len(cids) == 2
    assert all(len(c[1]) == 8 for c in ivfpq["centroids"])
    dirs = _layout_dirs(os.path.join(ivfpq_path, "codes"))
    assert set(dirs) <= {f"cluster={c}" for c in cids} and dirs
    assert all(c == ["__abatch=base"] for c in dirs.values())

    # raw-vector IVF through the Engine: bucket-partitioned vectors plus
    # a centroid table, committed by the engine's _ann.json marker
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.upsert("v", stamp(
        df.select(F.col("vec_id").alias("oid"), "embedding"), oid="oid",
        start=F.to_timestamp(F.lit("2014-01-01")), sort_arrays=False),
        stamped=True)
    eng.build_vector_index("v", "ix", vec_col="embedding", kind="ivf",
                           nlist=2)
    apath = eng._ann_path("v", "ix")
    assert sorted(d for d in os.listdir(apath)
                  if not d.startswith(".")) == [
        "_ann.json", "centroids", "vectors"]
    marker = json.load(open(os.path.join(apath, "_ann.json")))
    assert set(marker) == {"kind", "gen", "vec_col", "id_col", "params",
                           "auto", "drift_base"}
    assert {n: marker[n] for n in ("kind", "vec_col", "id_col", "params",
                                   "auto")} == {
        "kind": "ivf", "vec_col": "embedding", "id_col": "_oid",
        "params": {"nlist": 2}, "auto": False}
    assert marker["drift_base"]["metric"] == "centroid_sim"
    buckets = _layout_dirs(os.path.join(apath, "vectors"))
    cents = {r["centroid_id"] for r in
             spark.read.parquet(apath + "/centroids").collect()}
    assert buckets and set(buckets) <= {f"bucket={c}" for c in cents}
