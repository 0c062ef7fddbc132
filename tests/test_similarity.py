"""Similarity search tests: brute-force cosine top-k + IVF approximate."""

import math

import pytest
from pyspark.sql import functions as F

from metrique_spark.functions import similarity as sim


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [0.0, 0.0, 1.0]),
        (5, [0.5, 0.5, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_exact(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0], [0.0, 1.0]),
                                (2, [1.0, 1.0], [1.0, 1.0])],
                               "i long, a array<double>, b array<double>")
    got = df.select("i", F.round(sim.cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()
    by_i = {r["i"]: r["c"] for r in got}
    assert by_i[1] == 0.0
    assert by_i[2] == 1.0


def test_cosine_topk(vectors):
    out = sim.cosine_topk(vectors, vectors.where("vec_id in (0, 2)"), k=2)
    rows = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    # nearest to 0 is 1; nearest to 2 is 3
    assert (0, 1) in rows
    assert (2, 3) in rows
    # k=2 per query
    assert len(rows) == 4


def test_topk_excludes_self(vectors):
    out = sim.cosine_topk(vectors, vectors, k=3)
    assert out.where("query_id == neighbor_id").count() == 0


def test_ivf_recall_on_small_data(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id < 5")
    exact = sim.cosine_topk(df, queries, k=3)
    approx = sim.ivf_topk(df, queries, k=3, nlist=8, nprobe=8)
    # with nprobe == nlist IVF degenerates to exact search
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert e == a


def test_ivf_partial_probe_is_subset(spark):
    import random

    rnd = random.Random(9)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id < 3")
    out = sim.ivf_topk(df, queries, k=3, nlist=8, nprobe=2)
    # right shape: ≤k rows per query, no self matches
    counts = {r["query_id"]: r["n"] for r in
              out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 3 for v in counts.values())
    assert out.where("query_id == neighbor_id").count() == 0


# ---------------------------------------------------------------------------
# golden pinning on driver testdata (sf0.001) — the two approximate
# operators whose gate entries are rows-only get their exact outputs /
# quality floor pinned here instead.

SF0001 = "/root/testdata/sf0.001"


def _entry():
    import __spark_entry__ as e

    return e


def test_ivf_partial_probe_pinned_quality(spark):
    e = _entry()
    iv = e.queries()["sim_ivf_topk"](spark, SF0001).collect()
    ex = e.queries()["sim_cosine_topk"](spark, SF0001).collect()
    approx = {(r.query_id, r.neighbor_id): r.sim for r in iv}
    exact_all = {(r.query_id, r.neighbor_id): r.sim for r in ex}
    # full k for every query
    assert len(iv) == 50
    # every probed neighbor's similarity must equal the exact computation
    # for that pair (catches bucket/vector mixups even when the pair isn't
    # in the exact top-k)
    from metrique_spark.functions.similarity import cosine
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").cast("array<double>").alias("qv"))
    b = emb.select(F.col("vec_id").alias("nid"),
                   F.col("embedding").cast("array<double>").alias("nv"))
    pairs = spark.createDataFrame(
        [(q, n) for q, n in approx], ["qid", "nid"])
    truth = {
        (r.qid, r.nid): r.sim
        for r in pairs.join(a, "qid").join(b, "nid")
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("nv")), 4))
        .collect()
    }
    assert all(abs(approx[k] - truth[k]) < 1e-9 for k in approx)
    # recall floor vs exact top-k at nprobe=4/16 on structureless random
    # vectors (cluster-free worst case); regression below this means the
    # probe selection broke, not just noise — assignment is deterministic
    recall = len(set(approx) & set(exact_all)) / len(exact_all)
    assert recall >= 0.5
    # determinism: rerun produces identical rows
    iv2 = e.queries()["sim_ivf_topk"](spark, SF0001).collect()
    assert sorted(map(tuple, iv)) == sorted(map(tuple, iv2))


def test_simhash_pairs_pinned_golden(spark):
    # the xxhash64 production variant is not a gate entry (no
    # cross-engine twin by construction — the md5 twin carries the
    # value oracle); its pinned golden output lives here instead
    e = _entry()
    got = sorted(
        tuple(r) for r in
        e.dedup_simhash_pairs(spark, SF0001).collect()
    )
    # exact pinned output at sf0.001 (xxhash64 tokens → 64-bit fold →
    # 16-bit banding, hamming ≤ 3); any drift in tokenization, hashing,
    # folding, or banding shows up as a diff here
    assert got == [
        (5, 450, 2), (8, 120, 1), (8, 360, 2), (12, 360, 2), (16, 369, 3),
        (26, 176, 0), (34, 279, 3), (45, 487, 2), (49, 108, 3),
        (56, 157, 2), (77, 459, 2), (99, 174, 2), (110, 467, 1),
        (119, 425, 2), (120, 360, 3), (144, 161, 3), (211, 404, 3),
        (260, 391, 3), (261, 296, 3), (270, 329, 0), (306, 387, 3),
        (306, 457, 3), (328, 428, 0), (474, 498, 3),
    ]


def test_cosine_pairs_exact_known_vectors(spark):
    from metrique_spark.functions.similarity import cosine_pairs

    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.01]),   # ~identical direction
        (3, [0.0, 1.0]),                      # orthogonal to 1
        (4, [-1.0, 0.0]),                     # opposite to 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b): r.sim
           for r in cosine_pairs(df, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0  # cos ≈ 0.99995 rounds to 1.0 at 4dp


def test_cosine_pairs_bucketed_subset_and_exact_sims(spark):
    from metrique_spark.functions.similarity import (cosine_pairs,
                                                     cosine_pairs_bucketed)

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    exact = {(r.id_a, r.id_b): r.sim
             for r in cosine_pairs(emb, threshold=0.4).collect()}
    bucketed = {(r.id_a, r.id_b): r.sim
                for r in cosine_pairs_bucketed(emb, threshold=0.4).collect()}
    # precision is exact: every emitted pair is a true pair, same sim
    assert set(bucketed) <= set(exact)
    assert all(exact[k] == bucketed[k] for k in bucketed)
    # recall: probing 2/16 buckets on structureless vectors still finds a
    # meaningful share; full probing finds everything
    assert len(bucketed) >= len(exact) * 0.3
    full = {(r.id_a, r.id_b)
            for r in cosine_pairs_bucketed(emb, threshold=0.4,
                                           nprobe=16).collect()}
    assert full == set(exact)


def test_auto_nlist_scales_with_corpus():
    from metrique_spark.functions.similarity import auto_nlist

    assert auto_nlist(0) == 2                       # floor
    assert auto_nlist(50_000) == 2                  # tiny corpus: floor
    assert auto_nlist(1_000_000) == 10              # 100k/bucket default
    assert auto_nlist(100_000_000) == 1000          # grows with the data
    assert auto_nlist(1_000_000, target_bucket_rows=10_000) == 100
    # bigger corpus never gets a smaller nlist
    assert auto_nlist(10**9) > auto_nlist(10**8) > auto_nlist(10**7)


def test_cosine_pairs_bucketed_auto_nlist_runs(spark):
    from metrique_spark.functions.similarity import cosine_pairs_bucketed

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    # nlist=None sizes buckets from the corpus count; tiny corpus → floor
    # nlist=2, and with nprobe=2 the exact mode must find the full pair set
    auto = {(r.id_a, r.id_b)
            for r in cosine_pairs_bucketed(emb, threshold=0.4, nlist=None,
                                           nprobe=2).collect()}
    fixed = {(r.id_a, r.id_b)
             for r in cosine_pairs_bucketed(emb, threshold=0.4, nlist=2,
                                            nprobe=2).collect()}
    assert auto == fixed and len(auto) > 0


def _clustered(spark, n=80, dim=4, seed=3):
    """one dense cluster — the worst case for IVF: every vector lands in
    the same bucket however many buckets exist."""
    import random

    rnd = random.Random(seed)
    rows = [(i, [1.0 + rnd.gauss(0, 0.01) for _ in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_pairs_bucketed_skew_salting_identical(spark):
    """a bucket far over the per-task row cap is split into block-pair
    tasks (~cap rows each); output must be IDENTICAL to the unsalted plan
    — the hard memory cap costs replication, never pairs or sims. Covers
    both the exact mode (nprobe>=nlist) and the windowed probe path."""
    from metrique_spark.functions.similarity import cosine_pairs_bucketed

    df = _clustered(spark)
    for probe in (2, 1):   # exact mode, then partial-probe window path
        unsalted = {(r.id_a, r.id_b): r.sim
                    for r in cosine_pairs_bucketed(
                        df, threshold=0.9, nlist=2, nprobe=probe).collect()}
        salted = {(r.id_a, r.id_b): r.sim
                  for r in cosine_pairs_bucketed(
                      df, threshold=0.9, nlist=2, nprobe=probe,
                      max_bucket_rows=7).collect()}
        assert salted == unsalted
        assert len(salted) > 1000   # the hot bucket really was all-pairs


def test_ivf_knn_join_skew_salting_identical(spark):
    """both sides of a hot bucket block independently; the blocked top-k
    union must reproduce the unsalted join exactly (same neighbors, same
    sims) in exact and partial-probe modes."""
    from pyspark.sql import functions as F

    from metrique_spark.functions.similarity import ivf_knn_join

    df = _clustered(spark, n=60)
    left = df.where(F.col("vec_id") % 2 == 1)
    right = df.where(F.col("vec_id") % 2 == 0)
    for probe in (2, 1):
        unsalted = {(r.query_id, r.neighbor_id, r.sim)
                    for r in ivf_knn_join(left, right, k=3, nlist=2,
                                          nprobe=probe).collect()}
        salted = {(r.query_id, r.neighbor_id, r.sim)
                  for r in ivf_knn_join(left, right, k=3, nlist=2,
                                        nprobe=probe,
                                        max_bucket_rows=5).collect()}
        assert salted == unsalted and len(salted) > 0


def test_ivf_train_iters_refine_centroids(spark):
    """Lloyd refinement: same bucket count, assignments still total, and
    partial-probe recall does not degrade versus the sampled init on the
    driver-generated embeddings."""
    from metrique_spark.functions.similarity import (cosine_pairs,
                                                     ivf_assign, ivf_topk)

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    n = emb.count()
    a0, c0 = ivf_assign(emb, nlist=8)
    a2, c2 = ivf_assign(emb, nlist=8, train_iters=2)
    assert c0.count() == c2.count() == 8
    assert a2.count() == n                     # every vector assigned
    # refined centroids are means, not corpus vectors
    assert a2.select("bucket").distinct().count() >= 2
    # bucket balance should not get WORSE: max bucket size after training
    # is <= max bucket size before (the usual effect of Lloyd on a skewed
    # sampled init; equality allowed)
    m0 = a0.groupBy("bucket").count().agg({"count": "max"}).first()[0]
    m2 = a2.groupBy("bucket").count().agg({"count": "max"}).first()[0]
    assert m2 <= m0 * 1.25                     # allow slack, forbid blowup


def test_ivf_knn_join_exact_and_partial(spark):
    from metrique_spark.functions.similarity import cosine_topk, ivf_knn_join

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    from pyspark.sql import functions as F
    left = emb.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 60)
    right = emb.where(F.col("vec_id") % 2 == 0)
    # exact mode must equal brute-force top-k against the right corpus
    exact = {(r["query_id"], r["neighbor_id"], r["sim"])
             for r in ivf_knn_join(left, right, k=3, nlist=4,
                                   nprobe=4).collect()}
    brute = {(r["query_id"], r["neighbor_id"], r["sim"])
             for r in cosine_topk(right, left, k=3).collect()}
    assert exact == brute
    # partial probing: every left id still gets answers, all of them true
    # neighbors with correct sims (recall can drop, precision cannot)
    part = ivf_knn_join(left, right, k=3, nlist=4, nprobe=2).collect()
    part_ids = {r["query_id"] for r in part}
    assert part_ids == {r["vec_id"] for r in left.collect()}
    sims_ok = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in part}
    full = {(r["query_id"], r["neighbor_id"]): r["sim"]
            for r in ivf_knn_join(left, right, k=10**6, nlist=4,
                                  nprobe=4).collect()}
    assert all(full[k] == v for k, v in sims_ok.items())


def test_ivf_index_roundtrip_and_partition_pruned_search(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 5)

    path = str(tmp_path / "ivf")
    sim.write_ivf_index(df, path, nlist=8)
    assigned, centroids = sim.read_ivf_index(spark, path)

    # full-probe search over the stored index == in-plan exact search
    stored = sorted(map(tuple, sim.ivf_topk_indexed(
        assigned, centroids, q, k=3, nprobe=8).collect()))
    inplan = sorted(map(tuple, sim.ivf_topk(
        df, q, k=3, nlist=8, nprobe=8).collect()))
    assert stored == inplan

    # layout: one directory per bucket (partition-level pruning surface)
    import os

    bucket_dirs = [d for d in os.listdir(path + "/vectors")
                   if d.startswith("bucket=")]
    assert len(bucket_dirs) == 8

    # a partial probe reads only probed bucket partitions: the scan's
    # partition filters mention the bucket column
    out = sim.ivf_topk_indexed(assigned, centroids, q, k=3, nprobe=2)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "bucket" in plan
    assert out.count() > 0


def test_ivf_index_append_and_search(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(23)
    base = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(100)]
    extra = [(1000 + i, rng.standard_normal(8).astype("float32").tolist())
             for i in range(30)]
    df = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    batch = spark.createDataFrame(extra,
                                  "vec_id long, embedding array<float>")

    path = str(tmp_path / "ivf_app")
    sim.write_ivf_index(df, path, nlist=4)
    sim.append_to_ivf_index(batch, path)

    assigned, centroids = sim.read_ivf_index(spark, path)
    assert assigned.count() == 130  # old corpus untouched, batch added

    # appended vectors are searchable: full-probe over the extended
    # stored index == exact in-plan search over the unioned corpus with
    # the SAME centroids (assignment must use the stored ones — frozen
    # bucket semantics)
    q = df.where(F.col("vec_id") < 3)
    stored = sorted(map(tuple, sim.ivf_topk_indexed(
        assigned, centroids, q, k=4, nprobe=4).collect()))
    both = df.unionByName(batch)
    exact = sorted(map(tuple, sim.cosine_topk(both, q, k=4).collect()))
    assert stored == exact

    # append lands inside existing bucket partitions (no new dirs beyond
    # nlist)
    import os

    bucket_dirs = [d for d in os.listdir(path + "/vectors")
                   if d.startswith("bucket=")]
    assert len(bucket_dirs) == 4


def test_knn_classify_majority_and_ties(spark):
    # 4 corpus vectors in two tight clusters with labels; query sits in
    # cluster A -> majority label A; tie case breaks to smallest label
    rows = [
        (0, [1.0, 0.0, 0.0], 7), (2, [0.99, 0.1, 0.0], 7),
        (4, [0.0, 1.0, 0.0], 3), (6, [0.1, 0.99, 0.0], 3),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = spark.createDataFrame(
        [(1, [0.95, 0.05, 0.0]), (3, [0.5, 0.5, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r["query_id"]: (r["pred_label"], r["votes"])
           for r in sim.knn_classify(q, corpus, k=2, nlist=2, nprobe=2)
           .collect()}
    assert out[1] == (7, 2)        # both nearest are label 7
    assert out[3][0] == 3          # 1-1 tie between 7 and 3 -> smaller label
    assert out[3][1] == 1


def test_cosine_range_search_threshold(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.7, 0.7])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    got = {(r["query_id"], r["neighbor_id"]): r["sim"]
           for r in sim.cosine_range_search(df, q, min_sim=0.7).collect()}
    assert set(got) == {(0, 1), (0, 3)}     # 2 is orthogonal; no self
    assert all(v >= 0.7 for v in got.values())


def _two_blobs(spark, n=30, dup_pairs=3):
    """two orthogonal direction fans in 4-d: even ids fan through dims
    (0,1) in 3° steps, odd ids through dims (2,3). Adjacent same-fan
    vectors have cos 3° ≈ 0.99863 — so at threshold 0.999 ONLY exact
    duplicates pair (deterministic by construction, unlike a noise blob
    where two samples can land arbitrarily close). ``dup_pairs`` exact
    duplicates of even ids 0,2,4.. are appended as ids n.."""
    import math

    rows = []
    for i in range(n):
        a = math.radians(3.0 * (i // 2))
        if i % 2 == 0:
            rows.append((i, [math.cos(a), math.sin(a), 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 0.0, math.cos(a), math.sin(a)]))
    for j in range(dup_pairs):
        rows.append((n + j, list(rows[j * 2][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_fit_assign_deterministic(spark):
    """trained centroids and assignments are bit-identical across reruns
    (the decimal-sum Lloyd update is order-independent), and k=2 recovers
    the two direction blobs."""
    df = _two_blobs(spark, dup_pairs=0)
    c1 = sim.kmeans_fit(df, k=2, iters=2)
    c2 = sim.kmeans_fit(df, k=2, iters=2)
    got1 = sorted((r.centroid_id, tuple(r.cvec)) for r in c1.collect())
    got2 = sorted((r.centroid_id, tuple(r.cvec)) for r in c2.collect())
    assert got1 == got2
    a = sim.kmeans_assign(df, c1).collect()
    by_cluster = {}
    for r in a:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    assert len(by_cluster) == 2
    # the blobs are parity-separable; each cluster is all-even or all-odd
    for members in by_cluster.values():
        parities = {v % 2 for v in members}
        assert len(parities) == 1


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """identical input vectors: every row ties and assigns to the smaller
    centroid id, so the other cluster empties — its centroid must survive
    the round (standard Lloyd fix), keeping k constant."""
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    cent = sim.kmeans_fit(df, k=2, iters=2)
    rows = cent.collect()
    assert len(rows) == 2
    a = sim.kmeans_assign(df, cent)
    assert a.select("cluster").distinct().count() == 1


def test_semantic_dedup_min_id_keeps(spark):
    """exact duplicates inside one cluster: the smaller id keeps, the
    duplicate drops; vectors without a near neighbor all keep."""
    df = _two_blobs(spark, n=30, dup_pairs=3)
    out = sim.semantic_dedup(df, threshold=0.999, k=2, iters=1)
    flags = {r.vec_id: r.keep for r in out.collect()}
    assert len(flags) == 33
    for j in range(3):
        assert flags[j * 2] is True       # original keeps
        assert flags[30 + j] is False     # its duplicate drops
    dropped = {v for v, kept in flags.items() if not kept}
    assert dropped == {30, 31, 32}


def test_semantic_dedup_salted_identical(spark):
    """clusters over the per-task cap split into blocked tasks; the drop
    set must be IDENTICAL to the unsalted plan (multi_membership=False
    path of the shared pair helper)."""
    df = _two_blobs(spark, n=40, dup_pairs=4)
    unsalted = sorted(
        (r.vec_id, r.cluster, r.keep)
        for r in sim.semantic_dedup(df, threshold=0.98, k=2, iters=1).collect())
    salted = sorted(
        (r.vec_id, r.cluster, r.keep)
        for r in sim.semantic_dedup(df, threshold=0.98, k=2, iters=1,
                                    max_bucket_rows=5).collect())
    assert salted == unsalted
    assert any(not k for _, _, k in salted)


def test_semantic_dedup_rejects_non_integral_ids(spark):
    """string ids must fail fast at plan time, not mid-job in the Arrow
    pair kernel."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="integral"):
        sim.semantic_dedup(df)


def test_pq_roundtrip_deterministic_and_recall(spark, sf_dir):
    from metrique_spark.functions import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.pq_train(e, m=16, k=16, iters=2)
    assert len(books) == 16 and len(books[0]) == 16
    assert len(books[0][0]) == 4
    # bit-identical retrain (md5 seeds, rounded distances, decimal means)
    assert books == S.pq_train(e, m=16, k=16, iters=2)

    q = e.where(F.col("vec_id") < 10)
    appx = {(r["query_id"], r["neighbor_id"])
            for r in S.quantized_topk(e, q, "pq", topk=3,
                                      model=books).collect()}
    exact = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(e, q, k=3).collect()}
    # the synthetic corpus is near-random — PQ's worst case; at 64 bits
    # this config measures ~0.23 recall@3, so pin a buffered floor that
    # still catches a broken codebook (random guessing is ~3/500)
    assert len(appx & exact) / len(exact) >= 0.12


def test_pq_codes_shape_and_bounds(spark, sf_dir):
    from metrique_spark.functions import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    books = S.pq_train(e, m=4, k=8, iters=1)
    codes = S.pq_encode(e, books).collect()
    assert len(codes) == 50
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])


def test_pq_dim_mismatch_raises(spark, sf_dir):
    from metrique_spark.functions import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="divisible"):
        S.pq_train(e, m=7)


def test_ivfpq_probes_subset_of_pq(spark, sf_dir):
    """IVF pruning only REMOVES candidates: every IVFPQ neighbor set at
    nprobe=nlist must equal plain-PQ ranking restricted to the same
    codebooks (full probe = no pruning), and nprobe < nlist returns a
    subset of the probed lists' vectors with identical ADC scores."""
    from metrique_spark.functions import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    full = S.quantized_topk(e, q, "ivfpq", nlist=4, nprobe=4, m=16, k=16,
                            coarse_iters=1, topk=3)
    books = S.pq_train(e, m=16, k=16, iters=1)
    plain = S.quantized_topk(e, q, "pq", topk=3, model=books)
    got = sorted(map(tuple, full.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want  # full probe ≡ un-pruned PQ ranking

    pruned = S.quantized_topk(e, q, "ivfpq", nlist=4, nprobe=1, m=16,
                              k=16, coarse_iters=1, topk=3)
    plain_all = {(r["query_id"], r["neighbor_id"]): r["score"]
                 for r in S.quantized_topk(e, q, "pq", topk=10**6,
                                           model=books).collect()}
    for r in pruned.collect():
        # pruning never changes a surviving pair's ADC score
        assert plain_all[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_pq_index_roundtrip_append_and_guards(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(23)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)

    path = str(tmp_path / "pq")
    books = sim.write_quantized_index(df, path, "pq", m=4, k=8, iters=1)
    stored = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, path, q, topk=3).collect()))
    inplan = sorted(map(tuple, sim.quantized_topk(
        df, q, "pq", topk=3, model=books).collect()))
    assert stored == inplan and len(stored) == 12

    # append: encode against the FROZEN codebooks, old corpus untouched
    batch = df.withColumn("vec_id", F.col("vec_id") + 1000).limit(6)
    sim.append_to_pq_index(batch, path)
    codes, meta = sim.read_pq_index(spark, path)
    assert codes.count() == 126
    assert meta["m"] == 4 and len(meta["books"]) == 4
    # appended codes equal a fresh encode with the stored books
    fresh = {(r["vec_id"], tuple(r["codes"])) for r in
             sim.pq_encode(batch, meta["books"]).collect()}
    got = {(r["vec_id"], tuple(r["codes"])) for r in
           codes.where("vec_id >= 1000").collect()}
    assert got == fresh

    # dim-mismatch append fails loud
    bad = spark.createDataFrame([(5000, [1.0] * 6)],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dim"):
        sim.append_to_pq_index(bad, path)

    # missing index fails loud (no silent retrain)
    with pytest.raises(ValueError, match="missing"):
        sim.read_pq_index(spark, str(tmp_path / "nope"))


def test_ivfpq_index_roundtrip_and_cluster_partitioned_layout(
        spark, tmp_path):
    import os

    import numpy as np

    rng = np.random.default_rng(29)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)

    path = str(tmp_path / "ivfpq")
    sim.write_quantized_index(df, path, "ivfpq", nlist=4, m=4, k=8)
    stored = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, path, q, nprobe=2, topk=3).collect()))
    inplan = sorted(map(tuple, sim.quantized_topk(
        df, q, "ivfpq", nlist=4, nprobe=2, m=4, k=8, topk=3).collect()))
    assert stored == inplan and len(stored) == 12

    # layout: one directory per coarse cluster — the pruning surface
    cluster_dirs = [d for d in os.listdir(path + "/codes")
                    if d.startswith("cluster=")]
    assert len(cluster_dirs) == 4

    # the one prober reads the layout from the sidecar: the same call
    # probes a flat index as a flat scan
    flat = str(tmp_path / "flat")
    books = sim.write_quantized_index(df, flat, "pq", m=4, k=8)
    got = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, flat, q, nprobe=2, topk=3).collect()))
    assert got == sorted(map(tuple, sim.quantized_topk(
        df, q, "pq", topk=3, model=books).collect()))


def test_pq_topk_large_query_batch_guard(spark):
    rows = [(i, [float(i), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.pq_train(df, m=2, k=4, iters=1)
    with pytest.raises(ValueError, match="IVF layout"):
        sim.quantized_topk(df, df, "pq", topk=2, model=books,
                           max_query_rows=10)
    # explicit override runs the flat scan
    out = sim.quantized_topk(df, df.limit(12), "pq", topk=2, model=books,
                             max_query_rows=None)
    assert out.count() > 0
    # a trained model fixes the codec: training params next to it would
    # be ignored (``k`` is codewords per subspace, not the top-k)
    for bad in ({"k": 3}, {"m": 2}, {"iters": 2}):
        with pytest.raises(TypeError, match="no codec training"):
            sim.quantized_topk(df, df.limit(2), "pq", model=books, **bad)


def test_quantized_layout_defaults():
    """Training defaults per layout: IVF-PQ keeps its 16 subspaces, flat
    PQ its 8; unknown params fail like an unknown keyword."""
    assert sim._layout("pq", {})[2] == {"m": 8, "k": 16, "iters": 1}
    assert sim._layout("ivfpq", {})[2] == {
        "m": 16, "k": 16, "iters": 1, "nlist": 8, "coarse_iters": 1,
        "sim_decimals": 6}
    assert sim._layout("sq8", {})[2] == {}
    with pytest.raises(TypeError, match="no params"):
        sim._layout("sq8", {"m": 4})


def test_sq8_recall_and_reconstruction_quality(spark):
    """SQ8 at 8 bits/dim should be near-exact: on the driver corpus the
    quantized top-5 must overlap the exact top-5 heavily, every reported
    neighbor's quantized score must be within the quantization error of
    the true cosine, and reruns are bit-identical."""
    e = _entry()
    sq = e.queries()["sim_sq8_topk"](spark, SF0001).collect()
    ex = e.queries()["sim_cosine_topk"](spark, SF0001).collect()
    assert len(sq) == 50
    approx = {(r.query_id, r.neighbor_id): r.score for r in sq}
    exact = {(r.query_id, r.neighbor_id): r.sim for r in ex}
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.9, recall                 # 8-bit ~ near-exact
    # scores close to the true cosine for pairs in both
    both = set(approx) & set(exact)
    assert all(abs(approx[k] - exact[k]) < 0.01 for k in both)
    sq2 = e.queries()["sim_sq8_topk"](spark, SF0001).collect()
    assert sorted(map(tuple, sq)) == sorted(map(tuple, sq2))


def test_sq8_guard_and_constant_dim(spark):
    # constant dimension quantizes to code 0 / exact reconstruction
    rows = [(i, [float(i), 7.5, -float(i)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    params = sim.sq8_train(df)
    assert params[1] == (7.5, 7.5)
    enc = {r["vec_id"]: list(r["codes"])
           for r in sim.sq8_encode(df, params).collect()}
    assert all(c[1] == 0 for c in enc.values())
    assert enc[0][0] == 0 and enc[29][0] == 255
    out = sim.quantized_topk(df, df.where("vec_id < 2"), "sq8", topk=3)
    assert out.count() == 6
    with pytest.raises(ValueError, match="IVF"):
        sim.quantized_topk(df, df, "sq8", topk=2, max_query_rows=5)


def test_sq8_index_roundtrip(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(31)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist())
            for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)
    path = str(tmp_path / "sq8")
    params = sim.write_quantized_index(df, path, "sq8")
    stored = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, path, q, topk=3).collect()))
    inplan = sorted(map(tuple, sim.quantized_topk(
        df, q, "sq8", topk=3, model=params).collect()))
    assert stored == inplan and len(stored) == 12
    # a sidecar missing its kind's model fails loud (format error)
    import json
    import os

    side = os.path.join(path, "_pq.json")
    meta = json.load(open(side))
    del meta["params"]
    with open(side, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="format"):
        sim.quantized_topk_indexed(spark, path, q)


def test_index_rebuild_serves_new_corpus_and_append_idempotent(
        spark, tmp_path):
    """Rebuild over an existing path must never serve stale codebooks
    (the sidecar is invalidated first), and a duplicated append of the
    same batch converges to ONE copy (token-keyed dynamic overwrite)."""
    import numpy as np

    rng = np.random.default_rng(37)

    def corpus(seed_shift, n=80):
        rows = [(i, [float(x) for x in
                     rng.standard_normal(8)]) for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    a, b = corpus(0), corpus(1)
    path = str(tmp_path / "pq")
    sim.write_quantized_index(a, path, "pq", m=4, k=8)
    q = b.where(F.col("vec_id") < 3)
    sim.write_quantized_index(b, path, "pq", m=4, k=8)  # REBUILD
    books_b = sim.read_pq_index(spark, path)[1]["books"]
    got = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, path, q, topk=3).collect()))
    fresh = sorted(map(tuple, sim.quantized_topk(
        b, q, "pq", topk=3, model=books_b).collect()))
    assert got == fresh

    # idempotent append: same batch twice -> one copy
    batch = b.withColumn("vec_id", F.col("vec_id") + 500).limit(5)
    sim.append_to_pq_index(batch, path)
    n1 = sim.read_pq_index(spark, path)[0].count()
    sim.append_to_pq_index(batch, path)
    n2 = sim.read_pq_index(spark, path)[0].count()
    assert n1 == n2 == 85

    # sq8 appends are supported against the frozen params
    sq = str(tmp_path / "sq8")
    sim.write_quantized_index(a, sq, "sq8")
    sim.append_to_pq_index(batch, sq)
    codes, meta = sim.read_pq_index(spark, sq)
    assert meta["kind"] == "sq8" and codes.count() == 85
    sim.append_to_pq_index(batch, sq)
    assert sim.read_pq_index(spark, sq)[0].count() == 85


def test_ivfsq8_full_probe_equals_sq8_and_partial_is_subset(spark):
    """With nprobe == nlist the IVF routing is a no-op: IVF×SQ8 must
    equal the flat SQ8 scan exactly. Partial probing returns <= topk
    true-scored rows per query."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    full = sorted(map(tuple, sim.quantized_topk(
        emb, q, "ivfsq8", nlist=4, nprobe=4, topk=3).collect()))
    flat = sorted(map(tuple, sim.quantized_topk(
        emb, q, "sq8", topk=3).collect()))
    assert full == flat
    part = sim.quantized_topk(emb, q, "ivfsq8", nlist=4, nprobe=1,
                              topk=3).collect()
    flat_scores = {(r[0], r[1]): r[2] for r in sim.quantized_topk(
        emb, q, "sq8", topk=10**6).collect()}
    assert all(flat_scores[(r["query_id"], r["neighbor_id"])] == r["score"]
               for r in part)
    counts = {}
    for r in part:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert all(v <= 3 for v in counts.values())


def test_flat_removal_rewrites_only_hit_buckets(spark, tmp_path):
    """The flat layouts sub-partition each batch dir by id hash
    (__gbucket), so removing ids rewrites ~1/gbuckets of the codes:
    bucket directories the removed ids never touched keep their exact
    files (names + mtimes), and search results equal a fresh encode of
    the surviving corpus."""
    import os

    import numpy as np

    rng = np.random.default_rng(53)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "sq8g")
    sim.write_quantized_index(df, path, "sq8", gbuckets=8)

    def snapshot():
        out = {}
        for root, _, files in os.walk(path + "/codes"):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snapshot()
    rid = spark.createDataFrame([(7,), (55,)], "vec_id long")
    sim.remove_from_pq_index(spark, path, rid)
    after = snapshot()
    codes, meta = sim.read_pq_index(spark, path)
    assert meta["gbuckets"] == 8
    assert codes.count() == 118
    assert codes.where("vec_id in (7, 55)").count() == 0
    # files in buckets the removed ids never touched are byte-untouched
    hit = {r["__gbucket"] for r in spark.createDataFrame(
        [(7,), (55,)], "vec_id long")
        .select(sim._gbucket("vec_id", 8).alias("__gbucket")).collect()}
    untouched_before = {p: t for p, t in before.items()
                        if not any(f"__gbucket={b}/" in p for b in hit)}
    assert untouched_before  # the pin is vacuous if every bucket was hit
    assert all(after.get(p) == t for p, t in untouched_before.items())
    # search over the pruned index equals a fresh encode of the survivors
    q = df.where("vec_id < 3")
    got = sorted(map(tuple, sim.quantized_topk_indexed(
        spark, path, q, topk=3).collect()))
    params = [(p[0], p[1]) for p in meta["params"]]
    want = sorted(map(tuple, sim.quantized_topk(
        df.where("vec_id not in (7, 55)"), q, "sq8", topk=3,
        model=params).collect()))
    assert got == want


def test_drift_stat_invariants(spark):
    """The drift statistics hit their analytic fixed points: vectors
    that ARE the centroids score centroid_sim 1.0; vectors that ARE
    codewords have pq_err 0; in-range vectors clip 0 and a vector out
    of range on k of d dims clips exactly k/d."""
    from metrique_spark.functions.similarity import drift_stat

    rows = [(i, [1.0 if j == i else 0.0 for j in range(4)])
            for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(i, v) for i, v in rows]
    name, val = drift_stat(df, "ivf", "embedding", centroids=cents)
    assert name == "centroid_sim" and val == 1.0
    # orthogonal probe: sim to every one-hot centroid is 0
    probe = spark.createDataFrame([(9, [0.5, 0.5, 0.5, 0.5])],
                                  "vec_id long, embedding array<double>")
    _, v2 = drift_stat(probe, "ivf", "embedding", centroids=cents)
    assert v2 == 0.5  # cos((.5,)*4, one-hot) = .5/1 = 0.5 exactly
    # pq: books with the corpus subvectors as codewords -> zero error
    books = [[[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
             [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]]
    name, err = drift_stat(df, "pq", "embedding", books=books)
    assert name == "pq_err" and err == 0.0
    # sq8: params spanning the corpus -> clip 0; out-of-range on 1 of 4
    # dims -> exactly 0.25
    params = [(0.0, 1.0)] * 4
    name, c0 = drift_stat(df, "sq8", "embedding", params=params)
    assert name == "clip_frac" and c0 == 0.0
    oor = spark.createDataFrame([(9, [5.0, 0.5, 0.5, 0.5])],
                                "vec_id long, embedding array<double>")
    _, c1 = drift_stat(oor, "sq8", "embedding", params=params)
    assert c1 == 0.25
    # empty frame -> None, never a crash
    _, ve = drift_stat(df.where("vec_id < 0"), "sq8", "embedding",
                       params=params)
    assert ve is None
