"""Similarity search over embedding columns (``array<float>``).

Exact and IVF search over raw vectors, plus the quantized families (PQ,
SQ8 — flat or IVF-routed) as one (router × codec) pipeline with one
in-plan scorer, one stored-index writer and one prober; the raw-vector
paths share the same contract:

- ``cosine_topk`` — exact brute-force: query set × corpus with the dot
  product as ``zip_with``/``aggregate`` higher-order functions (JVM-side,
  codegen) and a window top-k. The query side is broadcast — the corpus is
  scanned once, never shuffled. This is the correctness baseline and is
  fine whenever |queries| × |corpus| partitions fit the cluster.
- ``ivf_topk`` — the scale path: k-means-style inverted file. Centroids are
  sampled deterministically, every vector is assigned to its nearest
  centroid (one broadcast pass), and a query only scans its ``nprobe``
  closest buckets. At 100 TB the bucket assignment is the partition key, so
  a probe touches ``nprobe/nlist`` of the data instead of all of it.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metrique_spark.functions.cache import narrow_small


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays, built-ins only."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, sim) — self-matches excluded, ties
    broken by neighbor id for determinism. The query side is broadcast;
    ranking is a window over query_id (shuffle of |Q|·|C| slim rows — at
    scale prefer ``ivf_topk``).
    """
    # norms precomputed once per row: cosine() inline would re-evaluate the
    # interpreted higher-order norm lambda for every candidate pair —
    # |Q|+|C| norm computations instead of 2·|Q|·|C|
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("qv"))
    q = q.select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("cv"))
    c = c.select("neighbor_id", "cv", _norm(F.col("cv")).alias("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            decimals))
    )
    return _rank_topk(scored, k, "sim")


def _rank_topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """Per-query top-``k`` of a scored (query_id, neighbor_id, score)
    frame, ties to the lower neighbor id — the ranking tail every top-k
    search shares."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", score_col)
    )


_PAIRS_SCHEMA = "id_a bigint, id_b bigint, sim double"


def _pairs_above(ids, mat, other_ids, other_mat, threshold, decimals):
    """All (id_a < id_b) cosine pairs between two raw blocks via one numpy
    matmul; returns a pandas DataFrame. Shared by the exact and bucketed
    paths — BLAS does the n·m·d work, Python touches only the survivors.

    Cosine is computed as dot/(‖a‖·‖b‖) — the same algebraic form as the
    SQL oracle — rather than normalize-then-dot, so the two engines agree
    bit-for-bit more often before the 4dp round."""
    import numpy as np
    import pandas as pd

    na = np.linalg.norm(mat, axis=1)
    nb = np.linalg.norm(other_mat, axis=1)
    # round half-UP like Spark's F.round / DuckDB's round — np.round is
    # banker's (half-even) and would drift on exact ties
    scale = 10.0 ** decimals
    sims = np.floor((mat @ other_mat.T) / (na[:, None] * nb[None, :])
                    * scale + 0.5) / scale
    ia, ib = np.nonzero((sims >= threshold)
                        & (ids[:, None] < other_ids[None, :]))
    return pd.DataFrame({"id_a": ids[ia], "id_b": other_ids[ib],
                         "sim": sims[ia, ib]})


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a, id_b),
    id_a < id_b, with cosine ≥ threshold.

    All-pairs is O(n²) by definition; the question is only the constant.
    The corpus streams through ``mapInPandas`` in Arrow batches and each
    batch is one BLAS matmul against a broadcast of the corpus matrix —
    measured ~4× end-to-end over evaluating the dot product as interpreted
    higher-order-function lambdas per joined pair, and nothing but the
    surviving pairs ever materializes. Broadcasting the matrix caps this
    at broadcast size (same ceiling as any broadcast join); past that,
    block both sides (outer loop over matrix blocks of this same
    function) or drop to ``cosine_pairs_bucketed``."""
    import numpy as np

    base = df.select(F.col(id_col).cast("long").alias("id"),
                     _as_double(vec_col).alias("v"))
    rows = base.collect()  # small side of the broadcast, like any dim table
    all_ids = np.array([r.id for r in rows], dtype=np.int64)
    m = np.array([r.v for r in rows], dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((all_ids, m))

    def gen(batches):
        import numpy as np

        ids_all, mat_all = bc.value
        pos = {v: i for i, v in enumerate(ids_all)}
        for pdf in batches:
            idx = pdf["id"].map(pos).to_numpy()
            yield _pairs_above(ids_all[idx], mat_all[idx],
                               ids_all, mat_all, threshold, decimals)

    return base.select("id").mapInPandas(gen, schema=_PAIRS_SCHEMA)


def auto_nlist(n_rows: int, target_bucket_rows: int = 100_000) -> int:
    """Bucket count that keeps the EXPECTED bucket ≤ ``target_bucket_rows``
    rows — the knob that stops a fixed ``nlist`` from becoming a hidden
    per-executor memory bound as the corpus grows."""
    import math

    return max(2, math.ceil(max(0, n_rows) / max(1, target_bucket_rows)))


def _n_blocks(count_col: str, cap: int) -> Column:
    """Number of hash-blocks an oversized group splits into: ⌈n/cap⌉, ≥1."""
    return F.greatest(
        F.lit(1), F.ceil(F.col(count_col) / F.lit(cap))).cast("int")


def cosine_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.45,
    nlist: int | None = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: assign every vector to its
    ``nprobe`` nearest of ``nlist`` IVF buckets, generate candidates only
    within a bucket (the bucket id is the shuffle key — work is
    n²/nlist-ish per bucket instead of n² global, and no broadcast of the
    full matrix), then verify with the exact dot product (one BLAS matmul
    per bucket group). Output precision is exact; recall misses pairs whose
    members share no probed bucket (raise ``nprobe`` to trade cost for
    recall). Same contract as ``cosine_pairs``.

    MEMORY CONTRACT (hard, skew-proof): each ``applyInPandas`` task
    materializes at most ~2×``max_bucket_rows`` rows (default:
    ``target_bucket_rows``), whatever the data distribution.
    ``auto_nlist`` only bounds the MEAN bucket — a dense embedding
    cluster can concentrate far more than corpus/nlist rows in one
    bucket — so oversized buckets are salted: a bucket of n rows splits
    into S=⌈n/cap⌉ hash-blocks and every unordered block pair (i ≤ j)
    becomes its own task (diagonal tasks do self-pairs, off-diagonal
    tasks score block i × block j both ways). Every candidate pair still
    meets in exactly one task per bucket, so output is IDENTICAL to the
    unsalted plan; cost is the standard blocked-matmul S× replication of
    only the oversized buckets' rows. Under-cap buckets get S=1 — the
    exact unsalted plan.

    ``n_rows``: optional caller-supplied UPPER BOUND on ``df``'s row
    count (e.g. the parquet footer total of the source table, even when
    ``df`` filters it) — skips the guard-probe job entirely. With an
    EXPLICIT ``nlist`` an over-estimate is safe: it can only push the
    plan into the salted branch, which is output-identical; an
    under-estimate would break the memory contract, so never pass a
    guess that could be low. With ``nlist=None`` the same ``n_rows``
    also feeds ``auto_nlist``, so an over-estimate raises the bucket
    count and therefore changes RECALL (not precision) — pass the exact
    count, or pin ``nlist``, when the output must be reproducible."""
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is None:
        if nlist is None:
            n_rows = df.count()
        else:
            # guard probe, not a full count: at scale the limit
            # short-circuits after ~cap rows instead of scanning the
            # corpus just to decide whether salting is needed
            n_rows = df.limit(cap + 1).count()
    if nlist is None:
        nlist = auto_nlist(n_rows, target_bucket_rows)
    _, centroids = ivf_assign(df, nlist, id_col, vec_col)
    vecs = df.select(F.col(id_col).cast("long").alias("__vid"),
                     _as_double(vec_col).alias("v"))
    if nprobe >= nlist:
        # exact mode (every vector probes every bucket): skip the centroid
        # scoring + per-vector ranking window — tagging each vector with all
        # bucket ids needs no shuffle at all, just a broadcast of nlist ids
        probed = vecs.join(
            F.broadcast(centroids.select(F.col("centroid_id").alias("bucket")))
        ).select(F.col("__vid").alias("id"), "v", "bucket")
    else:
        probed = _nearest_buckets(vecs, centroids, "v", nprobe).select(
            F.col("__vid").alias("id"), "v", F.col("centroid_id").alias("bucket"))

    return _pairs_within_buckets(probed, threshold, decimals, cap, n_rows)


def _pairs_within_buckets(
    probed: DataFrame,
    threshold: float,
    decimals: int,
    cap: int,
    n_rows: int,
    multi_membership: bool = True,
) -> DataFrame:
    """All (id_a < id_b, sim ≥ threshold) cosine pairs WITHIN each bucket
    of ``probed`` (columns ``id, v, bucket``) under the hard per-task
    memory contract documented in ``cosine_pairs_bucketed``. Shared by the
    IVF pair path and ``semantic_dedup`` (k-means clusters as buckets).

    ``multi_membership=False`` (each id appears in exactly one bucket —
    e.g. a k-means assignment) skips the final ``distinct()``: pairs are
    already unique, so the extra shuffle would be pure cost."""
    from pyspark import StorageLevel

    def _maybe_distinct(pairs: DataFrame) -> DataFrame:
        # a pair can co-occur in several probed buckets — but only when
        # ids can belong to more than one bucket
        return pairs.distinct() if multi_membership else pairs

    if n_rows <= cap:
        # no bucket can exceed the cap (a bucket holds at most the whole
        # corpus): skip the counting/salting machinery entirely — zero
        # extra jobs. This is every small corpus and the oracle-gate
        # configuration; the salted path below is the scale regime.
        def per_bucket(pdf):
            import numpy as np

            ids = pdf["id"].to_numpy(dtype=np.int64)
            m = np.array(list(pdf["v"]), dtype=np.float64)
            return _pairs_above(ids, m, ids, m, threshold, decimals)

        return _maybe_distinct(
            probed.groupBy("bucket")
            .applyInPandas(per_bucket, schema=_PAIRS_SCHEMA)
        )

    # per-bucket sizes drive the salting; persist so the (windowed) probe
    # assignment isn't recomputed for the count pass — MEMORY_AND_DISK
    # spills rather than OOMs, block released by LRU / session end
    probed = narrow_small(probed).persist(StorageLevel.MEMORY_AND_DISK)
    counts = probed.groupBy("bucket").agg(F.count("*").alias("__bn"))
    blocked = (
        probed.join(F.broadcast(counts), "bucket")
        .withColumn("__nb", _n_blocks("__bn", cap))
        .withColumn("__blk",
                    F.pmod(F.xxhash64(F.col("id")), F.col("__nb")).cast("int"))
        .withColumn("__j", F.explode(
            F.sequence(F.lit(0), F.col("__nb") - 1)))
        .withColumn("__blo", F.least("__blk", "__j"))
        .withColumn("__bhi", F.greatest("__blk", "__j"))
        .withColumn("__side",
                    F.when(F.col("__blk") == F.col("__blo"), 0).otherwise(1))
        .select("bucket", "__blo", "__bhi", "__side", "id", "v")
    )

    def per_task(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["__side"] == 0]
        ida = a["id"].to_numpy(dtype=np.int64)
        ma = np.array(list(a["v"]), dtype=np.float64)
        if pdf["__blo"].iat[0] == pdf["__bhi"].iat[0]:
            # diagonal task: all-pairs within one block
            return _pairs_above(ida, ma, ida, ma, threshold, decimals)
        b = pdf[pdf["__side"] == 1]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "sim": pd.Series(dtype="float64")})
        idb = b["id"].to_numpy(dtype=np.int64)
        mb = np.array(list(b["v"]), dtype=np.float64)
        # cross task: both directions so every pair surfaces with
        # id_a < id_b regardless of which block holds the smaller id
        return pd.concat(
            [_pairs_above(ida, ma, idb, mb, threshold, decimals),
             _pairs_above(idb, mb, ida, ma, threshold, decimals)],
            ignore_index=True)

    return _maybe_distinct(
        blocked.groupBy("bucket", "__blo", "__bhi")
        .applyInPandas(per_task, schema=_PAIRS_SCHEMA)
    )


def _nearest_buckets(
    vectors: DataFrame, centroids: DataFrame, vec_alias: str, n_keep: int
) -> DataFrame:
    """Broadcast-join every vector against the (tiny) centroid set, keep the
    ``n_keep`` most-similar centroid ids per vector. All data-side rows are
    scanned once; nothing but slim (id, bucket) rows shuffle."""
    w = Window.partitionBy("__vid").orderBy(
        F.col("__csim").desc(), F.col("centroid_id"))
    return (
        vectors.join(F.broadcast(centroids))
        .withColumn("__csim", cosine(F.col(vec_alias), F.col("cvec")))
        .withColumn("__crk", F.row_number().over(w))
        .where(F.col("__crk") <= n_keep)
        .drop("__csim", "__crk", "cvec")
    )


def ivf_assign(
    df: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Assign each vector to its nearest of ``nlist`` centroids.

    Initial centroids are the vectors whose id hashes lowest
    (deterministic seeded sample — no wall-clock/random dependence,
    reproducible across runs). ``train_iters`` > 0 runs that many Lloyd
    (k-means) refinement rounds — better-balanced buckets, better recall
    at fixed nprobe, and a guard against the hot-bucket memory bound in
    ``cosine_pairs_bucketed``. Left at 0 by default: refined centroid
    means sum floats across partitions, whose order Spark does not fix,
    so bit-exact rerun determinism (which the oracle gates rely on) only
    holds for the sampled init.

    Returns (assigned_df with ``bucket`` column, centroids_df). The
    assignment is a broadcast join + per-vector top-1 — no driver-side
    literal expressions, so plan size is independent of ``nlist``/dim. At
    scale, persist the result partitioned by ``bucket``.
    """
    ranked = df.select(
        F.col(id_col), _as_double(vec_col).alias("v"),
        F.xxhash64(F.col(id_col).cast("string")).alias("h"),
    )
    centroids = (
        ranked.orderBy("h").limit(nlist)
        .select(F.col(id_col).alias("centroid_id"), F.col("v").alias("cvec"))
    )
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    for _ in range(train_iters):
        centroids = _lloyd_round(vectors, centroids).localCheckpoint(
            eager=True)
    assigned = (
        _nearest_buckets(vectors, centroids, "v", 1)
        .select(F.col("__vid").alias(id_col), "v",
                F.col("centroid_id").alias("bucket"))
    )
    return assigned, centroids


_KMEANS_CENTS_ATTR = "_kmeans_cents"


def _lloyd_round(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One k-means round: assign each vector to its nearest centroid, then
    recompute each centroid as the per-dimension mean of its bucket.

    The mean is computed via posexplode → avg over (bucket, dim) →
    re-assemble sorted by dim: two map-side-combinable shuffles whose keys
    are (bucket, dim) and bucket — never a whole bucket's vectors in one
    place, so a hot bucket costs shuffle volume, not executor memory.
    Empty buckets keep their previous centroid (standard Lloyd fix)."""
    assigned = _nearest_buckets(vectors, centroids, "v", 1).select(
        F.col("centroid_id").alias("bucket"), "v")
    dims = (
        assigned.select("bucket", F.posexplode("v").alias("dim", "x"))
        .groupBy("bucket", "dim").agg(F.avg("x").alias("m"))
    )
    means = (
        dims.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(F.col("bucket").alias("centroid_id"),
                F.transform("dm", lambda s: s["m"]).alias("cvec"))
    )
    # empty buckets vanish from `means`; keep their old centroid so nlist
    # stays constant
    kept = centroids.join(means.select("centroid_id"), "centroid_id",
                          "anti")
    return means.unionByName(kept)


def _assign_rounded(
    vectors: DataFrame, centroids: DataFrame, sim_decimals: int
) -> DataFrame:
    """Nearest-centroid assignment on ROUNDED cosine sims (ties broken by
    the smaller centroid id) — the cross-engine-reproducible variant of
    ``_nearest_buckets``: rounding before the argmax is what lets a SQL
    oracle reproduce the exact same cluster choice.

    MAP-ONLY: the centroids are collected to the driver (k·dim doubles —
    tiny by the k-means contract) and inlined as a literal array, so the
    argmax is a per-row ``aggregate`` fold over the broadcast-as-literal
    centroids. No join, no window, NO corpus shuffle — the earlier
    join + ``row_number`` window shape repartitioned every corpus row
    (vector payload included) on ``__vid`` per call.

    Norms and sims are computed with the exact same Spark expressions as
    the windowed shape (``_norm``/``_dot`` in array order, round before
    argmax), so the chosen cluster and reported sim are bit-identical.
    The fold seeds with the first scored centroid and keeps the incumbent
    unless a strictly-better (sim, then smaller id) challenger appears —
    equivalent to the window's ``ORDER BY sim DESC, centroid_id``.

    ``vectors``: (__vid, v) · ``centroids``: (centroid_id, cvec).
    Returns (__vid, v, cluster, sim)."""
    return _assign_lit(vectors, _cent_rows(centroids), sim_decimals)


def _cent_rows(centroids: DataFrame) -> list:
    """Driver-side ``[(cid, vec), ...]`` sorted by cid. A centroid frame
    built by ``kmeans_fit`` carries this list along, so only a foreign
    frame pays the collect — one more sequential job per call for values
    the driver already holds."""
    rows = getattr(centroids, _KMEANS_CENTS_ATTR, None)
    if rows is None:
        rows = sorted((r["centroid_id"], list(r["cvec"])) for r in
                      centroids.select("centroid_id", "cvec").collect())
    return rows


def _py_norm(vec) -> float:
    """Bit-identical to ``_norm``: IEEE-double left fold of acc + x*x in
    array order, then sqrt — Python floats ARE doubles, so hoisting the
    per-centroid norm to the driver costs nothing in reproducibility and
    removes k·dim mults per corpus row (a literal higher-order fold is
    not constant-folded by Catalyst)."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _assign_lit(
    vectors: DataFrame, cents: list, sim_decimals: int
) -> DataFrame:
    """``_assign_rounded``'s engine, taking the centroids as a
    driver-side list of ``(cid, vec)`` sorted by cid."""
    if not cents:
        raise ValueError("cannot assign against an empty centroid set")
    # each centroid VECTOR is one parsed SQL literal (repr round-trip =
    # bit-identical doubles), not dim× py4j ``F.lit`` round trips —
    # measured ~0.5 s of pure driver time per assign call at k=8, d=64.
    # The cid literal stays an ``F.lit`` so its TYPE (int/long/string,
    # whatever the id column collected as) is inferred exactly as before.
    cent_lit = F.array(*[
        F.struct(
            F.lit(cid).alias("cid"),
            F.expr("array({})".format(
                ",".join(f"{float(x)!r}D" for x in vec))).alias("cvec"),
            F.lit(_py_norm(vec)).alias("cn"),
        )
        for cid, vec in cents
    ])
    # each heavy array expression gets its own projection: CollapseProject
    # would otherwise re-inline it into every consumer (the verify-skill
    # minhash lesson) — it only collapses single-use or cheap aliases
    vs = vectors.select("__vid", "v", _norm(F.col("v")).alias("__vn"))
    scored = vs.select(
        "__vid", "v",
        F.transform(
            cent_lit,
            lambda c: F.struct(
                F.round(
                    _dot(F.col("v"), c["cvec"])
                    / (F.col("__vn") * c["cn"]),
                    sim_decimals,
                ).alias("sim"),
                c["cid"].alias("cid"),
            ),
        ).alias("__sc"),
    )
    sc = F.col("__sc")
    best = scored.select(
        "__vid", "v",
        F.aggregate(
            F.slice(sc, 2, F.greatest(F.size(sc) - 1, F.lit(0))),
            F.element_at(sc, 1),
            lambda acc, s: F.when(
                (s["sim"] > acc["sim"])
                | ((s["sim"] == acc["sim"]) & (s["cid"] < acc["cid"])),
                s,
            ).otherwise(acc),
        ).alias("__best"),
    )
    return best.select(
        "__vid", "v", F.col("__best.cid").alias("cluster"),
        F.col("__best.sim").alias("sim"))


def _lloyd_means_exact(
    assigned: DataFrame, centroid_decimals: int
) -> DataFrame:
    """One EXACT-arithmetic Lloyd update: new centroid = per-dimension mean
    of its cluster, summed as DECIMAL(38,12) (associative — the result does
    not depend on Spark's partition/merge order, unlike a double sum) and
    rounded to ``centroid_decimals`` before the next assignment. That makes
    a trained k-means bit-reproducible across runs AND across engines — a
    DuckDB oracle replays the identical iteration. ``_lloyd_round`` (the
    IVF trainer) stays the cheap float path where reproducibility of the
    refined centroids is explicitly not promised.

    Returns the slim ``(cluster, dim, m)`` means — k·dim rows, collected
    by ``kmeans_fit`` which assembles vectors on the driver (so there is
    no second per-iteration shuffle for array assembly, and empty-cluster
    retention is a dict merge, not an anti-join). (cluster, dim)-keyed
    partials are map-side combinable; a whole cluster's vectors never
    meet in one task."""
    return (
        assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
             F.count("*").alias("n"))
        .select("cluster", "dim",
                F.round(F.col("s").cast("double") / F.col("n"),
                        centroid_decimals).alias("m"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_decimals: int = 6,
    sim_decimals: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, fully
    deterministic and cross-engine reproducible (public algorithm:
    Lloyd 1982; the decimal-sum trick is just fixed-point arithmetic).

    - init: the ``k`` vectors with the lowest ``md5(id)`` — a seeded
      pseudo-random sample both engines can replay (no wall-clock, no RNG).
      Cluster labels are the seed ids.
    - assign: centroids inlined as a literal, cosine rounded to
      ``sim_decimals``, ties to the smaller centroid id (``_assign_lit``).
    - update: exact decimal per-dimension means (``_lloyd_means_exact``).

    Scale: per iteration, one corpus scan (map-only — centroids ride into
    the scan as a driver literal) + one map-side-combinable
    (cluster, dim) shuffle whose k·dim-row result is collected; the
    centroids themselves LIVE ON THE DRIVER between rounds (k·dim
    doubles), so an iteration is exactly one Spark job — no checkpoint,
    no anti-join, no array-assembly shuffle. The corpus never shuffles.
    The driver-resident contract bounds k: this is the moderate-k
    clustering path (SemDeDup, data maps); huge-k IVF bucket training
    stays on ``_lloyd_round``'s all-DataFrame float path.

    Returns the trained centroids ``(centroid_id, cvec)`` as a (local)
    DataFrame; feed to ``kmeans_assign``."""
    seed_rows = (
        df.select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"),
                  F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h", "cid").limit(k).select("cid", "v").collect()
    )
    cents = {r["cid"]: list(r["v"]) for r in seed_rows}
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    for _ in range(iters):
        assigned = _assign_lit(vectors, sorted(cents.items()), sim_decimals)
        rows = _lloyd_means_exact(assigned, centroid_decimals).collect()
        upd: dict = {}
        for r in rows:
            upd.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
        for cid, dm in upd.items():  # absent clusters keep their centroid
            cents[cid] = [dm[i] for i in range(len(dm))]
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("centroid_id", df.schema[id_col].dataType),
        T.StructField("cvec", T.ArrayType(T.DoubleType())),
    ])
    out = df.sparkSession.createDataFrame(
        sorted(cents.items()), schema=schema)
    # ride the driver-resident centroids along (the kmeans contract —
    # k·dim doubles) so downstream assign/probe calls skip a collect job
    setattr(out, _KMEANS_CENTS_ATTR,
            sorted((cid, list(vec)) for cid, vec in cents.items()))
    return out


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """Assign every vector to its nearest trained centroid. Returns
    ``(id_col, cluster, sim)`` — map-only over the corpus (centroids
    broadcast), so this is a single pass at any scale."""
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    a = _assign_rounded(vectors, centroids, sim_decimals)
    return a.select(F.col("__vid").alias(id_col), "cluster", "sim")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.45,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_decimals: int = 4,
    centroid_decimals: int = 6,
    sim_decimals: int = 6,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public technique: Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): k-means-cluster the embeddings, then drop
    any document with a DIRECT same-cluster neighbor of cosine ≥
    ``threshold`` and a smaller id. NOTE this is a neighbor-wise rule,
    not the transitive component-min rule of
    ``dedup.connected_components``/``canonical_docs``: for pairs
    (1,5),(2,5) it keeps {1,2} and drops {5}, where the component rule
    would keep only {1} — SemDeDup's per-cluster pruning semantics, kept
    deliberately (feed ``pairs`` to ``connected_components`` for the
    transitive variant). Candidate pairs are generated ONLY within
    a cluster, so cost is Σ|cluster|² instead of n² — and each oversized
    cluster is salted into blocked-matmul tasks under the
    ``cosine_pairs_bucketed`` memory contract (shared helper).

    Returns ``(id_col, cluster, keep)`` — one row per input vector.
    Deterministic end-to-end: the exact k-means makes the clustering
    reproducible, the rounded pair sims make the drop set reproducible.
    Recall caveat (inherent to SemDeDup): a near-dup pair split across two
    clusters is not examined — raise ``k``'s training quality (``iters``)
    or lower ``k`` to trade cost for recall.

    Scale: the fit costs ``iters`` map-only corpus scans (+ the seed
    pass); the final assignment is computed ONCE and persisted
    (MEMORY_AND_DISK) because both the pair generation and the output
    join read it — the caller owns the block's lifetime via
    ``functions.cache.release`` (see that module's contract). Pairs are
    one cluster-keyed shuffle; the drop-set join is broadcast-able. The
    corpus is never collected; the drop set is at most one id per input
    row."""
    from pyspark import StorageLevel

    from .cache import track

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"semantic_dedup: id_col {id_col!r} must be integral, got "
            f"{id_type} — the blocked pair kernel works on int64 ids "
            "(string ids would die mid-job in the Arrow batch instead)")
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is None:
        # guard probe, not a full count (see cosine_pairs_bucketed)
        n_rows = df.limit(cap + 1).count()
    centroids = kmeans_fit(df, k=k, iters=iters, id_col=id_col,
                           vec_col=vec_col,
                           centroid_decimals=centroid_decimals,
                           sim_decimals=sim_decimals)
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    assigned = narrow_small(
        _assign_rounded(vectors, centroids, sim_decimals)).persist(
        StorageLevel.MEMORY_AND_DISK)
    probed = assigned.select(
        F.col("__vid").cast("long").alias("id"), "v",
        F.col("cluster").alias("bucket"))
    pairs = _pairs_within_buckets(probed, threshold, pair_decimals, cap,
                                  n_rows, multi_membership=False)
    drops = pairs.select(F.col("id_b").alias("__drop")).distinct()
    out = (
        assigned.join(drops, assigned["__vid"] == drops["__drop"], "left")
        .select(F.col("__vid").alias(id_col), "cluster",
                F.col("__drop").isNull().alias("keep"))
    )
    return track(out, assigned)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest buckets per
    query. Same output contract as ``cosine_topk``; probes touch
    ~``nprobe/nlist`` of the corpus instead of all of it."""
    assigned, centroids = ivf_assign(corpus, nlist, id_col, vec_col)
    return ivf_topk_indexed(assigned, centroids, queries, k, nprobe,
                            id_col, vec_col, decimals)


def write_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> None:
    """Materialize the IVF index on storage: bucket assignments written
    partitioned by ``bucket`` (so probes prune at the partition level)
    plus the centroid table. Index once, search many — searches never
    re-assign the corpus."""
    assigned, centroids = ivf_assign(df, nlist, id_col, vec_col,
                                     train_iters)
    (assigned.write.partitionBy("bucket").mode("overwrite")
     .parquet(path + "/vectors"))
    centroids.write.mode("overwrite").parquet(path + "/centroids")


def read_ivf_index(spark, path: str) -> tuple:
    """(assigned, centroids) back from ``write_ivf_index`` output."""
    return (spark.read.parquet(path + "/vectors"),
            spark.read.parquet(path + "/centroids"))


def append_to_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Extend a stored IVF index with a new batch — the ANN analog of the
    appendable MinHash text index: assign the batch against the STORED
    centroids (frozen, so bucket semantics never shift under readers) and
    append the slim (id, v, bucket) rows into the bucket-partitioned
    layout. Cost is O(batch)·nlist centroid scoring + one partitioned
    append — the existing corpus is never re-read or re-assigned, and
    ``ivf_topk_indexed`` probes see old and new vectors identically.
    Centroids drifting from the data distribution degrade recall, not
    correctness; re-run ``write_ivf_index`` when bucket sizes skew."""
    spark = batch.sparkSession
    centroids = spark.read.parquet(path + "/centroids")
    vecs = batch.select(F.col(id_col).alias("__vid"),
                        _as_double(vec_col).alias("v"))
    assigned = (
        _nearest_buckets(vecs, centroids, "v", 1)
        .select(F.col("__vid").alias(id_col), "v",
                F.col("centroid_id").alias("bucket"))
    )
    (assigned.write.partitionBy("bucket").mode("append")
     .parquet(path + "/vectors"))


def remove_from_ivf_index(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    fs=None,
) -> None:
    """Physically remove ids from a stored IVF index at BUCKET
    granularity: only bucket directories that contain a removed id are
    rewritten (read → anti-join → dynamic partition overwrite); buckets
    the removed ids never touched are neither read nor written, and a
    bucket left empty is deleted outright (dynamic overwrite cannot
    rewrite a partition it produces zero rows for). Removal-by-rewrite
    instead of read-side tombstones is deliberate: a tombstone anti-join
    taxes EVERY future probe while removals are rare — pay the write
    amplification once, keep the probe path untouched. The affected /
    remaining bucket collects are bounded by ``nlist``."""
    fs = _default_fs(fs)
    vectors = spark.read.parquet(path + "/vectors")
    rid = ids.select(F.col(ids.columns[0]).alias("__rid")).distinct()
    affected = [
        r["bucket"] for r in vectors
        .join(rid, vectors[id_col] == F.col("__rid"), "left_semi")
        .select("bucket").distinct().collect()]
    if not affected:
        return
    keep = (vectors.where(F.col("bucket").isin(affected))
            .join(rid, vectors[id_col] == F.col("__rid"), "left_anti")
            # materialize BEFORE overwriting the directories it reads
            .localCheckpoint(eager=True))
    remaining = {r["bucket"]
                 for r in keep.select("bucket").distinct().collect()}
    (keep.write.partitionBy("bucket").mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(path + "/vectors"))
    for b in affected:
        if b not in remaining:
            d = fs.join(path, "vectors", f"bucket={b}")
            if fs.isdir(d):
                fs.delete_dir(d)


def remove_from_pq_index(
    spark,
    path: str,
    ids: DataFrame,
    fs=None,
) -> None:
    """Physically remove ids from a stored PQ / SQ8 / IVF-PQ index at
    partition granularity (``(__gbucket, __abatch)`` for the flat
    families — the id-hash bucketing bounds a removal to ~1/gbuckets of
    each hit batch; plain ``__abatch`` on pre-bucketing layouts;
    ``(cluster, __abatch)`` for IVF-PQ): only partitions containing a
    removed id are rewritten; partitions left empty are deleted (and a
    parent directory emptied of batches goes with them). Codes are
    copied, never re-encoded — the rewrite cost is the slim code
    payload of the hit partitions. Same removal-by-rewrite rationale as
    ``remove_from_ivf_index``; the affected-partition collects are
    bounded by (clusters|gbuckets) × append batches."""
    fs = _default_fs(fs)
    codes, meta = read_pq_index(spark, path, fs=fs)
    id_col = meta["id_col"]
    part_cols = _pq_part_cols(meta)
    rid = ids.select(F.col(ids.columns[0]).alias("__rid")).distinct()
    hit = (codes.join(rid, codes[id_col] == F.col("__rid"), "left_semi")
           .select(*part_cols).distinct())
    affected = [tuple(r[c] for c in part_cols) for r in hit.collect()]
    if not affected:
        return
    aff_df = spark.createDataFrame(
        affected, hit.schema)  # bounded: clusters x batches rows
    keep = (codes.join(aff_df, part_cols, "left_semi")
            .join(rid, codes[id_col] == F.col("__rid"), "left_anti")
            .localCheckpoint(eager=True))
    remaining = {tuple(r[c] for c in part_cols)
                 for r in keep.select(*part_cols).distinct().collect()}
    (keep.write.partitionBy(*part_cols).mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(path + "/codes"))
    for t in affected:
        if t in remaining:
            continue
        d = fs.join(path, "codes",
                    *[f"{c}={v}" for c, v in zip(part_cols, t)])
        if fs.isdir(d):
            fs.delete_dir(d)
    if len(part_cols) == 2:
        # drop parent dirs (cluster=X / __gbucket=X) emptied of every
        # batch (a file-less dir is harmless to the reader but lies to
        # anyone listing the layout)
        for c in {t[0] for t in affected}:
            cd = fs.join(path, "codes", f"{part_cols[0]}={c}")
            if fs.isdir(cd) and not fs.listdir(cd):
                fs.delete_dir(cd)


def ivf_topk_indexed(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Top-k against a prebuilt IVF index (in-plan from ``ivf_assign`` or
    storage-backed from ``read_ivf_index``). Probing a bucket-partitioned
    stored index turns the bucket equi-join into dynamic partition
    pruning: only the ~``nprobe``·|queries| probed bucket directories are
    read at all — the scan cost rides the probe count, not the corpus."""
    q = queries.select(F.col(id_col).alias("__vid"),
                       _as_double(vec_col).alias("qv"))
    q_probed = (
        _nearest_buckets(q, centroids, "qv", nprobe)
        .select(F.col("__vid").alias("query_id"), "qv",
                F.col("centroid_id").alias("qbucket"))
    )
    scored = (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q_probed),
              (F.col("bucket") == F.col("qbucket"))
              & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("v")), decimals))
    )
    return _rank_topk(scored, k, "sim")


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    nlist: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """k-NN JOIN for two LARGE embedding tables — the case
    ``cosine_topk`` can't cover (it broadcasts the query side; fine for
    10 queries, impossible for 100M). Both sides bucket against the same
    IVF centroids: the right side is assigned to its nearest bucket, each
    left vector probes its ``nprobe`` nearest buckets, candidates join on
    the bucket id, and a per-left window keeps the top-k. Exact when
    ``nprobe >= nlist``; otherwise recall follows the probe ratio.

    Scale shape: the join key is the bucket id, so the candidate volume
    is ~|L|·|R|·nprobe/nlist with both sides shuffled once — no broadcast
    of either table, no cartesian. ``nlist=None`` auto-sizes from the
    right-side count (``auto_nlist``). Output: (left id aliased
    ``query_id``, ``neighbor_id``, ``sim``); a left row also present in
    right does not match itself.

    MEMORY CONTRACT (hard, skew-proof): a task holds at most
    ~2×``max_bucket_rows`` rows (default: ``target_bucket_rows``).
    Each side of an oversized bucket splits independently into
    ⌈n/cap⌉ hash-blocks; the task key becomes (bucket, left-block,
    right-block), left rows replicate across the right side's blocks and
    vice versa — the standard blocked matmul, so a skewed (hot) bucket
    costs replicated shuffle volume instead of an executor OOM. Every
    (left, right) candidate meets in exactly one task per bucket, and
    the per-task top-k unions remain a superset of the bucket-local
    top-k, so the final window output is IDENTICAL to the unsalted
    plan.

    ``n_rows``: optional caller-supplied UPPER BOUND on the COMBINED
    left+right row count (e.g. parquet footer totals) — skips the
    guard-probe job. Over-estimates are safe (they only engage the
    output-identical salted branch); never pass a bound that could be
    low."""
    from pyspark import StorageLevel
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is not None:
        salted = n_rows > cap
        if nlist is None:
            nlist = auto_nlist(n_rows, target_bucket_rows)
    elif nlist is None:
        n_right = right.count()
        nlist = auto_nlist(n_right, target_bucket_rows)
        salted = n_right > cap or left.limit(cap + 1).count() > cap
    else:
        # one short-circuiting guard probe over both sides: a task holds
        # rows from both, so combined ≤ cap ⇒ no bucket side can overflow.
        # (Conservative the other way is harmless: salting an under-cap
        # bucket yields one block per side — the identity grouping.)
        salted = (
            left.select(F.lit(1).alias("__x"))
            .unionByName(right.select(F.lit(1).alias("__x")))
            .limit(cap + 1).count() > cap)
    assigned, centroids = ivf_assign(right, nlist, id_col, vec_col)
    lvec = left.select(F.col(id_col).cast("long").alias("__vid"),
                       _as_double(vec_col).alias("lv"))
    if nprobe >= nlist:
        probed = lvec.join(
            F.broadcast(centroids.select(
                F.col("centroid_id").alias("bucket")))
        ).select(F.col("__vid").alias("query_id"), "lv", "bucket")
    else:
        probed = _nearest_buckets(lvec, centroids, "lv", nprobe).select(
            F.col("__vid").alias("query_id"), "lv",
            F.col("centroid_id").alias("bucket"))
    # Scoring rides one applyInPandas per bucket (same BLAS-per-group shape
    # and memory contract as cosine_pairs_bucketed): both roles union into
    # the group, one matmul scores the block, and only each left's bucket-
    # local top-k leaves Python — the global top-k is a subset of the
    # per-bucket top-k unions, so the final window ranks k·nprobe rows per
    # left instead of every candidate. Measured ~4× over evaluating the
    # dot product as interpreted higher-order lambdas per joined pair.
    tagged = probed.select(
        "bucket", F.lit(1).alias("role"),
        F.col("query_id").alias("id"), F.col("lv").alias("v"),
    ).unionByName(assigned.select(
        "bucket", F.lit(0).alias("role"),
        F.col(id_col).cast("long").alias("id"), "v"))

    # skew guard: when the guard probe showed everything fits under the
    # cap, group on the bucket alone with zero extra jobs (every small
    # input and the oracle-gate configuration). Above the cap, per-bucket
    # counts drive independent blocking of each side; persist so the
    # probe/assignment windows aren't recomputed for the count pass
    # (MEMORY_AND_DISK spills rather than OOMs).
    if salted:
        tagged = narrow_small(tagged).persist(StorageLevel.MEMORY_AND_DISK)
        counts = tagged.groupBy("bucket").agg(
            F.sum("role").alias("__ln"),
            F.sum(1 - F.col("role")).alias("__rn"))
        tagged = (
            tagged.join(F.broadcast(counts), "bucket")
            .withColumn("__nl", _n_blocks("__ln", cap))
            .withColumn("__nr", _n_blocks("__rn", cap))
            # a row blocks within its own side...
            .withColumn("__blk", F.pmod(
                F.xxhash64(F.col("id")),
                F.when(F.col("role") == 1,
                       F.col("__nl")).otherwise(F.col("__nr"))
            ).cast("int"))
            # ...and replicates across the OTHER side's blocks
            .withColumn("__ob", F.explode(F.sequence(
                F.lit(0),
                F.when(F.col("role") == 1, F.col("__nr"))
                .otherwise(F.col("__nl")) - 1)))
            .withColumn("__lb", F.when(F.col("role") == 1,
                                       F.col("__blk")).otherwise(F.col("__ob")))
            .withColumn("__rb", F.when(F.col("role") == 1,
                                       F.col("__ob")).otherwise(F.col("__blk")))
            .select("bucket", "__lb", "__rb", "role", "id", "v")
        )
    group_keys = ["bucket", "__lb", "__rb"] if salted else ["bucket"]

    def per_bucket(pdf):
        import numpy as np
        import pandas as pd

        L = pdf[pdf["role"] == 1]
        R = pdf[pdf["role"] == 0]
        if not len(L) or not len(R):
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")})
        lids = L["id"].to_numpy(dtype=np.int64)
        rids = R["id"].to_numpy(dtype=np.int64)
        lmat = np.array(list(L["v"]), dtype=np.float64)
        rmat = np.array(list(R["v"]), dtype=np.float64)
        scale = 10.0 ** decimals
        # half-UP rounding like Spark F.round / DuckDB round (np.round is
        # banker's) — keeps exact-mode oracle parity
        sims = np.floor(
            (lmat @ rmat.T)
            / (np.linalg.norm(lmat, axis=1)[:, None]
               * np.linalg.norm(rmat, axis=1)[None, :])
            * scale + 0.5) / scale
        sims[lids[:, None] == rids[None, :]] = -np.inf  # no self-match
        # per-left top-k by (sim desc, neighbor_id asc) — the same order
        # the global window uses, so the union stays a superset of the
        # true top-k
        order = np.lexsort((rids[None, :].repeat(len(lids), 0), -sims),
                           axis=1)[:, :k]
        qi = np.repeat(lids, order.shape[1])
        ni = rids[order.ravel()]
        sv = np.take_along_axis(sims, order, axis=1).ravel()
        keep = sv > -np.inf
        return pd.DataFrame({"query_id": qi[keep], "neighbor_id": ni[keep],
                             "sim": sv[keep]})

    cand = tagged.groupBy(*group_keys).applyInPandas(
        per_bucket, schema="query_id bigint, neighbor_id bigint, sim double")
    # a pair can meet in several probed buckets
    return _rank_topk(cand.distinct(), k, "sim")


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    label_col: str = "label",
    nlist: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Majority-vote k-NN classification over an embedding column — the
    standard label-propagation / embedding-quality eval (predict each
    query's label from its k nearest labeled neighbors). Returns
    ``(query_id, pred_label, votes)``; ties break toward the smallest
    label for determinism. Exact when ``nprobe >= nlist``; otherwise
    recall follows the probe ratio.

    Pure composition: neighbors from ``ivf_knn_join`` (both sides large,
    bucketed, no broadcast of either table), labels joined on the
    neighbor id, then a per-query majority via one map-side-combinable
    count aggregate + a min-of-struct argmax — no window over the
    candidate stream."""
    nn = ivf_knn_join(queries, corpus, k=k, nlist=nlist, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col, n_rows=n_rows)
    labels = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(label_col).alias("__lbl"))
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(F.count("*").alias("votes"))
    )
    return (
        votes.groupBy("query_id")
        .agg(F.min(F.struct((-F.col("votes")).alias("nv"),
                            F.col("__lbl").alias("l"))).alias("m"))
        .select("query_id",
                F.col("m.l").alias("pred_label"),
                (-F.col("m.nv")).cast("long").alias("votes"))
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_sim: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Radius search: ALL corpus neighbors with cosine ≥ ``min_sim`` per
    query (the query type top-k can't answer — "everything this close",
    not "the k closest"). Same broadcast shape as ``cosine_topk`` minus
    the ranking window: the corpus is scanned once, queries broadcast,
    and the threshold filter runs inside the scan stage — NO shuffle at
    all, so at 100 TB this is a single pass whose output is just the
    matches. Returns (query_id, neighbor_id, sim), self-matches
    excluded."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("qv"))
    q = q.select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("cv"))
    c = c.select("neighbor_id", "cv", _norm(F.col("cv")).alias("cn"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            decimals))
        .where(F.col("sim") >= min_sim)
        .select("query_id", "neighbor_id", "sim")
    )


# ---------------------------------------------------------------------------
# product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the compressed-codes scale path — at 100 TB
# of embeddings the scoring pass reads m small codes per vector instead
# of the full float payload, and the codebooks are driver-resident
# (m·k·(dim/m) doubles). Canonical L2 formulation: codewords minimize
# squared distance to the subvector (magnitude matters — the code must
# RECONSTRUCT the subvector for the dot-product approximation), with
# the distance computed via the expansion |x|² − 2·x·c + |c|² rounded
# at fixed decimals so both engines argmin the identical values.


def _book_lit_sql(book: list) -> str:
    """One SQL literal for a whole codebook — a single parsed expression
    instead of thousands of py4j ``F.lit`` round trips (measured: the
    Column-by-Column construction costs seconds of DRIVER time per
    codebook set before any job runs). ``repr(float)`` is the shortest
    round-trip rendering, so the parsed doubles are bit-identical."""
    cws = ",".join(
        "named_struct('cvec', array({}), 'cn2', {!r}D)".format(
            ",".join(f"{float(x)!r}D" for x in vec),
            float(sum(x * x for x in vec)))
        for vec in book)
    return f"array({cws})"


def _books_lit_sql(codebooks: list) -> str:
    """ALL codebooks as one parsed SQL literal: array (over subspaces) of
    array (over codewords) of ``named_struct('cvec', ..., 'cn2', ...)``.
    One driver-side parse for the whole codebook set; the per-element
    doubles are identical to ``_book_lit_sql``'s."""
    return "array({})".format(",".join(
        _book_lit_sql(book) for book in codebooks))


def _subsv_expr(vcol: Column, m: int, sub_len: int) -> Column:
    """Per-subspace slices as ONE array-of-arrays expression (each slice
    evaluated once, by lambda-variable binding in the consumers)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(vcol, j * sub_len + 1, sub_len))


def _d2mat_expr(subsv: Column, codebooks: list,
                dist_decimals: int) -> Column:
    """Rounded squared-L2 distances to every codeword of every subspace:
    array (per subspace) of array (per codeword), via ONE two-arg
    transform lambda over the materialized slices and ONE all-codebooks
    literal — the tree-size-collapsed twin of m unrolled ``_l2_d2s``
    columns (identical fold arithmetic per element, so the rounded
    distances are bit-identical; the m-unrolled shape cost ~1 s of
    Catalyst analysis PER QUERY at m=16). ``subsv``/the lambda vars are
    bound VALUES, so multiple references don't re-evaluate the slice."""
    allb = F.expr(_books_lit_sql(codebooks))
    return F.transform(
        subsv,
        lambda sv, j: F.transform(
            F.element_at(allb, j + 1),
            lambda cw: F.round(
                _dot(sv, sv) - 2 * _dot(sv, cw["cvec"]) + cw["cn2"],
                dist_decimals)))


def _l2_d2s(sub: Column, book: list, dist_decimals: int) -> Column:
    """Per-codeword rounded squared-L2 distances (dot expansion,
    codewords as one parsed SQL literal). Callers MUST alias this in
    its own projection before taking the argmin — ``array_position(d,
    array_min(d))`` references it twice, and without the alias the
    interpreted k-fold transform evaluates twice per row (CollapseProject
    keeps a multi-use non-cheap alias materialized)."""
    xn2 = _dot(sub, sub)
    cents = F.expr(_book_lit_sql(book))
    return F.transform(
        cents,
        lambda cw: F.round(xn2 - 2 * _dot(sub, cw["cvec"]) + cw["cn2"],
                           dist_decimals))


def _argmin_code(d2s: Column) -> Column:
    """Argmin index over a distances array — first occurrence of the
    min IS the lowest code (the deterministic tie-break)."""
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_decimals: int = 6,
    dist_decimals: int = 6,
) -> list:
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and fit a DETERMINISTIC L2 k-means codebook in
    each — md5-seeded init (the k subvectors with the lowest
    ``md5(id)``), rounded-distance argmin with ties to the lower code,
    DECIMAL(38,12) per-dimension means — so the whole training replays
    bit-identically in a SQL oracle. Returns the driver-resident
    codebooks: a list of ``m`` lists of ``k`` subvectors; the CODE of a
    codeword is its position (seed-id order for the initial set).

    Scale: ``m · iters`` single-job corpus passes (each round is one
    map-only scan with literal codewords + one combinable
    (code, dim) shuffle collected as k·(dim/m) rows); the corpus never
    shuffles and the driver holds only the codebooks."""
    seed_rows = (
        df.select(F.col(id_col).alias("cid"),
                  _as_double(vec_col).alias("v"),
                  F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h", "cid").limit(k).select("cid", "v").collect())
    # dim comes from the seed rows — the former separate ``first()``
    # probe was one more sequential job per train call
    if not seed_rows:
        raise ValueError("pq_train: empty input")
    dim = len(seed_rows[0]["v"])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub_len = dim // m
    books = [[list(r["v"][j * sub_len:(j + 1) * sub_len])
              for r in seed_rows] for j in range(m)]
    from metrique_spark.functions.dedup import spread_small_scan

    v = _as_double(vec_col)
    # the argmin folds are interpreted HOFs — a single-row-group input
    # would run them all on one core (spread_small_scan is a no-op at
    # real scale where the input has thousands of splits). The slices
    # are ONE array-of-arrays column and the distances ONE two-level
    # lambda over a single all-codebooks literal (see _d2mat_expr) —
    # the m-unrolled per-subspace columns cost ~1 s of Catalyst
    # analysis per iteration at m=16 for identical per-element folds.
    subs = spread_small_scan(df.select(v.alias("__v"))).select(
        _subsv_expr(F.col("__v"), m, sub_len).alias("__sv"))
    for _ in range(iters):
        # ALL m subspace argmins in one pass, then ONE combinable
        # (sub, code, dim) shuffle collected as m·k·(dim/m) rows — an
        # iteration is a single job whatever m is (per-subspace jobs
        # would scan the corpus m times). Persist before the explode:
        # Generate re-evaluates its input per output row, which would
        # rerun every argmin fold m times per vector (the classifier
        # gradient lesson). The distance matrix gets its own projection
        # so the argmin's double reference doesn't re-run the folds.
        from pyspark import StorageLevel

        assigned = (subs.select(
            "__sv",
            _d2mat_expr(F.col("__sv"), books, dist_decimals)
            .alias("__dm"))
            .select(
            "__sv",
            F.transform(F.col("__dm"), _argmin_code).alias("__c")))
        assigned = narrow_small(assigned).persist(
            StorageLevel.MEMORY_AND_DISK)
        rows = (assigned
                .select("__sv", F.posexplode("__c").alias("sub", "code"))
                .select("sub", "code",
                        F.posexplode(F.element_at("__sv",
                                                  F.col("sub") + 1))
                        .alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            .agg(F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
                 F.count("*").alias("n"))
            .select("sub", "code", "dim",
                    F.round(F.col("s").cast("double") / F.col("n"),
                            centroid_decimals).alias("mval"))
            ).collect()
        assigned.unpersist(blocking=False)
        upd: dict = {}
        for r in rows:
            upd.setdefault((r["sub"], r["code"]), {})[r["dim"]] = r["mval"]
        for (j, c), dm in upd.items():   # empty codes keep their codeword
            books[j][c] = [dm[i] for i in range(sub_len)]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int = 6,
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to ``m`` codebook
    indices by rounded-L2 argmin. Map-only: codebooks ride into the
    scan as ONE parsed literal; the distance matrix is materialized in
    its own projection so the argmin doesn't re-run the folds (it
    references its input twice), mirroring the old per-subspace
    two-step shape with an m×-smaller expression tree."""
    from metrique_spark.functions.dedup import spread_small_scan

    m = len(codebooks)
    sub_len = len(codebooks[0][0])
    v = _as_double(vec_col)
    sliced = spread_small_scan(df.select(F.col(id_col), v.alias("__v")))
    dists = sliced.select(
        F.col(id_col),
        _d2mat_expr(_subsv_expr(F.col("__v"), m, sub_len), codebooks,
                    dist_decimals).alias("__dm"))
    return dists.select(
        F.col(id_col),
        F.transform(F.col("__dm"), _argmin_code).alias("codes"))


def _pq_query_frame(qv: DataFrame, codebooks: list) -> DataFrame:
    """(query_id, __qn, __lut): each query's norm and per-subspace ADC
    lookup tables — one dot per codeword, codebooks as single parsed
    SQL literals (see _book_lit_sql). The broadcast side of the PQ
    codec; ``qv`` is (query_id, __qv)."""
    m = len(codebooks)
    sub_len = len(codebooks[0][0])

    # one parsed vectors-only literal for ALL books + one two-arg
    # transform (sv bound once per subspace) — identical dot folds to
    # the former m unrolled per-subspace transforms, m× smaller tree
    allv = F.expr("array({})".format(",".join(
        "array({})".format(",".join(
            "array({})".format(",".join(f"{float(x)!r}D" for x in vec))
            for vec in book))
        for book in codebooks)))
    luts = F.transform(
        _subsv_expr(F.col("__qv"), m, sub_len),
        lambda sv, j: F.transform(F.element_at(allv, j + 1),
                                  lambda cv: _dot(sv, cv)))
    return qv.select("query_id", _norm(F.col("__qv")).alias("__qn"),
                     luts.alias("__lut"))


def _adc_score(joined: DataFrame, codebooks: list, id_col: str,
               decimals: int) -> DataFrame:
    """Asymmetric distance computation (ADC) over a frame carrying the
    corpus ``codes`` and the broadcast ``__lut``/``__qn``:
    ``cos(q, x) ≈ Σ_j lut_j[code_j] / (|q| · |x̃|)`` with ``x̃`` the
    codebook reconstruction, whose norm² comes from a codeword-norm
    table and the codes — ``m`` lookup-table reads per pair, never a
    full-vector dot. Returns (query_id, neighbor_id, score),
    self-matches excluded."""
    normsq_lit = F.expr("array({})".format(",".join(
        "array({})".format(",".join(
            f"{float(sum(x * x for x in vec))!r}D" for vec in book))
        for book in codebooks)))
    num = F.aggregate(
        F.zip_with(F.col("codes"), F.col("__lut"),
                   lambda c, lut: F.element_at(lut, c + 1)),
        F.lit(0.0), lambda a, x: a + x)
    rn2 = F.aggregate(
        F.zip_with(F.col("codes"), normsq_lit,
                   lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda a, x: a + x)
    return (joined.where(F.col(id_col) != F.col("query_id"))
            .select("query_id", F.col(id_col).alias("neighbor_id"),
                    F.round(num / (F.col("__qn") * F.sqrt(rn2)),
                            decimals).alias("score")))


# --- scalar quantization (SQ8): the third standard compression scheme
# in the big-ANN toolbox (public technique — e.g. FAISS's SQ8): each
# dimension affinely quantized to an 8-bit code against the corpus's
# per-dimension [min, max]. 8x smaller scan payload than float64 with
# near-exact recall at moderate dimensionality — the cheap middle
# ground between exact cosine (full payload) and PQ (m codes, lossier).
# Deterministic end-to-end (exact per-dim min/max, fixed rounding,
# identical IEEE expression order both engines), so the SQL oracle
# value-replays train + encode + reconstruction + scoring.


def sq8_train(
    df: DataFrame,
    vec_col: str = "embedding",
) -> list:
    """Per-dimension quantization params from the corpus: returns the
    raw ``[(mn, mx), ...]`` extrema (the derived span/denominator are
    computed from them in ONE place so the SQL oracle's arithmetic
    chain is bit-identical). ONE map-side-combinable (dim) shuffle whose
    result is ``dim`` rows collected to the driver — the corpus never
    shuffles and the params are literal-sized by construction."""
    dims = (df.select(F.posexplode(_as_double(vec_col))
                      .alias("dim", "x"))
            .groupBy("dim")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .collect())
    out = [None] * len(dims)
    for r in dims:
        out[r["dim"]] = (float(r["mn"]), float(r["mx"]))
    return out


def _sq8_params_lit(params: list) -> Column:
    """The per-dim (mn, span, denominator) params as ONE parsed SQL
    literal (repr round-trips doubles exactly; a nested F.lit build
    would be py4j-bound — the codebook-literal lesson). ``dn = mx - mn``
    and ``sp = (mx - mn) / 255`` are evaluated HERE in Python doubles —
    the exact IEEE chain the oracle's SQL expressions replay."""
    return F.expr("array({})".format(",".join(
        f"named_struct('mn',{mn!r}D,'sp',{(mx - mn) / 255.0!r}D,"
        f"'dn',{mx - mn!r}D)"
        for mn, mx in params)))


def _sq8_rec_frame(codes: DataFrame, params: list, id_col: str,
                   keep: tuple = ()) -> DataFrame:
    """(neighbor_id, __rec, __rn2[, keep...]) — reconstruction and its
    norm materialized ONCE per corpus row (below whatever join scores
    them). SHARED by the flat and IVF-routed scorers: the expression
    chain here is what the DuckDB oracles' ``rec`` CTE replays, so both
    families stay IEEE-identical by construction."""
    p = _sq8_params_lit(params)
    rec = F.zip_with(F.col("codes"), p,
                     lambda c, pp: pp["mn"]
                     + c.cast("double") * pp["sp"])
    out = codes.select(
        F.col(id_col).alias("neighbor_id"), rec.alias("__rec"), *keep)
    return out.withColumn("__rn2", _dot(F.col("__rec"), F.col("__rec")))


def sq8_encode(
    df: DataFrame,
    params: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each dimension quantized to
    ``round((x - mn) * 255 / (mx - mn))`` (0 for constant dims) — map-
    only, params as a literal. The expression order is pinned: the SQL
    oracle must evaluate the identical IEEE chain for code parity."""
    p = _sq8_params_lit(params)
    v = _as_double(vec_col)
    codes = F.zip_with(
        v, p,
        lambda x, pp: F.when(pp["dn"] == 0.0, F.lit(0))
        .otherwise(F.round((x - pp["mn"]) * 255.0 / pp["dn"], 0)
                   .cast("int")))
    from metrique_spark.functions.dedup import spread_small_scan

    return spread_small_scan(df.select(F.col(id_col),
                                       codes.alias("codes")))


def _sq8_score(joined: DataFrame, params: list, id_col: str,
               decimals: int) -> DataFrame:
    """Rounded cosine of each query against the reconstruction over a
    frame carrying (query_id, neighbor_id, __qv, __qn, __rec, __rn2) —
    one dot fold per pair. Returns (query_id, neighbor_id, score),
    self-matches excluded."""
    return (joined.where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(_dot(F.col("__qv"), F.col("__rec"))
                            / (F.col("__qn") * F.sqrt(F.col("__rn2"))),
                            decimals).alias("score")))


# ---------------------------------------------------------------------------
# the IVF router: a deterministic coarse k-means (``kmeans_fit``) routes
# every corpus vector to one inverted list (``kmeans_assign``) and each
# query probes its ``nprobe`` nearest lists (``_probe_lists_lit``), so a
# search scores ~nprobe/nlist of the corpus.


def _probe_lists_lit(
    qv: DataFrame, cent_rows: list, nprobe: int, sim_decimals: int
) -> DataFrame:
    """Top-``nprobe`` inverted lists per query, by the SAME rounded cosine
    the corpus assignment used (sort comparator: sim desc, then centroid
    id asc — the cross-engine-reproducible order). Map-only: the
    centroids (``cent_rows``, driver-side ``[(cid, vec), ...]`` sorted by
    cid) ride into the scan as a literal (k·dim doubles) and the
    selection is an in-row array sort + slice — no join, no window, no
    shuffle of the query frame.

    ``qv``: (query_id, __qv double array). Returns (query_id, cluster),
    ``nprobe`` rows per query."""
    cent_lit = F.array(*[
        F.struct(F.lit(cid).alias("cid"),
                 F.expr("array({})".format(",".join(
                     f"{float(x)!r}D" for x in vec))).alias("cvec"),
                 F.lit(_py_norm(vec)).alias("cn"))
        for cid, vec in cent_rows])
    qn = _norm(F.col("__qv"))
    scored_cents = F.transform(
        cent_lit,
        lambda c: F.struct(
            F.round(_dot(F.col("__qv"), c["cvec"]) / (qn * c["cn"]),
                    sim_decimals).alias("sim"),
            c["cid"].alias("cid")))
    ordered = F.array_sort(
        scored_cents,
        lambda l, r: F.when(l["sim"] > r["sim"], -1)
        .when(l["sim"] < r["sim"], 1)
        .when(l["cid"] < r["cid"], -1)
        .when(l["cid"] > r["cid"], 1).otherwise(0))
    return qv.select(
        "query_id",
        F.explode(F.transform(
            F.slice(ordered, 1, nprobe), lambda s: s["cid"]))
        .alias("cluster"))


def ivf_topk_rounded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF top-k on RAW vectors with the deterministic, cross-engine-
    reproducible coarse stage (the IVF router of ``quantized_topk`` with
    no compression): md5-seeded decimal-exact k-means trains ``nlist``
    centroids, every corpus vector routes to its nearest list on ROUNDED
    cosine (ties to the lower centroid id), each query probes its
    ``nprobe`` nearest lists by the same rounded comparator, and only the
    probed lists' vectors are scored (cosine rounded to
    ``score_decimals``).

    Same output contract as ``ivf_topk`` (query_id, neighbor_id, sim);
    unlike ``ivf_topk``'s xxhash-seeded/unrounded path, every step here
    is replayable in ANSI SQL, so the approximate result itself is
    value-checkable against an oracle. Scale shape is identical: the
    probe join touches ~``nprobe/nlist`` of the corpus, the corpus never
    shuffles (assignment is a map-only literal fold), and the centroids
    live on the driver (nlist·dim doubles)."""
    cents = kmeans_fit(corpus, k=nlist, iters=coarse_iters, id_col=id_col,
                       vec_col=vec_col, sim_decimals=sim_decimals)
    vectors = corpus.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    # norms hoisted BELOW the joins: |Q| + |C| interpreted folds instead
    # of 3 folds per scored pair (the cosine_topk lesson); the hoisted
    # _norm is the identical expression, so the rounded sims — and the
    # SQL oracle parity — are unchanged
    assigned = _assign_rounded(vectors, cents, sim_decimals).select(
        F.col("__vid").alias("neighbor_id"), "v", "cluster",
    ).withColumn("__vn", _norm(F.col("v")))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(vec_col).alias("__qv"))
    probes = _probe_lists_lit(qv, _cent_rows(cents), nprobe, sim_decimals)
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(qv.withColumn("__qn", _norm(F.col("__qv")))),
              "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(_dot(F.col("__qv"), F.col("v"))
                                   / (F.col("__qn") * F.col("__vn")),
                                   score_decimals))
    )
    return _rank_topk(scored, k, "sim")


# ---------------------------------------------------------------------------
# the quantized families as one (router × codec) pipeline — the FAISS
# ``index_factory`` composition ("PQ16", "SQ8", "IVF8,PQ16", "IVF8,SQ8"):
#
#   kind    router  codec  in-plan                    stored
#   pq      flat    PQ     quantized_topk(.., "pq")   write_quantized_index
#   sq8     flat    SQ8    quantized_topk(.., "sq8")  + quantized_topk_indexed
#   ivfpq   IVF     PQ     quantized_topk(.., "ivfpq")  (layout read from
#   ivfsq8  IVF     SQ8    quantized_topk(.., "ivfsq8")  the sidecar)
#
# The flat router scores every code against a broadcast query batch
# (compression without pruning — ``max_query_rows`` guards the
# |corpus|·|queries| scan); the IVF router joins the codes to the
# probed lists on ``cluster``. Both hand the joined frame to the
# codec's score and the shared ``_rank_topk`` tail.


class _Codec(NamedTuple):
    """One compression scheme: how its model is trained, stored in the
    index sidecar, and used on each side of the scoring join. Train and
    encode resolve the public ``*_train``/``*_encode`` names at call
    time, so wrapping those module attributes wraps every family."""

    defaults: dict      # training params -> default
    model_key: str      # sidecar key (and drift_stat kwarg) of the model
    train: Callable     # (df, id_col, vec_col, **params) -> model
    encode: Callable    # (df, model, id_col, vec_col) -> (id_col, codes)
    to_meta: Callable   # model -> sidecar entries
    from_meta: Callable  # sidecar -> model
    dim: Callable       # model -> vector dim it encodes
    corpus: Callable    # (codes, model, id_col, keep) -> corpus join side
    query: Callable     # (qv, model) -> broadcast query side
    score: Callable     # (joined, model, id_col, decimals) -> scored pairs
    # in-plan FLAT codes persist when the scorer re-reads them: the ADC
    # numerator and reconstruction norm both reference ``codes``, and
    # re-inlining the interpreted encode folds per reference dominates;
    # SQ8 reconstructs once in its own projection
    persist_flat: bool


_PQ = _Codec(
    defaults={"m": 8, "k": 16, "iters": 1},
    model_key="books",
    train=lambda df, id_col, vec_col, m, k, iters: pq_train(
        df, m=m, k=k, iters=iters, id_col=id_col, vec_col=vec_col),
    encode=lambda df, books, id_col, vec_col: pq_encode(
        df, books, id_col=id_col, vec_col=vec_col),
    to_meta=lambda books: {"sub_len": len(books[0][0]), "books": books},
    from_meta=lambda meta: meta["books"],
    dim=lambda books: len(books) * len(books[0][0]),
    corpus=lambda codes, books, id_col, keep: codes,
    query=_pq_query_frame,
    score=_adc_score,
    persist_flat=True,
)

_SQ8 = _Codec(
    defaults={},
    model_key="params",
    train=lambda df, id_col, vec_col: sq8_train(df, vec_col=vec_col),
    encode=lambda df, params, id_col, vec_col: sq8_encode(
        df, params, id_col=id_col, vec_col=vec_col),
    to_meta=lambda params: {"params": [[mn, mx] for mn, mx in params]},
    from_meta=lambda meta: [(p[0], p[1]) for p in meta["params"]],
    dim=len,
    corpus=_sq8_rec_frame,
    query=lambda qv, params: qv.withColumn("__qn", _norm(F.col("__qv"))),
    score=_sq8_score,
    persist_flat=False,
)

# kind -> (router, codec, training defaults that override the codec's:
# IVF-PQ defaults to 16 subspaces, flat PQ to 8)
_LAYOUTS = {"pq": ("flat", _PQ, {}), "sq8": ("flat", _SQ8, {}),
            "ivfpq": ("ivf", _PQ, {"m": 16}), "ivfsq8": ("ivf", _SQ8, {})}
_IVF_DEFAULTS = {"nlist": 8, "coarse_iters": 1, "sim_decimals": 6}


def _layout(kind: str, params: dict) -> tuple[bool, _Codec, dict]:
    """(IVF-routed?, codec, params completed with their defaults) for a
    quantized ``kind``; unknown params raise like an unknown keyword."""
    if kind not in _LAYOUTS:
        raise ValueError(f"unknown quantized kind {kind!r}; one of "
                         f"{tuple(_LAYOUTS)}")
    router, codec, own = _LAYOUTS[kind]
    full = {**(_IVF_DEFAULTS if router == "ivf" else {}), **codec.defaults,
            **own}
    unknown = set(params) - set(full)
    if unknown:
        raise TypeError(f"{kind} takes no params {sorted(unknown)}")
    full.update(params)
    return router == "ivf", codec, full


def _build(df: DataFrame, ivf: bool, codec: _Codec, p: dict, id_col: str,
           vec_col: str, model=None) -> tuple:
    """Train (the codec only when ``model`` is None) and encode ``df``
    for one layout. Returns (IVF centroid frame or None, model, codes);
    IVF codes carry their ``cluster``."""
    cents = assigned = None
    if ivf:
        cents = kmeans_fit(df, k=p["nlist"], iters=p["coarse_iters"],
                           id_col=id_col, vec_col=vec_col,
                           sim_decimals=p["sim_decimals"])
        assigned = kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col,
                                 sim_decimals=p["sim_decimals"])
    if model is None:
        model = codec.train(df, id_col, vec_col,
                            **{n: p[n] for n in codec.defaults})
    codes = codec.encode(df, model, id_col, vec_col)
    if ivf:
        codes = codes.join(assigned.select(F.col(id_col), "cluster"), id_col)
    return cents, model, codes


def _search(codec: _Codec, model, codes: DataFrame, queries: DataFrame,
            topk: int, id_col: str, vec_col: str, score_decimals: int,
            max_query_rows: int | None, cent_rows: list | None = None,
            nprobe: int = 2, sim_decimals: int = 6,
            static_prune: bool = False) -> DataFrame:
    """Top-k of ``queries`` against encoded ``codes`` — flat when
    ``cent_rows`` is None, else IVF-routed (``codes`` carry ``cluster``).

    ``static_prune`` (the storage-backed IVF search): collect the
    DISTINCT probed cluster ids first (≤ nlist values — bounded by the
    index geometry, not the query count) and filter the code scan with
    the literal set, so the cluster-partitioned layout prunes at
    PLANNING time — guaranteed directory skipping instead of relying on
    runtime dynamic partition pruning to fire. Costs one extra tiny job
    over the query side; in-plan codes are not a partitioned source, so
    there is nothing to prune."""
    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(vec_col).alias("__qv"))
    ivf = cent_rows is not None
    corpus = codec.corpus(codes, model, id_col, ("cluster",) if ivf else ())
    q = F.broadcast(codec.query(qv, model))
    if not ivf:
        if max_query_rows is not None:
            nq = queries.limit(max_query_rows + 1).count()
            if nq > max_query_rows:
                raise ValueError(
                    f"flat quantized search: query side exceeds "
                    f"{max_query_rows} rows — the flat scan is "
                    "|corpus|x|queries|; route it through an IVF layout "
                    "(coarse probes prune the scan), or pass "
                    "max_query_rows=None to force")
        joined = corpus.crossJoin(q)
    else:
        probes = _probe_lists_lit(qv, cent_rows, nprobe, sim_decimals)
        if static_prune:
            hit = [r["cluster"] for r in
                   probes.select("cluster").distinct().collect()]
            corpus = corpus.where(F.col("cluster").isin(hit))
        joined = (corpus.join(F.broadcast(probes), "cluster")
                  .join(q, "query_id"))
    return _rank_topk(codec.score(joined, model, id_col, score_decimals),
                      topk, "score")


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    kind: str,
    topk: int = 5,
    model=None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
    **params,
) -> DataFrame:
    """Approximate cosine top-k through a quantized layout built in the
    plan: ``kind`` picks the (router, codec) cell — ``pq``/``sq8`` flat,
    ``ivfpq``/``ivfsq8`` IVF-routed. ``params`` are the layout's
    training knobs: PQ ``m``/``k``/``iters`` (subspaces, codewords per
    subspace, Lloyd rounds — see ``pq_train``; default 8/16/1, IVF-PQ
    16/16/1), IVF ``nlist``/``coarse_iters``/``sim_decimals`` (see
    ``kmeans_fit``; default 8/1/6). A trained codec ``model`` (PQ
    codebooks / SQ8 params) skips codec training and so takes no codec
    training params.

    - PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
      Search"): the corpus is scored through ``m`` codes alone by ADC.
      Recall rides the bit budget m·log2(k) (pinned by test; the
      synthetic gate corpus is near-random, PQ's worst case).
    - SQ8: per-dimension 8-bit codes reconstructed on the fly BELOW the
      query join, so reconstruction and its norm cost |corpus| folds.
    - IVF routing (Jégou 2011 §IVFADC, simplified: codebooks trained on
      raw vectors, not residuals): a deterministic coarse k-means routes
      every vector to one of ``nlist`` lists; each query probes its
      ``nprobe`` nearest (rounded cosine, ties to the lower centroid id)
      and scores ONLY those lists — coarse pruning × compression.

    COMPRESSION, NOT PRUNING, for the flat kinds: every code is scored
    against every query, so the ``max_query_rows`` guard (one cheap
    ``limit().count()`` probe) fails loud instead of silently running a
    quadratic scan — pass None to override deliberately; a large query
    batch belongs on an IVF kind. Every step is deterministic (md5
    seeds, fixed-decimal rounding, first-occurrence ties), so the SQL
    oracles replay the identical computation and value-parity is exact.
    Returns ``(query_id, neighbor_id, score)``, self-matches excluded,
    ties to the lower neighbor id. Persisted codes are tracked on the
    result — the caller releases them via ``functions.cache.release``."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    ivf, codec, p = _layout(kind, params)
    trained = set(params) & set(codec.defaults)
    if model is not None and trained:
        # the given model fixes the codec: its training params would be
        # silently ignored (``k`` here is codewords, not the top-k)
        raise TypeError(f"{kind}: a trained model takes no codec training "
                        f"params, got {sorted(trained)}")
    cents, model, codes = _build(corpus, ivf, codec, p, id_col, vec_col,
                                 model)
    persist = ivf or codec.persist_flat
    if persist:
        # encode once, probe many: repeat actions over the result pay
        # the encode (and routing) once
        codes = narrow_small(codes).persist(StorageLevel.MEMORY_AND_DISK)
    out = _search(codec, model, codes, queries, topk, id_col, vec_col,
                  score_decimals, max_query_rows,
                  cent_rows=_cent_rows(cents) if ivf else None,
                  nprobe=nprobe, sim_decimals=p.get("sim_decimals", 6))
    return track(out, codes) if persist else out


def ivfpq_topk(corpus: DataFrame, queries: DataFrame,
               **kw) -> DataFrame:
    """``quantized_topk(corpus, queries, "ivfpq", **kw)``. Kept only
    because the benchmark's self-test pins this name in its traced-layer
    map; nothing else calls it — delete it with that test."""
    return quantized_topk(corpus, queries, "ivfpq", **kw)


# --- stored quantized indexes: train + encode ONCE, search many.
# At scale, encoding is the dominant cost (m argmin folds per vector over
# the whole corpus) — recomputing it per query batch is what makes the
# in-plan ``quantized_topk`` a demo path. The stored layout keeps the
# codec model (PQ codebooks / SQ8 params — driver-resident by contract)
# and, for IVF kinds, the coarse centroids in a JSON sidecar and the
# corpus codes in parquet: flat kinds partitioned by
# (``__gbucket``, ``__abatch``), IVF kinds by (``cluster``, ``__abatch``)
# so a probe's equi-join prunes at the directory level. Commit protocol:
# on REBUILD the old sidecar is deleted FIRST (readers fail loud on the
# missing marker instead of scoring new codes with a stale model), the
# codes are written, and the new sidecar is written LAST — its presence
# is the commit point, so a crashed write is re-run, never half-read.
# Appends land in content-token-keyed ``__abatch`` partitions (dynamic
# overwrite), so a retried or duplicated append of the same batch
# converges to one copy instead of doubling rows that would then occupy
# two top-k slots.

_PQ_SIDECAR = "_pq.json"
_PQ_FORMAT = 1


def _default_fs(fs):
    if fs is not None:
        return fs
    from metrique_spark.fs import LocalFS

    return LocalFS()


def _invalidate_index(fs, path: str) -> None:
    """Rebuild prologue: drop the commit marker before touching codes."""
    side = fs.join(path, _PQ_SIDECAR)
    if fs.isfile(side):
        fs.delete(side)


def _vh(vec_col: str) -> Column:
    """64-bit content fingerprint of a vector (canonical array<double>
    form), stored per code row: lets a refresh diff an ENCODED index
    against the live corpus — no retained generation to time-travel to,
    no decode, one hash compare per id. xxhash64 is seed-fixed and
    deterministic across runs; a changed vector silently colliding with
    its old hash is a 2^-64 event."""
    return F.xxhash64(_as_double(vec_col))


def _gbucket(id_col: str, gbuckets: int) -> Column:
    """Removal-granularity partition key for the FLAT code layouts
    (pq/sq8): an id-hash bucket sub-partitioning each ``__abatch``
    directory, so removing ids rewrites only the hit buckets instead of
    the whole base partition (IVF-PQ already gets this from its cluster
    partitioning). Hash on the stringified id for type stability."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                  F.lit(gbuckets)).cast("int")


def _abatch_token(df: DataFrame, id_col: str) -> str:
    """Order-insensitive content token for an append batch (count + sum
    of per-id hashes — constant memory per task, same scheme as the
    engine's closed-batch token)."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.col(id_col).cast("string"))
              .cast("decimal(38,0)")).alias("s")).first()
    return f"b{r['n']}x{r['s']}"


def write_quantized_index(
    df: DataFrame,
    path: str,
    kind: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
    content_hash: bool = True,
    gbuckets: int = 16,
    **params,
):
    """Train the ``kind`` layout (``pq``, ``sq8`` or ``ivfpq``; training
    ``params`` as in ``quantized_topk``) on ``df`` and persist the
    index: codes to ``path/codes`` (parquet), model + params to the
    ``_pq.json`` sidecar. Returns the trained codec model. Flat search
    reads every code (compression, not pruning); ``ivfpq`` partitions
    the codes by coarse cluster so a probe reads ~nprobe/nlist of them.

    ``content_hash`` (default on) stores a per-row vector fingerprint
    (``__vh``, see ``_vh``) alongside the codes, enabling
    retention-free incremental refresh; search paths ignore the
    column. Off reproduces the pre-fingerprint layout (refresh then
    needs a retained generation to diff against). ``gbuckets`` (flat
    kinds) sub-partitions each batch directory by id hash (see
    ``_gbucket``) so removals rewrite only hit buckets — ~1/gbuckets of
    the codes per removed-id bucket instead of the whole base
    partition."""
    import json

    stored = sorted(_LAYOUTS.keys() & ANN_FAMILIES.keys())
    if kind not in stored:
        raise ValueError(f"no stored layout for kind {kind!r}; one of "
                         f"{tuple(stored)}")
    ivf, codec, p = _layout(kind, params)
    fs = _default_fs(fs)
    _invalidate_index(fs, path)
    cents, model, codes = _build(df, ivf, codec, p, id_col, vec_col)
    if content_hash:
        codes = codes.join(
            df.select(F.col(id_col), _vh(vec_col).alias("__vh")), id_col)
    meta = {"format": _PQ_FORMAT, "kind": kind, "id_col": id_col,
            "vh": bool(content_hash), **p, **codec.to_meta(model)}
    if ivf:
        meta["centroids"] = [[cid, vec] for cid, vec in _cent_rows(cents)]
    else:
        meta["gbuckets"] = gbuckets
        codes = codes.withColumn("__gbucket", _gbucket(id_col, gbuckets))
    (codes.withColumn("__abatch", F.lit("base"))
     .write.partitionBy(*_pq_part_cols(meta)).mode("overwrite")
     .parquet(path + "/codes"))
    fs.write_text(fs.join(path, _PQ_SIDECAR), json.dumps(meta))
    return model


def _sidecar_layout(meta: dict) -> tuple[bool, _Codec]:
    """(IVF-routed?, codec) of a stored index; a kind-less sidecar is a
    legacy flat PQ index."""
    router, codec, _ = _LAYOUTS[meta.get("kind") or "pq"]
    return router == "ivf", codec


def _sidecar_cents(meta: dict) -> list:
    return [(c[0], list(c[1])) for c in meta["centroids"]]


def _read_sidecar(fs, path: str) -> dict:
    """The committed sidecar of a stored quantized index. Fails loud on
    a missing or mismatched sidecar — codes without their model are
    meaningless, and silently retraining would score against the wrong
    codewords."""
    import json

    side = fs.join(path, _PQ_SIDECAR)
    if not fs.isfile(side):
        raise ValueError(
            f"no PQ index at {path!r} ({_PQ_SIDECAR} missing — "
            "uncommitted or not a PQ index)")
    meta = json.loads(fs.read_text(side))
    layout = _LAYOUTS.get(meta.get("kind") or "pq")
    if (meta.get("format") != _PQ_FORMAT or layout is None
            or layout[1].model_key not in meta):
        raise ValueError(
            f"PQ index sidecar at {path!r} has format "
            f"{meta.get('format')!r}, reader supports {_PQ_FORMAT}")
    return meta


def read_pq_index(spark, path: str, fs=None) -> tuple[DataFrame, dict]:
    """(codes, meta) back from ``write_quantized_index`` output; ``meta``
    carries the codec model (JSON floats round-trip doubles exactly)
    and, for IVF kinds, the coarse centroids."""
    meta = _read_sidecar(_default_fs(fs), path)
    return spark.read.parquet(path + "/codes"), meta


def quantized_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    topk: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
    fs=None,
) -> DataFrame:
    """Top-k against a stored quantized index of any kind (read from its
    sidecar): flat kinds score every stored code (``max_query_rows``
    guards the scan, as in ``quantized_topk``); IVF kinds select
    ``nprobe`` clusters per query and the cluster-partitioned code scan
    prunes to those directories at planning time. The probe pays only
    the code scan — training and encoding were paid once at write
    time."""
    codes, meta = read_pq_index(spark, path, fs=fs)
    ivf, codec = _sidecar_layout(meta)
    return _search(codec, codec.from_meta(meta), codes, queries, topk,
                   meta["id_col"], vec_col, score_decimals, max_query_rows,
                   cent_rows=_sidecar_cents(meta) if ivf else None,
                   nprobe=nprobe, sim_decimals=meta.get("sim_decimals", 6),
                   static_prune=True)


def append_to_pq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    fs=None,
) -> None:
    """Extend a stored quantized index with a new batch: encode against
    the STORED model (frozen — code semantics never shift under
    readers), route against the stored centroids for IVF kinds, and land
    the slim (id, codes) rows in a content-token-keyed ``__abatch``
    partition. Idempotent: a retried or duplicated append of the same
    batch dynamically OVERWRITES its own token directory instead of
    doubling rows (duplicate ids would otherwise occupy two top-k
    slots). Cost is O(batch) encode folds — the existing corpus is never
    re-read or re-encoded. A model drifting from the data distribution
    degrades recall, not correctness; re-run the writer when it does."""
    fs = _default_fs(fs)
    meta = _read_sidecar(fs, path)
    id_col = meta["id_col"]
    ivf, codec = _sidecar_layout(meta)
    model = codec.from_meta(meta)
    dim = codec.dim(model)
    first = batch.select(_as_double(vec_col).alias("v")).first()
    if first is not None and len(first["v"]) != dim:
        raise ValueError(
            f"append_to_pq_index: batch vectors have dim "
            f"{len(first['v'])}, index was trained at dim {dim}")
    codes = codec.encode(batch, model, id_col, vec_col)
    if meta.get("vh"):
        # fingerprint only when the stored layout already carries it —
        # mixing footer schemas inside one parquet dir would make the
        # reader's picked-footer schema roulette
        codes = codes.join(
            batch.select(F.col(id_col), _vh(vec_col).alias("__vh")),
            id_col)
    out = codes.withColumn("__abatch", F.lit(_abatch_token(batch, id_col)))
    if ivf:
        vecs = batch.select(F.col(id_col).alias("__vid"),
                            _as_double(vec_col).alias("v"))
        assigned = _assign_lit(vecs, sorted(_sidecar_cents(meta)),
                               meta["sim_decimals"]).select(
            F.col("__vid").alias(id_col), "cluster")
        out = out.join(assigned, id_col)
    elif meta.get("gbuckets"):
        # match the stored flat layout's removal-granularity bucketing
        out = out.withColumn("__gbucket",
                             _gbucket(id_col, meta["gbuckets"]))
    (out.write.partitionBy(*_pq_part_cols(meta)).mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(path + "/codes"))


def _pq_part_cols(meta: dict) -> list[str]:
    if _sidecar_layout(meta)[0]:
        return ["cluster", "__abatch"]
    if meta.get("gbuckets"):
        return ["__gbucket", "__abatch"]
    return ["__abatch"]


def _pq_token_dirs(fs, croot: str,
                   part_cols: list[str]) -> tuple[dict, dict]:
    """(token -> total bytes, token -> [dirs]) for a PQ-family codes
    root — the batch-granule census both the tiered pass and the
    crash-resume path classify from."""
    if len(part_cols) == 2:
        parents = [fs.join(croot, d) for d in fs.listdir(croot)
                   if d.startswith(f"{part_cols[0]}=")]
    else:
        parents = [croot]
    tok_bytes: dict[str, int] = {}
    tok_dirs: dict[str, list[str]] = {}
    for parent in parents:
        for d in fs.listdir(parent):
            full = fs.join(parent, d)
            if d.startswith("__abatch=") and fs.isdir(full):
                t = d[len("__abatch="):]
                tok_bytes[t] = tok_bytes.get(t, 0) + fs.du(full)
                tok_dirs.setdefault(t, []).append(full)
    return tok_bytes, tok_dirs


def resume_pq_compaction(spark, path: str, pending: dict,
                         fs=None) -> int:
    """Complete the ONE merge group a crashed tiered/full
    ``compact_pq_index`` pass recorded in its compaction intent
    (``pending = {"group": [tokens], "out": consolidated token}``) —
    the tiered self-heal that closes the cross-level duplicate-id
    window WITHOUT a full rewrite: only the recorded group is touched,
    every other level stays byte-identical on disk.

    Convergence argument: originals are deleted strictly AFTER the
    consolidated directory is completely written (verified here by row
    count against the ``n{rows}x{sum}`` census the token itself
    encodes), so either (a) the consolidated content is complete →
    just delete the group's surviving original directories, or (b) it
    is absent/torn → every original is still present, and re-merging
    them (plus any partial consolidated rows — deduplicated by id)
    deterministically rebuilds the same consolidated directory, after
    which the originals are deleted. A group whose originals are all
    gone already completed. Returns directories removed."""
    fs = _default_fs(fs)
    croot = fs.join(path, "codes")
    meta = _read_sidecar(fs, path)
    id_col = meta["id_col"]
    part_cols = _pq_part_cols(meta)
    _, tok_dirs = _pq_token_dirs(fs, croot, part_cols)
    out_tok = pending["out"]
    present = [t for t in pending["group"]
               if t in tok_dirs and t != out_tok]
    if not present:
        return 0  # group fully completed before the crash
    want = int(out_tok[4:].split("x", 1)[0])  # "cmp" + "n{rows}x{sum}"
    have = (spark.read.option("basePath", croot)
            .parquet(*tok_dirs[out_tok]).count()
            if out_tok in tok_dirs else 0)
    if have != want:
        in_group = out_tok in pending["group"]
        src = [d for t in present for d in tok_dirs[t]]
        if in_group:
            # the recorded out token IS one of the group's own levels
            # (the merged content's census matched an existing cmp
            # level — every merged id already lives there): its
            # surviving dirs are ORIGINAL data, not torn output, so
            # rebuild from all surviving group dirs INCLUDING them and
            # write BEFORE any delete (the originals stay on disk);
            # torn orphan dirs are pruned against the rewrite's own
            # partition set afterwards. Post-fix writers never record
            # an out token inside its own group (compact_pq_index
            # suffixes colliding tokens), so this escalation only runs
            # for intents a pre-fix writer recorded.
            src += tok_dirs.get(out_tok, [])
        else:
            # drop any TORN consolidated dirs before rebuilding: the
            # rebuild's dynamic overwrite only replaces partitions
            # present in ITS output, and a torn
            # cluster=X/__abatch=<out> dir whose rows the re-dedup
            # assigns to a different cluster this time would otherwise
            # survive as a permanent duplicate. Safe: the
            # write-then-delete order guarantees every original is
            # still present while the consolidated content is
            # incomplete.
            for full in tok_dirs.get(out_tok, []):
                if fs.isdir(full):
                    fs.delete_dir(full)
        sub = (spark.read.option("basePath", croot).parquet(*src))
        deduped = (sub.dropDuplicates([id_col])
                   .localCheckpoint(eager=True))
        out = deduped.withColumn("__abatch", F.lit(out_tok))
        (out.write.partitionBy(*part_cols).mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(croot))
        if in_group:
            # prune out-token dirs the rewrite no longer owns (torn
            # leftovers in partitions the re-dedup vacated)
            if len(part_cols) == 2:
                lead = part_cols[0]
                vals = [r[0] for r in out.select(lead)
                        .distinct().collect()]
                written = {fs.join(croot, f"{lead}={v}",
                                   f"__abatch={out_tok}") for v in vals}
            else:
                written = {fs.join(croot, f"__abatch={out_tok}")}
            for full in tok_dirs.get(out_tok, []):
                if full not in written and fs.isdir(full):
                    fs.delete_dir(full)
    removed = 0
    for t in present:
        for full in tok_dirs[t]:
            if fs.isdir(full):
                fs.delete_dir(full)
                removed += 1
    return removed


def compact_pq_index(spark, path: str, fs=None,
                     small_bytes: int | None = None,
                     record=None) -> int:
    """Consolidate a stored PQ / SQ8 / IVF-PQ index's append-batch
    partitions: every refresh/append lands one content-token-keyed
    ``__abatch`` directory per hit bucket/cluster, so an index refreshed
    nightly for a year accumulates hundreds of sub-directories whose
    listing cost and tiny files degrade every probe. Rewrites the
    selected batches into ONE consolidated batch per
    ``__gbucket``/``cluster`` (ids deduplicated within the merged set)
    and deletes the obsolete batch directories. Codes are copied, never
    re-encoded. ``small_bytes`` makes the pass SIZE-TIERED: only batch
    tokens whose total size is at or below the threshold merge, and
    larger consolidated levels stay untouched on disk (byte-identical)
    — so a nightly auto-compaction stays O(recent appends) instead of
    O(|index|). ``small_bytes=None`` (the default here) merges every
    batch — the FULL consolidation. Returns the number of
    batch directories removed; 0 when nothing qualifies.

    Caller owns commit safety: the engine wraps this in its
    ``_refresh.json`` intent protocol. ``record`` (when given) is
    called with ``{"kind": "pq", "group": [...], "out": token}``
    immediately BEFORE each merge group's rewrite — the engine persists
    it into the intent so a crash anywhere in the group (between the
    consolidated write and the original-directory deletes — the
    cross-level duplicate-id window) is converged by
    ``resume_pq_compaction`` on the next compaction call, TIERED:
    only the recorded group is re-touched, never the whole index."""
    fs = _default_fs(fs)
    codes, meta = read_pq_index(spark, path, fs=fs)
    id_col = meta["id_col"]
    part_cols = _pq_part_cols(meta)
    tok_bytes, tok_dirs = _pq_token_dirs(fs, fs.join(path, "codes"),
                                         part_cols)
    if small_bytes is None:
        groups = ([set(tok_bytes)] if len(tok_bytes) > 1 else [])
    else:
        from metrique_spark.compaction import tier_groups

        groups = tier_groups(tok_bytes, small_bytes)
    if not groups:
        return 0
    removed = 0
    for merge in groups:
        sub = codes.where(F.col("__abatch").isin(sorted(merge)))
        deduped = (sub.dropDuplicates([id_col])
                   .localCheckpoint(eager=True))
        token = "cmp" + _abatch_token(deduped, id_col)
        while token in merge:
            # the merged census can collide with a group member's OWN
            # token (re-appended identical ids — and the member's
            # content may even have drifted from its name after
            # refresh removals rewrote it in place): writing under the
            # member's token would self-overwrite a live level
            # mid-merge, the one state write-then-delete can't
            # converge. Disambiguate deterministically (a crash-retry
            # recomputes the same suffix) while keeping the
            # ``cmpn{rows}x...`` prefix the resume's row-count check
            # parses — the output then always lands in fresh
            # directories and out ∉ group holds for every recorded
            # intent this code writes.
            token += "r"
        if record is not None:
            record({"kind": "pq", "group": sorted(merge),
                    "out": token})
        out = deduped.withColumn("__abatch", F.lit(token))
        (out.write.partitionBy(*part_cols).mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(path + "/codes"))
        # drop only the merged tokens' dirs; untouched levels keep
        # their bytes (never delete what this write just produced)
        for t in sorted(merge):
            if t == token:
                continue
            for full in tok_dirs[t]:
                if fs.isdir(full):
                    fs.delete_dir(full)
                    removed += 1
    return removed


_IVF_STAGE = "_cmpstage"


def _publish_ivf_stage(fs, stage: str, vroot: str) -> None:
    """Copy every staged merged part file into its bucket directory
    under a DETERMINISTIC name (``cmp-<staged filename>``): re-running
    the publish after a crash overwrites the same destinations, so the
    staged-publish protocol converges without ever rewriting a bucket
    partition."""
    for d in fs.listdir(stage):
        bdir = fs.join(stage, d)
        if not (d.startswith("bucket=") and fs.isdir(bdir)):
            continue
        for f in fs.listdir(bdir):
            if f.endswith(".parquet"):
                fs.copy(fs.join(bdir, f),
                        fs.join(vroot, d, f"cmp-{f}"))


def resume_ivf_compaction(spark, path: str, pending: dict,
                          fs=None) -> int:
    """Converge a crashed tiered ``compact_ivf_index`` pass from its
    recorded intent (``pending = {"targets": [vroot-relative files]}``)
    WITHOUT rewriting anything — the merged rows were STAGED (one
    atomic-per-file Spark write under ``_cmpstage``, ``_SUCCESS``
    marking completeness) before the intent was recorded, so resume is
    pure idempotent file plumbing: re-publish the staged files under
    their deterministic names (overwrite = converge), delete the
    recorded original files still present, drop the stage. Every
    untouched file in every bucket stays byte-identical. A stage
    without ``_SUCCESS`` is a torn pre-intent write — with all
    originals still present, just discard it (the next pass re-stages).
    Returns the number of original files removed."""
    fs = _default_fs(fs)
    vroot = fs.join(path, "vectors")
    stage = fs.join(path, _IVF_STAGE)
    staged_ok = fs.isfile(fs.join(stage, "_SUCCESS"))
    if staged_ok:
        _publish_ivf_stage(fs, stage, vroot)
    removed = 0
    if staged_ok:
        for rel in pending["targets"]:
            f = fs.join(vroot, rel)
            if fs.isfile(f):
                fs.delete(f)
                removed += 1
    if fs.isdir(stage):
        fs.delete_dir(stage)
    return removed


def compact_ivf_index(spark, path: str, id_col: str = "vec_id",
                      fs=None, small_bytes: int | None = None,
                      record=None) -> int:
    """IVF sibling of ``compact_pq_index``: appends land extra files in
    the bucket directories (``mode("append")``), so a long-refreshed
    index reads many tiny files per probe. ``small_bytes=None`` (full):
    rewrites each bucket to a single file (ids deduplicated) via one
    shuffle keyed on ``bucket``. With ``small_bytes`` set the pass is
    SIZE-TIERED at FILE granularity: within each bucket, only the files
    at or below the threshold merge into one new file (when there are
    at least two), and larger files stay untouched on disk — a bucket
    that grew big pays nothing for a trickle of appends elsewhere.
    Tiered merges dedup only among the merged files; a crash
    mid-group is converged tiered from the recorded intent (see
    ``record`` / ``resume_ivf_compaction``). Returns the number of
    data files eliminated; 0 when already consolidated."""
    fs = _default_fs(fs)
    vroot = fs.join(path, "vectors")

    def _nfiles() -> int:
        n = 0
        for d in fs.listdir(vroot):
            if d.startswith("bucket=") and fs.isdir(fs.join(vroot, d)):
                n += sum(f.endswith(".parquet")
                         for f in fs.listdir(fs.join(vroot, d)))
        return n

    before = _nfiles()
    if small_bytes is not None:
        # tiered: per bucket, merge the small files plus any group of
        # ≥4 similar-sized larger files (promotion — same policy as the
        # batch-dir compactors, at file granularity)
        from metrique_spark.compaction import tier_groups

        targets: list[str] = []
        for d in fs.listdir(vroot):
            bdir = fs.join(vroot, d)
            if not (d.startswith("bucket=") and fs.isdir(bdir)):
                continue
            sizes = {fs.join(bdir, f): fs.du(fs.join(bdir, f))
                     for f in fs.listdir(bdir) if f.endswith(".parquet")}
            for grp in tier_groups(sizes, small_bytes):
                targets.extend(grp)
        if not targets:
            return 0
        rels = [t[len(vroot) + 1:] for t in targets]
        # STAGE-then-PUBLISH: the merged rows land in a staging dir
        # first (atomic per file; Spark's _SUCCESS marks completeness),
        # the intent records the group, then the staged files are
        # COPIED into their bucket dirs under deterministic names and
        # the originals deleted. Every step after the stage write is
        # idempotent file plumbing, so a crash anywhere is converged by
        # resume_ivf_compaction without rewriting any bucket — a bare
        # append would be ambiguous at crash time (did it land?), and
        # the only convergence then is rewriting whole hit buckets.
        stage = fs.join(path, _IVF_STAGE)
        if fs.isdir(stage):
            fs.delete_dir(stage)  # torn pre-intent leftover
        merged = (spark.read.option("basePath", vroot).parquet(*targets)
                  .dropDuplicates([id_col])
                  .repartition(F.col("bucket")))
        merged.write.partitionBy("bucket").mode("overwrite").parquet(
            stage)
        if record is not None:
            record({"kind": "ivf", "targets": rels})
        _publish_ivf_stage(fs, stage, vroot)
        for f in targets:
            if fs.isfile(f):
                fs.delete(f)
        fs.delete_dir(stage)
        return max(0, before - _nfiles())
    nbuckets = sum(d.startswith("bucket=") for d in fs.listdir(vroot))
    if before <= nbuckets:
        # one file per bucket already — and duplicate ids can only come
        # from appends, which always add a SECOND file to their bucket,
        # so a single-file bucket is duplicate-free too
        return 0
    vectors = spark.read.parquet(path + "/vectors")
    deduped = (vectors.dropDuplicates([id_col])
               .repartition(F.col("bucket"))
               .localCheckpoint(eager=True))
    (deduped.write.partitionBy("bucket").mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(path + "/vectors"))
    return max(0, before - _nfiles())


def drift_stat(
    frame: DataFrame,
    kind: str,
    vec_col: str = "embedding",
    centroids: list | None = None,
    books: list | None = None,
    params: list | None = None,
    decimals: int = 6,
) -> tuple[str, float | None]:
    """One scalar distribution-fit statistic of ``frame``'s vectors
    against a FROZEN index model — the drift signal behind
    ``Engine.refresh_vector_index``'s ``rebuild_recommended`` flag.
    Incremental refresh deliberately never retrains (correctness is
    exact; only RECALL drifts as the data distribution shifts), so the
    decay must be measured, not guessed: compare this statistic over an
    appended delta against the build-time baseline recorded in the
    index marker.

    Per family (higher-is-better vs lower-is-better noted):

    - ``centroid_sim`` (ivf / ivfpq coarse level): mean rounded cosine
      similarity of each vector to its nearest frozen centroid — the
      quantity IVF probing relies on; drops as new data lands between
      the trained cells. Map-only literal-fold assignment
      (``_assign_lit``), no shuffle beyond one scalar aggregate.
    - ``pq_err`` (flat PQ): mean total rounded squared-L2 quantization
      error (sum over subspaces of the argmin codeword distance) —
      exactly the quantity ADC scoring inherits; grows as vectors leave
      the trained codeword cloud.
    - ``clip_frac`` (sq8): mean fraction of dimensions falling outside
      the trained per-dimension [min, max] — clipped dims all quantize
      to the range edge, so recall collapses as this grows; 0 by
      construction at build time.

    All three are single map-only passes + one scalar aggregate — cost
    O(|frame|) with no shuffle of the vectors. Returns
    ``(metric_name, value)``; value is None for an empty frame."""
    if kind in ("ivf", "ivfpq"):
        if not centroids:
            raise ValueError("drift_stat: centroid kinds need centroids")
        vs = frame.select(F.lit(0).alias("__vid"),
                          _as_double(vec_col).alias("v"))
        assigned = _assign_lit(vs, sorted(centroids), decimals)
        row = assigned.agg(F.avg("sim").alias("m")).first()
        return "centroid_sim", (None if row["m"] is None
                                else float(row["m"]))
    if kind == "pq":
        if not books:
            raise ValueError("drift_stat: pq needs books")
        m, sub_len = len(books), len(books[0][0])
        v = _as_double(vec_col)
        sliced = frame.select(
            *[F.slice(v, j * sub_len + 1, sub_len).alias(f"__s{j}")
              for j in range(m)])
        errs = sliced.select(
            *[F.array_min(_l2_d2s(F.col(f"__s{j}"), books[j], decimals))
              .alias(f"__e{j}") for j in range(m)])
        total = errs.select(
            sum((F.col(f"__e{j}") for j in range(1, m)),
                F.col("__e0")).alias("__err"))
        row = total.agg(F.avg("__err").alias("m")).first()
        return "pq_err", None if row["m"] is None else float(row["m"])
    if kind == "sq8":
        if not params:
            raise ValueError("drift_stat: sq8 needs params")
        dim = len(params)
        vv = frame.select(_as_double(vec_col).alias("__v"))
        out = sum(
            (((F.col("__v")[i] < F.lit(float(mn)))
              | (F.col("__v")[i] > F.lit(float(mx)))).cast("int")
             for i, (mn, mx) in enumerate(params)),
            F.lit(0))
        row = (vv.select((out / F.lit(float(dim))).alias("__c"))
               .agg(F.avg("__c").alias("m")).first())
        return "clip_frac", None if row["m"] is None else float(row["m"])
    raise ValueError(f"drift_stat: unknown kind {kind!r}")




# ---------------------------------------------------------------------------
# the stored index kinds as the Engine drives them: one table entry per
# kind, so ``Engine.build_vector_index`` / ``vector_search`` /
# ``refresh_vector_index`` / ``compact_vector_index`` dispatch instead of
# branching. Raw-vector IVF keeps its own bucket-file storage protocol;
# the quantized kinds share the sidecar + ``__abatch`` layout above.


def _ivf_batch_count(fs, path: str) -> int:
    """Max per-bucket data-file count of a stored IVF index (appends add
    files to their bucket; 1 when fully compacted)."""
    root = fs.join(path, "vectors")
    if not fs.isdir(root):
        return 0
    worst = 0
    for d in fs.listdir(root):
        p = fs.join(root, d)
        if d.startswith("bucket=") and fs.isdir(p):
            worst = max(worst, sum(f.endswith(".parquet")
                                   for f in fs.listdir(p)))
    return worst


def _pq_batch_count(fs, path: str) -> int:
    """Distinct ``__abatch`` tokens of a stored quantized index (1 when
    fully compacted). Listing cost is bounded by buckets × batches."""
    root = fs.join(path, "codes")
    if not fs.isdir(root):
        return 0
    tokens: set[str] = set()
    for d in fs.listdir(root):
        p = fs.join(root, d)
        if d.startswith("__abatch="):
            tokens.add(d)
        elif d.startswith(("cluster=", "__gbucket=")) and fs.isdir(p):
            tokens.update(b for b in fs.listdir(p)
                          if b.startswith("__abatch="))
    return len(tokens)


def _ivf_diff_source(spark, path: str, id_col: str, vec_col: str, fs):
    """IVF stores the raw vectors: diff them against the live rows
    directly."""
    idx = (spark.read.parquet(path + "/vectors")
           .select(F.col(id_col).alias("__iid"), F.col("v").alias("__iv")))
    same = ((F.col(id_col) == F.col("__iid"))
            & F.col(vec_col).cast("array<double>").eqNullSafe(F.col("__iv")))
    return idx, same


def _pq_diff_source(spark, path: str, id_col: str, vec_col: str, fs):
    """The quantized kinds store a per-row vector fingerprint (``__vh``):
    diff that against the live rows' fingerprints. None for a legacy
    fingerprint-less index — codes can't be compared to vectors."""
    codes, meta = read_pq_index(spark, path, fs=fs)
    if not meta.get("vh"):
        return None
    idx = codes.select(F.col(id_col).alias("__iid"),
                       F.col("__vh").alias("__ivh"))
    return idx, ((F.col(id_col) == F.col("__iid"))
                 & (_vh(vec_col) == F.col("__ivh")))


def _pq_drift_args(spark, path: str, fs) -> dict:
    meta = _read_sidecar(fs, path)
    ivf, codec = _sidecar_layout(meta)
    if ivf:
        return {"centroids": _sidecar_cents(meta),
                "decimals": meta.get("sim_decimals", 6)}
    return {codec.model_key: codec.from_meta(meta)}


class AnnFamily(NamedTuple):
    """How the Engine drives one stored index kind. Every callable
    resolves this module's functions at call time, so replacing one of
    them (crash injection in tests) replaces it for the Engine too."""

    params: frozenset   # build params the writer takes
    # (df, path, id_col, vec_col, fs, **params)
    write: Callable
    # (spark, path, queries, k, nprobe (None: the kind's default),
    #  id_col, vec_col, fs) -> (query_id, neighbor_id, sim|score)
    search: Callable
    # (spark, path, id_col, vec_col, fs) -> (index frame with __iid,
    #  same-row condition), or None: diff against the built generation
    diff_source: Callable
    remove: Callable    # (spark, path, ids, id_col, fs)
    append: Callable    # (batch, path, id_col, vec_col, fs)
    drift_args: Callable  # (spark, path, fs) -> drift_stat kwargs
    # the build-time drift baseline when it is known without a job
    build_drift: tuple | None
    batch_count: Callable  # (fs, path) -> append-granule count
    compact: Callable   # (spark, path, id_col, fs, small_bytes, record)
    resume: Callable    # (spark, path, pending, fs)
    lists: tuple | None  # (partition key, subdir) of the inverted lists


def _quantized_family(kind: str, params: frozenset | None = None,
                      build_drift: tuple | None = None):
    """The Engine entry of a stored quantized ``kind``. ``params``
    (default: everything its writer takes) are the build params the
    Engine accepts for it."""
    ivf, _, p = _layout(kind, {})
    if params is None:
        params = (frozenset(p) | {"content_hash"}
                  | (set() if ivf else {"gbuckets"}))
    return AnnFamily(
        params=params,
        write=lambda df, path, fs, **kw: write_quantized_index(
            df, path, kind, fs=fs, **kw),
        search=lambda spark, path, queries, k, nprobe, id_col, vec_col, fs:
            quantized_topk_indexed(
                spark, path, queries, topk=k,
                nprobe=2 if nprobe is None else nprobe, vec_col=vec_col,
                fs=fs),
        diff_source=_pq_diff_source,
        remove=lambda spark, path, ids, id_col, fs: remove_from_pq_index(
            spark, path, ids, fs=fs),
        append=lambda batch, path, id_col, vec_col, fs: append_to_pq_index(
            batch, path, vec_col=vec_col, fs=fs),
        drift_args=_pq_drift_args,
        build_drift=build_drift,
        batch_count=_pq_batch_count,
        compact=lambda spark, path, id_col, fs, small_bytes, record:
            compact_pq_index(spark, path, fs=fs, small_bytes=small_bytes,
                             record=record),
        resume=lambda spark, path, pending, fs: resume_pq_compaction(
            spark, path, pending, fs=fs),
        lists=("cluster", "/codes") if ivf else None,
    )


ANN_FAMILIES = {
    "ivf": AnnFamily(
        params=frozenset({"nlist", "train_iters"}),
        write=lambda df, path, fs, **kw: write_ivf_index(df, path, **kw),
        search=lambda spark, path, queries, k, nprobe, id_col, vec_col, fs:
            ivf_topk_indexed(
                *read_ivf_index(spark, path), queries, k=k,
                nprobe=4 if nprobe is None else nprobe, id_col=id_col,
                vec_col=vec_col),
        diff_source=_ivf_diff_source,
        remove=lambda spark, path, ids, id_col, fs: remove_from_ivf_index(
            spark, path, ids, id_col=id_col, fs=fs),
        append=lambda batch, path, id_col, vec_col, fs: append_to_ivf_index(
            batch, path, id_col=id_col, vec_col=vec_col),
        drift_args=lambda spark, path, fs: {
            "centroids": _cent_rows(spark.read.parquet(path + "/centroids"))},
        build_drift=None,
        batch_count=_ivf_batch_count,
        compact=lambda spark, path, id_col, fs, small_bytes, record:
            compact_ivf_index(spark, path, id_col=id_col, fs=fs,
                              small_bytes=small_bytes, record=record),
        resume=lambda spark, path, pending, fs: resume_ivf_compaction(
            spark, path, pending, fs=fs),
        lists=("bucket", "/vectors"),
    ),
    "pq": _quantized_family("pq"),
    "ivfpq": _quantized_family("ivfpq"),
    # sq8 has no tuning knobs; and the trained params ARE the corpus
    # extrema, so nothing clips at build
    "sq8": _quantized_family("sq8", frozenset(),
                             build_drift=("clip_frac", 0.0)),
}
