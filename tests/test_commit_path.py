"""The manifested snapshot-commit path, pinned in the default run: the
Spark job count of a trickle commit, the closed-batch token, the
manifest's per-directory stats, invariant failures before any write,
and autosnap detection — each checked against an independent
computation in this file."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import _END_STAT_FMT, Engine
from metrique_spark.objects import stamp, validate

# checkpoint, profile, merge checkpoint, stats, one write: the five
# actions of a commit run as this many Spark jobs on a bucketed cube
TRICKLE_JOBS = 9


def _batch(spark, oids, start, val):
    df = spark.createDataFrame([(o, val) for o in oids],
                               "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


@pytest.fixture()
def cube(spark, tmp_path):
    """A 2-bucket manifested cube holding 1,200 open objects."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    eng.upsert("c", _batch(spark, range(1200), "2014-01-01", 1),
               stamped=True)
    return eng


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through the status tracker."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "commit-path job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _dirs(eng, cube):
    return set(eng._manifest(eng._path(cube))["dirs"])


def test_trickle_commit_job_count(spark, cube):
    # 2 oids: one changed, one brand new
    n = _jobs(spark, lambda: cube.upsert(
        "c", _batch(spark, [7, 5000], "2014-02-01", 2), stamped=True))
    assert n == TRICKLE_JOBS
    # ~1,000 oids: 900 changed, 100 new — the count is per commit, not
    # per row
    big = list(range(300, 1200)) + list(range(6000, 6100))
    n = _jobs(spark, lambda: cube.upsert(
        "c", _batch(spark, big, "2014-03-01", 3), stamped=True))
    assert n == TRICKLE_JOBS
    assert cube.count("c") == 1200 + 1 + 100
    assert cube.count("c", date="~") == 1301 + 1 + 900


def test_closed_token_and_stats_match_independent_aggregates(spark, cube):
    before = _dirs(cube, "c")
    oids = list(range(0, 1200, 3))
    cube.upsert("c", _batch(spark, oids, "2014-02-01", 2), stamped=True)
    new = _dirs(cube, "c") - before

    # the token: count and decimal sum of xxhash64(_id, string(_end))
    # over exactly the rows this commit closed
    closed = (cube.find("c", date="~")
              .where(F.col("_end") == F.to_timestamp(F.lit("2014-02-01"))))
    tok = closed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("_id", F.col("_end").cast("string"))
              .cast("decimal(38,0)")).alias("s")).first()
    assert tok["n"] == len(oids)
    tokens = {d.rsplit("__batch=", 1)[1] for d in new
              if d.startswith("_current=false")}
    assert tokens == {f"n{tok['n']}x{tok['s']}"}
    assert {d.rsplit("__batch=", 1)[1] for d in new
            if d.startswith("_current=true")} == {"open-g2"}

    # every live directory's manifest stats equal an aggregate of the
    # files it holds
    path = cube._path("c")
    stats = cube._manifest(path)["stats"]
    for d in sorted(_dirs(cube, "c")):
        got = (spark.read.parquet(os.path.join(path, d))
               .agg(F.count(F.lit(1)).alias("rows"),
                    F.date_format(F.max("_end"), _END_STAT_FMT)
                    .alias("max_end"),
                    F.date_format(F.min("_start"), _END_STAT_FMT)
                    .alias("min_start")).first())
        assert stats["rows"][d] == got["rows"], d
        assert stats["max_end"].get(d) == got["max_end"], d
        assert stats["min_start"].get(d) == got["min_start"], d


@pytest.mark.parametrize("bad", ["null_oid", "bad_interval"])
def test_invalid_batch_raises_before_any_write(spark, cube, bad):
    df = spark.createDataFrame(
        [(1, 5, "2014-02-01", None), (2, 5, "2014-03-01", "2014-01-01")],
        "oid long, col_1 long, s string, e string")
    if bad == "null_oid":
        df = df.withColumn("oid", F.when(F.col("oid") == 1, None)
                           .otherwise(F.col("oid")))
        df = df.withColumn("e", F.lit(None).cast("string"))
    else:
        df = df.where(F.col("oid") == 2)
    batch = stamp(df, oid="oid", start="s", end="e")
    with pytest.raises(ValueError) as want:
        validate(batch)
    gens, dirs = cube.generations("c"), _dirs(cube, "c")
    with pytest.raises(ValueError) as got:
        cube.upsert("c", batch, stamped=True)
    assert str(got.value) == str(want.value)
    assert cube.generations("c") == gens
    assert _dirs(cube, "c") == dirs


def test_one_closed_row_autodetects_history_import(spark, cube):
    df = spark.createDataFrame(
        [(5, 50, "2013-06-01", "2013-09-01"),
         (5, 51, "2013-09-01", None)],
        "oid long, col_1 long, s string, e string")
    cube.upsert("c", stamp(df, oid="oid", start="s", end="e"),
                stamped=True)
    # history import: every stored version of oid 5 is replaced by the
    # supplied history (a snapshot merge would have kept the 2014
    # version open and ignored the closed row)
    got = sorted((r["col_1"], str(r["_start"])[:10],
                  None if r["_end"] is None else str(r["_end"])[:10])
                 for r in cube.find("c", query="_oid == 5",
                                    date="~").collect())
    assert got == [(50, "2013-06-01", "2013-09-01"),
                   (51, "2013-09-01", None)]
    assert cube.count("c") == 1200
