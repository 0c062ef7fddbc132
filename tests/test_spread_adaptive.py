"""Pins for the size-adaptive ``spread_small_scan`` width.

The spread target is ``clamp(ceil(stats_bytes / chunkBytes), 1, cores)``
— derived from the input's size, not the box — so tiny inputs are not
over-split into per-task overhead while genuinely larger scans still
engage every core. These tests pin the derivation and the guard rails
(exchange passthrough, never-coalesce, min_parts override, unknown-size
fallback).
"""

import pytest

from pyspark.sql import functions as F

from metrique_spark.functions.cache import _CACHE_CHUNK_CONF, narrow_small
from metrique_spark.functions.dedup import (
    _SPREAD_CHUNK_CONF, spread_small_scan)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text", "lang"))


def test_width_scales_with_chunk_size(spark):
    d = _docs(spark)
    stats = int(d._jdf.queryExecution().optimizedPlan()
                .stats().sizeInBytes())
    assert stats > 0
    cap = spark.sparkContext.defaultParallelism
    # chunk = half the stats size -> exactly 2 partitions (if cap allows)
    old = spark.conf.get(_SPREAD_CHUNK_CONF, None)
    try:
        spark.conf.set(_SPREAD_CHUNK_CONF, str(max(1, stats // 2)))
        expect = min(cap, 2 if stats % max(1, stats // 2) == 0 else 3)
        assert spread_small_scan(d).rdd.getNumPartitions() == expect
        # a chunk bigger than the whole input -> width 1 -> unchanged
        spark.conf.set(_SPREAD_CHUNK_CONF, str(stats * 10))
        assert (spread_small_scan(d).rdd.getNumPartitions()
                == d.rdd.getNumPartitions())
        # a tiny chunk -> capped at defaultParallelism, never beyond
        spark.conf.set(_SPREAD_CHUNK_CONF, "1")
        assert spread_small_scan(d).rdd.getNumPartitions() == cap
    finally:
        if old is None:
            spark.conf.unset(_SPREAD_CHUNK_CONF)
        else:
            spark.conf.set(_SPREAD_CHUNK_CONF, old)


def test_never_coalesces_wide_input(spark):
    # an input already wider than the derived target passes through
    d = _docs(spark).repartition(6)
    # repartition is an exchange -> passthrough branch
    assert spread_small_scan(d) is d


def test_min_parts_override(spark):
    d = _docs(spark)
    assert spread_small_scan(d, min_parts=3).rdd.getNumPartitions() == 3


def test_exchange_input_passthrough(spark):
    agg = _docs(spark).groupBy("lang").agg(F.count("*").alias("n"))
    assert spread_small_scan(agg) is agg


def test_values_unchanged_by_spread(spark):
    d = _docs(spark)
    old = spark.conf.get(_SPREAD_CHUNK_CONF, None)
    try:
        spark.conf.set(_SPREAD_CHUNK_CONF, "1")  # force cap width
        wide = sorted(spread_small_scan(d).collect())
        spark.conf.set(_SPREAD_CHUNK_CONF, "1000000000")  # width 1
        narrow = sorted(spread_small_scan(d).collect())
    finally:
        if old is None:
            spark.conf.unset(_SPREAD_CHUNK_CONF)
        else:
            spark.conf.set(_SPREAD_CHUNK_CONF, old)
    assert wide == narrow


@pytest.mark.parametrize("bad", ["0", "-5", "abc"])
@pytest.mark.parametrize("conf,helper", [
    (_SPREAD_CHUNK_CONF, spread_small_scan),
    (_CACHE_CHUNK_CONF, narrow_small)])
def test_bad_chunk_conf_is_a_no_op(spark, conf, helper, bad):
    # a zero, negative or non-numeric chunk must leave the frame as it
    # is, not raise inside the persist paths that call these helpers
    d = _docs(spark)
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, bad)
        assert helper(d) is d
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
