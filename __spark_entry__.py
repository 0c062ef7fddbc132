"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001. ``queries()`` exposes
one callable per implemented operator from SURVEY.md §2 (plus the
training-data pipeline ops); ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL for every SQL-expressible operator so the driver can value-check
them side by side at sf0.01.

Oracle-parity notes (why the expressions look the way they do):

- money aggregates are summed as DECIMAL(18,2) in BOTH engines (exact,
  order-independent), then rounded and cast to DOUBLE — double summation
  order differs between engines and would flip low bits.
- every computed column is aliased identically in Spark and SQL.
- counts/sizes are cast to BIGINT on the Spark side where DuckDB returns
  BIGINT, so schemas line up.
- session timezone is pinned to UTC before any timestamp work.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metrique_spark import temporal
from metrique_spark.engine import Engine
from metrique_spark.functions import dedup, similarity, text
from metrique_spark.objects import stamp
from metrique_spark.upsert import snapshot_merge_tagged

# ---------------------------------------------------------------------------
# helpers


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Cached-plan output partitioning stays at Spark's default (false,
    # so it is not set here): round 14 let AQE re-plan cached frames,
    # which coalesced kilobyte persisted frames to ONE partition and ran
    # every later pass over a cache serially — wall regressed
    # 106.8->137.2 s and 32 cores measured slower than 8 (r14 verdict).


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from metrique_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, name)


def _dec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def _money(col) -> F.Column:
    """Exact decimal sum → round(2) → double (order-independent)."""
    return F.round(F.sum(_dec(col)), 2).cast("double")


def _versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a temporally-versioned object table: one version
    per event, closed by the user's next event (SCD2 shape, SURVEY §1.1)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").alias("_oid"),
        "event_type",
        "value",
        F.col("ts").alias("_start"),
        F.lead("ts").over(w).alias("_end"),
    )


# the same versioned view for DuckDB oracles
_V = (
    "SELECT user_id AS _oid, event_type, value, ts AS _start, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _end "
    "FROM events"
)

_TOKS = r"regexp_extract_all(lower(text), '[^\W_]+')"
_FP = rf"md5(array_to_string({_TOKS}, ' '))"


# ---------------------------------------------------------------------------
# relational surface (SURVEY §2.6 — Spark-native groupBy/join/window/set ops)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped rollup on lineitem (scan → partial agg → final agg;
    filter pushed to parquet, decimal-exact money sums)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _money("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(_dec("l_extendedprice") * disc), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum("l_quantity") / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 4)
            .alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + top-10 by revenue. The customer dim is
    broadcast (small side); lineitem never shuffles for the join."""
    _utc(spark)
    cut = F.lit("1996-06-30").cast("timestamp")
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: all dims broadcast, single shuffle for
    the final aggregation."""
    _utc(spark)
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"))
    )


def q_top_customers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by order value per market segment (window top-k)."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    totals = o.groupBy("o_custkey").agg(
        F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("total_value")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_value").desc(), F.col("c_custkey")
    )
    return (
        totals.join(F.broadcast(c), totals.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "total_value", F.col("rk").cast("long").alias("rk"))
    )


def q_nations_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: nations that have both customers and suppliers (INTERSECT)."""
    _utc(spark)
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    with_c = n.join(c, n.n_nationkey == c.c_nationkey).select("n_name").distinct()
    with_s = n.join(s, n.n_nationkey == s.s_nationkey).select("n_name").distinct()
    return with_c.intersect(with_s)


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join pattern: customers with no orders since 1998, counted per
    nation — left_anti composes with the broadcast nation dim, and the date
    filter pushes to the orders scan."""
    _utc(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    n = _t(spark, sf_dir, "nation")
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        inactive.join(F.broadcast(n), inactive.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
    )


def q_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders rollup by priority: count + exact-decimal average price."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(_dec("o_totalprice")).cast("double") / F.count("*"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# MQL (SURVEY §2.3/2.4)


def mql_find_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQL find: comparisons + boolean logic + date() literal, compiled to a
    pushed-down predicate (reference parse.py:164-287)."""
    _utc(spark)
    eng = Engine(spark)
    return eng.find(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag == 'R' and l_quantity >= 49 and l_shipdate > date('1998-01-01')",
        fields="l_orderkey,l_linenumber,l_quantity,l_shipdate",
    )


def mql_regex_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQL regex() + in-list membership (reference parse.py:197-245)."""
    _utc(spark)
    eng = Engine(spark)
    return eng.find(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority == regex('^[12]-') and o_orderstatus in ['F', 'O'] "
        "and o_totalprice > 400000",
        fields="o_orderkey,o_orderpriority,o_orderstatus,o_totalprice",
    )


def _cust_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.collect_set("o_orderpriority").alias("priorities"),
        F.count("*").alias("n_orders"),
    )


def mql_array_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQL array-field equality = ANY-element semantics
    (reference parse.py:201-208) via array_contains."""
    _utc(spark)
    eng = Engine(spark)
    return eng.find(
        _cust_priorities(spark, sf_dir),
        "priorities == '1-URGENT'",
        fields="c_custkey,n_orders",
    )


def mql_empty_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQL ``empty(field)`` on an array column (reference parse.py:272-276):
    documents whose derived word-match array is empty."""
    _utc(spark)
    eng = Engine(spark)
    d = _t(spark, sf_dir, "documents").withColumn(
        "qu_words",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("qu[a-z]+"), F.lit(0)),
    )
    return eng.find(d, "empty(qu_words)", fields="doc_id")


def mql_distinct_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct on an array field flattens elements
    (reference sqlalchemy.py:706-721)."""
    _utc(spark)
    eng = Engine(spark)
    return eng.distinct(_cust_priorities(spark, sf_dir), "priorities")


def mql_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-field distinct: per-field flatten (array elements included)
    reduce-added into one flat value set (reference sqlalchemy.py:706-721)."""
    _utc(spark)
    eng = Engine(spark)
    d = _t(spark, sf_dir, "documents").withColumn(
        "tags", F.array("lang", "source"))
    return eng.distinct(d, ["tags", "lang"])


# ---------------------------------------------------------------------------
# temporal operators (SURVEY §2.5) over the versioned events view


def tmp_current_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date=None → current versions only (_end IS NULL), reference
    parse.py:74-130."""
    eng = Engine(spark)
    cur = eng.find(_versions(spark, sf_dir), date=None)
    return cur.groupBy("event_type").agg(F.count("*").alias("n"))


def tmp_on_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of filter, pandas-side boundary semantics (_start <= d, _end > d;
    reference result.py:164-180)."""
    v = _versions(spark, sf_dir)
    return temporal.on_date(v, "2024-01-15").select("_oid", "event_type", "_start", "_end")


def tmp_date_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-side date range 'd1~d2' (overlap; _start < d2 AND (_end >= d1
    OR NULL); reference parse.py:74-130)."""
    eng = Engine(spark)
    scoped = eng.find(_versions(spark, sf_dir), date="2024-01-10~2024-01-20")
    return scoped.groupBy("event_type").agg(F.count("*").alias("n"))


def tmp_history_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """live-object counts on a daily spine — one broadcast interval join
    instead of the reference's per-date scan (result.py:182-195)."""
    v = _versions(spark, sf_dir)
    spine = temporal.date_spine(spark, "2024-01-01", "2024-01-30", "daily")
    return temporal.history(v, spine, count_col="n")


def tmp_first_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _versions(spark, sf_dir)
    return temporal.first_version(v).select("_oid", "event_type", "_start")


def tmp_last_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _versions(spark, sf_dir)
    return temporal.last_version(v).select("_oid", "event_type", "_start")


def tmp_started_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _versions(spark, sf_dir)
    return temporal.started_after(v, "2024-01-02").select("_oid", "event_type", "_start")


def tmp_unfinished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """all versions of objects that still have an open version after a
    row-filter breaks some chains (reference result.py:312-322)."""
    v = _versions(spark, sf_dir).where(F.col("value") <= 400)
    return temporal.unfinished_objects(v).select("_oid", "event_type", "_start", "_end")


def tmp_last_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gaps-and-islands: last unbroken run of versions per oid
    (reference result.py:394-427)."""
    v = _versions(spark, sf_dir).where(F.col("value") <= 15)
    return temporal.last_chain(v).select("_oid", "event_type", "_start", "_end")


def tmp_dfind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-oid successive diffs via lag (reference sqlalchemy.py:694-704)."""
    v = _versions(spark, sf_dir)
    return temporal.dfind(v, ["event_type"]).select(
        "_oid", "_start", "field", "old", "new")


def tmp_dfind_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whole-object diff with DictDiffer added/removed-key classification
    (reference utils.py:1446-1535): value is NULLed for click events so the
    version chain drifts between schemas — NULL→value diffs as an added
    key, value→NULL as removed, value→value as changed."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    # one event per (user, instant): dfind's lag orders by _start alone, so
    # duplicate timestamps would make the diff order engine-dependent
    w2 = Window.partitionBy("user_id", "ts").orderBy("event_id")
    ev1 = ev.withColumn("__rn", F.row_number().over(w2)).where(F.col("__rn") == 1)
    v = ev1.select(
        F.col("user_id").alias("_oid"),
        "event_type",
        # floor() explicitly: Spark's double->long cast truncates while
        # DuckDB's rounds, so the shared intent must be spelled out
        F.when(F.col("event_type") != "click",
               F.floor("value").cast("long")).alias("value"),
        F.col("ts").alias("_start"),
        F.lit(None).cast("timestamp").alias("_end"),
    )
    return temporal.dfind(v, None)


def tmp_persistent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _versions(spark, sf_dir)
    spine = temporal.date_spine(spark, "2024-01-01", "2024-01-30", "daily")
    return temporal.persistent_oid_counts(v, spine).withColumnRenamed("count", "n")


def tmp_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """latest version per oid + whole-second age (reference
    result.py:339-392)."""
    v = _versions(spark, sf_dir)
    out = temporal.last_versions_with_age(v, col_name="age", rbound="2024-02-01")
    return out.select("_oid", "event_type", F.col("age").cast("long").alias("age"))


def upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot-upsert semantics (reference sqlalchemy.py:922-954) as a pure
    merge: state@Jan-1..15 upserted with state@Jan-16..30; output is the new
    open set plus the rows the batch closed."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                F.col("user_id").alias("_oid"),
                "event_type",
                "value",
                F.col("ts").alias("_start"),
            )
        )
        return stamp(snap)  # hash over (_oid, event_type, value); _start kept

    cut = F.lit("2024-01-16").cast("timestamp")
    cols = ["_oid", "event_type", "value", "_start", "_end", "_hash", "_id"]
    open_rows = latest_state(ev.where(F.col("ts") < cut)).select(cols)
    incoming = latest_state(ev.where(F.col("ts") >= cut)).select(cols)
    tagged = snapshot_merge_tagged(open_rows, incoming)
    return tagged.select("_oid", "event_type", "value", "_start", "_end")


def upsert_disk_timepart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the SAME two-batch snapshot merge as upsert_snapshot, but driven
    through the FULL storage engine on disk — time-partitioned
    (month), oid-bucketed, generation-manifested warehouse: stamp →
    upsert batch 1 → upsert batch 2 (merge against the read-back
    table) → read all history back. Value-checks the write path itself
    (partitioning, manifest commit, per-dir stats, merge-on-read-back)
    against the pure-merge oracle — if any layer of the storage stack
    mangled a row, the hash check catches it."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "upsert_tp_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4,
                 time_partition="month")
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < cut)),
               stamped=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= cut)),
               stamped=True)
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_compact_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZE-TIERED COMPACTION value-checked through the gate: a 3-batch
    snapshot merge through the full on-disk engine leaves two
    content-token history dirs; compact() folds them into one
    consolidated level and a second tiered pass (threshold below the
    level's size) is a converged no-op — reading all history back must
    equal the pure 3-way sequential-merge oracle EXACTLY, proving
    compaction is physically invisible to query results (the
    byte-identity pins in tests/test_compaction_tiered.py prove the
    untouched-level physics; this entry value-verifies the read path
    through the compacted layout)."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    c1 = F.lit("2024-01-11").cast("timestamp")
    c2 = F.lit("2024-01-21").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "upsert_ct_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < c1)),
               stamped=True)
    eng.upsert("state", latest_state(ev.where((F.col("ts") >= c1)
                                              & (F.col("ts") < c2))),
               stamped=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= c2)),
               stamped=True)
    eng.compact("state")            # folds both closed tokens into one
    eng.compact("state", small_bytes=1)  # tiered no-op: level untouched
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_zorder_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering value-checked through the gate: the same
    3-batch on-disk snapshot merge as ``upsert_compact_tiered``, but the
    full consolidation pass rewrites the closed history Morton-clustered
    on ``(value, _start)`` — ``compact(sort_by=..., cluster='zorder')``
    quantile-bins each axis, bit-interleaves the bins and range-sorts on
    the curve, so every rewritten file covers a tight hyper-rectangle of
    BOTH columns (per-file min/max physics pinned in
    tests/test_compaction_tiered.py). The rewrite is physical-only:
    reading all history back must equal the pure 3-way sequential-merge
    oracle EXACTLY, proving query results are invariant under the
    clustering curve."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    c1 = F.lit("2024-01-11").cast("timestamp")
    c2 = F.lit("2024-01-21").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "upsert_zo_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < c1)),
               stamped=True)
    eng.upsert("state", latest_state(ev.where((F.col("ts") >= c1)
                                              & (F.col("ts") < c2))),
               stamped=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= c2)),
               stamped=True)
    eng.compact("state", sort_by=["value", "_start"], cluster="zorder",
                small_bytes=None)
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_rebucket_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET-COUNT MIGRATION value-checked through the gate: the
    2-batch on-disk snapshot merge built at 4 oid-buckets is
    ``rebucket``-ed to 16 (full rewrite, new count published IN THE
    MANIFEST atomically with the rewritten directories — the managed
    escape from a first-write count the data outgrew, engine.rebucket),
    then a THIRD point of proof: an MQL point lookup afterwards prunes
    under the new modulus (plan pin in tests/test_engine.py). Reading
    all history back must equal the pure 2-way merge oracle EXACTLY —
    rebucketing is physical-only."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "rebucket_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < cut)),
               stamped=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= cut)),
               stamped=True)
    eng.rebucket("state", 16)
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_rebucket_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL N→2N DOUBLING MIGRATION value-checked through the
    gate — reading through a HALF-MIGRATED cube: batch 1 lands at 4
    oid-buckets, ``rebucket(8, incremental=True)`` starts the doubling
    with a METADATA-ONLY commit (``pmod(h,2N) ∈ {pmod(h,N),
    pmod(h,N)+N}`` — each bucket splits independently, so no data moves
    at start; engine._rebucket_start_incremental), batch 2 then merges
    against the MIXED-modulus state (the migration-aware merge resolves
    hit directories from the manifest relpaths and migrates the old
    ones it rewrites — the opportunistic half), and ONE bounded
    ``rebucket_step`` drains part of the remainder, deliberately
    leaving the cube half-migrated. Reading all history back through
    the mixed layout — where point lookups union-prune under BOTH
    moduli (PartitionFilters pin in tests/test_rebucket_incremental.py;
    crash sweep in tests/test_fault_injection.py) — must equal the pure
    2-way merge oracle EXACTLY. At 100 TB this replaces the one-window
    full-rewrite migration with background-schedulable O(chunk)
    commits."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "rebucket_incr_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < cut)),
               stamped=True)
    eng.rebucket("state", 8, incremental=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= cut)),
               stamped=True)
    eng.rebucket_step("state", max_dirs=1)  # half-migrated on purpose
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_rebucket_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED doubling migrations value-checked through the gate —
    reading through a TRIPLE-modulus cube: batch 1 lands at 4
    oid-buckets, the 4→8 doubling starts and partially drains (one
    bounded step), then the 8→16 doubling starts WHILE the first still
    has old-modulus directories (per-directory modulus stamps in the
    segmented manifest make the blocks independent —
    engine._rebucket_start_incremental), batch 2 merges against the
    mixed 4/8/16 state (the migration-aware merge resolves hit
    directories per vintage, one hash job for all three moduli —
    engine._migration_hit_dirs), and one more bounded step drains a
    little further, deliberately leaving all three moduli live. The
    full-history read — point lookups union-prune under every modulus
    present (3-moduli PartitionFilters pin in
    tests/test_rebucket_incremental.py; chained fault sweep in
    tests/test_fault_injection.py) — must equal the pure 2-way merge
    oracle EXACTLY. At 100 TB this is 16→1024 as six overlapping
    background drains instead of six fully-sequential windows."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "rebucket_chain_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < cut)),
               stamped=True)
    eng.rebucket("state", 8, incremental=True)
    eng.rebucket_step("state", max_dirs=1)   # some dirs now at 8
    eng.rebucket("state", 16, incremental=True)  # chained: 4+8 pending
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= cut)),
               stamped=True)
    eng.rebucket_step("state", max_dirs=1)   # still triple-modulus
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_group_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GROUP COMMIT value-checked through the gate: three
    micro-batches (event-time terciles) flow through
    ``stream_upsert_sink(coalesce_batches=2)`` — the first two STAGE
    durably and fold into ONE snapshot commit (per-oid latest wins
    inside the window, micro-batch id breaking ties — the same
    buffered-container semantics the reference's flush applies,
    ``core_api.py:537-540``), the third drains via the final
    ``flush()``. Two engine commits for three batches, read back as
    full history: must equal the pure 2-way merge oracle EXACTLY —
    i.e. group commit changes the COST (one manifest flip per window;
    ~3x commits/s in SCALING's ``trickle_coalesced3_s`` row), never
    the committed content. Crash/replay behavior is pinned in
    tests/test_streaming.py (stranded-stage recovery, replay no-op)."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine
    from metrique_spark.streaming.events import stream_upsert_sink

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut1 = F.lit("2024-01-10").cast("timestamp")
    cut2 = F.lit("2024-01-16").cast("timestamp")
    base = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                        "group_commit_" + os.path.basename(
                            os.path.normpath(sf_dir)))
    wh, ck = os.path.join(base, "wh"), os.path.join(base, "ck")
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    sink = stream_upsert_sink(eng, "state", ck, coalesce_batches=2)
    sink(latest_state(ev.where(F.col("ts") < cut1)), 0)
    sink(latest_state(ev.where((F.col("ts") >= cut1)
                               & (F.col("ts") < cut2))), 1)
    sink(latest_state(ev.where(F.col("ts") >= cut2)), 2)
    sink.flush(spark)
    return eng.find("state", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def mql_oid_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MQL-STRING point lookup through the full on-disk engine (the
    reference's own idiom, ``find(query='_oid in [...]')``,
    ``sqlalchemy.py:753-785``): the engine derives the conjunctively-
    implied oid set {1,3,7,11} from the query AST
    (``mql.oid_literal_set``) and prunes the scan to those oids'
    ``__obucket`` directories (executed-plan PartitionFilters pin in
    tests/test_engine.py), while the ``_oid != 3`` conjunct — unbounded
    for pruning — still applies as a row predicate. Value-checks that
    the pruned read returns exactly the unpruned semantics."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest_state(df: DataFrame) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), "event_type",
                        "value", F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "mqlpt_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    if eng.exists("state"):
        eng.drop("state")
    eng.upsert("state", latest_state(ev.where(F.col("ts") < cut)),
               stamped=True)
    eng.upsert("state", latest_state(ev.where(F.col("ts") >= cut)),
               stamped=True)
    return eng.find("state", "_oid in [1, 3, 7, 11] and _oid != 3",
                    date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_evolve_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION through the full on-disk engine: batch 1 writes
    the per-user latest state WITHOUT the ``value`` column; batch 2
    arrives WITH it (evolve=True, the default) and widens the cube —
    generation 2's manifest records the new authoritative read schema,
    and batch-1-era parquet files (which physically lack the column)
    read back as typed NULLs through the manifest-schema'd scan
    (engine.py `_manifest_schema`/`_align_incoming`/`reader.schema`).
    The hash check vs the DuckDB twin (explicit NULL back-fill) value-
    verifies that read path, not just unit-tests it. Because the two
    batches hash over different column sets, every overlapping oid is
    closed-and-reinserted — the twin mirrors that exactly."""
    import tempfile

    _utc(spark)
    from metrique_spark.engine import Engine

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())

    def latest(df: DataFrame, cols: list) -> DataFrame:
        snap = (df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("user_id").alias("_oid"), *cols,
                        F.col("ts").alias("_start")))
        return stamp(snap)

    cut = F.lit("2024-01-16").cast("timestamp")
    wh = os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                      "upsert_ev_" + os.path.basename(
                          os.path.normpath(sf_dir)))
    eng = Engine(spark, warehouse=wh, oid_buckets=4,
                 time_partition="month")
    if eng.exists("state_ev"):
        eng.drop("state_ev")
    eng.upsert("state_ev", latest(ev.where(F.col("ts") < cut),
                                  ["event_type"]), stamped=True)
    eng.upsert("state_ev", latest(ev.where(F.col("ts") >= cut),
                                  ["event_type", "value"]), stamped=True)
    return eng.find("state_ev", date="~").select(
        "_oid", "event_type", "value", "_start", "_end")


def upsert_history_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """history import (autosnap=False, reference sqlalchemy.py:955-963):
    every stored version of the incoming oids is dropped, then the supplied
    full history is unioned in — exercised as replacing one third of the
    users' histories in a truncated version table."""
    _utc(spark)
    from metrique_spark import upsert as ups

    v = _versions(spark, sf_dir)
    table = v.where(F.col("_start") < F.lit("2024-01-16").cast("timestamp"))
    incoming = v.where(F.col("_oid") % 3 == 0)
    return ups.history_replace(table, incoming)


def tmp_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join (SURVEY §2.6 temporal join pattern): each purchase event
    picks up the user's latest signup/error state at-or-before its time.
    Union+window implementation — one shuffle, no range explosion."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    states = ev.where(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        F.col("ts").alias("state_ts"),
        F.col("value").alias("state_value"),
    )
    out = temporal.asof_join(
        purchases, states, on="user_id", left_ts="ts", right_ts="state_ts",
        payload=["state_ts", "state_value"],
    )
    return out.select("event_id", "user_id", "ts", "state_ts", "state_value")


def events_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event correlation (stream-stream-join twin in batch mode): every
    purchase attributed to the same user's clicks within the prior 30
    minutes."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    from metrique_spark.streaming.events import correlate_events

    return correlate_events(ev, "click", "purchase", within="30 minutes")


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gap-based sessionization via built-in session_window (30-min gap);
    value sums decimal-exact for oracle parity."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def q_rollup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over orders (beyond-reference relational
    surface, SURVEY §2.6)."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("total"),
        )
    )


def activity_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """activity-history reconstruction (reference generic.py:106-199):
    rebuild per-user version history from a synthesized field-level
    changelog of the events table. The invariant checked by the oracle:
    replaying the changelog backwards from the final state must reproduce
    exactly the lead()-window versions view."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # creation time = min(ts) over the same user partition the row_number
    # sorts — one window pass, no separate groupBy + join back
    docs = (
        ev.select(
            "user_id", "event_type",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc())
            ).alias("__rn"),
            F.min("ts").over(Window.partitionBy("user_id")).alias("created"),
        )
        .where(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("_oid"),
            F.col("event_type").alias("status"),
            "created",
            F.lit("2024-03-01").cast("timestamp").alias("_start"),
            F.lit(None).cast("timestamp").alias("_end"),
        )
    )
    acts = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.col("user_id").alias("_oid"),
            F.col("ts").alias("when"),
            F.lit("status").alias("field"),
            F.col("prev").alias("removed"),
            F.col("event_type").alias("added"),
        )
    )
    from metrique_spark.operators.activity import activity_import

    out = activity_import(docs, acts, fields=["status"], cfield="created")
    return out.select("_oid", "status", "_start", "_end")


def tmp_history_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """history + linear-regression forecast past a cutoff (reference
    result.py:197-223) via built-in regr_slope/regr_intercept."""
    v = _versions(spark, sf_dir)
    spine = temporal.date_spine(spark, "2024-01-01", "2024-01-30", "daily")
    out = temporal.history_with_forecast(v, spine, "2024-01-25", days=20,
                                         count_col="n")
    return out.select("_date", F.round(F.col("n"), 2).alias("n"))


_DEPTREE_SQL = """
    SELECT CAST(child AS BIGINT) AS child
    FROM (VALUES (0), (1)) seeds(child)
    UNION
    SELECT CAST(n_nationkey + 100 AS BIGINT) AS child
    FROM nation WHERE n_regionkey IN (0, 1)
    UNION
    SELECT CAST(s_suppkey + 1000 AS BIGINT) AS child
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey IN (0, 1)
"""


def _deptree_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → nations → suppliers parent→children array graph."""
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    regions = n.groupBy("n_regionkey").agg(
        F.collect_list((F.col("n_nationkey") + 100).cast("long")).alias("children")
    ).select(F.col("n_regionkey").cast("long").alias("_oid"), "children")
    nations = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.collect_list((F.col("s_suppkey") + 1000).cast("long")).alias("children"))
        .select((F.col("n_nationkey") + 100).cast("long").alias("_oid"), "children")
    )
    return regions.unionByName(nations)


def deptree_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recursive BFS over a parent→children array field (reference
    sqlalchemy.py:666-692): region → nations → suppliers."""
    _utc(spark)
    graph = _deptree_graph(spark, sf_dir)
    visited = temporal.deptree(graph, "children", [0, 1], level=None, date="~")
    return spark.createDataFrame([(int(x),) for x in visited], schema="child bigint")


def deptree_regions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deptree_df: the SAME closure as deptree_regions, returned as a
    DataFrame with no terminal collect — the distributed BFS's visited
    union IS the result plan (driver_fringe_threshold=1 forces the
    distributed loop so the oracle value-checks that path, not the
    driver-set fallback)."""
    _utc(spark)
    graph = _deptree_graph(spark, sf_dir)
    visited = temporal.deptree_df(graph, "children", [0, 1], level=None,
                                  date="~", driver_fringe_threshold=1)
    return visited.select(F.col("_oid").cast("bigint").alias("child"))


# ---------------------------------------------------------------------------
# training-data pipeline ops (dedup / text / similarity / multimodal / events)


def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document fingerprint + token count (SURVEY extensions; pure column
    expressions, whole-stage codegen)."""
    _utc(spark)
    # NO spread_small_scan here: one regex pass + hash per row is cheap
    # enough that the repartition exchange costs more than the
    # parallelism buys on a single-row-group local scan (measured +48%
    # at sf0.1); real-scale inputs arrive with splits anyway. The heavy
    # shingle/explode/join paths keep the spread.
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        text.fingerprint("text").alias("fp"),
        text.token_count("text").cast("long").alias("n_tokens"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality score, language id, punctuation ratio per document."""
    _utc(spark)
    d = dedup.spread_small_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text"))
    cc = text.char_classes("text")
    return d.select(
        "doc_id",
        text.quality_score("text").alias("quality"),
        text.lang_id("text").alias("lang_pred"),
        F.round(cc["punct"] / F.greatest(cc["total"], F.lit(1)), 4).alias("punct_ratio"),
    )


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-duplicate groups by canonical fingerprint (hash-groupBy), one
    output row per (group, member). The sf0.01 corpus has no exact
    duplicates (the entry used to pass vacuously on 0 == 0 rows), so
    deterministic duplicates are INJECTED per doc_id — every 50th doc is
    re-sent under a shifted id — and the oracle replays the same
    injection in SQL, value-verifying the grouping machinery."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 50 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    groups = dedup.exact_duplicates(d.unionByName(dup))
    return groups.select(
        "fp", F.explode("ids").alias("doc_id"), F.col("n").cast("long").alias("n")
    )


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (dedup.paragraph_dedup,
    Wenzek 2020): split on newline, hash the normalized paragraph, keep
    only each distinct paragraph's first (min doc, min idx) occurrence,
    reassemble. Cross-document duplicates are INJECTED (every 50th doc
    re-sent under a shifted id — the dedup_exact_groups pattern) so the
    drop path is non-vacuous; the oracle replays the same injection and
    rebuild."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 50 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    return dedup.paragraph_dedup(d.unionByName(dup))


def dedup_paragraphs_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """paragraph dedup under boilerplate skew: ONE cookie-banner
    paragraph prepended to EVERY document (the hot-hash case the
    min-struct keeper design absorbs in partial aggregation — a window
    over the hash would sort the whole corpus's banner rows in one
    task). Output: the per-doc keep stats; only doc min(doc_id) keeps
    the banner."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("ACCEPT COOKIES to continue\n"),
                 F.coalesce(F.col("text"), F.lit(""))).alias("text"))
    return dedup.paragraph_dedup(d).select("doc_id", "n_paras", "n_kept")


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact 3-gram-shingle Jaccard near-dup pairs ≥ 0.8 via inverted-index
    self-join (no cartesian)."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, threshold=0.8, n=3)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """same contract through the PREFIX-FILTERED all-pairs path (Bayardo
    et al. 2007): only each doc's rarest (1-t)|d|+1 shingles are indexed
    — exact, and the scale path when boilerplate shingles fatten the
    doc-frequency tail (measured 361s->21s on a 60k adversarial
    corpus)."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(d, threshold=0.8, n=3)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup clustering: jaccard pairs -> connected components (min-label
    propagation) -> per-document keep/drop decisions. ``where is_canonical``
    is the deduplicated corpus."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.8, n=3)
    out = dedup.canonical_docs(d, pairs)
    return out.select("doc_id", "component_id", "is_canonical")


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontamination check: 3-gram containment of a holdout slice
    (doc_id % 7 == 0) against the rest of the corpus as training data —
    max containment + best-matching train doc per holdout doc."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    holdout = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    out = dedup.containment_scores(train, holdout, n=3)
    return out.select("doc_id", "max_containment",
                      F.col("train_id").cast("long").alias("train_id"))


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """internal-repetition quality signals (Gopher-rule family): top/dup
    bigram fractions per document — boilerplate and spam detectors."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return text.repetition_stats(d, n=2).select(
        "doc_id", "top_ngram_frac", "dup_ngram_frac",
        F.col("n_ngrams").cast("long").alias("n_ngrams"))


def text_chunks_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunking + sequence packing: 64-token chunks per document, packed
    into 256-token training bins by contiguous fill within deterministic
    pack groups."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    chunks = text.chunk_documents(d, chunk_tokens=64)
    packed = text.pack_chunks(chunks, budget=256, n_groups=32)
    return packed.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text", F.col("n_tokens").cast("long").alias("n_tokens"),
        "pack_group", "bin_idx")


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (corpus hygiene): deterministic synthetic emails/IPs are
    injected per doc_id, then redacted — the oracle replays injection +
    redaction in SQL, so the machinery is value-verified, not no-op'd."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        ).alias("text"),
    )
    out = text.redact_pii(injected, kinds=("email", "ipv4"))
    return out.select(
        "doc_id",
        F.md5("text_redacted").alias("redacted_md5"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
    )


def text_pii_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated payment-card redaction (text.redact_card_numbers):
    candidate digit spans pass the Luhn checksum before redaction —
    invalid lookalikes stay untouched, the precision guard a plain
    regex scrub lacks. Every doc gets one known-valid card injected
    plus a 13-digit zero-padded doc_id run whose Luhn validity VARIES
    per doc (~10% pass), so the checksum arithmetic itself is
    value-verified; the oracle replays injection, checksum, and the
    ordered literal-replace fold."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" pay 4111-1111-1111-1111 ref "),
            F.lpad(F.col("doc_id").cast("string"), 13, "0"),
        ).alias("text"),
    )
    out = text.redact_card_numbers(injected)
    return out.select(
        "doc_id",
        F.col("n_card_candidates").cast("long").alias("n_card_candidates"),
        F.col("n_cards").cast("long").alias("n_cards"),
        F.md5("text_redacted").alias("redacted_md5"),
    )


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language data-card rollup: volume, token mass, mean quality,
    exact-dup counts — one aggregation pass over the corpus."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    out = text.corpus_stats(d)
    return out.select(
        F.col("stratum").alias("lang"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens", "avg_quality",
        F.col("n_unique_fp").cast("long").alias("n_unique_fp"),
        "n_exact_dups")


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic hash-based stratified sampling (language rebalance:
    keep 25% of en, 100% of zh, 50% of everything else) — pure scan-stage
    predicate, zero shuffle, rerun-stable and engine-portable (md5)."""
    _utc(spark)
    from metrique_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        d, "lang", {"en": 0.25, "zh": 1.0}, key_col="doc_id",
        default_fraction=0.5)
    return out.select("doc_id", "lang")


def sample_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rebalance the corpus to a target language mixture (en 40%, de/fr/es
    20% each): largest total N every stratum can supply, exact per-stratum
    quota selection by hash order — deterministic and engine-portable."""
    _utc(spark)
    from metrique_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    out = sampling.mix_corpus(
        d, "lang", {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2},
        key_col="doc_id")
    return out.select("doc_id", "lang")


def sample_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch-aware source mixing (sampling.epoch_mix): repeat factors
    per source — src0 at 2.5 epochs (every doc twice + a deterministic
    half by hash gets a third copy), src1 at 0.4 (deterministic
    downsample), unlisted sources pass through at 1 — the LLaMA/DoReMi
    repeat-weighting side of corpus mixing. Pure scan-stage arithmetic:
    CASE chain + explode(sequence), no shuffle, no count job. The
    oracle replays thresholds and copy expansion with unnest(range)."""
    _utc(spark)
    from metrique_spark.functions import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = sampling.epoch_mix(d, "source", {"src0": 2.5, "src1": 0.4},
                             key_col="doc_id")
    return out.select("doc_id", "source",
                      F.col("copy").cast("long").alias("copy"))


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality-first selection under a total token budget: keep the
    best-quality docs while the running token sum stays ≤ 12000 —
    band-partitioned prefix locate, so only the boundary quality band
    pays a window sort."""
    _utc(spark)
    from metrique_spark.functions import sampling, text

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        text.quality_score("text").alias("quality"),
        text.token_count("text").cast("long").alias("n_tokens"),
    )
    return sampling.select_by_token_budget(
        scored, budget=12_000, quality_col="quality",
        token_col="n_tokens", key_col="doc_id")


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temperature-based language rebalancing (sampling.temperature_mix,
    alpha=0.5, total=300): quotas ∝ sqrt(n_lang) flatten the en-heavy
    head toward the tail — mC4/XLM-R style, no hand-written fractions.
    Decimal-quantized denominator + 9dp weights keep the quota
    arithmetic engine-exact."""
    _utc(spark)
    from metrique_spark.functions.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(d, "lang", total=300, alpha=0.5).select(
        "doc_id", "lang")


def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic per-source volume cap (sampling.cap_per_group):
    keep each source's first 10 docs in (md5-bucket, id) order — the
    per-domain dominance guard, distributed via the hash-range ranking
    primitive (no single-task group sort)."""
    _utc(spark)
    from metrique_spark.functions.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", cap=10).select("doc_id", "source")


def sample_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic hash-range sharding into 8 training shards with a
    stable within-shard order — the final global-shuffle step before
    writing a training corpus; assignment is a pure scan-stage CASE chain
    over md5 hex thresholds (portable, zero shuffle), the rank one
    window per shard."""
    _utc(spark)
    from metrique_spark.functions import sampling

    d = _t(spark, sf_dir, "documents")
    assigned = d.select(
        "doc_id",
        sampling.shard_id(F.col("doc_id"), 8).cast("long").alias("shard"))
    # within-shard rank via the distributed hash-rank helper — a plain
    # window PARTITION BY shard would sort corpus/8 rows in one task
    ranked = sampling.hash_ranked_within_strata(
        assigned, "shard", "doc_id", rank_col="rank")
    return ranked.select("doc_id", "shard",
                         F.col("rank").cast("long").alias("rank"))


def text_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus token frequency table (vocabulary/BPE construction input):
    occurrences + document frequency per token, min_count=5."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    out = text.token_frequencies(d, min_count=5)
    return out.select("token", F.col("count").cast("long").alias("count"),
                      F.col("doc_freq").cast("long").alias("doc_freq"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental dedup: new batch (doc_id % 10 == 0) against the LSH
    index of the already-ingested corpus (the rest) — only the batch is
    signed, corpus text is tokenized only for verified candidates."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    batch = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    # persist the index: the incremental contract is index-once/probe-many
    # — a bench's repeat run (and any real session probing several
    # batches) must pay corpus signing once, not per probe
    from pyspark import StorageLevel

    idx = dedup.minhash_index(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    # caps disabled for the parity gate: the oracle below is exact
    # all-pairs Jaccard, which models neither the hot-bucket drop nor the
    # top-K-candidates cut — with caps on, a data refresh that produced a
    # >cap cluster would fail the gate without any code bug. (The LSH
    # band recall itself remains unmodeled: at 64 hashes / 16 bands a
    # 0.8-jaccard pair is missed with p ≈ 2e-4 — accepted, deterministic
    # on the gate corpus.)
    out = dedup.dedup_against_index(batch, idx, corpus, threshold=0.8,
                                    max_band_bucket=None,
                                    max_candidates_per_doc=None)
    return out.select("doc_id", F.col("dup_of").cast("long").alias("dup_of"),
                      "jaccard")


def text_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language quality quantiles (p25/p50/p75/p95) for filter
    threshold calibration — exact type-7 interpolated quantiles computed
    distributively (rank + floor/ceil join), never a per-group value
    buffer."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    scored = d.select("lang", text.quality_score("text").alias("quality"))
    return text.stratum_quantiles(scored, "lang", "quality")


def _skewed_lang(d):
    """Skew-stress stratum: collapse 90% of rows (doc_id % 10 != 0) into
    'en' so one stratum dominates — the distribution that serialized the
    round-4 per-stratum windows onto a single task. Bench + parity-gate
    coverage for the distributed per-stratum selection."""
    return d.withColumn(
        "lang", F.when(F.col("doc_id") % 10 == 0, F.col("lang"))
                 .otherwise(F.lit("en")))


def sample_mix_corpus_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture rebalance under adversarial stratum skew (one stratum holds
    ~90% of the corpus): exact per-stratum quota selection must spread the
    fat stratum across hash-range partitions instead of sorting it in one
    task."""
    _utc(spark)
    from metrique_spark.functions import sampling

    d = _skewed_lang(_t(spark, sf_dir, "documents"))
    out = sampling.mix_corpus(
        d, "lang", {"en": 0.8, "de": 0.1, "fr": 0.1}, key_col="doc_id")
    return out.select("doc_id", "lang")


def text_quality_quantiles_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-stratum exact quantiles under adversarial stratum skew — the
    ranking must range-partition the 90% stratum rather than externally
    sort it on one task."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _skewed_lang(_t(spark, sf_dir, "documents"))
    scored = d.select("lang", text.quality_score("text").alias("quality"))
    return text.stratum_quantiles(scored, "lang", "quality")


def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-substring duplication signals: 16-token window fingerprints,
    per-doc count/fraction of spans shared with other docs — the
    long-window method that catches boilerplate and partial overlap
    whole-doc Jaccard misses."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.duplicate_window_stats(d, window=16)


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates (64 hashes / 16 bands over 3-gram shingles)
    verified by exact Jaccard ≥ 0.8. Hot-bucket cap disabled for the
    parity gate (same reasoning as dedup_incremental: the oracle is
    exact-recall LSH and the gate corpus has no template clusters); the
    production default keeps the cap, and the streaming sink always
    passes one."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(d, threshold=0.8, shingle_n=3,
                                     max_band_bucket=None)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, banded) — signature folding is
    the one Arrow-batched UDF step."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(d, max_hamming=3)


def dedup_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-SimHash near-dup pairs (60-bit md5-derived signature,
    hamming ≤ 3) — the cross-engine-verifiable twin of
    dedup_simhash_pairs: pure column expressions on the Spark side, so
    DuckDB reproduces the signatures bit-for-bit and the driver gets a
    full value-hash check for the simhash family."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_md5_near_duplicates(d, max_hamming=3)


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact brute-force cosine top-5 for 10 query vectors (broadcast query
    side, JVM-side dot products)."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.cosine_topk(e, q, k=5)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5 (scale path: probes 4/16 lists) on
    the deterministic replayable coarse stage (similarity.
    ivf_topk_rounded — md5-seeded decimal-exact k-means, rounded-cosine
    routing and probe selection, the ivfpq pipeline minus PQ). The
    oracle replays coarse training + routing + probe selection + raw-
    vector scoring as chained CTEs, so the approximate result itself is
    value-checked; recall vs exact top-k is pinned separately in
    tests/test_similarity.py."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_topk_rounded(e, q, k=5, nlist=16, nprobe=4,
                                       coarse_iters=1)


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucketed k-NN JOIN between two large embedding tables (no broadcast
    of either side): odd vec_ids query the even-vec_id corpus, top-3 by
    cosine. Exact mode (nprobe=nlist) keeps the brute-force oracle valid;
    the scale config probes nprobe<nlist buckets."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    left = e.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 200)
    right = e.where(F.col("vec_id") % 2 == 0)
    # n_rows: parquet-footer upper bound on left+right — skips the
    # skew-guard probe job (the footer total bounds any filtered subset)
    from metrique_spark.sources.files import parquet_row_count

    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_knn_join(left, right, k=3, nlist=4, nprobe=4,
                                   n_rows=n)


def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """majority-vote kNN classification: odd vec_ids predicted from the 5
    nearest even-vec_id labeled neighbors (exact mode so the brute-force
    SQL oracle is a value check) — the standard embedding-quality eval."""
    _utc(spark)
    from metrique_spark.functions.similarity import knn_classify
    from metrique_spark.sources.files import parquet_row_count

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 200)
    corpus = e.where(F.col("vec_id") % 2 == 0)
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return knn_classify(queries, corpus, k=5, nlist=4, nprobe=4, n_rows=n) \
        .select("query_id", F.col("pred_label").cast("long").alias("pred_label"),
                "votes")


def sim_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-quality eval as one number: kNN label-vote predictions
    for the odd vectors against their TRUE labels — per-label precision
    rollup (n_queries, n_correct, accuracy)."""
    _utc(spark)
    from metrique_spark.functions.similarity import knn_classify
    from metrique_spark.sources.files import parquet_row_count

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 200)
    corpus = e.where(F.col("vec_id") % 2 == 0)
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    pred = knn_classify(queries, corpus, k=5, nlist=4, nprobe=4, n_rows=n)
    truth = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("label").alias("true_label"))
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(F.count("*").cast("long").alias("n_queries"),
             F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1)
                   .otherwise(0)).cast("long").alias("n_correct"))
        .withColumn("accuracy",
                    F.round(F.col("n_correct") / F.col("n_queries"), 4))
    )


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product-quantization ANN (similarity.pq_train + quantized_topk
    kind "pq"; Jégou 2011): 16 subspaces × 16 L2 codewords (md5-seeded deterministic
    Lloyd, rounded-distance argmin, decimal-exact means), corpus scored
    through its 16 codes alone by ADC lookup tables. Approximate by
    construction — the oracle replays the IDENTICAL training + encode +
    ADC computation as chained CTEs, so value-parity is exact even
    though the neighbors are approximate; recall is pinned separately
    (the synthetic corpus is near-random, PQ's worst case)."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_train(e, m=16, k=16, iters=1)
    q = e.where(F.col("vec_id") < 10)
    return similarity.quantized_topk(e, q, "pq", topk=5, model=books)


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantized cosine top-5 (similarity.quantized_topk
    kind "sq8"; the FAISS-SQ8 compression scheme): per-dimension
    [min,max] affine codes, vectors reconstructed on the fly below the
    query join. The oracle
    replays train + encode + reconstruction + scoring exactly (exact
    extrema, pinned IEEE expression order), so the approximate result
    itself is value-checked; recall vs exact is pinned in tests."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.quantized_topk(e, q, "sq8", topk=5)


def sim_ivfsq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composed IVF×SQ8 index (similarity.quantized_topk kind "ivfsq8";
    the FAISS "IVF,SQ8" layout): deterministic coarse k-means routes vectors to 8
    lists, each query probes its 2 nearest and scores ONLY those lists'
    vectors through their 8-bit scalar codes — coarse pruning × cheap
    near-exact compression, the no-training-codebook sibling of
    sim_ivfpq_topk. The oracle replays coarse training, routing, probe
    selection, quantization and reconstruction as chained CTEs."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.quantized_topk(e, q, "ivfsq8", topk=5, nlist=8,
                                     nprobe=2)


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composed IVF-PQ index (similarity.quantized_topk kind "ivfpq";
    Jégou 2011 IVFADC, raw-vector codebooks): deterministic coarse k-means routes vectors
    to 8 lists, each query probes its 2 nearest lists and ADC-scores
    only those lists' vectors through 16 PQ codes — coarse pruning ×
    compression, the standard big-ANN layout. Doubly approximate; the
    oracle replays coarse training, routing, probe selection, PQ
    training, encoding, and ADC as one generated CTE chain, so
    value-parity is exact."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.quantized_topk(e, q, "ivfpq", topk=5, nlist=8,
                                     nprobe=2, m=16, k=16, coarse_iters=1,
                                     iters=1)


def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed Lloyd's k-means (k=8, 2 exact iterations) over the
    embeddings table — the clustering primitive under SemDeDup / IVF.
    Bit-reproducible across engines: md5-seeded init, rounded-sim argmax
    assignment, DECIMAL(38,12) centroid sums (order-independent), so the
    DuckDB oracle replays the identical iteration (similarity.py
    kmeans_fit/kmeans_assign)."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_fit(e, k=8, iters=2)
    return similarity.kmeans_assign(e, cent)


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas 2023): k-means clusters (k=8, 1 exact iteration),
    within-cluster cosine pairs ≥ 0.45, min-id-keeps drop rule. Candidate
    generation is cluster-local (Σ|cluster|² not n²) under the salted
    blocked-matmul memory contract shared with cosine_pairs_bucketed."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(e, threshold=0.45, k=8, iters=1)


def sim_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-cluster rollup of the k-means embedding map (the 'data map'
    reporting surface): size, exact-decimal mean assignment sim, min
    sim. Mean via DECIMAL(18,6) sum — the 6-decimal sims are exact in
    that scale, so the average is partition-order-independent and
    engine-exact."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_fit(e, k=8, iters=2)
    a = similarity.kmeans_assign(e, cent)
    return a.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / F.count("*"), 4).alias("mean_sim"),
        F.min("sim").alias("min_sim"))


def text_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trigram LM quality scores with two-level Stupid Backoff (Brants
    2007): trigram ratio when seen, else alpha x the bigram score, else
    alpha^2 x the unigram/OOV floor — scored cross-corpus (holdout
    doc_id % 7 == 0 under a model trained on the rest) so every backoff
    branch fires. One context order past text_bigram_logprob."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    out = text.trigram_logprob_scores(
        d.where(F.col("doc_id") % 7 == 0),
        train_df=d.where(F.col("doc_id") % 7 != 0))
    return out.select("doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "mean_logprob")


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bigram LM quality scores with Stupid Backoff (Brants 2007): score
    a holdout slice (doc_id % 7 == 0) under a model trained on the REST
    of the corpus — cross-corpus scoring keeps the backoff and OOV-floor
    branches live (self-training would make every observed bigram
    in-model). The context-sensitive step past the unigram proxy."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    out = text.bigram_logprob_scores(
        d.where(F.col("doc_id") % 7 == 0),
        train_df=d.where(F.col("doc_id") % 7 != 0))
    return out.select("doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "mean_logprob")


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: per-doc mean unigram log-probability
    under the corpus's own unigram LM — the quality signal that separates
    fluent text from token soup; two map-side-combinable shuffles."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    out = text.unigram_logprob_scores(d)
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      "mean_logprob")


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """control-char strip + whitespace collapse + trim — the
    normalization pass that runs before any content hashing."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    return text.normalize_text(d).select("doc_id", "norm_text",
                                         "n_changed_chars")


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winnowing fingerprints (Schleimer et al. 2003 / MOSS): min hash of
    each window of consecutive 5-gram hashes — guarantees any >=8-token
    match between docs shares a fingerprint, at ~2/(w+1) density."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    return text.winnowed_fingerprints(d, k=5, window=4)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel conversion view -> click -> purchase: users whose first
    click follows their first view, and first purchase follows that
    click — every stage a per-user min aggregate joined on the user id,
    no per-user ordered replay."""
    _utc(spark)
    from metrique_spark.streaming.events import funnel

    e = _t(spark, sf_dir, "events")
    return funnel(e, steps=("view", "click", "purchase"))


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-order Markov event-transition matrix: per-user chronological
    lead() pairs -> (from_type, to_type) counts + per-source
    probabilities — the path-analysis table."""
    _utc(spark)
    from metrique_spark.streaming.events import event_transitions

    e = _t(spark, sf_dir, "events")
    return event_transitions(e)


def text_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subword (BPE-style) token-count estimate per document: GPT-2-shape
    regex pre-tokenization (letter runs / digits / punct runs), letter
    runs charged ceil(len/4) — the budget-planning count that avoids a
    real tokenizer pass over the corpus."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_words"),
        text.bpe_token_estimate("text").alias("est_bpe_tokens"),
    )


def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae 2021 A1.1): word-count bounds,
    mean-word-length window, alpha/symbol/bullet/ellipsis fractions,
    stop-word presence — per-doc signals plus the combined pass flag."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.gopher_quality_flags(d)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed BPE merge learning (bpe.py, Sennrich 2016): 8 merge
    rules learned over the frequency-weighted type vocabulary — corpus
    touched once, each iteration a map-only re-segmentation (rule
    literals in a higher-order fold) plus one combinable pair-count
    shuffle and a 1-row argmax collect. Exact integer counts +
    (count desc, lhs, rhs) tie-break make the trajectory engine-exact;
    the oracle replays all 8 iterations with list_reduce."""
    _utc(spark)
    from metrique_spark.functions.bpe import bpe_learned_merges

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_learned_merges(d, num_merges=8)


def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """learned-BPE token counts per document: train 8 merges, then
    segment via the trained vocabulary (bpe.bpe_segment_with_vocab —
    one token-keyed join against the final type segmentation; the
    chained-fold bpe_segment path is for out-of-vocabulary corpora and
    is pinned equivalent by test). The honest learned companion to
    bpe_token_estimate's regex proxy."""
    _utc(spark)
    from metrique_spark.functions.bpe import (bpe_segment_with_vocab,
                                              bpe_train,
                                              bpe_vocab_from_merges)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(d, num_merges=8)
    # recomputable vocab (driver-literal merges), NOT the trained types
    # table — that one is localCheckpoint-backed and dies with executors
    return bpe_segment_with_vocab(d, bpe_vocab_from_merges(d, merges))


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed deterministic logistic-regression quality classifier
    (classifier.py): hashed-token bucket fractions + a saturating length
    feature, trained by 6 full-batch GD iterations (driver-resident
    weights, decimal-sum gradients, fixed-decimal rounding) to distill
    the Gopher heuristic gate into a linear model — the fastText/CCNet
    quality-filter pattern. The oracle replays the ENTIRE training
    trajectory as a chained-CTE GD unroll, so trained probabilities
    value-match across engines."""
    _utc(spark)
    from metrique_spark.functions.classifier import quality_classifier_scores

    from metrique_spark.functions.dedup import spread_small_scan

    # spread the scan BEFORE the broadcast join: the joined frame keeps
    # the streamed side's partitioning, so a single-row-group source
    # would serialize the tokenize+hash feature build onto one core
    d = spread_small_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text"))
    g = text.gopher_quality_flags(
        d, min_words=20, min_stopword_hits=0).select("doc_id", "passes")
    return quality_classifier_scores(
        d.join(g, "doc_id"), "passes", n_buckets=32, len_cap=50,
        iters=6, lr=25.0)


def text_classifier_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out-of-sample classifier evaluation: train the hashed-token
    logreg on doc_id % 7 != 0, score the held-out % 7 == 0 slice — the
    generalization-measurement twin of text_quality_classifier (same
    pattern as text_bigram_logprob's train/holdout split). The oracle
    replays the split-trained GD trajectory and scores only the
    holdout."""
    _utc(spark)
    from metrique_spark.functions.classifier import quality_classifier_scores

    from metrique_spark.functions.dedup import spread_small_scan

    d = spread_small_scan(  # see text_quality_classifier on why pre-join
        _t(spark, sf_dir, "documents").select("doc_id", "text"))
    g = text.gopher_quality_flags(
        d, min_words=20, min_stopword_hits=0).select("doc_id", "passes")
    return quality_classifier_scores(
        d.join(g, "doc_id"), "passes", n_buckets=32, len_cap=50,
        iters=6, lr=25.0, holdout_mod=7)


def _softmax_langid_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shared scorer for the two softmax entries: K-class lang-id on
    hashed-token features, trained on doc_id % 7 != 0, scored on the
    held-out % 7 == 0 slice. Class ids are the dense rank of the
    language code (broadcast 5-row mapping), so both engines derive
    identical labels from the data."""
    _utc(spark)
    from metrique_spark.functions.classifier import softmax_classifier_scores

    from metrique_spark.functions.dedup import spread_small_scan

    d = spread_small_scan(  # pre-spread: the feature build is narrow
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    # class ids = dense rank of the language code, derived ONCE on the
    # driver (K is tiny by contract) and applied as a CASE expression:
    # one distinct-collect job replaces the former distinct + count +
    # broadcast-join (3 jobs + an exchange in every downstream plan).
    # Rank replicated exactly: ascending with NULLS FIRST by UTF-8 byte
    # order (Spark's string comparator); the former inner join dropped
    # NULL-lang rows (NULL never equi-matches), as does the CASE below.
    vals = sorted((r["lang"] for r in d.select("lang").distinct().collect()),
                  key=lambda v: (v is not None,
                                 v.encode("utf-8") if v is not None else b""))
    k = len(vals)
    cls = None
    for i, v in enumerate(vals):
        if v is None:
            continue
        cond = F.col("lang") == F.lit(v)
        cls = F.when(cond, i) if cls is None else cls.when(cond, i)
    lab = (d.where(cls.isNotNull())
           .select("doc_id", "text", cls.cast("int").alias("cls")))
    return softmax_classifier_scores(
        lab, "cls", k, n_buckets=32, len_cap=50, iters=4, lr=25.0,
        holdout_mod=7)


def text_softmax_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-class softmax lang-id classifier (classifier.py
    train_softmax): the K-class generalization of the binary logreg —
    driver-resident K×(B+1) weights, map-only scoring passes, ONE
    (class, dimension)-keyed combinable gradient shuffle per iteration,
    max-shifted decimal-summed softmax so probabilities replay
    bit-identically. The oracle unrolls the full training trajectory as
    chained CTEs and scores the holdout."""
    return _softmax_langid_scored(spark, sf_dir)


def text_softmax_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-class evaluation rollup of the holdout softmax scores
    (classifier.py softmax_eval): support / correct / accuracy per TRUE
    class — the per-class quality view a language router needs (macro
    accuracy hides a collapsed minority class)."""
    from metrique_spark.functions.classifier import softmax_eval

    return softmax_eval(_softmax_langid_scored(spark, sf_dir))


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped end-to-end curation decision table (curation.py
    curate_corpus): Gopher gate (word bounds 20..100k; the English
    stop-word rule is disabled — the corpus is multilingual) + unigram-LM
    fluency terciles per language (head/middle/tail) + exact-dup
    canonical selection, one keep verdict per doc. Exact duplicates are
    INJECTED (every 50th doc re-sent under a shifted id — the
    dedup_exact_groups pattern) so is_canonical is non-vacuous; the
    oracle replays the same injection."""
    _utc(spark)
    from metrique_spark.functions.curation import curate_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dup = d.where(F.col("doc_id") % 50 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang")
    return curate_corpus(d.unionByName(dup), min_words=20,
                         min_stopword_hits=0)


def events_error_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling-z-score error-rate anomalies per hourly window (trailing
    6-window mean/stddev, z>2 flags) — the aggregate collapses to one
    row per time window before the rolling stats."""
    _utc(spark)
    from metrique_spark.streaming.events import error_rate_anomalies

    e = _t(spark, sf_dir, "events")
    return error_rate_anomalies(e, window="1 hour", lookback=6, z=2.0)


def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hour-of-day seasonal anomaly detection: rolling z per window vs
    the trailing 7 SAME-hour windows (previous days at this hour) —
    catches time-of-day-relative spikes a flat baseline normalizes
    away. Same one-row-per-window scale shape, 24 hod partitions."""
    _utc(spark)
    from metrique_spark.streaming.events import seasonal_error_anomalies

    e = _t(spark, sf_dir, "events")
    return seasonal_error_anomalies(e, window="1 hour", lookback=7, z=2.0)


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weekly cohort retention triangle: users bucketed by the week of
    their first event, distinct active users per (cohort, week offset)."""
    _utc(spark)
    from metrique_spark.streaming.events import retention_cohorts

    e = _t(spark, sf_dir, "events")
    return retention_cohorts(e, period="week")


def text_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language quality-score histogram (20 fixed bins on [0,1]) —
    the data-card distribution view; one scan-stage bin assignment +
    one aggregation."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    scored = d.select("lang", text.quality_score("text").alias("q"))
    return text.value_histogram(scored, "q", stratum_col="lang", bins=20)


def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-substring removal (the application of the window
    fingerprints): every 16-token span also present in a smaller-id doc
    is cut from the token stream; the first occurrence survives verbatim.
    Overlapping spans merge via gaps-and-islands before cutting."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(d, window=16)


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """radius search: every neighbor with cosine >= 0.4 for 10 query
    vectors — a zero-shuffle broadcast scan (no top-k window)."""
    _utc(spark)
    from metrique_spark.functions.similarity import cosine_range_search

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_range_search(e, q, min_sim=0.4)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-duplicate pairs (exact, ≥ 0.45) through the
    SCALE path: IVF-bucketed candidate generation + per-bucket BLAS verify
    (similarity.cosine_pairs_bucketed) — the bucket id is the shuffle key
    and nothing collects to the driver. Run at nprobe=nlist so every pair
    shares a bucket and the result degenerates to exact, which keeps the
    all-pairs SQL oracle a valid value check. The broadcast all-pairs
    variant (cosine_pairs) remains the small-data convenience API."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    from metrique_spark.sources.files import parquet_row_count

    # footer-metadata row bound: the skew guard decides salting with zero
    # extra Spark jobs
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_pairs_bucketed(e, threshold=0.45, nlist=2,
                                            nprobe=2, n_rows=n)


def sim_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe = nlist — degenerates to exact search, which makes
    the ENTIRE inverted-file pipeline (deterministic centroid sampling,
    bucket assignment, probe ranking, per-bucket scoring, global top-k)
    value-checkable against the brute-force oracle. The partial-probe
    entry (sim_ivf_topk) stays rows-only; recall quality is pinned in
    tests/test_similarity.py."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return similarity.ivf_topk(e, q, k=5, nlist=16, nprobe=16)


def _index_dir(sf_dir: str, name: str) -> str:
    """Stable per-(corpus, index-kind) path under the tmp dir for the
    index-once/probe-many entries — the first call builds, later calls
    (and a bench's second timed run) pay only the probe. The path is
    keyed by the corpus FILE's identity (mtime+size fingerprint), not
    just the scale-factor name: regenerated test data gets a fresh
    directory instead of silently serving neighbors from a stale index
    (the sidecar would otherwise look perfectly committed). Reuse is
    safe because training/encode are deterministic — a rebuild of the
    same bytes is value-identical."""
    import tempfile

    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
        fp = f"{st.st_mtime_ns:x}_{st.st_size:x}"
    except OSError:
        fp = "nofp"
    return os.path.join(tempfile.gettempdir(), "metrique_spark_entry",
                        f"{name}_{base}_{fp}")


def sim_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """storage-backed PQ: train + encode ONCE into a persisted index
    (codes parquet + codebook sidecar, similarity.write_quantized_index),
    then ADC-probe the stored codes — the index-once/search-many path
    the in-plan sim_pq_topk (which retrains per call) is not. Identical
    params to sim_pq_topk, so the same training+encode+ADC SQL replay
    value-checks the STORED index content end-to-end."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    path = _index_dir(sf_dir, "pqidx_m16k16i1")
    try:
        return similarity.quantized_topk_indexed(spark, path, q, topk=5)
    except ValueError:
        similarity.write_quantized_index(e, path, "pq", m=16, k=16, iters=1)
        return similarity.quantized_topk_indexed(spark, path, q, topk=5)


def sim_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """storage-backed IVF-PQ: coarse centroids + PQ codebooks in the
    sidecar, codes parquet PARTITIONED BY coarse cluster
    (similarity.write_quantized_index kind "ivfpq") — a probe's cluster
    equi-join prunes to the probed directories, so the stored search
    pays ~nprobe/nlist of the code scan and none of the training/encode.
    Same params as sim_ivfpq_topk; the composed SQL replay value-checks
    the stored index content."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    path = _index_dir(sf_dir, "ivfpqidx_n8p2m16k16")
    try:
        return similarity.quantized_topk_indexed(spark, path, q, topk=5,
                                                 nprobe=2)
    except ValueError:
        similarity.write_quantized_index(e, path, "ivfpq", nlist=8, m=16,
                                         k=16)
        return similarity.quantized_topk_indexed(spark, path, q, topk=5,
                                                 nprobe=2)


def sim_sq8_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """storage-backed SQ8: encode the corpus ONCE into a persisted 8-bit
    code table (similarity.write_quantized_index kind "sq8"), probe the
    stored codes — 8x smaller scan payload, training+encode paid at
    write time. Same
    params as sim_sq8_topk, so the same train+encode+reconstruct replay
    value-checks the stored index content."""
    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    path = _index_dir(sf_dir, "sq8idx")
    try:
        return similarity.quantized_topk_indexed(spark, path, q, topk=5)
    except ValueError:
        similarity.write_quantized_index(e, path, "sq8")
        return similarity.quantized_topk_indexed(spark, path, q, topk=5)


def sim_index_refreshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the ENGINE-MANAGED vector-index lifecycle, value-checked end to
    end: upsert the embeddings corpus into a warehouse cube, build an
    IVF-PQ index over it (Engine.build_vector_index — trains coarse
    centroids + codebooks on the ORIGINAL corpus and freezes them),
    upsert a batch of changed vectors (ids 10-14 negated) and brand-new
    ids (100015-100019, halved copies of ids 15-19) through the
    temporal merge, refresh_vector_index (diff against the index's own
    __vh fingerprints -> partition-granular remove + frozen-model
    encode-append, engine.py refresh_vector_index), then vector_search.
    The DuckDB twin trains on the original corpus and encodes/assigns
    the FINAL live corpus against those frozen parameters — so the
    refresh's remove/append/marker path is hash-checked, not just
    unit-tested. State persists in a corpus-fingerprinted tmp warehouse
    (first call builds; reruns pay only the probe); any inconsistent
    leftover state rebuilds from scratch."""
    import shutil

    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = (e.where(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("_oid"),
                 F.col("embedding").cast("array<double>")
                 .alias("embedding")))
    wh = _index_dir(sf_dir, "engwh_refresh")
    eng = Engine(spark, warehouse=wh)
    try:
        return eng.vector_search("emb", "rx", q, k=5, nprobe=2)
    except ValueError:
        pass  # not built yet / stale leftover — (re)build below
    shutil.rmtree(wh, ignore_errors=True)
    eng = Engine(spark, warehouse=wh)
    emb = F.col("embedding").cast("array<double>")
    base = stamp(
        e.select(F.col("vec_id").alias("oid"), emb.alias("embedding"),
                 "label"),
        oid="oid", start=F.to_timestamp(F.lit("2014-01-01")),
        sort_arrays=False)
    eng.upsert("emb", base, stamped=True)
    eng.build_vector_index("emb", "rx", vec_col="embedding",
                           kind="ivfpq", nlist=8, m=16, k=16)
    changed = (e.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
               .select(F.col("vec_id").alias("oid"),
                       F.transform(emb, lambda x: -x).alias("embedding"),
                       "label"))
    new = (e.where((F.col("vec_id") >= 15) & (F.col("vec_id") < 20))
           .select((F.col("vec_id") + 100000).alias("oid"),
                   F.transform(emb, lambda x: x * 0.5).alias("embedding"),
                   "label"))
    batch = stamp(changed.unionByName(new), oid="oid",
                  start=F.to_timestamp(F.lit("2014-02-01")),
                  sort_arrays=False)
    eng.upsert("emb", batch, stamped=True)
    eng.refresh_vector_index("emb", "rx")
    return eng.vector_search("emb", "rx", q, k=5, nprobe=2)


def sim_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """storage-backed ANN: write the IVF index (bucket-partitioned
    vectors + centroids) to disk, read it back, search it at full probe —
    the index-once/search-many path, value-checked against the same
    brute-force oracle as sim_ivf_fullprobe. Probes on the partitioned
    layout prune at the directory level."""
    import tempfile

    _utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    path = os.path.join(tempfile.gettempdir(),
                        "metrique_spark_entry", "ivf_index")
    similarity.write_ivf_index(e, path, nlist=16)
    assigned, centroids = similarity.read_ivf_index(spark, path)
    return similarity.ivf_topk_indexed(assigned, centroids, q, k=5,
                                       nprobe=16)


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal plumbing: opaque binary column + typed metadata (byte
    length, content digest) — the decode step itself is stubbed per
    functions/multimodal.py."""
    _utc(spark)
    d = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("byte_len"),
        F.sha2(blob, 256).alias("digest"),
    )


def mm_probe_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-format probing (multimodal.probe_media): genuine
    PNG and GIF headers are synthesized JVM-side (hex → to_binary, the
    actual byte layouts: PNG big-endian IHDR, GIF little-endian screen
    descriptor) with per-doc dimensions, plus md5-byte garbage rows for
    the unknown path — the mapInPandas parser reads the bytes back with
    no image library, and the oracle checks the parsed dimensions
    against the injected arithmetic. This is the decode-free metadata
    pass a media pipeline runs before any pixel work."""
    _utc(spark)
    from metrique_spark.functions import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 300 + 16).cast("int")
    h = (F.col("doc_id") % 200 + 16).cast("int")
    png_hex = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"),
        F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0"))
    gif_hex = F.concat(
        F.lit("474946383961"),
        F.lpad(F.hex(w % 256), 2, "0"),
        F.lpad(F.hex(F.floor(w / 256).cast("int")), 2, "0"),
        F.lpad(F.hex(h % 256), 2, "0"),
        F.lpad(F.hex(F.floor(h / 256).cast("int")), 2, "0"))
    payload = (
        # garbage rows: 0x00-prefixed md5 bytes — the leading NUL can
        # never match a container magic, so the probe's NULL verdict is
        # deterministic (raw md5 could start with the JPEG SOI marker
        # at ~1/65536 per doc and flip the gate nondeterministically)
        F.when(F.col("doc_id") % 7 == 0,
               F.to_binary(F.concat(F.lit("00"), F.md5("text")),
                           F.lit("hex")))
        .when(F.col("doc_id") % 2 == 0, F.to_binary(png_hex, F.lit("hex")))
        .otherwise(F.to_binary(gif_hex, F.lit("hex"))))
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.lit("image").alias("kind"),
                     payload.alias("payload"))
    return mm.probe_media(media).select(
        "media_id", "format", "width", "height")


def mm_probe_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE parsing (multimodal.probe_audio): byte-exact WAV
    headers (chunked layout, little-endian fmt descriptor) synthesized
    JVM-side with per-doc channels/rate/size, plus garbage rows — the
    mapInPandas parser walks the chunk list with no audio library and
    the oracle checks channels/rate/bits/duration against the injected
    arithmetic."""
    _utc(spark)
    from metrique_spark.functions import multimodal as mm

    d = _t(spark, sf_dir, "documents")

    def le(v, n):
        return F.concat(*[
            F.lpad(F.hex(F.floor(v / F.lit(256 ** i)).cast("long") % 256),
                   2, "0")
            for i in range(n)])

    ch = (F.col("doc_id") % 2 + 1).cast("long")
    rate = (F.when(F.col("doc_id") % 3 == 0, 8000)
            .when(F.col("doc_id") % 3 == 1, 16000)
            .otherwise(44100)).cast("long")
    byte_rate = rate * ch * 2
    block = ch * 2
    dsz = ((F.col("doc_id") % 1000 + 1) * 128).cast("long")
    wav_hex = F.concat(
        F.lit("52494646"), le(dsz + 36, 4), F.lit("57415645"),
        F.lit("666d7420"), F.lit("10000000"), F.lit("0100"),
        le(ch, 2), le(rate, 4), le(byte_rate, 4), le(block, 2),
        F.lit("1000"),
        F.lit("64617461"), le(dsz, 4))
    payload = (
        F.when(F.col("doc_id") % 7 == 0,
               F.to_binary(F.concat(F.lit("00"), F.md5("text")),
                           F.lit("hex")))
        .otherwise(F.to_binary(wav_hex, F.lit("hex"))))
    media = d.select(F.col("doc_id").alias("media_id"),
                     F.lit("audio").alias("kind"),
                     payload.alias("payload"))
    return mm.probe_audio(media).select(
        "media_id", "format", "channels", "sample_rate_hz",
        "bits_per_sample", "duration_ms")


def mm_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal frame sampling e2e: document text bytes stand in for
    video payloads, and the mapInPandas sampler's row expansion (frame
    index, timestamp, digest-stubbed frame bytes) is deterministic enough
    for DuckDB to reproduce bit-for-bit — value-hash coverage for the
    Arrow-batched Python path itself, not just the JVM-side metadata."""
    _utc(spark)
    from metrique_spark.functions import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    fr = mm.sample_frames(media, fps=1.0, max_frames=16)
    return fr.select(
        "media_id", "frame_idx", "ts_sec",
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


def mm_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal resize e2e: document text bytes as image payloads through
    the mapInPandas resize stub (digest-seeded output bytes, size scaled to
    the target area) — like mm_frame_samples, the stub is deterministic
    enough for an exact SQL twin, so the resize Python path is value-hash
    checked too."""
    _utc(spark)
    from metrique_spark.functions import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    out = mm.resize_images(media, 128, 96)
    return out.select(
        "media_id", "width", "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
    )


def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tumbling-window rollup of the events stream (batch-equivalent of the
    streaming path in streaming/events.py)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
    )


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document top-5 TF-IDF keywords (min_df=2): the classic
    keyword extractor for topic balancing / near-dup triage."""
    _utc(spark)
    from metrique_spark.functions import text

    d = _t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, k=5, min_df=2)


def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shuffle-skew diagnostic on events.user_id: the 15 heaviest users
    with exact counts + ppm share — the measurement behind every
    salting decision."""
    _utc(spark)
    from metrique_spark.functions import sampling

    ev = _t(spark, sf_dir, "events")
    return sampling.key_skew_profile(ev, "user_id", top_k=15)


def events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """path analysis: distribution of each user's first 3 event types in
    (ts, event_id) arrival order."""
    _utc(spark)
    from metrique_spark.streaming.events import event_paths

    ev = _t(spark, sf_dir, "events")
    return event_paths(ev, k=3)


def events_paths_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bot-skew-stressed path analysis: ~90% of events remapped to one
    user (the crawler/bot shape). Exercises event_paths' per-(user,
    salt) pre-prune — the dominant user is sorted across salt tasks and
    contributes ≤ k·salts rows to the global window instead of one
    giant sorted task."""
    _utc(spark)
    from metrique_spark.streaming.events import event_paths

    ev = _t(spark, sf_dir, "events").withColumn(
        "user_id",
        F.when(F.col("user_id") % 10 != 0, F.lit(-1))
        .otherwise(F.col("user_id")))
    return event_paths(ev, k=3)


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H-shaped pricing summary."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational (SURVEY §2.6)
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier": q5_local_supplier,
        "q_top_customers_window": q_top_customers_window,
        "q_nations_both": q_nations_both,
        "q_customers_no_orders": q_customers_no_orders,
        "q_priority_rollup": q_priority_rollup,
        # MQL (§2.3/2.4)
        "mql_find_returns": mql_find_returns,
        "mql_regex_priority": mql_regex_priority,
        "mql_array_any": mql_array_any,
        "mql_empty_array": mql_empty_array,
        "mql_distinct_priorities": mql_distinct_priorities,
        "mql_distinct_multi": mql_distinct_multi,
        # temporal (§2.5) + upsert (§2.2) + deptree
        "tmp_current_by_type": tmp_current_by_type,
        "tmp_on_date": tmp_on_date,
        "tmp_date_range_count": tmp_date_range_count,
        "tmp_history_daily": tmp_history_daily,
        "tmp_first_version": tmp_first_version,
        "tmp_last_version": tmp_last_version,
        "tmp_started_after": tmp_started_after,
        "tmp_unfinished": tmp_unfinished,
        "tmp_last_chain": tmp_last_chain,
        "tmp_dfind": tmp_dfind,
        "tmp_dfind_keys": tmp_dfind_keys,
        "tmp_persistent_counts": tmp_persistent_counts,
        "tmp_age": tmp_age,
        "upsert_snapshot": upsert_snapshot,
        "upsert_disk_timepart": upsert_disk_timepart,
        "upsert_compact_tiered": upsert_compact_tiered,
        "upsert_zorder_disk": upsert_zorder_disk,
        "upsert_rebucket_disk": upsert_rebucket_disk,
        "upsert_rebucket_incr": upsert_rebucket_incr,
        "upsert_rebucket_chain": upsert_rebucket_chain,
        "upsert_group_commit": upsert_group_commit,
        "mql_oid_pointlookup": mql_oid_pointlookup,
        "upsert_evolve_disk": upsert_evolve_disk,
        "upsert_history_replace": upsert_history_replace,
        "activity_reconstruct": activity_reconstruct,
        "tmp_history_forecast": tmp_history_forecast,
        "tmp_asof_join": tmp_asof_join,
        "events_sessionize": events_sessionize,
        "events_correlate": events_correlate,
        "q_rollup_status": q_rollup_status,
        "deptree_regions": deptree_regions,
        "deptree_regions_df": deptree_regions_df,
        # pipeline extensions
        "text_fingerprints": text_fingerprints,
        "text_quality": text_quality,
        "dedup_exact_groups": dedup_exact_groups,
        "dedup_paragraphs": dedup_paragraphs,
        "dedup_paragraphs_skew": dedup_paragraphs_skew,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "dedup_jaccard_prefix": dedup_jaccard_prefix,
        "dedup_components": dedup_components,
        "text_contamination": text_contamination,
        "sample_stratified": sample_stratified,
        "sample_mix_corpus": sample_mix_corpus,
        "sample_token_budget": sample_token_budget,
        "sample_shards": sample_shards,
        "sample_cap_per_source": sample_cap_per_source,
        "sample_temperature_mix": sample_temperature_mix,
        "sample_epoch_mix": sample_epoch_mix,
        "text_token_frequencies": text_token_frequencies,
        "text_quality_quantiles": text_quality_quantiles,
        "sample_mix_corpus_skew": sample_mix_corpus_skew,
        "text_quality_quantiles_skew": text_quality_quantiles_skew,
        "sim_knn_classify": sim_knn_classify,
        "sim_range_search": sim_range_search,
        "sim_knn_accuracy": sim_knn_accuracy,
        "sim_kmeans_clusters": sim_kmeans_clusters,
        "sim_pq_topk": sim_pq_topk,
        "sim_sq8_topk": sim_sq8_topk,
        "sim_ivfsq8_topk": sim_ivfsq8_topk,
        "sim_ivfpq_topk": sim_ivfpq_topk,
        "sim_semantic_dedup": sim_semantic_dedup,
        "sim_cluster_summary": sim_cluster_summary,
        "text_unigram_logprob": text_unigram_logprob,
        "text_bigram_logprob": text_bigram_logprob,
        "text_trigram_logprob": text_trigram_logprob,
        "dedup_remove_spans": dedup_remove_spans,
        "text_winnow_fingerprints": text_winnow_fingerprints,
        "text_normalize": text_normalize,
        "events_funnel": events_funnel,
        "events_transitions": events_transitions,
        "text_token_estimate": text_token_estimate,
        "text_gopher_filters": text_gopher_filters,
        "pipeline_curate": pipeline_curate,
        "text_quality_classifier": text_quality_classifier,
        "text_classifier_holdout": text_classifier_holdout,
        "text_softmax_langid": text_softmax_langid,
        "text_softmax_eval": text_softmax_eval,
        "text_bpe_merges": text_bpe_merges,
        "text_bpe_token_counts": text_bpe_token_counts,
        "events_retention": events_retention,
        "events_error_anomalies": events_error_anomalies,
        "events_seasonal_anomalies": events_seasonal_anomalies,
        "text_quality_histogram": text_quality_histogram,
        "text_repetition": text_repetition,
        "text_chunks_packed": text_chunks_packed,
        "text_pii_redaction": text_pii_redaction,
        "text_pii_cards": text_pii_cards,
        "corpus_summary": corpus_summary,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_incremental": dedup_incremental,
        "dedup_substring_windows": dedup_substring_windows,
        # the SimHash family's gate entry is the md5-signature twin
        # below — bit-for-bit reproducible in DuckDB, so it carries a
        # FULL value oracle. The xxhash64-signature variant
        # (dedup_simhash_pairs above in this module) stays the
        # production default in the library with pinned unit tests
        # (tests/test_dedup.py), but has no cross-engine twin by
        # construction and is deliberately NOT a gate entry: every
        # gate/sweep entry should be value-checked, not rows-only.
        "dedup_simhash_md5_pairs": dedup_simhash_md5_pairs,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_ivf_topk": sim_ivf_topk,
        "sim_ivf_fullprobe": sim_ivf_fullprobe,
        "sim_ivf_indexed": sim_ivf_indexed,
        "sim_pq_indexed": sim_pq_indexed,
        "sim_sq8_indexed": sim_sq8_indexed,
        "sim_ivfpq_indexed": sim_ivfpq_indexed,
        "sim_index_refreshed": sim_index_refreshed,
        "sim_knn_join": sim_knn_join,
        "dedup_embedding_pairs": dedup_embedding_pairs,
        "mm_binary_meta": mm_binary_meta,
        "mm_probe_headers": mm_probe_headers,
        "mm_probe_audio": mm_probe_audio,
        "mm_frame_samples": mm_frame_samples,
        "mm_resized": mm_resized,
        "events_daily_rollup": events_daily_rollup,
        "text_tfidf_top_terms": text_tfidf_top_terms,
        "diag_key_skew": diag_key_skew,
        "events_paths": events_paths,
        "events_paths_skew": events_paths_skew,
    }


_UPSERT_SNAPSHOT_ORACLE = """
            WITH s1 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts < TIMESTAMP '2024-01-16')
                WHERE rn = 1
            ), s2 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts >= TIMESTAMP '2024-01-16')
                WHERE rn = 1
            ),
            kept AS (
                SELECT a._oid, a.event_type, a.value, a._start,
                       CAST(NULL AS TIMESTAMP) AS _end
                FROM s1 a LEFT JOIN s2 b ON a._oid = b._oid
                WHERE b._oid IS NULL
                   OR (a.event_type = b.event_type AND a.value = b.value)
            ),
            inserted AS (
                SELECT b._oid, b.event_type, b.value, b._start,
                       CAST(NULL AS TIMESTAMP) AS _end
                FROM s2 b LEFT JOIN s1 a ON a._oid = b._oid
                WHERE a._oid IS NULL
                   OR NOT (a.event_type = b.event_type AND a.value = b.value)
            ),
            closed AS (
                SELECT a._oid, a.event_type, a.value, a._start, b._start AS _end
                FROM s1 a JOIN s2 b ON a._oid = b._oid
                WHERE NOT (a.event_type = b.event_type AND a.value = b.value)
            )
            SELECT * FROM kept
            UNION ALL SELECT * FROM inserted
            UNION ALL SELECT * FROM closed
        
"""


_UPSERT_3WAY_ORACLE = """
            -- pure 3-way sequential snapshot merge (compaction /
            -- clustering on the Spark side is physical-only and must
            -- not change a value)
            WITH s1 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts < TIMESTAMP '2024-01-11')
                WHERE rn = 1
            ), s2 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts >= TIMESTAMP '2024-01-11'
                                    AND ts < TIMESTAMP '2024-01-21')
                WHERE rn = 1
            ), s3 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts >= TIMESTAMP '2024-01-21')
                WHERE rn = 1
            ),
            closed2 AS (
                SELECT a._oid, a.event_type, a.value, a._start,
                       b._start AS _end
                FROM s1 a JOIN s2 b ON a._oid = b._oid
                WHERE NOT (a.event_type = b.event_type AND a.value = b.value)
            ),
            open2 AS (
                SELECT a._oid, a.event_type, a.value, a._start
                FROM s1 a LEFT JOIN s2 b ON a._oid = b._oid
                WHERE b._oid IS NULL
                   OR (a.event_type = b.event_type AND a.value = b.value)
                UNION ALL
                SELECT b._oid, b.event_type, b.value, b._start
                FROM s2 b LEFT JOIN s1 a ON a._oid = b._oid
                WHERE a._oid IS NULL
                   OR NOT (a.event_type = b.event_type AND a.value = b.value)
            ),
            closed3 AS (
                SELECT o._oid, o.event_type, o.value, o._start,
                       c._start AS _end
                FROM open2 o JOIN s3 c ON o._oid = c._oid
                WHERE NOT (o.event_type = c.event_type AND o.value = c.value)
            ),
            open3 AS (
                SELECT o._oid, o.event_type, o.value, o._start
                FROM open2 o LEFT JOIN s3 c ON o._oid = c._oid
                WHERE c._oid IS NULL
                   OR (o.event_type = c.event_type AND o.value = c.value)
                UNION ALL
                SELECT c._oid, c.event_type, c.value, c._start
                FROM s3 c LEFT JOIN open2 o ON o._oid = c._oid
                WHERE o._oid IS NULL
                   OR NOT (o.event_type = c.event_type AND o.value = c.value)
            )
            SELECT _oid, event_type, value, _start,
                   CAST(NULL AS TIMESTAMP) AS _end FROM open3
            UNION ALL SELECT * FROM closed2
            UNION ALL SELECT * FROM closed3
        """


def oracle_sql() -> dict[str, str]:
    money = "CAST(l_extendedprice AS DECIMAL(18,2))"
    disc = "CAST(1.0 - l_discount AS DECIMAL(18,2))"
    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   CAST(round(sum({money}), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum({money} * {disc}), 2) AS DOUBLE) AS sum_disc_price,
                   round(sum(l_quantity) / count(*), 4) AS avg_qty,
                   round(CAST(sum({money}) AS DOUBLE) / count(*), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": f"""
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(round(sum({money} * {disc}), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-06-30'
              AND l_shipdate > TIMESTAMP '1996-06-30'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier": f"""
            SELECT n_name,
                   CAST(round(sum({money} * {disc}), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q_top_customers_window": """
            WITH totals AS (
                SELECT o_custkey,
                       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                           AS total_value
                FROM orders GROUP BY o_custkey
            ), ranked AS (
                SELECT c_mktsegment, c_custkey, total_value,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY total_value DESC, c_custkey) AS rk
                FROM totals JOIN customer ON o_custkey = c_custkey
            )
            SELECT c_mktsegment, c_custkey, total_value, CAST(rk AS BIGINT) AS rk
            FROM ranked WHERE rk <= 3
        """,
        "q_nations_both": """
            SELECT DISTINCT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
            INTERSECT
            SELECT DISTINCT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        """,
        "q_customers_no_orders": """
            SELECT n_name, count(*) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY n_name
        """,
        "q_priority_rollup": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                         / count(*), 4) AS avg_price
            FROM orders GROUP BY o_orderpriority
        """,
        "mql_find_returns": """
            SELECT l_linenumber, l_orderkey, l_quantity, l_shipdate
            FROM lineitem
            WHERE l_returnflag = 'R' AND l_quantity >= 49
              AND l_shipdate > TIMESTAMP '1998-01-01'
        """,
        "mql_regex_priority": """
            SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
            FROM orders
            WHERE regexp_matches(o_orderpriority, '^[12]-')
              AND o_orderstatus IN ('F', 'O') AND o_totalprice > 400000
        """,
        "mql_array_any": """
            SELECT o_custkey AS c_custkey, count(*) AS n_orders
            FROM orders GROUP BY o_custkey
            HAVING bool_or(o_orderpriority = '1-URGENT')
        """,
        "mql_distinct_priorities": """
            SELECT DISTINCT o_orderpriority AS priorities FROM orders
        """,
        "mql_distinct_multi": """
            SELECT DISTINCT value FROM (
                SELECT lang AS value FROM documents
                UNION ALL SELECT source FROM documents
                UNION ALL SELECT lang FROM documents
            ) WHERE value IS NOT NULL
        """,
        "mql_empty_array": """
            SELECT doc_id FROM documents
            WHERE len(regexp_extract_all(lower(text), 'qu[a-z]+')) = 0
        """,
        "tmp_current_by_type": f"""
            WITH v AS ({_V})
            SELECT event_type, count(*) AS n FROM v
            WHERE _end IS NULL GROUP BY event_type
        """,
        "tmp_on_date": f"""
            WITH v AS ({_V})
            SELECT _oid, event_type, _start, _end FROM v
            WHERE _start <= TIMESTAMP '2024-01-15'
              AND (_end > TIMESTAMP '2024-01-15' OR _end IS NULL)
        """,
        "tmp_date_range_count": f"""
            WITH v AS ({_V})
            SELECT event_type, count(*) AS n FROM v
            WHERE _start < TIMESTAMP '2024-01-20'
              AND (_end >= TIMESTAMP '2024-01-10' OR _end IS NULL)
            GROUP BY event_type
        """,
        "tmp_history_daily": f"""
            WITH v AS ({_V}),
            spine AS (
                SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                              TIMESTAMP '2024-01-30',
                                              INTERVAL 1 DAY)) AS _date
            )
            SELECT spine._date, count(v._start) AS n
            FROM spine LEFT JOIN v
              ON v._start <= spine._date AND (v._end > spine._date OR v._end IS NULL)
            GROUP BY spine._date
        """,
        "tmp_first_version": f"""
            WITH v AS ({_V}),
            r AS (SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY _start) AS rn
                  FROM v)
            SELECT _oid, event_type, _start FROM r WHERE rn = 1
        """,
        "tmp_last_version": f"""
            WITH v AS ({_V}),
            r AS (SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY _start DESC) AS rn
                  FROM v)
            SELECT _oid, event_type, _start FROM r WHERE rn = 1
        """,
        "tmp_started_after": f"""
            WITH v AS ({_V}),
            m AS (SELECT *, min(_start) OVER (PARTITION BY _oid) AS first_start FROM v)
            SELECT _oid, event_type, _start FROM m
            WHERE first_start > TIMESTAMP '2024-01-02'
        """,
        "tmp_unfinished": f"""
            WITH v AS (SELECT * FROM ({_V}) WHERE value <= 400),
            m AS (SELECT *, max(CASE WHEN _end IS NULL THEN 1 ELSE 0 END)
                            OVER (PARTITION BY _oid) AS has_open FROM v)
            SELECT _oid, event_type, _start, _end FROM m WHERE has_open = 1
        """,
        "tmp_last_chain": f"""
            WITH v AS (SELECT * FROM ({_V}) WHERE value <= 15),
            g AS (SELECT *, CASE WHEN lag(_end) OVER w IS NULL
                                   OR lag(_end) OVER w = _start THEN 0 ELSE 1 END AS gap
                  FROM v WINDOW w AS (PARTITION BY _oid ORDER BY _start)),
            c AS (SELECT *, sum(gap) OVER (PARTITION BY _oid ORDER BY _start
                                           ROWS UNBOUNDED PRECEDING) AS chain FROM g),
            m AS (SELECT *, max(chain) OVER (PARTITION BY _oid) AS mx FROM c)
            SELECT _oid, event_type, _start, _end FROM m WHERE chain = mx
        """,
        "tmp_dfind": f"""
            WITH v AS ({_V}),
            o AS (SELECT _oid, _start,
                         lag(event_type) OVER (PARTITION BY _oid ORDER BY _start) AS old,
                         event_type AS new,
                         row_number() OVER (PARTITION BY _oid ORDER BY _start) AS rn
                  FROM v)
            SELECT _oid, _start, 'event_type' AS field, old, new
            FROM o WHERE rn > 1 AND old IS DISTINCT FROM new
        """,
        "tmp_dfind_keys": """
            WITH evm AS (
                -- match Spark's microsecond-truncated read of the NANOS ts
                SELECT user_id, event_id, event_type, value,
                       CAST(ts AS TIMESTAMP) AS ts
                FROM events
            ),
            ev1 AS (
                SELECT * FROM evm
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id) = 1
            ),
            v AS (SELECT user_id AS _oid, event_type,
                         CASE WHEN event_type != 'click'
                              THEN CAST(floor(value) AS BIGINT) END AS value,
                         ts AS _start FROM ev1),
            o AS (SELECT _oid, _start,
                         lag(event_type) OVER w AS old_et, event_type AS new_et,
                         lag(value) OVER w AS old_v, value AS new_v,
                         row_number() OVER w AS rn
                  FROM v WINDOW w AS (PARTITION BY _oid ORDER BY _start))
            SELECT _oid, _start, 'event_type' AS field,
                   old_et AS old, new_et AS new,
                   CASE WHEN old_et IS NULL THEN 'added'
                        WHEN new_et IS NULL THEN 'removed'
                        ELSE 'changed' END AS kind
            FROM o WHERE rn > 1 AND old_et IS DISTINCT FROM new_et
            UNION ALL
            SELECT _oid, _start, 'value' AS field,
                   CAST(old_v AS VARCHAR) AS old, CAST(new_v AS VARCHAR) AS new,
                   CASE WHEN old_v IS NULL THEN 'added'
                        WHEN new_v IS NULL THEN 'removed'
                        ELSE 'changed' END AS kind
            FROM o WHERE rn > 1 AND old_v IS DISTINCT FROM new_v
        """,
        "tmp_persistent_counts": f"""
            WITH v AS ({_V}),
            fs AS (SELECT _oid, min(_start) AS first_seen FROM v GROUP BY _oid),
            spine AS (
                SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                              TIMESTAMP '2024-01-30',
                                              INTERVAL 1 DAY)) AS _date
            )
            SELECT spine._date, count(DISTINCT _oid) AS n
            FROM spine LEFT JOIN fs ON fs.first_seen <= spine._date
            GROUP BY spine._date
        """,
        "tmp_age": f"""
            WITH v AS ({_V}),
            m AS (SELECT *, min(_start) OVER (PARTITION BY _oid) AS first_start,
                         row_number() OVER (PARTITION BY _oid ORDER BY _start DESC) AS rn
                  FROM v)
            SELECT _oid, event_type,
                   CAST(floor(epoch(least(coalesce(_end, TIMESTAMP '2024-02-01'),
                                          TIMESTAMP '2024-02-01'))
                              - epoch(first_start)) AS BIGINT) AS age
            FROM m WHERE rn = 1
        """,
        "upsert_snapshot": _UPSERT_SNAPSHOT_ORACLE,
        "upsert_disk_timepart": _UPSERT_SNAPSHOT_ORACLE,
        "upsert_compact_tiered": _UPSERT_3WAY_ORACLE,
        "upsert_zorder_disk": _UPSERT_3WAY_ORACLE,
        "upsert_rebucket_disk": _UPSERT_SNAPSHOT_ORACLE,
        "upsert_rebucket_incr": _UPSERT_SNAPSHOT_ORACLE,
        "upsert_rebucket_chain": _UPSERT_SNAPSHOT_ORACLE,
        "upsert_group_commit": _UPSERT_SNAPSHOT_ORACLE,
        "mql_oid_pointlookup": f"""
            SELECT * FROM ({_UPSERT_SNAPSHOT_ORACLE})
            WHERE _oid IN (1, 7, 11)
        """,
        "upsert_evolve_disk": """
            -- evolution twin: batch 1 has no value column, so every
            -- batch-1-era row reads back with an explicit NULL value
            -- (the typed-null back-fill the manifest schema promises),
            -- and every overlapping oid closes (the content hashes of
            -- the two batches can never match — different column sets)
            WITH s1 AS (
                SELECT user_id AS _oid, event_type, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts < TIMESTAMP '2024-01-16')
                WHERE rn = 1
            ), s2 AS (
                SELECT user_id AS _oid, event_type, value, ts AS _start
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                                   ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE ts >= TIMESTAMP '2024-01-16')
                WHERE rn = 1
            ),
            kept AS (
                SELECT a._oid, a.event_type, CAST(NULL AS DOUBLE) AS value,
                       a._start, CAST(NULL AS TIMESTAMP) AS _end
                FROM s1 a LEFT JOIN s2 b ON a._oid = b._oid
                WHERE b._oid IS NULL
            ),
            closed AS (
                SELECT a._oid, a.event_type, CAST(NULL AS DOUBLE) AS value,
                       a._start, b._start AS _end
                FROM s1 a JOIN s2 b ON a._oid = b._oid
            ),
            inserted AS (
                SELECT _oid, event_type, value, _start,
                       CAST(NULL AS TIMESTAMP) AS _end
                FROM s2
            )
            SELECT * FROM kept
            UNION ALL SELECT * FROM closed
            UNION ALL SELECT * FROM inserted
        """,
        "upsert_history_replace": f"""
            WITH v AS ({_V}),
            tbl AS (SELECT * FROM v WHERE _start < TIMESTAMP '2024-01-16'),
            inc AS (SELECT * FROM v WHERE _oid % 3 = 0)
            SELECT * FROM tbl
            WHERE _oid NOT IN (SELECT _oid FROM inc)
            UNION ALL SELECT * FROM inc
        """,
        "tmp_asof_join": """
            WITH purchases AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'purchase'
            ), states AS (
                SELECT user_id, ts AS state_ts, value AS state_value
                FROM events WHERE event_type IN ('signup', 'error')
            )
            SELECT l.event_id, l.user_id, l.ts, r.state_ts, r.state_value
            FROM purchases l
            ASOF LEFT JOIN states r
              ON l.user_id = r.user_id AND l.ts >= r.state_ts
        """,
        "events_correlate": """
            SELECT a.user_id,
                   a.event_id AS click_id,
                   b.event_id AS purchase_id,
                   CAST(floor((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000)
                        AS BIGINT) AS gap_seconds
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND a.ts <= b.ts
             AND a.ts >= b.ts - INTERVAL 30 MINUTE
        """,
        "events_sessionize": """
            WITH o AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM o
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                       AS value_sum
            FROM s GROUP BY user_id, sid
        """,
        "q_rollup_status": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "activity_reconstruct": f"""
            SELECT user_id AS _oid, event_type AS status, ts AS _start,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS _end
            FROM events
        """,
        "tmp_history_forecast": f"""
            WITH v AS ({_V}),
            bspine AS (
                SELECT unnest(generate_series(TIMESTAMP '2024-01-06',
                                              TIMESTAMP '2024-01-25',
                                              INTERVAL 1 DAY)) AS _date
            ),
            basis AS (
                SELECT b._date, count(*) AS n FROM bspine b JOIN v
                  ON v._start <= b._date AND (v._end > b._date OR v._end IS NULL)
                GROUP BY b._date
            ),
            w AS (
                SELECT regr_slope(CAST(n AS DOUBLE), epoch(_date)) AS w0,
                       regr_intercept(CAST(n AS DOUBLE), epoch(_date)) AS w1
                FROM basis
            ),
            spine AS (
                SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                              TIMESTAMP '2024-01-30',
                                              INTERVAL 1 DAY)) AS _date
            ),
            obs AS (
                SELECT s._date, CAST(count(v._start) AS DOUBLE) AS n
                FROM spine s LEFT JOIN v
                  ON v._start <= s._date AND (v._end > s._date OR v._end IS NULL)
                WHERE s._date <= TIMESTAMP '2024-01-25'
                GROUP BY s._date
            ),
            pred AS (
                SELECT s._date, greatest(w0 * epoch(s._date) + w1, 0.0) AS n
                FROM spine s, w WHERE s._date > TIMESTAMP '2024-01-25'
            )
            SELECT _date, round(n, 2) AS n FROM obs
            UNION ALL
            SELECT _date, round(n, 2) AS n FROM pred
        """,
        "deptree_regions": _DEPTREE_SQL,
        # same closure, DataFrame-returning engine path (no terminal
        # collect): the value oracle is identical by construction
        "deptree_regions_df": _DEPTREE_SQL,
        "text_fingerprints": f"""
            SELECT doc_id, {_FP} AS fp,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "text_quality": r"""
            WITH cc AS (
                SELECT doc_id,
                       CAST(greatest(length(text), 1) AS DOUBLE) AS total,
                       length(text) AS rawlen,
                       CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                           AS alpha,
                       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                           AS digit,
                       CAST(length(regexp_replace(text,
                            '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) AS punct,
                       ' ' || lower(text) || ' ' AS p
                FROM documents
            ), s AS (
                SELECT *,
                    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' und ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' die ', ''))) / 5 AS INT) AS s_de,
                    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' and ', ''))) / 5 AS INT)
                  + CAST((length(p) - length(replace(p, ' of ', ''))) / 4 AS INT) AS s_en,
                    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' de ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' que ', ''))) / 5 AS INT) AS s_es,
                    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' la ', ''))) / 4 AS INT)
                  + CAST((length(p) - length(replace(p, ' et ', ''))) / 4 AS INT) AS s_fr
                FROM cc
            )
            SELECT doc_id,
                   round(0.5 * (alpha / total)
                         + 0.3 * least(total / 500.0, 1.0)
                         + 0.2 * (1.0 - least((punct / total) * 4
                                              + (digit / total) * 2, 1.0)), 4) AS quality,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) > 0
                             AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN greatest(s_de, s_en, s_es, s_fr) > 0
                             AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN greatest(s_de, s_en, s_es, s_fr) > 0
                             AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        WHEN greatest(s_de, s_en, s_es, s_fr) > 0
                             AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                        ELSE 'und' END AS lang_pred,
                   round(punct / greatest(rawlen, 1), 4) AS punct_ratio
            FROM s
        """,
        "dedup_exact_groups": f"""
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text
                FROM documents WHERE doc_id % 50 = 3
            ),
            fps AS (SELECT doc_id, {_FP} AS fp FROM docs),
            g AS (SELECT fp, count(*) AS n FROM fps GROUP BY fp HAVING count(*) > 1)
            SELECT g.fp, f.doc_id, g.n FROM fps f JOIN g ON f.fp = g.fp
        """,
        "dedup_paragraphs": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text
                FROM documents WHERE doc_id % 50 = 3
            ),
            paras AS (
                SELECT doc_id,
                       unnest(range(len(ps))) AS idx,
                       unnest(ps) AS para
                FROM (SELECT doc_id,
                             string_split(coalesce(text, ''), chr(10)) AS ps
                      FROM corpus)
            ),
            keyed AS (
                SELECT doc_id, idx, para, md5(lower(trim(para))) AS h
                FROM paras WHERE trim(para) != ''
            ),
            k1 AS (SELECT h, min(doc_id) AS kid FROM keyed GROUP BY h),
            k2 AS (SELECT ky.h, k1.kid, min(ky.idx) AS kidx
                   FROM keyed ky
                   JOIN k1 ON ky.h = k1.h AND ky.doc_id = k1.kid
                   GROUP BY 1, 2),
            marked AS (
                SELECT ky.doc_id, ky.idx, ky.para,
                       (ky.doc_id = k2.kid AND ky.idx = k2.kidx) AS keep
                FROM keyed ky JOIN k2 ON ky.h = k2.h
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_paras,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept,
                   coalesce(string_agg(CASE WHEN keep THEN para END,
                                       chr(10) ORDER BY idx), '') AS text
            FROM marked GROUP BY doc_id
        """,
        "dedup_paragraphs_skew": """
            WITH corpus AS (
                SELECT doc_id,
                       'ACCEPT COOKIES to continue' || chr(10)
                           || coalesce(text, '') AS text
                FROM documents
            ),
            paras AS (
                SELECT doc_id,
                       unnest(range(len(ps))) AS idx,
                       unnest(ps) AS para
                FROM (SELECT doc_id,
                             string_split(text, chr(10)) AS ps
                      FROM corpus)
            ),
            keyed AS (
                SELECT doc_id, idx, para, md5(lower(trim(para))) AS h
                FROM paras WHERE trim(para) != ''
            ),
            k1 AS (SELECT h, min(doc_id) AS kid FROM keyed GROUP BY h),
            k2 AS (SELECT ky.h, k1.kid, min(ky.idx) AS kidx
                   FROM keyed ky
                   JOIN k1 ON ky.h = k1.h AND ky.doc_id = k1.kid
                   GROUP BY 1, 2),
            marked AS (
                SELECT ky.doc_id,
                       (ky.doc_id = k2.kid AND ky.idx = k2.kidx) AS keep
                FROM keyed ky JOIN k2 ON ky.h = k2.h
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_paras,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_kept
            FROM marked GROUP BY doc_id
        """,
        "dedup_jaccard_pairs": _JACCARD_ORACLE,
        "dedup_jaccard_prefix": _JACCARD_ORACLE,
        "dedup_components": _COMPONENTS_ORACLE,
        "text_contamination": _CONTAMINATION_ORACLE,
        "text_pii_cards": _CARDS_ORACLE,
        "corpus_summary": r"""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_extract_all(lower(text), '[^\W_]+')) AS n_tok,
               round(0.5 * (CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
                     + 0.3 * least(greatest(length(text), 1) / 500.0, 1.0)
                     + 0.2 * (1.0 - least(
                         (CAST(length(regexp_replace(text,
                              '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                          / greatest(length(text), 1)) * 4
                         + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)) * 2, 1.0)), 4)
                   AS quality,
               md5(array_to_string(
                   regexp_extract_all(lower(text), '[^\W_]+'), ' ')) AS fp
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(avg(quality), 4) AS avg_quality,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_fp,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
    FROM per_doc GROUP BY lang
""",
        "text_pii_redaction": r"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
        FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'))
               AS redacted_md5,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
                '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4
    FROM injected
""",
        "text_chunks_packed": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 64)) AS st
        FROM t WHERE len(toks) > 0
    ),
    c AS (
        SELECT doc_id,
               CAST((st - 1) / 64 AS BIGINT) AS chunk_idx,
               array_to_string(toks[st:st+63], ' ') AS chunk_text,
               CAST(least(64, len(toks) - st + 1) AS BIGINT) AS n_tokens,
               CAST(doc_id % 32 AS BIGINT) AS pack_group
        FROM s
    )
    SELECT doc_id, chunk_idx, chunk_text, n_tokens, pack_group,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY pack_group
                    ORDER BY doc_id, chunk_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 256) AS BIGINT) AS bin_idx
    FROM c
""",
        "text_repetition": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
        FROM (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks), 1))) AS i
              FROM t)
    ),
    counts AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id,
               round(max(c) / sum(c), 4) AS top_ngram_frac,
               round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 4)
                   AS dup_ngram_frac,
               CAST(sum(c) AS BIGINT) AS n_ngrams
        FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.top_ngram_frac, 0.0) AS top_ngram_frac,
           coalesce(p.dup_ngram_frac, 0.0) AS dup_ngram_frac,
           CAST(coalesce(p.n_ngrams, 0) AS BIGINT) AS n_ngrams
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
        "sample_temperature_mix": """
    -- integer-exact weight arithmetic (matches temperature_mix): pow is
    -- folded into a 9dp integer k, the denominator is an exact integer
    -- sum (order-free), and k/sum is one well-defined double division —
    -- no float sums cross the engine boundary
    WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                 FROM documents WHERE lang IS NOT NULL GROUP BY lang),
    kk AS (SELECT lang, n,
                  CAST(floor(pow(n, 0.5) * 1000000000 + 0.5) AS BIGINT)
                      AS k
           FROM cnt),
    sp AS (SELECT sum(k) AS s FROM kk),
    q AS (SELECT lang,
                 least(n, CAST(floor(300 * round(
                       k / CAST((SELECT s FROM sp) AS DOUBLE), 9))
                     AS BIGINT)) AS quota
          FROM kk),
    r AS (SELECT doc_id, lang,
                 row_number() OVER (
                     PARTITION BY lang
                     ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                              doc_id) AS rn
          FROM documents WHERE lang IS NOT NULL)
    SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rn <= quota
""",
        "sample_cap_per_source": """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS rn
        FROM documents) t
    WHERE rn <= 10
""",
        "sample_stratified": """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(cast(doc_id AS varchar)), 1, 8) <
          CASE WHEN lang = 'en' THEN '40000000'
               WHEN lang = 'zh' THEN 'g'
               ELSE '80000000' END
""",
        "sample_epoch_mix": """
    WITH marked AS (
        SELECT doc_id, source,
               CASE WHEN source = 'src0' THEN 2
                    WHEN source = 'src1' THEN 0 ELSE 1 END
               + CASE WHEN substr(md5(cast(doc_id AS varchar)), 1, 8)
                           < CASE WHEN source = 'src0' THEN '80000000'
                                  WHEN source = 'src1' THEN '66666666'
                                  ELSE '0' END
                      THEN 1 ELSE 0 END AS nc
        FROM documents
    )
    SELECT doc_id, source,
           CAST(unnest(range(1, nc + 1)) AS BIGINT) AS copy
    FROM marked WHERE nc >= 1
""",
        "sample_mix_corpus": r"""
    WITH counts AS (
        SELECT lang, count(*) AS c FROM documents
        WHERE lang IN ('de', 'en', 'es', 'fr') GROUP BY lang
    ),
    total AS (
        SELECT min(c / CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.2 AS DOUBLE) END) AS n
        FROM counts
    ),
    quotas AS (
        SELECT lang,
               CAST(floor((CASE WHEN lang = 'en' THEN CAST(0.4 AS DOUBLE)
                                ELSE CAST(0.2 AS DOUBLE) END)
                          * (SELECT n FROM total)) AS BIGINT) AS q
        FROM counts
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS rn
        FROM documents WHERE lang IN ('de', 'en', 'es', 'fr')
    )
    SELECT doc_id, lang FROM ranked JOIN quotas USING (lang) WHERE rn <= q
""",
        "sample_token_budget": r"""
    WITH scored AS (
        SELECT doc_id,
               round(0.5 * (CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
                     + 0.3 * least(greatest(length(text), 1) / 500.0, 1.0)
                     + 0.2 * (1.0 - least(
                         (CAST(length(regexp_replace(text,
                              '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                          / greatest(length(text), 1)) * 4
                         + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)) * 2, 1.0)), 4)
                   AS quality,
               CAST(len(regexp_extract_all(lower(text), '[^\W_]+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    run AS (
        SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS c
        FROM scored
    )
    SELECT doc_id, quality, n_tokens FROM run WHERE c <= 12000
""",
        "sample_shards": r"""
    WITH h AS (
        SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hb
        FROM documents
    )
    SELECT doc_id,
           CAST((CASE WHEN hb >= '20000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= '40000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= '60000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= '80000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= 'a0000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= 'c0000000' THEN 1 ELSE 0 END)
              + (CASE WHEN hb >= 'e0000000' THEN 1 ELSE 0 END) AS BIGINT)
               AS shard,
           CAST(row_number() OVER (
               PARTITION BY (CASE WHEN hb >= '20000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= '40000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= '60000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= '80000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= 'a0000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= 'c0000000' THEN 1 ELSE 0 END)
                          + (CASE WHEN hb >= 'e0000000' THEN 1 ELSE 0 END)
               ORDER BY hb, doc_id) AS BIGINT) AS rank
    FROM h
""",
        "text_quality_quantiles": r"""
    WITH scored AS (
        SELECT lang,
               round(0.5 * (CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
                     + 0.3 * least(greatest(length(text), 1) / 500.0, 1.0)
                     + 0.2 * (1.0 - least(
                         (CAST(length(regexp_replace(text,
                              '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                          / greatest(length(text), 1)) * 4
                         + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)) * 2, 1.0)), 4) AS v
        FROM documents
    ),
    ranked AS (
        SELECT lang AS stratum, v,
               row_number() OVER (PARTITION BY lang ORDER BY v) AS r
        FROM scored
    ),
    counts AS (SELECT stratum, count(*) AS n FROM ranked GROUP BY stratum),
    -- CAST to DOUBLE: DuckDB parses bare decimal literals as DECIMAL and
    -- (n-1)*q would be exact where Spark's double math is not, flipping
    -- floor/ceil at near-integer target ranks
    qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
    targets AS (
        SELECT stratum, q,
               1.0 + (n - 1) * q AS p,
               CAST(floor(1.0 + (n - 1) * q) AS BIGINT) AS rf,
               CAST(ceil(1.0 + (n - 1) * q) AS BIGINT) AS rc
        FROM counts, qs
    )
    SELECT t.stratum, t.q,
           round(lo.v + (t.p - t.rf) * (hi.v - lo.v), 6) AS value
    FROM targets t
    JOIN ranked lo ON lo.stratum = t.stratum AND lo.r = t.rf
    JOIN ranked hi ON hi.stratum = t.stratum AND hi.r = t.rc
""",
        "sim_knn_accuracy": """
            WITH l AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS lv,
                              label AS true_label
                       FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 200),
            r AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS rv,
                         label
                  FROM embeddings WHERE vec_id % 2 = 0),
            scored AS (
                SELECT query_id, neighbor_id, label, true_label,
                       round(list_dot_product(lv, rv)
                             / (sqrt(list_dot_product(lv, lv))
                                * sqrt(list_dot_product(rv, rv))), 4) AS sim
                FROM l, r
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rk
                FROM scored
            ), votes AS (
                SELECT query_id, true_label, label, count(*) AS votes
                FROM ranked WHERE rk <= 5 GROUP BY query_id, true_label, label
            ), best AS (
                SELECT query_id, true_label, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY votes DESC, label) AS vr
                FROM votes
            )
            SELECT CAST(true_label AS BIGINT) AS label,
                   CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   round(sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 4) AS accuracy
            FROM best WHERE vr = 1 GROUP BY true_label
        """,
        "sim_range_search": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings)
            SELECT query_id, neighbor_id,
                   round(list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))), 4) AS sim
            FROM q, c
            WHERE query_id <> neighbor_id
              AND round(list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(cv, cv))), 4) >= 0.4
        """,
        "sim_kmeans_clusters": _KMEANS_ORACLE,
        "sim_pq_topk": _PQ_ORACLE,
        "sim_sq8_topk": _SQ8_ORACLE,
        "sim_sq8_indexed": _SQ8_ORACLE,
        "sim_pq_indexed": _PQ_ORACLE,
        "sim_ivfpq_topk": _IVFPQ_ORACLE,
        "sim_ivfsq8_topk": _IVFSQ8_ORACLE,
        "sim_ivfpq_indexed": _IVFPQ_ORACLE,
        "sim_index_refreshed": _IVFPQ_REFRESH_ORACLE,
        "sim_semantic_dedup": _SEMDEDUP_ORACLE,
        "sim_cluster_summary": _CLUSTER_SUMMARY_ORACLE,
        "sim_knn_classify": """
            WITH l AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS lv
                       FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 200),
            r AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS rv,
                         label
                  FROM embeddings WHERE vec_id % 2 = 0),
            scored AS (
                SELECT query_id, neighbor_id, label,
                       round(list_dot_product(lv, rv)
                             / (sqrt(list_dot_product(lv, lv))
                                * sqrt(list_dot_product(rv, rv))), 4) AS sim
                FROM l, r
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rk
                FROM scored
            ), votes AS (
                SELECT query_id, label, count(*) AS votes
                FROM ranked WHERE rk <= 5 GROUP BY query_id, label
            ), best AS (
                SELECT query_id, label, votes,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY votes DESC, label) AS vr
                FROM votes
            )
            SELECT query_id, CAST(label AS BIGINT) AS pred_label,
                   CAST(votes AS BIGINT) AS votes
            FROM best WHERE vr = 1
        """,
        "text_bigram_logprob": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    occ_all AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(
                       token := toks[i],
                       prev := CASE WHEN i > 1 THEN toks[i-1] END)),
                   recursive := true)
        FROM t WHERE len(toks) >= 1
    ),
    occ AS (SELECT * FROM occ_all WHERE doc_id % 7 = 0),
    train AS (SELECT * FROM occ_all WHERE doc_id % 7 != 0),
    uni AS (SELECT token, count(*) AS c FROM train GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM uni),
    bi AS (SELECT prev, token, count(*) AS bc FROM train
           WHERE prev IS NOT NULL GROUP BY prev, token),
    scored AS (
        SELECT o.doc_id,
               CASE WHEN o.prev IS NULL
                        THEN coalesce(ln(u.c), ln(0.4))
                             - ln((SELECT n FROM tot))
                    WHEN b.bc IS NOT NULL THEN ln(b.bc) - ln(p.c)
                    ELSE ln(0.4) + coalesce(ln(u.c), ln(0.4))
                         - ln((SELECT n FROM tot))
               END AS lp
        FROM occ o
        LEFT JOIN uni u ON o.token = u.token
        LEFT JOIN uni p ON o.prev = p.token
        LEFT JOIN bi b ON o.prev = b.prev AND o.token = b.token
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 4) AS mean_logprob
    FROM scored GROUP BY doc_id
""",
        "text_trigram_logprob": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    occ_all AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(
                       token := toks[i],
                       prev := CASE WHEN i > 1 THEN toks[i-1] END,
                       prev2 := CASE WHEN i > 2 THEN toks[i-2] END)),
                   recursive := true)
        FROM t WHERE len(toks) >= 1
    ),
    occ AS (SELECT * FROM occ_all WHERE doc_id % 7 = 0),
    train AS (SELECT * FROM occ_all WHERE doc_id % 7 != 0),
    uni AS (SELECT token, count(*) AS c FROM train GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM uni),
    bi AS (SELECT prev, token, count(*) AS bc FROM train
           WHERE prev IS NOT NULL GROUP BY prev, token),
    tri AS (SELECT prev2, prev, token, count(*) AS tc FROM train
            WHERE prev2 IS NOT NULL GROUP BY prev2, prev, token),
    scored AS (
        SELECT o.doc_id,
               CASE WHEN o.prev IS NULL
                        THEN coalesce(ln(u.c), ln(0.4))
                             - ln((SELECT n FROM tot))
                    WHEN o.prev2 IS NULL THEN
                        CASE WHEN b.bc IS NOT NULL
                                 THEN ln(b.bc) - ln(p.c)
                             ELSE ln(0.4) + (coalesce(ln(u.c), ln(0.4))
                                  - ln((SELECT n FROM tot)))
                        END
                    WHEN tr.tc IS NOT NULL THEN ln(tr.tc) - ln(cb.bc)
                    ELSE ln(0.4) +
                        CASE WHEN b.bc IS NOT NULL
                                 THEN ln(b.bc) - ln(p.c)
                             ELSE ln(0.4) + (coalesce(ln(u.c), ln(0.4))
                                  - ln((SELECT n FROM tot)))
                        END
               END AS lp
        FROM occ o
        LEFT JOIN uni u ON o.token = u.token
        LEFT JOIN uni p ON o.prev = p.token
        LEFT JOIN bi b ON o.prev = b.prev AND o.token = b.token
        LEFT JOIN bi cb ON o.prev2 = cb.prev AND o.prev = cb.token
        LEFT JOIN tri tr ON o.prev2 = tr.prev2 AND o.prev = tr.prev
                        AND o.token = tr.token
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 4) AS mean_logprob
    FROM scored GROUP BY doc_id
""",
        "text_unigram_logprob": r"""
    WITH occ AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[^\W_]+')) AS token
        FROM documents
    ),
    freq AS (SELECT token, count(*) AS c FROM occ GROUP BY token),
    total AS (SELECT sum(c) AS n FROM freq),
    logp AS (SELECT token, ln(c) - ln((SELECT n FROM total)) AS lp FROM freq)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 4) AS mean_logprob
    FROM occ JOIN logp USING (token)
    GROUP BY doc_id
""",
        "events_error_anomalies": """
    WITH per AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT *, round(n_errors / CAST(n AS DOUBLE), 6) AS rate FROM per
    ),
    s AS (
        SELECT *,
               avg(rate) OVER w AS m,
               stddev_samp(rate) OVER w AS sd,
               count(rate) OVER w AS c
        FROM r
        WINDOW w AS (ORDER BY window_start
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, n, n_errors, rate,
           CASE WHEN c >= 6 AND sd > 0
                THEN round((rate - m) / sd, 4) END AS zscore,
           coalesce(CASE WHEN c >= 6 AND sd > 0
                         THEN round((rate - m) / sd, 4) END > 2.0,
                    false)
           OR coalesce(c >= 6 AND sd = 0 AND rate > m + 1e-9, false)
               AS is_anomaly
    FROM s
""",
        "events_seasonal_anomalies": """
    WITH per AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT *, CAST(hour(window_start) AS INTEGER) AS hour_of_day,
               round(n_errors / CAST(n AS DOUBLE), 6) AS rate
        FROM per
    ),
    s AS (
        SELECT *,
               avg(rate) OVER w AS m,
               stddev_samp(rate) OVER w AS sd,
               count(rate) OVER w AS c
        FROM r
        WINDOW w AS (PARTITION BY hour_of_day ORDER BY window_start
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, n, n_errors, hour_of_day, rate,
           CASE WHEN c >= 7 AND sd > 0
                THEN round((rate - m) / sd, 4) END AS zscore,
           coalesce(CASE WHEN c >= 7 AND sd > 0
                         THEN round((rate - m) / sd, 4) END > 2.0,
                    false)
           OR coalesce(c >= 7 AND sd = 0 AND rate > m + 1e-9, false)
               AS is_anomaly
    FROM s
""",
        "events_retention": """
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY user_id
    )
    SELECT cohort,
           CAST(floor((epoch(date_trunc('week', e.ts)) - epoch(cohort))
                      / 604800) AS BIGINT) AS period_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first USING (user_id)
    GROUP BY 1, 2
""",
        "text_quality_histogram": r"""
    WITH scored AS (
        SELECT lang,
               round(0.5 * (CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
                     + 0.3 * least(greatest(length(text), 1) / 500.0, 1.0)
                     + 0.2 * (1.0 - least(
                         (CAST(length(regexp_replace(text,
                              '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                          / greatest(length(text), 1)) * 4
                         + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)) * 2, 1.0)), 4) AS q
        FROM documents
    ),
    binned AS (
        SELECT lang AS stratum,
               least(19, greatest(0, CAST(floor(q / 0.05) AS INTEGER)))
                   AS bin_idx
        FROM scored WHERE q IS NOT NULL
    )
    SELECT stratum, bin_idx, round(bin_idx * 0.05, 6) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY 1, 2
""",
        "text_gopher_filters": r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(coalesce(text, '')), '[ \t\n\x0B\f\r]+'),
                   w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                   l -> trim(l) != '') AS lines
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               round(CAST(coalesce(list_aggregate(
                       list_transform(words, w -> length(w)), 'sum'), 0)
                     AS DOUBLE) / greatest(len(words), 1), 4)
                   AS mean_word_len,
               round(CAST(len(list_filter(words,
                       w -> regexp_matches(w, '\p{L}'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_alpha_words,
               round(CAST(len(list_filter(words,
                       w -> contains(w, '#') OR contains(w, '...')
                            OR contains(w, '…'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_symbol_words,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '^[\-\*•‣◦]')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_bullet_lines,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_ellipsis_lines,
               CAST(
                 CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
               + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END
                 AS INTEGER) AS stopword_hits
        FROM base
    )
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND frac_alpha_words >= 0.8
            AND frac_symbol_words <= 0.1
            AND frac_bullet_lines <= 0.9
            AND frac_ellipsis_lines <= 0.3
            AND stopword_hits >= 2) AS passes
    FROM sig
""",
        "pipeline_curate": _CURATE_ORACLE,
        "text_quality_classifier": _LOGREG_ORACLE,
        "text_classifier_holdout": _LOGREG_HOLDOUT_ORACLE,
        "text_softmax_langid": _SOFTMAX_ORACLE,
        "text_softmax_eval": _SOFTMAX_EVAL_ORACLE,
        "text_bpe_merges": _BPE_ORACLE,
        "text_bpe_token_counts": _BPE_SEGMENT_ORACLE,
        "events_transitions": """
    WITH p AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    c AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n, round(c.n / t.tot, 4) AS prob
    FROM c JOIN t USING (from_type)
""",
        "text_token_estimate": r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[^\W_]+')) AS BIGINT)
               AS n_words,
           CAST(coalesce(list_aggregate(list_transform(
               regexp_extract_all(lower(text),
                   '[\p{L}]+|[0-9]|[^\p{L}0-9\t\n\x0B\f\r ]+'),
               p -> CASE WHEN regexp_matches(p, '^\p{L}')
                         THEN CAST(ceil(length(p) / 4.0) AS BIGINT)
                         ELSE 1 END), 'sum'), 0) AS BIGINT)
               AS est_bpe_tokens
    FROM documents
""",
        "events_funnel": """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t
        GROUP BY e.user_id
    )
    SELECT 'view' AS step, 1 AS step_idx,
           CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 'click', 2, CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 'purchase', 3, CAST(count(*) AS BIGINT) FROM s3
""",
        "text_normalize": r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(text,
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
               '\s+', ' ', 'g')) AS norm_text,
           CAST(length(text) - length(trim(regexp_replace(
               regexp_replace(text,
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
               '\s+', ' ', 'g'))) AS BIGINT) AS n_changed_chars
    FROM documents
""",
        "text_winnow_fingerprints": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CASE WHEN len(toks) - 4 >= 1 THEN
                   list_transform(range(0, len(toks) - 4),
                       i -> ('0x' || substr(md5(
                           array_to_string(toks[i+1:i+5], ' ')),
                           1, 15))::BIGINT)
               ELSE CAST([] AS BIGINT[]) END AS hs
        FROM t
    ),
    f AS (
        SELECT doc_id,
               CASE WHEN len(hs) - 3 >= 1 THEN
                   list_transform(range(0, len(hs) - 3),
                       j -> list_aggregate(hs[j+1:j+4], 'min'))
               ELSE hs END AS fps
        FROM h
    )
    SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM f
""",
        "dedup_remove_spans": r"""
    WITH t AS (
        SELECT doc_id,
               coalesce(regexp_extract_all(lower(text), '[^\W_]+'),
                        []) AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, toks, unnest(range(0, len(toks) - 15)) AS s
        FROM t WHERE len(toks) >= 16
    ),
    sp AS (
        SELECT doc_id, s,
               ('0x' || substr(md5(array_to_string(toks[s+1:s+16], ' ')),
                               1, 15))::BIGINT AS h
        FROM g
    ),
    own AS (SELECT h, min(doc_id) AS owner FROM sp GROUP BY h),
    dup AS (SELECT doc_id, s FROM sp JOIN own USING (h) WHERE owner < doc_id),
    i0 AS (
        SELECT doc_id, s,
               max(s + 16) OVER (PARTITION BY doc_id ORDER BY s
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS pme
        FROM dup
    ),
    i1 AS (SELECT doc_id, s,
                  CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
           FROM i0),
    i2 AS (SELECT doc_id, s, sum(ni) OVER (PARTITION BY doc_id ORDER BY s)
                  AS isl
           FROM i1),
    isl AS (SELECT doc_id, min(s) AS st, max(s) + 16 AS en
            FROM i2 GROUP BY doc_id, isl),
    agg AS (SELECT doc_id, list(struct_pack(st := st, en := en)) AS islands
            FROM isl GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(array_to_string(
               list_transform(
                   list_filter(range(0, len(toks)),
                       p -> len(list_filter(coalesce(islands, []),
                                i -> p >= i.st AND p < i.en)) = 0),
                   p -> toks[p + 1]),
               ' '), '') AS clean_text,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(list_filter(range(0, len(toks)),
                       p -> len(list_filter(coalesce(islands, []),
                                i -> p >= i.st AND p < i.en)) = 0)) AS BIGINT)
               AS n_removed_tokens
    FROM t LEFT JOIN agg USING (doc_id)
""",
        "sample_mix_corpus_skew": r"""
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN lang ELSE 'en' END AS lang
        FROM documents
    ),
    counts AS (
        SELECT lang, count(*) AS c FROM src
        WHERE lang IN ('de', 'en', 'fr') GROUP BY lang
    ),
    total AS (
        SELECT min(c / CASE WHEN lang = 'en' THEN CAST(0.8 AS DOUBLE)
                            ELSE CAST(0.1 AS DOUBLE) END) AS n
        FROM counts
    ),
    quotas AS (
        SELECT lang,
               CAST(floor((CASE WHEN lang = 'en' THEN CAST(0.8 AS DOUBLE)
                                ELSE CAST(0.1 AS DOUBLE) END)
                          * (SELECT n FROM total)) AS BIGINT) AS q
        FROM counts
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS rn
        FROM src WHERE lang IN ('de', 'en', 'fr')
    )
    SELECT doc_id, lang FROM ranked JOIN quotas USING (lang) WHERE rn <= q
""",
        "text_quality_quantiles_skew": r"""
    WITH scored AS (
        SELECT CASE WHEN doc_id % 10 = 0 THEN lang ELSE 'en' END AS lang,
               round(0.5 * (CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
                     + 0.3 * least(greatest(length(text), 1) / 500.0, 1.0)
                     + 0.2 * (1.0 - least(
                         (CAST(length(regexp_replace(text,
                              '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                          / greatest(length(text), 1)) * 4
                         + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1)) * 2, 1.0)), 4) AS v
        FROM documents
    ),
    ranked AS (
        SELECT lang AS stratum, v,
               row_number() OVER (PARTITION BY lang ORDER BY v) AS r
        FROM scored
    ),
    counts AS (SELECT stratum, count(*) AS n FROM ranked GROUP BY stratum),
    qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
    targets AS (
        SELECT stratum, q,
               1.0 + (n - 1) * q AS p,
               CAST(floor(1.0 + (n - 1) * q) AS BIGINT) AS rf,
               CAST(ceil(1.0 + (n - 1) * q) AS BIGINT) AS rc
        FROM counts, qs
    )
    SELECT t.stratum, t.q,
           round(lo.v + (t.p - t.rf) * (hi.v - lo.v), 6) AS value
    FROM targets t
    JOIN ranked lo ON lo.stratum = t.stratum AND lo.r = t.rf
    JOIN ranked hi ON hi.stratum = t.stratum AND hi.r = t.rc
""",
        "text_token_frequencies": r"""
    WITH occ AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[^\W_]+')) AS token
        FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS count,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM occ GROUP BY token HAVING count(*) >= 5
""",
        "dedup_substring_windows": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, toks, unnest(range(1, len(toks) - 14)) AS i
        FROM t WHERE len(toks) >= 16
    ),
    s AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(array_to_string(toks[i:i+15], ' ')),
                               1, 15))::BIGINT AS h
        FROM g
    ),
    f AS (SELECT h, count(*) AS nd FROM s GROUP BY h),
    d AS (
        SELECT doc_id, count(*) AS n_windows,
               sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM s JOIN f USING (h) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup AS BIGINT) AS n_dup_windows,
           round(n_dup / n_windows, 4) AS dup_frac
    FROM d
""",
        "dedup_incremental": r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i FROM t),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS tok FROM g),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    p AS (
        SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS inter
        FROM sh n JOIN sh c ON n.tok = c.tok
        WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 != 0
        GROUP BY 1, 2
    ),
    v AS (
        SELECT new_id, corpus_id,
               round(inter / (x.sz + y.sz - inter), 4) AS jaccard
        FROM p JOIN sz x ON x.doc_id = new_id
               JOIN sz y ON y.doc_id = corpus_id
        WHERE round(inter / (x.sz + y.sz - inter), 4) >= 0.8
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY new_id
                                     ORDER BY jaccard DESC, corpus_id) AS rn
        FROM v
    )
    SELECT new_id AS doc_id, corpus_id AS dup_of, jaccard FROM r WHERE rn = 1
""",
        "dedup_minhash_pairs": _JACCARD_ORACLE,
        "dedup_simhash_md5_pairs": _SIMHASH_MD5_ORACLE,
        "sim_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 4) AS sim
                FROM q, c WHERE query_id <> neighbor_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rk
                FROM scored
            )
            SELECT query_id, neighbor_id, sim FROM ranked WHERE rk <= 5
        """,
        "dedup_embedding_pairs": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
        """,
        # full-probe IVF is exact ⇒ same oracle as brute force
        "sim_ivf_topk": _IVF_ORACLE,
        "sim_ivf_fullprobe": _IVF_FULLPROBE_ORACLE,
        # the storage-backed index at full probe is exact too — same oracle
        "sim_ivf_indexed": _IVF_FULLPROBE_ORACLE,
        # exact-mode knn join (nprobe = nlist) ⇒ brute-force cross oracle
        "sim_knn_join": """
            WITH l AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS lv
                       FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 200),
            r AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS rv
                  FROM embeddings WHERE vec_id % 2 = 0),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(lv, rv)
                             / (sqrt(list_dot_product(lv, lv))
                                * sqrt(list_dot_product(rv, rv))), 4) AS sim
                FROM l, r
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rk
                FROM scored
            )
            SELECT query_id, neighbor_id, sim FROM ranked WHERE rk <= 3
        """,
        "mm_binary_meta": """
            SELECT doc_id,
                   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                   sha256(text) AS digest
            FROM documents
        """,
        "mm_probe_headers": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        WHEN doc_id % 2 = 0 THEN 'png'
                        ELSE 'gif' END AS format,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(doc_id % 300 + 16 AS INTEGER) END AS width,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(doc_id % 200 + 16 AS INTEGER) END AS height
            FROM documents
        """,
        "mm_probe_audio": """
            WITH base AS (
                SELECT doc_id,
                       CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
                       CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
                                 WHEN doc_id % 3 = 1 THEN 16000
                                 ELSE 44100 END AS INTEGER) AS rate,
                       (doc_id % 1000 + 1) * 128 AS dsz
                FROM documents
            )
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'wav' END
                       AS format,
                   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE ch END
                       AS channels,
                   CASE WHEN doc_id % 7 = 0 THEN NULL ELSE rate END
                       AS sample_rate_hz,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(16 AS INTEGER) END AS bits_per_sample,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE CAST(dsz * 1000 // (rate * ch * 2)
                                  AS BIGINT) END AS duration_ms
            FROM base
        """,
        "mm_frame_samples": """
            WITH m AS (
                SELECT doc_id AS media_id, encode(text) AS payload
                FROM documents WHERE text IS NOT NULL
            ), n AS (
                SELECT media_id, payload,
                       least(16, greatest(1, CAST(floor(
                           greatest(1.0, octet_length(payload) / 8.0) * 1.0
                       ) AS INT))) AS nf
                FROM m
            ), f AS (
                SELECT media_id, payload, unnest(range(nf)) AS i FROM n
            )
            SELECT media_id, CAST(i AS INT) AS frame_idx,
                   round(i / 1.0, 3) AS ts_sec,
                   md5(lower(to_hex(payload)) ||
                       lpad(lower(to_hex(i)), 8, '0')) AS frame_hex
            FROM f
        """,
        "mm_resized": """
            SELECT doc_id AS media_id,
                   CAST(128 AS INT) AS width, CAST(96 AS INT) AS height,
                   substr(repeat(md5(text), 4), 1, 96) AS payload_hex
            FROM documents
        """,
        "events_daily_rollup": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   count(*) AS n,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "text_tfidf_top_terms": r"""
    WITH occ AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[^\W_]+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM occ GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS doc_freq FROM tf
              GROUP BY 1 HAVING count(*) >= 2),
    scored AS (
        SELECT doc_id, token, tf, doc_freq,
               round(tf * ln((SELECT count(*) FROM documents)::DOUBLE
                             / doc_freq), 6) AS tfidf
        FROM tf JOIN dfreq USING (token)
    ),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
          FROM scored)
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           CAST(doc_freq AS BIGINT) AS doc_freq, tfidf,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
""",
        "diag_key_skew": """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
               FROM events GROUP BY 1),
    t AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys FROM c)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // n_rows AS BIGINT) AS share_ppm,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys
    FROM c, t ORDER BY cnt DESC, key LIMIT 15
""",
        "events_paths_skew": """
    WITH e AS (
        SELECT CASE WHEN user_id % 10 != 0 THEN -1 ELSE user_id END
                   AS user_id,
               event_type, ts, event_id
        FROM events
    ),
    r AS (
        SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM e
    ),
    p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY path
""",
        "events_paths": """
    WITH r AS (
        SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY path
""",
    }


# portable 60-bit md5 simhash: the 60 bit-sums / case terms are generated
# rather than hand-written; signature math mirrors dedup.simhash_md5 exactly
_SIMHASH_SUMS = ", ".join(f"sum((h>>{b})&1) AS c{b}" for b in range(60))
_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN 2*c{b} >= n THEN (1::BIGINT << {b}) ELSE 0 END)"
    for b in range(60)
)
_SIMHASH_MD5_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(regexp_extract_all(lower(text), '[^\W_]+')) AS t
        FROM documents
    ), hs AS (
        SELECT id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
    ), agg AS (
        SELECT id, count(*) AS n, {_SIMHASH_SUMS} FROM hs GROUP BY id
    ), sig AS (
        SELECT id, {_SIMHASH_BITS} AS simhash FROM agg
    ), chunks AS (
        SELECT id, simhash, i AS chunk, (simhash >> (i * 15)) & 32767 AS cv
        FROM sig, unnest([0, 1, 2, 3]) AS u(i)
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM chunks a
        JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id
    )
    SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


_COMPONENTS_ORACLE = r"""
    WITH RECURSIVE t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i FROM t),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS tok FROM g),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pj AS (
        SELECT id_a, id_b
        FROM p JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
        WHERE round(inter / (x.sz + y.sz - inter), 4) >= 0.8
    ),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM pj
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pj
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    ),
    comp AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component_id,
           coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""

_CONTAMINATION_ORACLE = r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i FROM t),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS tok FROM g),
    hsz AS (SELECT doc_id, count(*) AS sz FROM sh WHERE doc_id % 7 = 0 GROUP BY doc_id),
    inter AS (
        SELECT h.doc_id AS h_id, tr.doc_id AS t_id, count(*) AS n
        FROM sh h JOIN sh tr ON h.tok = tr.tok
        WHERE h.doc_id % 7 = 0 AND tr.doc_id % 7 != 0
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.h_id, i.t_id, round(i.n / s.sz, 4) AS containment
        FROM inter i JOIN hsz s ON s.doc_id = i.h_id
    ),
    best AS (
        SELECT h_id, containment, t_id,
               row_number() OVER (PARTITION BY h_id
                                  ORDER BY containment DESC, t_id ASC) AS rn
        FROM scored
    )
    SELECT d.doc_id,
           coalesce(b.containment, 0.0) AS max_containment,
           b.t_id AS train_id
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.h_id = d.doc_id
    WHERE d.doc_id % 7 = 0
"""

_IVF_FULLPROBE_ORACLE = """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))), 4) AS sim
                FROM q, c WHERE query_id <> neighbor_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rk
                FROM scored
            )
            SELECT query_id, neighbor_id, sim FROM ranked WHERE rk <= 5
        """

# --- exact k-means oracle: replays kmeans_fit/kmeans_assign's iteration
# (md5-seeded init, rounded-sim argmax, DECIMAL(38,12) centroid means) as a
# chained-CTE Lloyd unroll. Built by helpers so the iteration count in the
# SQL provably matches the Spark entry's `iters`.


def _kmeans_assign_cte(cname: str, aname: str) -> str:
    return f"""
{aname} AS (
  SELECT vec_id, centroid_id AS cluster, sim FROM (
    SELECT e.vec_id, c.centroid_id,
           round(list_dot_product(e.v, c.cvec)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
    FROM e, {cname} c
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, centroid_id) = 1
)"""


def _kmeans_update_cte(aname: str, uname: str, cprev: str, cname: str) -> str:
    return f"""
{uname} AS (
  SELECT cluster AS centroid_id, list(m ORDER BY dim) AS cvec FROM (
    SELECT cluster, dim,
           round(CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)/count(*), 6) AS m
    FROM (SELECT a.cluster, unnest(e.v) AS x,
                 generate_subscripts(e.v, 1) - 1 AS dim
          FROM {aname} a JOIN e USING (vec_id)) GROUP BY cluster, dim
  ) GROUP BY cluster
),
{cname} AS (
  SELECT * FROM {uname}
  UNION ALL
  SELECT centroid_id, cvec FROM {cprev}
  WHERE centroid_id NOT IN (SELECT centroid_id FROM {uname})
)"""


def _kmeans_ctes(k: int, iters: int) -> list[str]:
    ctes = [f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
c0 AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})"""]
    for i in range(iters):
        ctes.append(_kmeans_assign_cte(f"c{i}", f"a{i + 1}"))
        ctes.append(_kmeans_update_cte(f"a{i + 1}", f"u{i + 1}", f"c{i}",
                                       f"c{i + 1}"))
    return ctes


_KMEANS_ORACLE = (
    "WITH " + ",".join(_kmeans_ctes(k=8, iters=2)
                       + [_kmeans_assign_cte("c2", "afinal")])
    + "\nSELECT vec_id, cluster, sim FROM afinal"
)


# --- product-quantization oracle: replays pq_train's per-subspace L2
# Lloyd (shared md5 seed order, rounded |x|²−2xc+|c|² argmin, decimal
# means), pq_encode, and quantized_topk's ADC scoring as chained CTEs —
# the approximate computation itself is value-checked, code for code.


def _pq_assign_cte(j: int, bname: str, aname: str) -> str:
    return f"""
{aname} AS (
  SELECT vec_id, code FROM (
    SELECT e.vec_id, b.code,
           round(list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, b.cvec)
                 + list_dot_product(b.cvec, b.cvec), 6) AS d2
    FROM e{j} e, {bname} b
  ) QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, code) = 1
)"""


def _pq_ctes(m: int, k: int, iters: int, dim: int) -> list[str]:
    sub_len = dim // m
    ctes = [f"""seeds AS (
  SELECT vec_id, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
  FROM embeddings QUALIFY code < {k}
)"""]
    for j in range(m):
        lo, hi = j * sub_len + 1, (j + 1) * sub_len
        ctes.append(f"""e{j} AS (
  SELECT vec_id, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS v
  FROM embeddings)""")
        ctes.append(f"""b{j}_0 AS (
  SELECT s.code, e.v AS cvec FROM seeds s JOIN e{j} e USING (vec_id))""")
        for i in range(1, iters + 1):
            ctes.append(_pq_assign_cte(j, f"b{j}_{i - 1}", f"a{j}_{i}"))
            ctes.append(f"""u{j}_{i} AS (
  SELECT code, list(mval ORDER BY dim) AS cvec FROM (
    SELECT code, dim,
           round(CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 6) AS mval
    FROM (SELECT a.code, unnest(e.v) AS x,
                 generate_subscripts(e.v, 1) - 1 AS dim
          FROM a{j}_{i} a JOIN e{j} e USING (vec_id))
    GROUP BY code, dim) GROUP BY code
),
b{j}_{i} AS (
  SELECT * FROM u{j}_{i}
  UNION ALL
  SELECT code, cvec FROM b{j}_{i - 1}
  WHERE code NOT IN (SELECT code FROM u{j}_{i})
)""")
        ctes.append(_pq_assign_cte(j, f"b{j}_{iters}", f"enc{j}"))
    return ctes


def _pq_oracle(m: int = 16, k: int = 16, iters: int = 1, dim: int = 64,
               topk: int = 5, n_queries: int = 10) -> str:
    sub_len = dim // m
    ctes = _pq_ctes(m, k, iters, dim)
    num = " + ".join(
        f"list_dot_product(q.qv[{j * sub_len + 1}:{(j + 1) * sub_len}], "
        f"w{j}.cvec)" for j in range(m))
    rn2 = " + ".join(
        f"list_dot_product(w{j}.cvec, w{j}.cvec)" for j in range(m))
    joins = "\n    ".join(
        f"JOIN enc{j} ON enc{j}.vec_id = x.vec_id "
        f"JOIN b{j}_{iters} w{j} ON w{j}.code = enc{j}.code"
        for j in range(m))
    ctes.append(f"""q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {n_queries})""")
    ctes.append(f"""scored AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         round(({num})
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({rn2})),
               4) AS score
  FROM q, (SELECT vec_id FROM embeddings) x
    {joins}
  WHERE x.vec_id != q.query_id
)""")
    return ("WITH " + ",".join(ctes) + f"""
    SELECT query_id, neighbor_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) <= {topk}
""")


_PQ_ORACLE = _pq_oracle()


def _query_cte(n_queries: int) -> str:
    return f"""q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {n_queries})"""


def _probe_cte(cname: str, nprobe: int) -> str:
    """Top-``nprobe`` inverted lists per query — the SQL twin of
    similarity._probe_lists_lit (rounded cosine, sim desc / centroid asc)."""
    return f"""probes AS (
  SELECT query_id, centroid_id AS cluster FROM (
    SELECT q.query_id, c.centroid_id,
           round(list_dot_product(q.qv, c.cvec)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
    FROM q, {cname} c
  ) QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, centroid_id)
            <= {nprobe}
)"""


def _ivf_oracle(nlist: int = 16, nprobe: int = 4, coarse_iters: int = 1,
                topk: int = 5, n_queries: int = 10) -> str:
    """Raw-vector IVF replay (similarity.ivf_topk_rounded): the IVF-PQ
    oracle minus the PQ stage — coarse k-means unroll, rounded-cosine
    routing, top-nprobe probe selection, then exact cosine on the probed
    lists' vectors alone."""
    ctes = _kmeans_ctes(k=nlist, iters=coarse_iters)
    ctes.append(_kmeans_assign_cte(f"c{coarse_iters}", "afinal"))
    ctes.append(_query_cte(n_queries))
    ctes.append(_probe_cte(f"c{coarse_iters}", nprobe))
    ctes.append("""scored AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 4) AS sim
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN afinal x ON x.cluster = p.cluster
  JOIN e ON e.vec_id = x.vec_id
  WHERE x.vec_id != q.query_id
)""")
    return ("WITH " + ",".join(ctes) + f"""
    SELECT query_id, neighbor_id, sim FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) <= {topk}
""")


_IVF_ORACLE = _ivf_oracle()


def _sq8_rec_ctes() -> list[str]:
    """SQ8 quantize+reconstruct as CTEs over an existing ``e`` (vec_id,
    v): exact per-dim extrema, the identical code arithmetic
    ``round((x-mn)*255/(mx-mn))`` and reconstruction
    ``mn + code*((mx-mn)/255)`` — shared by the flat and the IVF-routed
    replays."""
    return ["""x AS (
  SELECT vec_id, unnest(v) AS x,
         generate_subscripts(v, 1) - 1 AS dim FROM e)""",
            """dims AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim)""",
            """rec AS (
  SELECT vec_id, list(rx ORDER BY dim) AS r FROM (
    SELECT x.vec_id, x.dim,
           CASE WHEN d.mx = d.mn THEN d.mn
                ELSE d.mn
                     + CAST(round((x.x - d.mn) * 255.0 / (d.mx - d.mn),
                                  0) AS INT)
                       * ((d.mx - d.mn) / 255.0)
           END AS rx
    FROM x JOIN dims d USING (dim))
  GROUP BY vec_id)"""]


def _sq8_oracle(topk: int = 5, n_queries: int = 10) -> str:
    """SQ8 replay (similarity.sq8_train/encode/topk): rounded cosine
    over the reconstructions, full corpus scan."""
    ctes = ["""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""]
    ctes.extend(_sq8_rec_ctes())
    ctes.append(_query_cte(n_queries))
    ctes.append("""scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, r.r)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(r.r, r.r))), 4) AS score
  FROM q, rec r WHERE r.vec_id != q.query_id)""")
    return ("WITH " + ",".join(ctes) + f"""
SELECT query_id, neighbor_id, score FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, neighbor_id) <= {topk}
""")


_SQ8_ORACLE = _sq8_oracle()


def _ivfsq8_oracle(nlist: int = 8, nprobe: int = 2,
                   coarse_iters: int = 1, topk: int = 5,
                   n_queries: int = 10) -> str:
    """IVF×SQ8 replay (similarity.quantized_topk "ivfsq8"): the coarse k-means
    unroll + routing + probe selection shared with the IVF/IVF-PQ
    oracles, then SQ8 reconstruction scoring restricted to the probed
    lists."""
    ctes = _kmeans_ctes(k=nlist, iters=coarse_iters)
    ctes.append(_kmeans_assign_cte(f"c{coarse_iters}", "afinal"))
    ctes.extend(_sq8_rec_ctes())
    ctes.append(_query_cte(n_queries))
    ctes.append(_probe_cte(f"c{coarse_iters}", nprobe))
    ctes.append("""scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, r.r)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(r.r, r.r))), 4) AS score
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN afinal a ON a.cluster = p.cluster
  JOIN rec r ON r.vec_id = a.vec_id
  WHERE a.vec_id != q.query_id)""")
    return ("WITH " + ",".join(ctes) + f"""
SELECT query_id, neighbor_id, score FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, neighbor_id) <= {topk}
""")


_IVFSQ8_ORACLE = _ivfsq8_oracle()


def _ivfpq_oracle(nlist: int = 8, nprobe: int = 2, m: int = 16,
                  k: int = 16, coarse_iters: int = 1, pq_iters: int = 1,
                  dim: int = 64, topk: int = 5,
                  n_queries: int = 10) -> str:
    """IVF-PQ replay: the coarse k-means unroll (shared generator with
    sim_kmeans_clusters), per-subspace PQ unrolls, top-nprobe probe
    selection, and ADC scoring restricted to the probed lists."""
    sub_len = dim // m
    ctes = _kmeans_ctes(k=nlist, iters=coarse_iters)
    ctes.append(_kmeans_assign_cte(f"c{coarse_iters}", "afinal"))
    ctes.extend(_pq_ctes(m, k, pq_iters, dim))
    ctes.append(_query_cte(n_queries))
    ctes.append(_probe_cte(f"c{coarse_iters}", nprobe))
    num = " + ".join(
        f"list_dot_product(q.qv[{j * sub_len + 1}:{(j + 1) * sub_len}], "
        f"w{j}.cvec)" for j in range(m))
    rn2 = " + ".join(
        f"list_dot_product(w{j}.cvec, w{j}.cvec)" for j in range(m))
    joins = "\n    ".join(
        f"JOIN enc{j} ON enc{j}.vec_id = x.vec_id "
        f"JOIN b{j}_{pq_iters} w{j} ON w{j}.code = enc{j}.code"
        for j in range(m))
    ctes.append(f"""scored AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         round(({num})
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({rn2})),
               4) AS score
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN afinal x ON x.cluster = p.cluster
    {joins}
  WHERE x.vec_id != q.query_id
)""")
    return ("WITH " + ",".join(ctes) + f"""
    SELECT query_id, neighbor_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) <= {topk}
""")


_IVFPQ_ORACLE = _ivfpq_oracle()


def _ivfpq_refresh_oracle(nlist: int = 8, nprobe: int = 2, m: int = 16,
                          k: int = 16, coarse_iters: int = 1,
                          pq_iters: int = 1, dim: int = 64,
                          topk: int = 5, n_queries: int = 10) -> str:
    """Twin of sim_index_refreshed: coarse k-means + PQ codebooks
    trained on the ORIGINAL corpus (identical CTEs to the ivfpq
    oracle), then the FINAL live corpus — ids 10-14 replaced by their
    negations, new ids 100015-100019 as halved copies of 15-19 —
    assigned and encoded against those FROZEN parameters, exactly what
    Engine.refresh_vector_index's frozen-model remove+append produces.
    The training-corpus encode CTEs (enc{j}) are stripped: the refresh
    semantics encode the final corpus, never the original."""
    sub_len = dim // m
    ctes = _kmeans_ctes(k=nlist, iters=coarse_iters)
    ctes.extend(c for c in _pq_ctes(m, k, pq_iters, dim)
                if not c.strip().startswith("enc"))
    ctes.append("""f AS (
  SELECT vec_id, v FROM e WHERE vec_id < 10 OR vec_id >= 15
  UNION ALL
  SELECT vec_id, list_transform(v, x -> -x) AS v
  FROM e WHERE vec_id >= 10 AND vec_id < 15
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 0.5) AS v
  FROM e WHERE vec_id >= 15 AND vec_id < 20)""")
    ctes.append(f"""fa AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT f.vec_id, c.centroid_id,
           round(list_dot_product(f.v, c.cvec)
                 / (sqrt(list_dot_product(f.v, f.v))
                    * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
    FROM f, c{coarse_iters} c
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, centroid_id) = 1)""")
    for j in range(m):
        lo, hi = j * sub_len + 1, (j + 1) * sub_len
        ctes.append(f"""f{j} AS (
  SELECT vec_id, v[{lo}:{hi}] AS v FROM f)""")
        ctes.append(f"""fenc{j} AS (
  SELECT vec_id, code FROM (
    SELECT e.vec_id, b.code,
           round(list_dot_product(e.v, e.v)
                 - 2 * list_dot_product(e.v, b.cvec)
                 + list_dot_product(b.cvec, b.cvec), 6) AS d2
    FROM f{j} e, b{j}_{pq_iters} b
  ) QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, code) = 1)""")
    ctes.append(_query_cte(n_queries))
    ctes.append(_probe_cte(f"c{coarse_iters}", nprobe))
    num = " + ".join(
        f"list_dot_product(q.qv[{j * sub_len + 1}:{(j + 1) * sub_len}], "
        f"w{j}.cvec)" for j in range(m))
    rn2 = " + ".join(
        f"list_dot_product(w{j}.cvec, w{j}.cvec)" for j in range(m))
    joins = "\n    ".join(
        f"JOIN fenc{j} ON fenc{j}.vec_id = x.vec_id "
        f"JOIN b{j}_{pq_iters} w{j} ON w{j}.code = fenc{j}.code"
        for j in range(m))
    ctes.append(f"""scored AS (
  SELECT q.query_id, x.vec_id AS neighbor_id,
         round(({num})
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt({rn2})),
               4) AS score
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN fa x ON x.cluster = p.cluster
    {joins}
  WHERE x.vec_id != q.query_id
)""")
    return ("WITH " + ",".join(ctes) + f"""
    SELECT query_id, neighbor_id, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) <= {topk}
""")


_IVFPQ_REFRESH_ORACLE = _ivfpq_refresh_oracle()

_CLUSTER_SUMMARY_ORACLE = (
    "WITH " + ",".join(_kmeans_ctes(k=8, iters=2)
                       + [_kmeans_assign_cte("c2", "afinal")])
    + """
SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(sim AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS mean_sim,
       min(sim) AS min_sim
FROM afinal GROUP BY cluster"""
)

_SEMDEDUP_ORACLE = (
    "WITH " + ",".join(_kmeans_ctes(k=8, iters=1)
                       + [_kmeans_assign_cte("c1", "afinal")])
    + """,
av AS (SELECT afinal.vec_id, cluster, v FROM afinal JOIN e USING (vec_id)),
pairs AS (
  SELECT b.vec_id AS id_b
  FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45
)
SELECT vec_id, cluster,
       vec_id NOT IN (SELECT id_b FROM pairs) AS keep
FROM afinal"""
)


# --- BPE merge-learning oracle: replays all 8 iterations (pair count ->
# (count desc, lhs, rhs) argmax -> list_reduce greedy re-segmentation)
# over the type vocabulary. MATERIALIZED stops DuckDB re-inlining the
# doubly-referenced types tables.


def _bpe_ctes(iters: int = 8) -> list:
    ctes = [rf"""toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
    t0 AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks
           GROUP BY token),
    types0 AS MATERIALIZED (
        SELECT token, n, regexp_extract_all(token, '.') AS pieces FROM t0)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""px{i} AS (
        SELECT n, unnest(list_transform(range(1, len(pieces)),
                   j -> {{'lhs': pieces[j], 'rhs': pieces[j + 1]}})) AS p
        FROM types{i - 1} WHERE len(pieces) >= 2),
    pairs{i} AS (SELECT p.lhs AS lhs, p.rhs AS rhs,
                        CAST(sum(n) AS BIGINT) AS c
                 FROM px{i} GROUP BY 1, 2),
    best{i} AS MATERIALIZED (SELECT lhs, rhs, c FROM pairs{i}
                             ORDER BY c DESC, lhs, rhs LIMIT 1),
    types{i} AS MATERIALIZED (
        SELECT token, n,
               list_reduce(list_transform(pieces, pp -> [pp]),
                   (acc, x) -> CASE WHEN acc[len(acc)] = b.lhs
                                     AND x[1] = b.rhs
                               THEN list_concat(acc[1:len(acc) - 1],
                                                [b.lhs || b.rhs])
                               ELSE list_concat(acc, x) END) AS pieces
        FROM types{i - 1}, best{i} b)""")
    return ctes


def _bpe_oracle(iters: int = 8) -> str:
    final = " UNION ALL ".join(
        f"SELECT {i} AS merge_idx, lhs, rhs, c AS pair_count FROM best{i}"
        for i in range(1, iters + 1))
    return "WITH " + ",".join(_bpe_ctes(iters)) + " " + final


def _bpe_segment_oracle(iters: int = 8) -> str:
    # application-side check: doc tokens joined to the final type
    # segmentation (types{iters} from the same training unroll) —
    # verifies greedy merge application through a different path than
    # the per-doc chained folds the Spark entry runs; NULL/token-less
    # docs keep a (0, 0) row via the left join
    return "WITH " + ",".join(_bpe_ctes(iters)) + rf""",
    occ2 AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    seg AS (SELECT occ2.doc_id, len(ty.pieces) AS np
            FROM occ2 JOIN types{iters} ty USING (token))
    SELECT d.doc_id,
           CAST(count(seg.np) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(seg.np), 0) AS BIGINT) AS n_pieces
    FROM documents d LEFT JOIN seg ON seg.doc_id = d.doc_id
    GROUP BY d.doc_id
"""


_BPE_ORACLE = _bpe_oracle()
_BPE_SEGMENT_ORACLE = _bpe_segment_oracle()



# --- logistic-regression quality-classifier oracle: replays the FULL
# training trajectory (hashed features, 10 chained GD iterations with
# decimal-sum gradients and fixed-decimal rounding, final scoring) so the
# trained probabilities value-match classifier.py exactly. Built by a
# helper so the iteration count provably matches the Spark entry's.


def _logreg_iter_ctes(i: int, lr: float) -> str:
    return f"""
    z{i} AS (
        SELECT f.doc_id,
               round(CAST(sum(CAST(w.w * f.x AS DECIMAL(38,12)))
                          AS DOUBLE) + (SELECT b FROM b{i - 1}), 6) AS z
        FROM featr f JOIN w{i - 1} w USING (j) GROUP BY f.doc_id
    ),
    p{i} AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 8) AS p
             FROM z{i}),
    e{i} AS MATERIALIZED (SELECT p{i}.doc_id, p - y AS err
             FROM p{i} JOIN lab USING (doc_id)),
    g{i} AS (SELECT j, CAST(sum(CAST(err * x AS DECIMAL(38,12)))
                            AS DOUBLE) AS g
             FROM e{i} JOIN featr USING (doc_id) GROUP BY j),
    gb{i} AS (SELECT CAST(sum(CAST(err AS DECIMAL(38,12))) AS DOUBLE) AS g
              FROM e{i}),
    w{i} AS MATERIALIZED (SELECT w.j,
                    round(w.w - {lr} * (coalesce(g.g, 0.0)
                                        / (SELECT n FROM nn)), 8) AS w
             FROM w{i - 1} w LEFT JOIN g{i} g USING (j)),
    b{i} AS MATERIALIZED (SELECT round(b - {lr} * (coalesce((SELECT g FROM gb{i}), 0.0)
                                      / (SELECT n FROM nn)), 8) AS b
             FROM b{i - 1})"""


def _logreg_oracle(n_buckets: int = 32, len_cap: int = 50,
                   iters: int = 6, lr: float = 25.0,
                   holdout_mod: int | None = None) -> str:
    # holdout_mod=k: train on doc_id % k != 0, score doc_id % k == 0
    train_w = f" WHERE doc_id % {holdout_mod} != 0" if holdout_mod else ""
    score_w = f" WHERE doc_id % {holdout_mod} = 0" if holdout_mod else ""
    base = rf"""
    gbase AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(coalesce(text, '')), '[ \t\n\x0B\f\r]+'),
                   w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                   l -> trim(l) != '') AS lines
        FROM documents
    ),
    gsig AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               round(CAST(coalesce(list_aggregate(
                       list_transform(words, w -> length(w)), 'sum'), 0)
                     AS DOUBLE) / greatest(len(words), 1), 4)
                   AS mean_word_len,
               round(CAST(len(list_filter(words,
                       w -> regexp_matches(w, '\p{{L}}'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_alpha_words,
               round(CAST(len(list_filter(words,
                       w -> contains(w, '#') OR contains(w, '...')
                            OR contains(w, '…'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_symbol_words,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '^[\-\*•‣◦]')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_bullet_lines,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_ellipsis_lines
        FROM gbase
    ),
    lab AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN (n_words >= 20 AND n_words <= 100000
                          AND mean_word_len >= 3 AND mean_word_len <= 10
                          AND frac_alpha_words >= 0.8
                          AND frac_symbol_words <= 0.1
                          AND frac_bullet_lines <= 0.9
                          AND frac_ellipsis_lines <= 0.3)
                    THEN 1.0 ELSE 0.0 END AS y
        FROM gsig
    ),
    occ AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    bc AS (SELECT doc_id,
                  ('0x' || substr(md5(token), 1, 15))::BIGINT
                      % {n_buckets} AS j,
                  count(*) AS c
           FROM occ GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(c) AS t FROM bc GROUP BY 1),
    feat AS MATERIALIZED (
        SELECT bc.doc_id, bc.j, round(c / CAST(t AS DOUBLE), 6) AS x
        FROM bc JOIN tot USING (doc_id)
        UNION ALL
        SELECT doc_id, {n_buckets} AS j,
               round(least(t / {float(len_cap)}, 1.0), 6) AS x
        FROM tot
    ),
    featr AS MATERIALIZED (SELECT * FROM feat{train_w}),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM tot{train_w}),
    w0 AS (SELECT unnest(range({n_buckets + 1})) AS j, 0.0 AS w),
    b0 AS (SELECT 0.0 AS b)"""
    parts = [base]
    parts.extend(_logreg_iter_ctes(i, lr) for i in range(1, iters + 1))
    parts.append(f"""
    feats AS (SELECT * FROM feat{score_w}),
    zf AS (
        SELECT f.doc_id,
               round(CAST(sum(CAST(w.w * f.x AS DECIMAL(38,12)))
                          AS DOUBLE) + (SELECT b FROM b{iters}), 6) AS z
        FROM feats f JOIN w{iters} w USING (j) GROUP BY f.doc_id
    ),
    pf AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 8) AS p FROM zf)""")
    return ("WITH " + ",".join(parts) + """
    SELECT pf.doc_id, y >= 0.5 AS label, p AS prob, p >= 0.5 AS pred
    FROM pf JOIN lab USING (doc_id)""")


_LOGREG_ORACLE = _logreg_oracle()
_LOGREG_HOLDOUT_ORACLE = _logreg_oracle(holdout_mod=7)


# --- Luhn card-redaction oracle: replays injection, the \b candidate
# regex, the checksum lambda, and the ordered literal-replace fold.
_CARD_STRIP = "replace(replace(c, ' ', ''), '-', '')"
_CARD_DIGIT = (f"CAST(substr({_CARD_STRIP}, "
               f"length({_CARD_STRIP}) - i + 1, 1) AS INT)")
_CARD_LUHN = f"""(list_sum(list_transform(
        range(1, length({_CARD_STRIP}) + 1),
        i -> CASE WHEN i % 2 = 0
                  THEN CASE WHEN 2 * {_CARD_DIGIT} > 9
                            THEN 2 * {_CARD_DIGIT} - 9
                            ELSE 2 * {_CARD_DIGIT} END
                  ELSE {_CARD_DIGIT} END)) % 10 = 0)"""
_CARDS_ORACLE = rf"""
    WITH injected AS (
        SELECT doc_id,
               coalesce(text, '') || ' pay 4111-1111-1111-1111 ref '
                    || lpad(CAST(doc_id AS VARCHAR), 13, '0') AS text
        FROM documents
    ),
    cand AS (
        SELECT doc_id, text,
               list_filter(
                   list_transform(
                       string_split_regex(text, '[^0-9 -]+'),
                       p -> regexp_replace(p, '^[ -]+|[ -]+$', '', 'g')),
                   p -> length(replace(replace(p, ' ', ''), '-', ''))
                        BETWEEN 13 AND 19) AS cands
        FROM injected
    ),
    val AS (
        SELECT doc_id, text, cands,
               list_filter(cands, c -> {_CARD_LUHN}) AS valid
        FROM cand
    )
    SELECT doc_id,
           CAST(len(cands) AS BIGINT) AS n_card_candidates,
           CAST(len(valid) AS BIGINT) AS n_cards,
           md5(list_reduce(list_prepend(text, valid),
                           (acc, v) -> replace(acc, v, '<CARD>')))
               AS redacted_md5
    FROM val
"""


def _softmax_iter_ctes(i: int, lr: float) -> str:
    """one softmax GD iteration: per-(doc, class) decimal dots, rounded
    z, max-shifted rounded exponentials, decimal-summed normalizer,
    rounded probabilities, then the (class, dim) gradient — the exact
    expressions classifier.py's train_softmax evaluates on Spark."""
    return f"""
    d{i} AS (
        SELECT f.doc_id, w.k,
               CAST(sum(CAST(w.w * f.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM featr f JOIN w{i - 1} w USING (j) GROUP BY 1, 2
    ),
    z{i} AS (SELECT d.doc_id, d.k, round(d.dot + b.b, 6) AS z
             FROM d{i} d JOIN b{i - 1} b ON b.k = d.k),
    m{i} AS (SELECT doc_id, max(z) AS m FROM z{i} GROUP BY doc_id),
    e{i} AS (SELECT z.doc_id, z.k, round(exp(z - m), 8) AS e
             FROM z{i} z JOIN m{i} USING (doc_id)),
    t{i} AS (SELECT doc_id,
                    CAST(sum(CAST(e AS DECIMAL(38,12))) AS DOUBLE) AS t
             FROM e{i} GROUP BY doc_id),
    p{i} AS (SELECT e.doc_id, e.k, round(e / t, 8) AS p
             FROM e{i} e JOIN t{i} USING (doc_id)),
    er{i} AS MATERIALIZED (
        SELECT p.doc_id, p.k,
               p - CASE WHEN lab.y = p.k THEN 1.0 ELSE 0.0 END AS err
        FROM p{i} p JOIN lab USING (doc_id)
    ),
    g{i} AS (SELECT e.k, f.j,
                    CAST(sum(CAST(err * x AS DECIMAL(38,12))) AS DOUBLE) AS g
             FROM er{i} e JOIN featr f USING (doc_id) GROUP BY e.k, f.j),
    gb{i} AS (SELECT k, CAST(sum(CAST(err AS DECIMAL(38,12))) AS DOUBLE) AS g
              FROM er{i} GROUP BY k),
    w{i} AS MATERIALIZED (
        SELECT w.k, w.j,
               round(w.w - {lr} * (coalesce(g.g, 0.0)
                                   / (SELECT n FROM nn)), 8) AS w
        FROM w{i - 1} w LEFT JOIN g{i} g ON g.k = w.k AND g.j = w.j),
    b{i} AS MATERIALIZED (
        SELECT b.k,
               round(b.b - {lr} * (coalesce(g.g, 0.0)
                                   / (SELECT n FROM nn)), 8) AS b
        FROM b{i - 1} b LEFT JOIN gb{i} g USING (k))"""


def _softmax_oracle(n_buckets: int = 32, len_cap: int = 50,
                    n_classes: int = 5, iters: int = 4, lr: float = 25.0,
                    holdout_mod: int = 7,
                    eval_rollup: bool = False) -> str:
    train_w = f" WHERE doc_id % {holdout_mod} != 0"
    score_w = f" WHERE doc_id % {holdout_mod} = 0"
    base = f"""
    cls AS (SELECT lang, CAST(dense_rank() OVER (ORDER BY lang) - 1
                              AS BIGINT) AS k
            FROM (SELECT DISTINCT lang FROM documents)),
    lab AS MATERIALIZED (
        SELECT doc_id, CAST(c.k AS DOUBLE) AS y
        FROM documents d JOIN cls c USING (lang)),
    occ AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    bc AS (SELECT doc_id,
                  ('0x' || substr(md5(token), 1, 15))::BIGINT
                      % {n_buckets} AS j,
                  count(*) AS c
           FROM occ GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(c) AS t FROM bc GROUP BY 1),
    feat AS MATERIALIZED (
        SELECT bc.doc_id, bc.j, round(c / CAST(t AS DOUBLE), 6) AS x
        FROM bc JOIN tot USING (doc_id)
        UNION ALL
        SELECT doc_id, {n_buckets} AS j,
               round(least(t / {float(len_cap)}, 1.0), 6) AS x
        FROM tot
    ),
    featr AS MATERIALIZED (SELECT * FROM feat{train_w}),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM tot{train_w}),
    w0 AS (SELECT kk.k, jj.j, 0.0 AS w
           FROM (SELECT unnest(range({n_classes})) AS k) kk,
                (SELECT unnest(range({n_buckets + 1})) AS j) jj),
    b0 AS (SELECT unnest(range({n_classes})) AS k, 0.0 AS b)"""
    parts = [base]
    parts.extend(_softmax_iter_ctes(i, lr) for i in range(1, iters + 1))
    parts.append(f"""
    feats AS (SELECT * FROM feat{score_w}),
    df AS (
        SELECT f.doc_id, w.k,
               CAST(sum(CAST(w.w * f.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
        FROM feats f JOIN w{iters} w USING (j) GROUP BY 1, 2
    ),
    zf AS (SELECT d.doc_id, d.k, round(d.dot + b.b, 6) AS z
           FROM df d JOIN b{iters} b ON b.k = d.k),
    mf AS (SELECT doc_id, max(z) AS m FROM zf GROUP BY doc_id),
    ef AS (SELECT z.doc_id, z.k, round(exp(z - m), 8) AS e
           FROM zf z JOIN mf USING (doc_id)),
    tf AS (SELECT doc_id,
                  CAST(sum(CAST(e AS DECIMAL(38,12))) AS DOUBLE) AS t
           FROM ef GROUP BY doc_id),
    pf AS (SELECT e.doc_id, e.k, round(e / t, 8) AS p
           FROM ef e JOIN tf USING (doc_id)),
    mx AS (SELECT doc_id, max(p) AS prob FROM pf GROUP BY doc_id),
    pr AS (SELECT pf.doc_id, CAST(min(pf.k) AS INTEGER) AS pred
           FROM pf JOIN mx ON pf.doc_id = mx.doc_id AND pf.p = mx.prob
           GROUP BY pf.doc_id),
    scored AS (
        SELECT pr.doc_id, CAST(lab.y AS INTEGER) AS label,
               pr.pred, mx.prob
        FROM pr JOIN mx USING (doc_id) JOIN lab USING (doc_id))""")
    q = "WITH " + ",".join(parts)
    if eval_rollup:
        return q + """
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS accuracy
    FROM scored GROUP BY label"""
    return q + """
    SELECT doc_id, label, pred, prob FROM scored"""


_SOFTMAX_ORACLE = _softmax_oracle()
_SOFTMAX_EVAL_ORACLE = _softmax_oracle(eval_rollup=True)


# --- composed CCNet-style curation pipeline oracle: replays the injected
# union, the unigram LM, per-lang type-7 terciles, the Gopher gate
# (min_words=20, stop-word rule off), and the fingerprint canonical pass.

_CURATE_ORACLE = rf"""
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text, lang
        FROM documents WHERE doc_id % 50 = 3
    ),
    occ AS (SELECT doc_id, unnest({_TOKS}) AS token FROM corpus),
    freq AS (SELECT token, count(*) AS c FROM occ GROUP BY token),
    total AS (SELECT sum(c) AS n FROM freq),
    logp AS (SELECT token, ln(c) - ln((SELECT n FROM total)) AS lp
             FROM freq),
    scores AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(lp), 4) AS mean_logprob
        FROM occ JOIN logp USING (token) GROUP BY doc_id
    ),
    ls AS (SELECT c.doc_id, c.lang, s.n_tokens, s.mean_logprob
           FROM corpus c JOIN scores s USING (doc_id)),
    ranked AS (SELECT lang AS stratum, mean_logprob AS v,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY mean_logprob) AS r
               FROM ls),
    counts AS (SELECT stratum, count(*) AS n FROM ranked GROUP BY stratum),
    qs AS (SELECT CAST(unnest([0.3333333333333333, 0.6666666666666666])
                       AS DOUBLE) AS q),
    targets AS (
        SELECT stratum, q, 1.0 + (n - 1) * q AS p,
               CAST(floor(1.0 + (n - 1) * q) AS BIGINT) AS rf,
               CAST(ceil(1.0 + (n - 1) * q) AS BIGINT) AS rc
        FROM counts, qs
    ),
    tv AS (
        SELECT t.stratum, t.q,
               round(lo.v + (t.p - t.rf) * (hi.v - lo.v), 6) AS value
        FROM targets t
        JOIN ranked lo ON lo.stratum = t.stratum AND lo.r = t.rf
        JOIN ranked hi ON hi.stratum = t.stratum AND hi.r = t.rc
    ),
    bounds AS (
        SELECT stratum AS lang,
               min(CASE WHEN q < 0.5 THEN value END) AS b33,
               min(CASE WHEN q > 0.5 THEN value END) AS b67
        FROM tv GROUP BY stratum
    ),
    gbase AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(coalesce(text, '')), '[ \t\n\x0B\f\r]+'),
                   w -> w != '') AS words,
               list_filter(string_split(coalesce(text, ''), chr(10)),
                   l -> trim(l) != '') AS lines
        FROM corpus
    ),
    gsig AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               round(CAST(coalesce(list_aggregate(
                       list_transform(words, w -> length(w)), 'sum'), 0)
                     AS DOUBLE) / greatest(len(words), 1), 4)
                   AS mean_word_len,
               round(CAST(len(list_filter(words,
                       w -> regexp_matches(w, '\p{{L}}'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_alpha_words,
               round(CAST(len(list_filter(words,
                       w -> contains(w, '#') OR contains(w, '...')
                            OR contains(w, '…'))) AS DOUBLE)
                     / greatest(len(words), 1), 4) AS frac_symbol_words,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '^[\-\*•‣◦]')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_bullet_lines,
               round(CAST(len(list_filter(lines,
                       l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                     AS DOUBLE)
                     / greatest(len(lines), 1), 4) AS frac_ellipsis_lines
        FROM gbase
    ),
    gate AS (
        SELECT doc_id,
               (n_words >= 20 AND n_words <= 100000
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND frac_alpha_words >= 0.8
                AND frac_symbol_words <= 0.1
                AND frac_bullet_lines <= 0.9
                AND frac_ellipsis_lines <= 0.3) AS gopher_pass
        FROM gsig
    ),
    fps AS (SELECT doc_id, {_FP} AS f FROM corpus),
    owners AS (SELECT f, min(doc_id) AS own FROM fps GROUP BY f),
    canon AS (SELECT fps.doc_id, fps.doc_id = o.own AS is_canonical
              FROM fps JOIN owners o USING (f)),
    dec AS (
        SELECT c.doc_id, c.lang, s.n_tokens, s.mean_logprob,
               CASE WHEN s.mean_logprob >= b.b67 THEN 'head'
                    WHEN s.mean_logprob >= b.b33 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               g.gopher_pass, k.is_canonical
        FROM corpus c
        LEFT JOIN scores s ON s.doc_id = c.doc_id
        LEFT JOIN bounds b ON b.lang = c.lang
        JOIN gate g ON g.doc_id = c.doc_id
        JOIN canon k ON k.doc_id = c.doc_id
    )
    SELECT doc_id, lang, n_tokens, mean_logprob, ppl_bucket, gopher_pass,
           is_canonical,
           (gopher_pass AND is_canonical AND ppl_bucket != 'tail') AS keep
    FROM dec
"""

_JACCARD_ORACLE = r"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[^\W_]+') AS toks
        FROM documents
    ),
    g AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i FROM t),
    sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS tok FROM g),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / (x.sz + y.sz - inter), 4) AS jaccard
    FROM p JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
    WHERE round(inter / (x.sz + y.sz - inter), 4) >= 0.8
"""
