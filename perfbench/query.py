"""warehouse_query: one analyst issuing a seeded mix of short reads
against an on-disk SCD-2 cube and the raw tables it was built from, and
now and then a curation job over a document corpus.

Setup writes the seeded tables and builds the ``ev`` cube (every event
a version, closed by the user's next event); ``deptree`` walks a
generated parent → children graph. It also writes the seeded corpus of
the curation ops (``perfbench.curation``). Setup then warms the session
with one read of every kind; the curation ops are not warmed, so the
first round's curation ops are each kind's first run in the session.
The loop runs whole rounds; each round is two seeded permutations of
the read kinds followed by the curation jobs in pipeline order, all with
fresh seeded literals, so the mix is the same for every seed while each
op plans afresh; a round ends by clearing Spark's cache.
Every result is compared with DuckDB over the same parquet (or, for
``deptree``, a Python closure over the generated graph).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

from perfbench import check, curation, datagen
from perfbench.harness import Op

# nominal seconds per round at local[4] on a 4-core x86 VM: 17 s measured
# on an idle host, twice that while other guests loaded it
ROUND_S = 20.0
# reads of each kind per round: the median and the tail of 24 reads vary
# less between seeds than those of 12 (op_tail_s spread 0.13-0.18 at 12)
READ_PASSES = 2


def _day(rng, lo=2, hi=29) -> dt.datetime:
    return datagen.EPOCH_2024 + dt.timedelta(days=int(rng.integers(lo - 1, hi - 1)),
                                             hours=int(rng.integers(0, 24)))


def _lit(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


class QueryWorkload:
    name = "warehouse_query"
    op_roles = ("query",)
    measured_roles = ("query", "curate")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.cur = curation.CurationOps(ctx.spark)

    # -- setup -------------------------------------------------------------

    def setup(self) -> dict:
        from metrique_spark.engine import Engine
        from metrique_spark.objects import stamp

        import __spark_entry__ as entry

        ctx = self.ctx
        t0 = time.perf_counter()
        self.data_dir = os.path.join(ctx.run_dir, "data")
        self.graph = datagen.write_query_inputs(self.data_dir, ctx.seed)["graph"]
        self.eng = Engine(self.spark, warehouse=os.path.join(ctx.run_dir, "warehouse"))
        versions = entry._versions(self.spark, self.data_dir)
        self.eng.upsert("ev", stamp(versions), stamped=True, autosnap=False)
        build_s = time.perf_counter() - t0
        build_s += self.cur.setup(os.path.join(ctx.run_dir, "corpus"), ctx.seed)
        self.graph_df = self.spark.createDataFrame(
            list(self.graph.items()), "_oid long, children array<long>")
        self.con = check.connect(self.data_dir, ("events", "lineitem", "orders"))
        self.con.execute(f"CREATE VIEW v AS {check.VERSIONS_SQL}")
        self.entries, self.oracles = entry.queries(), entry.oracle_sql()
        self.lineitem = entry._t(self.spark, self.data_dir, "lineitem")
        self.orders = entry._t(self.spark, self.data_dir, "orders")
        t0 = time.perf_counter()
        warm = np.random.default_rng([ctx.seed, 4])
        for kind in self.KINDS:
            ctx.harness.run(getattr(self, kind)(warm), role="warmup")
        return {"build_s": build_s, "warmup_s": time.perf_counter() - t0}

    # -- op kinds ----------------------------------------------------------

    KINDS = ("find_asof", "find_current", "count_range", "distinct_asof",
             "dfind_oids", "deptree", "history_daily", "asof_join",
             "correlate", "activity", "pricing_summary", "priority_revenue")

    def _sql_frame(self, sql: str):
        return lambda: self.con.execute(sql).fetchdf()

    def find_asof(self, rng) -> Op:
        t = datagen.EVENT_TYPES[int(rng.integers(0, 5))]
        v = int(rng.integers(0, 90))
        d = _lit(_day(rng))
        return Op(
            "find_asof",
            lambda: self.eng.find("ev", f"event_type == '{t}' and value >= {v}",
                                  fields="event_type,value", date=d),
            self._sql_frame(f"SELECT _oid, event_type, value, _start, _end FROM v "
                            f"WHERE event_type = '{t}' AND value >= {v} AND "
                            f"_start < TIMESTAMP '{d}' AND "
                            f"(_end >= TIMESTAMP '{d}' OR _end IS NULL)"),
            check.frame_diff)

    def find_current(self, rng) -> Op:
        a, b = (datagen.EVENT_TYPES[i] for i in rng.choice(5, 2, replace=False))
        hi = int(rng.integers(200, 1500))
        return Op(
            "find_current",
            lambda: self.eng.find("ev", f"event_type in ['{a}', '{b}'] and _oid < {hi}",
                                  fields="event_type,value"),
            self._sql_frame(f"SELECT _oid, event_type, value, _start, _end FROM v "
                            f"WHERE event_type IN ('{a}', '{b}') AND _oid < {hi} "
                            f"AND _end IS NULL"),
            check.frame_diff)

    def count_range(self, rng) -> Op:
        v = round(float(rng.uniform(5, 95)), 2)
        d1 = _day(rng, 2, 20)
        d2 = d1 + dt.timedelta(days=int(rng.integers(1, 9)))
        lo, hi = _lit(d1), _lit(d2)
        return Op(
            "count_range",
            lambda: self.eng.count("ev", f"value < {v}", date=f"{lo}~{hi}"),
            lambda: int(self.con.execute(
                f"SELECT count(*) FROM v WHERE value < {v} AND "
                f"_start < TIMESTAMP '{hi}' AND (_end >= TIMESTAMP '{lo}' "
                f"OR _end IS NULL)").fetchone()[0]),
            check.scalar_diff)

    def distinct_asof(self, rng) -> Op:
        v = int(rng.integers(50, 99))
        d = _lit(_day(rng))
        return Op(
            "distinct_asof",
            lambda: self.eng.distinct("ev", "event_type", query=f"value > {v}", date=d),
            self._sql_frame(f"SELECT DISTINCT event_type FROM v WHERE value > {v} "
                            f"AND _start < TIMESTAMP '{d}' AND "
                            f"(_end >= TIMESTAMP '{d}' OR _end IS NULL)"),
            check.frame_diff)

    def dfind_oids(self, rng) -> Op:
        a = int(rng.integers(0, 1450))
        return Op(
            "dfind_oids",
            lambda: self.eng.dfind("ev", ["event_type"],
                                   query=f"_oid >= {a} and _oid < {a + 40}")
            .select("_oid", "_start", "field", "old", "new"),
            self._sql_frame(
                f"WITH o AS (SELECT _oid, _start, lag(event_type) OVER w AS old, "
                f"event_type AS new, row_number() OVER w AS rn FROM v "
                f"WHERE _oid >= {a} AND _oid < {a + 40} "
                f"WINDOW w AS (PARTITION BY _oid ORDER BY _start)) "
                f"SELECT _oid, _start, 'event_type' AS field, old, new FROM o "
                f"WHERE rn > 1 AND old IS DISTINCT FROM new"),
            check.frame_diff)

    def deptree(self, rng) -> Op:
        seeds = sorted(int(s) for s in rng.choice(30, 2, replace=False))
        level = int(rng.integers(2, 6))
        return Op(
            "deptree",
            lambda: self.eng.deptree(self.graph_df, "children", seeds, level=level,
                                     date="~"),
            lambda: check.closure(self.graph, seeds, level),
            check.scalar_diff)

    def history_daily(self, rng) -> Op:
        from metrique_spark import temporal

        d1 = datagen.EPOCH_2024 + dt.timedelta(days=int(rng.integers(0, 15)))
        d2 = d1 + dt.timedelta(days=int(rng.integers(5, 15)))
        lo, hi = _lit(d1), _lit(d2)
        return Op(
            "history_daily",
            lambda: temporal.history(self.eng.table("ev"),
                                     temporal.date_spine(self.spark, lo, hi, "daily"),
                                     count_col="n"),
            self._sql_frame(
                f"WITH spine AS (SELECT unnest(generate_series(TIMESTAMP '{lo}', "
                f"TIMESTAMP '{hi}', INTERVAL 1 DAY)) AS _date) "
                f"SELECT spine._date, count(v._start) AS n FROM spine LEFT JOIN v "
                f"ON v._start <= spine._date AND (v._end > spine._date OR v._end IS NULL) "
                f"GROUP BY spine._date"),
            check.frame_diff)

    def _entry_slice(self, kind: str, entry: str, col: str, rng, width: int) -> Op:
        """A ``queries()`` composition narrowed to a seeded key range,
        checked against its ``oracle_sql()`` twin under the same range."""
        from pyspark.sql import functions as F

        a = int(rng.integers(0, 1500 - width))
        return Op(
            kind,
            lambda: self.entries[entry](self.spark, self.data_dir)
            .where(F.col(col).between(a, a + width - 1)),
            self._sql_frame(f"SELECT * FROM ({self.oracles[entry]}) q "
                            f"WHERE {col} BETWEEN {a} AND {a + width - 1}"),
            check.frame_diff)

    def asof_join(self, rng) -> Op:
        return self._entry_slice("asof_join", "tmp_asof_join", "user_id", rng, 150)

    def correlate(self, rng) -> Op:
        return self._entry_slice("correlate", "events_correlate", "user_id", rng, 300)

    def activity(self, rng) -> Op:
        return self._entry_slice("activity", "activity_reconstruct", "_oid", rng, 100)

    def pricing_summary(self, rng) -> Op:
        from pyspark.sql import functions as F

        d = (datagen.EPOCH_1995 + dt.timedelta(days=int(rng.integers(400, 2400)))).date()
        q = int(rng.integers(1, 40))
        dec = "decimal(18,2)"

        def build():
            li = self.eng.find(self.lineitem,
                               f"l_shipdate <= date('{d}') and l_quantity >= {q}",
                               default_fields=False)
            disc = (F.lit(1.0) - F.col("l_discount")).cast(dec)
            return li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.round(F.sum(F.col("l_extendedprice").cast(dec)), 2)
                .cast("double").alias("sum_base_price"),
                F.round(F.sum(F.col("l_extendedprice").cast(dec) * disc), 2)
                .cast("double").alias("sum_disc_price"),
                F.count("*").alias("count_order"))

        return Op(
            "pricing_summary", build,
            self._sql_frame(
                f"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                f"CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) "
                f"AS sum_base_price, CAST(round(sum(CAST(l_extendedprice AS "
                f"DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))), 2) "
                f"AS DOUBLE) AS sum_disc_price, count(*) AS count_order "
                f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}' AND "
                f"l_quantity >= {q} GROUP BY l_returnflag, l_linestatus"),
            check.frame_diff)

    def priority_revenue(self, rng) -> Op:
        from pyspark.sql import functions as F

        d1 = (datagen.EPOCH_1995 + dt.timedelta(days=int(rng.integers(0, 1800)))).date()
        d2 = d1 + dt.timedelta(days=int(rng.integers(30, 365)))
        dec = "decimal(18,2)"

        def build():
            o = self.eng.find(self.orders,
                              f"o_orderdate >= date('{d1}') and o_orderdate < date('{d2}')",
                              default_fields=False)
            li = self.lineitem
            return (li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
                    .groupBy("o_orderpriority")
                    .agg(F.count("*").alias("n_lines"),
                         F.round(F.sum(F.col("l_extendedprice").cast(dec)
                                       * (F.lit(1.0) - F.col("l_discount")).cast(dec)), 2)
                         .cast("double").alias("revenue")))

        return Op(
            "priority_revenue", build,
            self._sql_frame(
                f"SELECT o_orderpriority, count(*) AS n_lines, "
                f"CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
                f"CAST(1.0 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue "
                f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                f"WHERE o_orderdate >= TIMESTAMP '{d1}' AND o_orderdate < TIMESTAMP '{d2}' "
                f"GROUP BY o_orderpriority"),
            check.frame_diff)

    # -- op stream ---------------------------------------------------------

    def _make(self, kind: str) -> tuple[str, Op]:
        if kind in curation.KINDS:
            return "curate", self.cur.op(kind, self.rng)
        return "query", getattr(self, kind)(self.rng)

    def rounds(self):
        """Endless seeded stream of rounds of (role, op): ``READ_PASSES``
        seeded permutations of the read kinds, then the curation jobs in
        pipeline order, all with fresh seeded literals."""
        while True:
            reads = [self.KINDS[int(i)] for _ in range(READ_PASSES)
                     for i in self.rng.permutation(len(self.KINDS))]
            yield [self._make(k) for k in reads + list(curation.KINDS)]

    def measure(self, seconds: float) -> dict:
        """As many whole rounds as fit in ``seconds`` at the nominal
        ``ROUND_S`` per round, at least one: every seed and every commit
        of the program then runs the same work, and a faster program
        shows as a shorter measurement rather than as more ops of a
        different mix."""
        h = self.ctx.harness
        busy = 0.0
        stream = self.rounds()
        rounds = max(1, int(seconds // ROUND_S))
        for _ in range(rounds):
            for role, op in next(stream):
                h.run(op, role=role)
                busy += h.records[-1]["wall"]
            self.spark.catalog.clearCache()
        return {"busy_s": busy, "rounds": rounds}

    def finish(self) -> dict:
        return {"layers": self.cur.ratios()} if self.ctx.harness.trace else {}

    def record(self, h, setup: dict, fin: dict) -> dict:
        ops = h.timing(("query",)) or {}
        cur = h.walls(("curate",))
        return {"query_p50_s": ops.get("p50"), "query_tail_s": ops.get("tail"),
                "queries": ops.get("n"),
                "curation_s_per_round": sum(cur) / max(len(cur) // len(curation.KINDS), 1),
                "curation_ops": len(cur)}
