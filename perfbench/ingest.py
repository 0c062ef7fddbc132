"""warehouse_ingest: one ETL writer on a fresh cube.

Setup bulk-loads the seeded objects into a fresh warehouse, builds a
small embedding cube with an IVF index, and makes three warm-up commits
from the same CDC stream as the measured ones. The loop then commits seeded CDC batches (2 to ~1,000
oids, skewed toward recent oids, a few new ones per batch). Every
commit is followed by a read-back through the engine's read path: a
point lookup of some of the batch's oids, or for the last commit of a
cycle an as-of count. A cycle is one commit from each batch-size
stratum in seeded order; it ends with a compaction, and the run's first
cycle also changes some vectors of the embedding cube and refreshes its
index. The loop measures a fixed number of whole cycles.

Reference: a DuckDB table that replays the same commit stream under
SCD-2 rules (a changed object closes its open version at the new
version's start; an unchanged resend is skipped; a new oid opens a
version). Lookups, as-of counts and the final full history must equal
the replay.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

from perfbench import check, datagen
from perfbench.harness import Op

N_OBJECTS = 20_000
# the engine's sizing point is ~16k rows per oid bucket (see
# scripts/run_scaling.py); a 20k-object cube gets two
OID_BUCKETS = 2
CYCLE = len(datagen.SIZE_STRATA)   # commits per cycle, one per size stratum
# nominal seconds per cycle at local[4] on a 4-core x86 VM: 7 s measured
# on an idle host, 13 s while other guests loaded it
CYCLE_S = 13.0
WARM_COMMITS = 3
N_VECTORS = 300
NLIST = 2


def _commit_ts(i: int) -> dt.datetime:
    return datagen.EPOCH_2024 + dt.timedelta(hours=i)


class IngestWorkload:
    name = "warehouse_ingest"
    op_roles = ("commit",)
    measured_roles = ("commit", "lookup", "maintenance", "ann_probe")

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.fs_stats = {"files": 0, "bytes": 0, "manifest_bytes": 0,
                         "user_bytes": 0, "commits": 0}
        self.maintenance = {"compact": [], "ann_refresh": [], "dirs_removed": 0}
        self.ann = {"built": 0, "refreshed": 0, "probed": 0}

    # -- helpers -----------------------------------------------------------

    def _frame(self, rows, ts: dt.datetime):
        pdf = pd.DataFrame(rows, columns=["_oid", "status", "qty", "price"])
        pdf["_start"] = pd.Timestamp(ts)
        return self.spark.createDataFrame(
            pdf, "_oid long, status string, qty long, price double, _start timestamp")

    def _replay(self, rows, ts: dt.datetime) -> None:
        """Apply one commit to the DuckDB reference under SCD-2 rules."""
        inc = pd.DataFrame(rows, columns=["_oid", "status", "qty", "price"])
        inc["_start"] = pd.Timestamp(ts)
        con = self.ref
        con.register("inc", inc)
        con.execute("""
            UPDATE versions SET _end = inc._start FROM inc
            WHERE versions._oid = inc._oid AND versions._end IS NULL
              AND (versions.status, versions.qty, versions.price)
                  IS DISTINCT FROM (inc.status, inc.qty, inc.price)""")
        con.execute("""
            INSERT INTO versions
            SELECT inc._oid, inc.status, inc.qty, inc.price, inc._start, NULL
            FROM inc LEFT JOIN versions v ON v._oid = inc._oid AND v._end IS NULL
            WHERE v._oid IS NULL""")
        con.unregister("inc")

    def _files(self) -> dict[str, int]:
        """Path → size of every file under the ingest cube."""
        out = {}
        for root, _dirs, files in os.walk(os.path.join(self.wh, "c")):
            for f in files:
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    # -- setup -------------------------------------------------------------

    def setup(self) -> dict:
        from metrique_spark.engine import Engine
        from metrique_spark.objects import stamp

        ctx = self.ctx
        bulk, self.stream = datagen.ingest_stream(ctx.seed, N_OBJECTS)
        t0 = time.perf_counter()
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.eng = Engine(self.spark, warehouse=self.wh, oid_buckets=OID_BUCKETS)
        df = self._frame(bulk, datagen.EPOCH_2024)
        t1 = time.perf_counter()
        self.eng.upsert("c", df)
        bulk_s = time.perf_counter() - t1
        build_s = time.perf_counter() - t0
        self.ref = duckdb.connect()
        self.ref.execute("SET TimeZone = 'UTC'")
        self.ref.execute("CREATE TABLE versions (_oid BIGINT, status VARCHAR, "
                         "qty BIGINT, price DOUBLE, _start TIMESTAMP, _end TIMESTAMP)")
        self._replay(bulk, datagen.EPOCH_2024)

        t0 = time.perf_counter()
        vrng = np.random.default_rng([ctx.seed, 6])
        vecs = datagen.embedding_rows(vrng, range(N_VECTORS))
        emb = self.spark.createDataFrame(vecs, "_oid long, vec array<double>")
        self.eng.upsert("emb", stamp(emb.withColumn(
            "_start", _lit_ts(datagen.EPOCH_2024)), sort_arrays=False), stamped=True)
        self.eng.build_vector_index("emb", "ann", "vec", kind="ivf", nlist=NLIST)
        self.ann["built"] += 1
        self.vrng = vrng
        # warm-up commits with their lookups, replayed like every other
        # commit: the first merges of a session run well above steady state
        self.commit_no = 0
        for k in self.stream.strata_order()[:WARM_COMMITS]:
            self._commit(self.stream.batch(k), "warmup", "warmup")
        warm_s = time.perf_counter() - t0
        return {"build_s": build_s, "bulk_load_s": bulk_s, "warmup_s": warm_s}

    # -- the loop ----------------------------------------------------------

    def _commit(self, rows, role: str, readback_role: str, asof: bool = False) -> float:
        """One commit and its read-back; returns the timed seconds."""
        h = self.ctx.harness
        self.commit_no += 1
        ts = _commit_ts(self.commit_no)
        df = self._frame(rows, ts)
        before = self._files() if h.trace else None

        def commit_expect():
            self._replay(rows, ts)
            return None

        got = h.run(Op("commit", lambda: self.eng.upsert("c", df), commit_expect,
                       lambda g, w: None), role=role)
        busy = h.records[-1]["wall"]
        if before is not None and got is not None:
            after = self._files()
            new = {p: s for p, s in after.items() if before.get(p) != s}
            st = self.fs_stats
            st["commits"] += 1
            st["files"] += len(new)
            st["bytes"] += sum(new.values())
            st["manifest_bytes"] += sum(s for p, s in new.items() if "_manifest" in p)
            st["user_bytes"] += sum(8 + len(r[1]) + 8 + 8 + 8 for r in rows)
        h.run(self._asof_count(ts) if asof else self._lookup(rows), role=readback_role)
        return busy + h.records[-1]["wall"]

    def _cycle(self, first: bool) -> float:
        """``CYCLE`` commits (one per batch-size stratum), each read
        back; the last read-back is an as-of count. Then a compaction,
        and in the run's first cycle the ANN refresh."""
        busy = 0.0
        for j, rows in enumerate(self.stream.cycle()):
            busy += self._commit(rows, "commit", "lookup", asof=j == CYCLE - 1)
        busy += self._compact()
        if first:
            busy += self._ann_refresh()
        return busy

    def _lookup(self, rows) -> Op:
        oids = sorted({r[0] for r in rows[:: max(1, len(rows) // 8)]})
        lit = ", ".join(map(str, oids))
        return Op(
            "lookup",
            lambda: self.eng.find("c", oids=oids, fields="status,qty,price"),
            lambda: self.ref.execute(
                f"SELECT _oid, status, qty, price, _start, _end FROM versions "
                f"WHERE _end IS NULL AND _oid IN ({lit})").fetchdf(),
            check.frame_diff)

    def _asof_count(self, now: dt.datetime) -> Op:
        d = datagen.EPOCH_2024 + (now - datagen.EPOCH_2024) * float(self.rng.random())
        q = int(self.rng.integers(0, 1_000))
        lit = d.strftime("%Y-%m-%d %H:%M:%S.%f")
        return Op(
            "asof_count",
            lambda: self.eng.count("c", f"qty >= {q}", date=lit),
            lambda: int(self.ref.execute(
                f"SELECT count(*) FROM versions WHERE qty >= {q} AND "
                f"_start < TIMESTAMP '{lit}' AND (_end >= TIMESTAMP '{lit}' "
                f"OR _end IS NULL)").fetchone()[0]),
            check.scalar_diff)

    def _compact(self) -> float:
        h = self.ctx.harness
        got = h.run(Op("compact", lambda: self.eng.compact("c"), lambda: None,
                       lambda g, w: None), role="maintenance")
        wall = h.records[-1]["wall"]
        if got is not None:
            self.maintenance["compact"].append(wall)
            self.maintenance["dirs_removed"] += int(got[1] or 0)
        return wall

    def _ann_refresh(self) -> float:
        """Change some vectors, refresh the index, and probe it with the
        changed vectors: at nprobe = nlist the search is exact, so each
        probe's best neighbour is the object it was copied from."""
        from metrique_spark.objects import stamp

        h = self.ctx.harness
        changed = sorted(int(o) for o in self.vrng.choice(N_VECTORS, 20, replace=False))
        rows = datagen.embedding_rows(self.vrng, changed)
        ts = _lit_ts(_commit_ts(self.commit_no))
        emb = self.spark.createDataFrame(rows, "_oid long, vec array<double>")
        self.eng.upsert("emb", stamp(emb.withColumn("_start", ts), sort_arrays=False),
                        stamped=True)
        got = h.run(Op("ann_refresh",
                       lambda: self.eng.refresh_vector_index("emb", "ann"),
                       lambda: None, lambda g, w: None), role="maintenance")
        wall = h.records[-1]["wall"]
        if got is None:
            return wall
        self.maintenance["ann_refresh"].append(wall)
        self.ann["refreshed"] += 1
        queries = self.spark.createDataFrame(
            [(o + 10_000_000, v) for o, v in rows], "_oid long, vec array<double>")
        want = pd.DataFrame({"query_id": [o + 10_000_000 for o in changed],
                             "neighbor_id": changed})

        def best(pdf):
            top = pdf.sort_values(["query_id", "sim"], ascending=[True, False])
            return top.groupby("query_id", as_index=False).first()[
                ["query_id", "neighbor_id"]]

        probe = h.run(Op("ann_probe",
                         lambda: self.eng.vector_search("emb", "ann", queries, k=3,
                                                        nprobe=NLIST),
                         lambda: want, lambda g, w: check.frame_diff(best(g), w)),
                      role="ann_probe")
        if probe is not None:
            self.ann["probed"] += 1
        return wall

    def measure(self, seconds: float) -> dict:
        """As many whole cycles as fit in ``seconds`` at the nominal
        ``CYCLE_S`` per cycle, at least one, so every seed and every
        commit of the program runs the same mix of batch sizes."""
        busy = 0.0
        cycles = max(1, int(seconds // CYCLE_S))
        for c in range(cycles):
            busy += self._cycle(first=c == 0)
        return {"busy_s": busy, "cycles": cycles}

    def finish(self) -> dict:
        """Final as-of state: the whole history equals the replay."""
        h = self.ctx.harness
        h.run(Op("final_history",
                 lambda: self.eng.find("c", date="~", fields="status,qty,price"),
                 lambda: self.ref.execute(
                     "SELECT _oid, status, qty, price, _start, _end FROM versions").fetchdf(),
                 check.frame_diff), role="final")
        out = {"ann_index": dict(self.ann), "commits": self.commit_no,
               "compact_s": self.maintenance["compact"],
               "ann_refresh_s": self.maintenance["ann_refresh"],
               "layers": {"engine.compact.dirs_removed": self.maintenance["dirs_removed"]}}
        if h.trace:
            stored = sum(self._files().values())
            live = sum(os.path.getsize(p.replace("file:", "", 1))
                       for p in self.eng.table("c").inputFiles())
            st = self.fs_stats
            n = max(st["commits"], 1)
            out["layers"].update({
                "engine.manifest_bytes_per_commit": st["manifest_bytes"] / n,
                "fs.write_amp": st["bytes"] / max(st["user_bytes"], 1),
                "fs.files_written": st["files"] / n,
                "fs.space_amp": stored / max(live, 1),
            })
        return out

    def record(self, h, setup: dict, fin: dict) -> dict:
        commits = h.timing(("commit",)) or {}
        lookups = h.walls(("lookup",))
        return {
            "commit_p50_s": commits.get("p50"), "commit_tail_s": commits.get("tail"),
            "lookup_p50_s": statistics.median(lookups) if lookups else None,
            "bulk_load_rows_per_s": N_OBJECTS / setup["bulk_load_s"],
            "maintenance_s": sum(fin["compact_s"]) + sum(fin["ann_refresh_s"]),
        }


def _lit_ts(t: dt.datetime):
    from pyspark.sql import functions as F

    return F.lit(t).cast("timestamp")
