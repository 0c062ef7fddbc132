"""Engine — the proxy/container layer: named cubes + query operators.

Replaces the reference's ``SQLAlchemyProxy`` + ``MetriqueContainer``
(``metrique/sqlalchemy.py``, ``metrique/core_api.py``). Cubes are
parquet-backed tables in a warehouse directory (partitioned by a
``_current`` flag so snapshot upserts never rewrite history — see
``upsert.py``), or plain registered DataFrames/views for read-only
analysis.

Query operators mirror the reference proxy surface
(``sqlalchemy.py:641-803``): find / count / distinct / get_last_field /
deptree / dfind, all MQL + date-range aware, all returning DataFrames that
Catalyst optimizes end-to-end (MQL compiles to a plain predicate tree, so
filter pushdown and column pruning reach the parquet scan).
"""

from __future__ import annotations

import contextlib
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metrique_spark import temporal, upsert as _upsert
from metrique_spark.fs import FileSystem, LeaseHeldError, LeaseLock, LocalFS
from metrique_spark.mql import (compile_mql, date_end_lower_bound,
                                date_is_current_only,
                                date_range_predicate,
                                date_start_upper_bound, oid_literal_set,
                                parse_fields, to_timestamp_lit)
from metrique_spark.objects import (check_invariants, invariant_counts,
                                    stamp, validate)

import logging

_log = logging.getLogger("metrique_spark.engine")

# default fields always appended to explicit projections
# (reference sqlalchemy.py:264-273)
DEFAULT_FIELDS = ("_start", "_end", "_oid")


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a mutating operation on a cube whose
    advisory write lock is held. The commit protocol is crash-safe but
    single-writer: two interleaved snapshot merges could each read the
    open partition, close different version sets, and overwrite each
    other's open rewrite — silently corrupting version chains. Fail fast
    instead."""


# wall-clock rendering for the per-directory max(_end) stats: zero-padded
# to microseconds so string order == chronological order, matching the
# normalized probe bound from _norm_ts_bound
_END_STAT_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _fmt_ts(dt) -> str:
    """Zero-padded ``yyyy-MM-dd HH:mm:ss.SSSSSS`` — strftime's %Y is NOT
    zero-padded for years < 1000 on glibc, which would break the
    lexicographic stat comparison, so the year is formatted explicitly
    (Spark's ``yyyy`` side is always 4-digit padded)."""
    return (f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} "
            f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}."
            f"{dt.microsecond:06d}")


def _norm_ts_bound(s: str) -> str | None:
    """Normalize a date-spec bound to the zero-padded microsecond form
    the directory stats are recorded in, or None when the string is not
    a plain local timestamp (exotic formats Spark parses but this
    helper can't stay conservative about — no pruning, never wrong).
    Timezone-suffixed bounds are declined for the same reason: the
    stats are wall-clock strings in the recording session's zone."""
    from datetime import datetime

    try:
        dt = datetime.fromisoformat(s.strip().replace("T", " "))
    except (ValueError, TypeError):
        return None
    if dt.tzinfo is not None:
        return None
    return _fmt_ts(dt)


def _shift_ts_bound(s: str, hours: int) -> str | None:
    """Slacken a normalized bound by ``hours`` for the stat comparison:
    the stats and the bound are WALL-CLOCK renderings, while the row
    predicate compares instants — in a zone with UTC-offset transitions
    (DST fall-back, historical jumps) the two orderings can disagree by
    the offset delta. A ±26 h slack dominates any legal delta (even the
    Samoa 2011 +24 h day skip), so a directory is only skipped when no
    rendering ambiguity could make it match; sub-day precision is all
    the buffer costs."""
    from datetime import datetime, timedelta

    try:
        dt = datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
    except (ValueError, OverflowError):
        return None
    try:
        return _fmt_ts(dt + timedelta(hours=hours))
    except (OverflowError, ValueError):
        return None  # bound at datetime's min/max edge — skip pruning


def _is_swept_read_error(exc: BaseException) -> bool:
    """Does this exception look like the swept-generation race — a scan
    (or its plan-time file listing) hitting directories a concurrent
    commit deleted after we resolved the manifest pointer? Matched on
    the JVM exception text: Spark surfaces the executor-side miss as a
    ``FileNotFoundException`` (with a REFRESH TABLE hint) and the
    plan-time miss as ``[PATH_NOT_FOUND]``."""
    s = str(exc)
    return ("FileNotFoundException" in s
            or "PATH_NOT_FOUND" in s
            or "FileNotFound" in s)


class Engine:
    # sentinel default for compact()/compact_vector_index()'s
    # ``small_bytes``: "use the engine's compact_small_bytes threshold"
    # (None means an explicit FULL consolidation)
    _FULL_COMPACT = object()

    def __init__(self, spark: SparkSession, warehouse: str | None = None,
                 auto_compact_batches: int | None = None,
                 fs: FileSystem | None = None,
                 lock_ttl: float | None = None,
                 lock_wait: float = 0.0,
                 oid_buckets: int = 16,
                 time_partition: str | None = None,
                 keep_generations: int = 0,
                 auto_compact_index_batches: int | None = None,
                 compact_small_bytes: int = 256 * 1024 * 1024,
                 bloom_oid_ndv: int | str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        # control-plane storage backend (catalog listings, sidecars,
        # writer leases). Data-plane parquet I/O always goes through
        # Spark's own Hadoop FileSystem on the same paths. ``lock_ttl``
        # bounds how long a crashed remote writer's lease blocks others
        # on backends where pid liveness can't be probed (object stores);
        # None = never expire (same-host pid probing still reclaims).
        self.fs = fs or LocalFS()
        self.lock_ttl = lock_ttl
        # writer-contention ergonomics: fail-fast (the default, 0) is
        # right for the single-writer assumption, but a second
        # legitimate ETL job can opt into WAITING for the lease instead
        # — lock_wait bounds (seconds) how long acquisition retries
        # with backoff before ConcurrentWriteError. The commit protocol
        # itself stays single-writer; this only queues at the door.
        if lock_wait < 0:
            raise ValueError("lock_wait must be >= 0")
        self.lock_wait = lock_wait
        # second-level ``__obucket = pmod(xxhash64(_oid), N)`` partition
        # key for NEW cubes: a history import (upsert autosnap=False)
        # rewrites only the bucket directories containing incoming oids
        # (the reference deletes only the incoming oids' versions,
        # sqlalchemy.py:955-963 — at 100 TB a full-table rewrite per
        # import is the difference between minutes and days). The count
        # is recorded per cube in a ``_layout.json`` sidecar at first
        # write, so every later writer — whatever ITS default — buckets
        # identically; raise it (e.g. 1024) for cubes whose history is
        # genuinely huge.
        self.oid_buckets = oid_buckets
        # optional third partition level for NEW cubes: a ``__stime``
        # period key derived from ``_start`` (``"month"`` → yyyy-MM,
        # ``"year"`` → yyyy). At 100 TB of history an as-of or
        # date-range read otherwise scans every closed-version file;
        # with the period key the date spec's ``_start < U`` bound
        # partition-prunes to periods ``<= period(U)`` and the
        # current-only spec prunes to ``_current=true`` alone. Recorded
        # in ``_layout.json`` (with the writing session's timezone —
        # period strings are wall-clock renderings) so every later
        # writer partitions identically.
        if time_partition not in (None, "month", "year"):
            raise ValueError(
                f"time_partition must be None, 'month' or 'year', "
                f"got {time_partition!r}")
        self.time_partition = time_partition
        # when set, a snapshot upsert that leaves more than this many
        # __batch directories in a cube's history partition triggers
        # compact() — bounds the small-files growth of long-running
        # ingest (thousands of token-keyed batch dirs) without giving up
        # the idempotent per-batch commit. Off by default: compaction
        # rewrites all closed rows, which the caller may want to schedule.
        self.auto_compact_batches = auto_compact_batches
        # ANN-index sibling of auto_compact_batches: when a refresh
        # leaves more than this many append-batch partitions (files for
        # IVF) in an index, compact_vector_index runs as the refresh's
        # epilogue — bounds the tiny-file/listing growth of a
        # refreshed-nightly index without giving up the idempotent
        # per-refresh append. Off by default for the same reason as the
        # cube knob: bulk loads should not compact N times.
        self.auto_compact_index_batches = auto_compact_index_batches
        # size-tiered (LSM-style) compaction threshold: compact() and
        # compact_vector_index() merge only batch directories whose
        # total size is at or below this many bytes, carrying larger
        # consolidated levels forward by manifest reference UNTOUCHED.
        # This is what keeps routine maintenance O(recent small batches)
        # instead of O(|history|): with auto-compaction on, a steady
        # small-batch ingest repeatedly folds its trickle into a growing
        # consolidated level and stops touching it once it outgrows the
        # threshold. Pass small_bytes=None to a compact call for an
        # explicit full consolidation (e.g. before archiving a cube).
        if compact_small_bytes <= 0:
            raise ValueError("compact_small_bytes must be > 0")
        self.compact_small_bytes = compact_small_bytes
        # generation retention (time travel): keep the directory sets of
        # the last N superseded generations in the manifest, so
        # ``table(cube, generation=g)`` reads an exact committed
        # snapshot — the reproducibility pin a training run needs ("this
        # model saw corpus generation 41"). Retained generations'
        # directories are excluded from the post-commit sweep; 0 (the
        # default) keeps only the live generation, today's behavior.
        if keep_generations < 0:
            raise ValueError("keep_generations must be >= 0")
        self.keep_generations = keep_generations
        # parquet bloom filter on _oid for every cube data file this
        # engine writes (``parquet.bloom.filter.enabled#_oid``): inside
        # a hit bucket directory, row-group min/max stats on _oid are
        # useless (the bucket hash scatters oids uniformly), so a point
        # lookup still reads every row group of the bucket — a bloom
        # lets parquet-mr drop row groups at the reader for _oid
        # equality/IN predicates, the third level of the lookup story
        # (bucket dir → row group → row). The value is the expected
        # distinct-oid count PER FILE (sizing: ~1.2 bits/key at 1% FPP;
        # ndv=100_000 ≈ 130 KB per file — negligible against 128 MB
        # data files, real overhead on tiny ones, hence opt-in). Purely
        # physical file metadata: readers without bloom support ignore
        # it, and files written without it coexist with files written
        # with it in the same cube.
        # ``"auto"`` derives the per-file NDV from the cube's own
        # manifest row stats at each write (average rows per live
        # directory ≈ rows per file ≈ distinct oids per file, since a
        # bucket dir typically holds one file and oids are unique
        # within the open snapshot) — blooms sized usefully without the
        # user doing capacity math. First writes (no stats yet) fall
        # back to a 100k-key default (~130 KB/file at 1% FPP).
        if isinstance(bloom_oid_ndv, str):
            if bloom_oid_ndv != "auto":
                raise ValueError("bloom_oid_ndv must be > 0 or 'auto'")
        elif bloom_oid_ndv is not None and bloom_oid_ndv <= 0:
            raise ValueError("bloom_oid_ndv must be > 0 or 'auto'")
        self.bloom_oid_ndv = bloom_oid_ndv
        # per-write NDV estimate for bloom_oid_ndv="auto", refreshed by
        # _cube_state from the manifest each operation resolves anyway
        self._bloom_hint: int | None = None
        # publish the warehouse scratch root for the sampling module's
        # engine-managed reliable spill (ranked_within_strata's
        # boundary-sampling hazard): with an engine in scope, callers on
        # a real cluster get the executor-loss-safe path WITHOUT
        # remembering the knob. Session-global, last engine wins — any
        # warehouse is a valid scratch host; vacuum() sweeps the root.
        if warehouse:
            try:
                self.spark.conf.set(
                    "spark.metrique_spark.scratchDir",
                    self.fs.join(warehouse, "_scratch"))
            except Exception:
                pass
        self._views: dict[str, DataFrame] = {}
        # advisory index registry: cube -> [{"name", "column_names"}]
        # (underscore-prefixed sidecar files are invisible to Spark's
        # parquet discovery, so _indexes.json can live inside the cube dir)
        self._indexes: dict[str, list[dict]] = {}
        # cubes whose write lock THIS engine currently holds (reentrancy:
        # upsert's auto-compact runs inside the upsert's lock)
        self._held_locks: set[str] = set()
        # per-directory byte sizes measured by the fs.du FALLBACK for
        # dirs a pre-upgrade manifest never sized. Token-keyed batch
        # dirs are immutable once written, so caching is sound; the
        # next manifest flip backfills these into the persisted stats
        # (see _merged_stats) so the walk is paid once per dir EVER,
        # not once per compaction trigger.
        self._du_cache: dict[str, int] = {}
        # parsed manifest SEGMENT files (format-4 cubes), keyed by full
        # path. Sound to cache: a segment file is immutable once the
        # root referencing it commits (writers only ever create new
        # gen-scoped segment files; a crashed writer's overwrite of its
        # own uncommitted file is invisible — no committed root ever
        # referenced it). Entries are dropped when the segment sweep
        # retires the file.
        self._seg_cache: dict[str, dict] = {}
        # assembled-manifest cache: path -> (root raw text, meta).
        # Keyed by the EXACT root text, so any commit (ours or another
        # engine's) invalidates it on the next read; holders must treat
        # the returned dict as read-only (_push_history copies the
        # entries it hands out for mutation).
        self._meta_cache: dict[str, tuple[str, dict]] = {}
        # phase-attributed wall accumulator (scale-curve diagnostics):
        # _phase() sections add here when enabled; disabled (None) in
        # normal operation so the hot path pays one attribute check.
        self.phase_times: dict[str, float] | None = None

    def _phase(self, name: str):
        """Accumulate a named section's wall into ``phase_times`` when
        phase accounting is on (``eng.phase_times = {}``) — how the
        scaling harness attributes an op's wall to manifest-resolve /
        commit-build / CAS without guessing from totals. Overhead when
        off: one None check."""
        if self.phase_times is None:
            return contextlib.nullcontext()
        return self._phase_cm(name)

    @contextlib.contextmanager
    def _phase_cm(self, name: str):
        import time as _t

        t0 = _t.monotonic()
        try:
            yield
        finally:
            acc = self.phase_times
            if acc is not None:
                acc[name] = round(
                    acc.get(name, 0.0) + _t.monotonic() - t0, 6)

    # -- catalog ------------------------------------------------------------

    def _path(self, cube: str) -> str:
        if not self.warehouse:
            raise ValueError("no warehouse directory configured")
        return self.fs.join(self.warehouse, cube)

    def register(self, cube: str, df: DataFrame) -> None:
        """Register a read-only DataFrame as a cube (temp-view analog)."""
        self._views[cube] = df
        df.createOrReplaceTempView(cube)

    def _read_raw(self, path: str,
                  generation: int | None = None,
                  min_end: str | None = None,
                  start_upper: str | None = None,
                  bucket_values: Sequence[int] | None = None) -> DataFrame:
        """Cube read KEEPING the internal partition columns (``__batch``,
        ``__obucket``) — the bounded history import needs them to rewrite
        kept rows back into their own directories.

        Manifested cubes resolve their data directories from the
        ``_manifest.json`` generation pointer — NEVER from a listing — so
        a read is snapshot-isolated against concurrent commits: the
        manifest names exactly one committed generation's directories,
        writers only ever create NEW directories and flip the pointer
        (CAS), so a reader sees exactly-old or exactly-new, never a mix.
        (A reader that resolved the old pointer and scans after the next
        commit sweeps it fails cleanly on the missing files rather than
        silently mixing generations; the engine's materializing readers
        — ``count``/``find_one``/``find_scalar``/``get_last_field``/
        ``deptree`` — and the plan-time read below auto-retry ONCE from
        a fresh manifest resolution, then fail loud.) Legacy cubes (no
        manifest) fall back to the root-listing read.

        ``bucket_values`` prunes the DIRECTORY LIST handed to the
        reader to the dirs whose path-encoded ``__obucket`` value is in
        the set (dirs without a bucket component are kept) — exactly
        the dirs the value-level partition filter would leave, applied
        BEFORE Spark lists files, so a point lookup's plan-time listing
        is O(hit dirs) instead of O(cube): past ~32 paths Spark runs
        the listing as a one-task-per-directory JOB, which was the
        measured O(dirs) term in the point-lookup scale curve. When the
        prune empties the list (the literals hash only into buckets no
        write ever created), a zero-row frame with the generation's
        manifest schema returns without listing anything."""
        df = None
        for attempt in (0, 1):
            meta = self._manifest(path)
            if generation is not None and meta is None:
                raise ValueError(
                    f"cube at {path!r} has no generation manifest — "
                    "time-travel reads need a manifested cube")
            if meta is None:
                df = self.spark.read.parquet(path)
                break
            if generation is None or generation == meta["gen"]:
                dirs, schema = meta["dirs"], meta.get("schema")
            else:
                for h in meta.get("history", []):
                    if h["gen"] == generation:
                        dirs, schema = h["dirs"], h.get("schema")
                        break
                else:
                    have = [meta["gen"]] + [h["gen"]
                                            for h in meta.get("history", [])]
                    raise ValueError(
                        f"generation {generation} of cube {path!r} is "
                        f"expired or unknown; retained: {sorted(have)} "
                        "(raise Engine(keep_generations=...) to retain "
                        "more)")
            if not dirs:
                raise RuntimeError(
                    f"cube manifest at {path!r} lists no data directories")
            dirs = self._prune_by_end_stats(meta, dirs, min_end,
                                            start_upper)
            if bucket_values is not None and schema is not None:
                # schema gate: the empty-prune shortcut needs an
                # authoritative schema to build the zero-row frame from
                dirs = self._prune_dirs_by_bucket(dirs, bucket_values)
                if not dirs:
                    df = self._empty_schema_frame(schema)
                    break
            try:
                reader = self.spark.read.option("basePath", path)
                if schema is not None:
                    # the generation's authoritative schema: no footer
                    # sampling at plan time, and files written before a
                    # column evolved in read back as typed nulls
                    from pyspark.sql.types import StructType
                    reader = reader.schema(StructType.fromJson(schema))
                df = reader.parquet(*[self.fs.join(path, d) for d in dirs])
                break
            except Exception as e:
                # the swept-generation race at PLAN time: our manifest
                # resolution named directories a concurrent commit has
                # since swept — re-resolve once from the fresh pointer
                if attempt or not _is_swept_read_error(e):
                    raise
        if "_current" in df.columns:
            # partition-value inference yields string; restore boolean
            df = df.withColumn("_current", F.col("_current").cast("boolean"))
        return df

    def _read_dirs(self, path: str, meta: dict,
                   rels: Sequence[str]) -> DataFrame:
        """Read an EXPLICIT subset of a manifested cube's directories —
        the migration-aware merge paths must read exactly the
        directories they are about to drop: during a doubling migration
        a value-level ``__obucket`` predicate cannot distinguish an
        old-modulus directory from a migrated one carrying the same
        bucket value, but the manifest relpaths identify each directory
        uniquely. Same basePath/schema contract as ``_read_raw``; safe
        under the writer lease (no concurrent sweep can race the
        listed paths)."""
        reader = self.spark.read.option("basePath", path)
        schema = meta.get("schema")
        if schema is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(schema))
        df = reader.parquet(*[self.fs.join(path, d) for d in rels])
        if "_current" in df.columns:
            df = df.withColumn("_current",
                               F.col("_current").cast("boolean"))
        return df

    def _migration_hit_dirs(self, hit: dict[int, set[int]], meta: dict,
                            buckets: int, dirs,
                            current_only: bool) -> set[str]:
        """The manifest directories a merge/import must read-and-drop
        for a batch's oids during in-flight doubling migration(s): an
        oid's rows live in a directory at modulus ``m`` only where
        ``__obucket = hash % m`` — resolved per DIRECTORY vintage from
        the per-dir modulus blocks (a value-level predicate cannot tell
        vintages apart). ``hit`` maps every live modulus (chained
        doublings included) to the batch's bucket values under it —
        the commit profile computes them all in its one aggregate (see
        ``_profile_batch``)."""
        blocks = meta.get("migration") or []
        names = {m: {f"__obucket={v}" for v in vals}
                 for m, vals in hit.items()}
        dmod = {d: b["from"] for b in blocks for d in b["old_dirs"]}
        return {d for d in dirs
                if (not current_only or d.startswith("_current=true"))
                and "/__obucket=" in d
                and d.split("/")[1] in names[dmod.get(d, buckets)]}

    @staticmethod
    def _prune_dirs_by_bucket(dirs: list, values: Sequence[int]) -> list:
        """Directory-level twin of the ``__obucket`` value filter: keep
        a dir iff its path-encoded bucket value is in the hit set (dirs
        without a bucket component are kept — the row predicate decides
        there). Exactly the directories partition pruning would leave,
        but applied before the reader ever lists files. Sound under
        in-flight doubling migrations for the same reason the value
        filter is: ``values`` is the union of the hit values under
        EVERY live modulus (``_oid_bucket_values(moduli=...)``), and a
        dir's path value was written under one of them."""
        vals = {str(v) for v in values}
        out = []
        for d in dirs:
            i = d.find("/__obucket=")
            if i < 0:
                out.append(d)
                continue
            if d[i + 11:].split("/", 1)[0] in vals:
                out.append(d)
        return out

    def _manifest_oid_dtype(self, path: str,
                            generation: int | None = None):
        """The stored ``_oid`` dtype from the (cached) manifest schema
        of the requested generation, or None when the cube predates
        manifest schemas — lets a point lookup resolve its bucket
        values BEFORE the read so the directory list itself prunes.
        Unknown generations return None here; ``_read_raw`` raises the
        canonical error."""
        meta = self._manifest(path)
        if meta is None:
            return None
        sch = meta.get("schema")
        if generation is not None and generation != meta["gen"]:
            sch = None
            for h in meta.get("history", []):
                if h["gen"] == generation:
                    sch = h.get("schema")
                    break
        if sch is None:
            return None
        from pyspark.sql.types import StructType

        st = StructType.fromJson(sch)
        return st["_oid"].dataType if "_oid" in st.fieldNames() else None

    def _empty_schema_frame(self, schema: dict) -> DataFrame:
        """Zero-row frame carrying a generation's manifest schema —
        what a fully-pruned read returns without listing anything, and
        what the bucket-granular merge reads when no existing directory
        can hold the incoming oids."""
        from pyspark.sql.types import StructType

        df = self.spark.createDataFrame([], StructType.fromJson(schema))
        if "_current" in df.columns:
            df = df.withColumn("_current",
                               F.col("_current").cast("boolean"))
        return df

    def _prune_by_end_stats(self, meta: dict, dirs: list,
                            min_end: str | None,
                            start_upper: str | None = None) -> list:
        """Planning-time directory skipping from the manifest's
        per-directory stats: when the date spec requires ``_end >= L``
        of closed rows, a closed directory whose whole content ended
        before L cannot contribute; when it requires ``_start < U``, a
        directory whose earliest ``_start`` is already >= U cannot
        either — skip them before the scan ever lists their files
        (works on ANY manifested cube; the ``__stime`` layout adds the
        same start prune at period granularity for legacy-stats cubes).
        Open directories without a max_end stat, directories without a
        recorded stat, and stats recorded under a different session
        timezone are always kept (skipped-not-wrong). If everything is
        skipped, fall back to the unpruned set: the row predicate still
        guarantees correctness, and an empty parquet source has no
        schema to offer."""
        if not min_end and not start_upper:
            return dirs
        st = meta.get("stats")
        if not st or st.get("tz") != self._session_tz():
            return dirs
        me = st.get("max_end") or {}
        ms = st.get("min_start") or {}
        # ±26 h slack: the stats and bounds are wall-clock strings while
        # the row predicate compares instants — see _shift_ts_bound
        end_b = _shift_ts_bound(min_end, -26) if min_end else None
        start_b = _shift_ts_bound(start_upper, 26) if start_upper else None

        def keep(d: str) -> bool:
            if end_b and d.startswith("_current=false") \
                    and d in me and me[d] < end_b:
                return False
            if start_b and d in ms and ms[d] >= start_b:
                return False
            return True

        kept = [d for d in dirs if keep(d)]
        return kept or dirs

    def _read(self, path: str, generation: int | None = None,
              min_end: str | None = None,
              start_upper: str | None = None) -> DataFrame:
        df = self._read_raw(path, generation=generation, min_end=min_end,
                            start_upper=start_upper)
        # internal commit-batch / oid-bucket / period keys, not data
        return df.drop(*[c for c in ("__batch", "__obucket", "__stime")
                         if c in df.columns])

    def table(self, cube: str, generation: int | None = None) -> DataFrame:
        """The cube as a DataFrame (reference ``get_table``).
        ``generation`` reads an exact retained snapshot instead of the
        live one (time travel — see ``keep_generations``): the
        reproducibility pin for "re-run against the corpus state a
        training job actually saw"."""
        if cube in self._views:
            if generation is not None:
                raise ValueError(
                    f"{cube!r} is a registered view — generations exist "
                    "only for warehouse cubes")
            return self._views[cube]
        return self._read(self._path(cube), generation=generation)

    def generations(self, cube: str) -> list[int]:
        """Generation numbers readable right now: the live one plus any
        retained by ``keep_generations`` — newest first."""
        meta = self._manifest(self._path(cube))
        if meta is None:
            return []
        return [meta["gen"]] + [h["gen"] for h in meta.get("history", [])]

    def ls(self) -> list[str]:
        """List cubes (reference ``sqlalchemy.py:877-888``)."""
        names = set(self._views)
        if self.warehouse:
            names.update(
                d for d in self.fs.listdir(self.warehouse)
                if self.fs.isdir(self.fs.join(self.warehouse, d))
            )
        return sorted(names)

    def exists(self, cube: str) -> bool:
        return cube in self._views or (
            self.warehouse is not None and self.fs.isdir(self._path(cube))
        )

    def columns(self, cube: str) -> list[str]:
        return self.table(cube).columns

    _DROPPED_SIDECAR = "_dropped.json"

    def _dropped_registry(self, path: str) -> dict:
        import json

        p = self.fs.join(path, self._DROPPED_SIDECAR)
        return json.loads(self.fs.read_text(p)) if self.fs.isfile(p) else {}

    def _check_redrop(self, path: str, incoming: DataFrame,
                      stored_cols) -> None:
        """Re-adding a previously dropped column is allowed ONLY at its
        recorded type: old files still hold the old physical values, so
        a manifest schema naming the same column at a different type
        would make them unreadable roulette. Same-type re-add is an
        undrop for UNREWRITTEN files — pre-drop values resurface in any
        file whose bytes never moved: closed history rows always, and
        open rows in oid-bucket directories no later snapshot batch
        happened to hit (the bucket-granular merge only rewrites hit
        buckets); open rows in rewritten buckets read null, because the
        rewrite landed under the post-drop schema (the documented
        no-rewrite trade of ``drop_column``)."""
        reg = self._dropped_registry(path)
        if not reg:
            return
        for f in incoming.schema.fields:
            t = reg.get(f.name)
            if (t is not None and f.name not in stored_cols
                    and f.dataType.simpleString() != t):
                raise TypeError(
                    f"column {f.name!r} was previously dropped at type "
                    f"{t} and cannot be re-added as "
                    f"{f.dataType.simpleString()} — files written before "
                    "the drop still hold the old physical type; re-add "
                    f"at {t}, or use a different column name")

    def drop_column(self, cube: str, col: str) -> None:
        """Drop a data column from the cube's AUTHORITATIVE read schema
        — a manifest-only commit: NO data rewrite (files keep their
        bytes), the column disappears from every live read plan at the
        pointer flip, and RETAINED generations still read it (each
        history entry carries its own schema, so time travel reproduces
        the pre-drop frame exactly). This is the undo for an accidental
        ``evolve=True`` widening, and one half of a rename
        (rename = ``drop_column(old)`` + a widening batch under the new
        name; values don't migrate — old rows read the new name as
        null, the schemaless-reference semantics). Note the open-row
        caveat: open rows rewrite under the then-current schema on
        every snapshot commit, so post-drop commits physically
        null-fill them — only files that never rewrite (closed history
        batches, retained generations) keep the dropped bytes.

        The dropped name + type is recorded in a registry sidecar and
        the name may only ever be re-added at the SAME type (see
        ``_check_redrop``). System/partition columns can't drop; legacy
        (pre-manifest) cubes can't drop — their footer-inferred read
        has no authoritative schema to edit."""
        import json

        from pyspark.sql.types import StructType

        from metrique_spark.objects import SYSTEM_FIELDS

        reserved = set(SYSTEM_FIELDS) | {"_current", "__obucket",
                                         "__stime", "__batch"}
        if col in reserved:
            raise ValueError(
                f"cannot drop {col!r}: system/partition columns are the "
                "temporal-versioning contract, not data")
        path = self._path(cube)
        with self._write_lock(cube):
            state, meta, raw = self._cube_state(path)
            if state == "premanifest":
                meta, raw = self._adopt_premanifest(path)
            elif state != "manifest":
                raise ValueError(
                    f"cube {cube!r} is {state} — drop_column needs a "
                    "generation-manifested cube with a recorded schema")
            if meta.get("schema") is None:
                raise ValueError(
                    f"cube {cube!r}'s manifest predates per-generation "
                    "schemas — run any commit (e.g. compact) to record "
                    "one, then drop")
            sch = StructType.fromJson(meta["schema"])
            hit = [f for f in sch.fields if f.name == col]
            if not hit:
                raise ValueError(
                    f"cube {cube!r} has no column {col!r} "
                    f"(schema: {[f.name for f in sch.fields]})")
            # a committed ANN index is a derived structure OVER a vector
            # / id column: dropping that column would strand the index
            # (a later refresh reads a column that no longer exists and
            # dies with an AnalysisException deep in the plan) — refuse
            # with the dependency named instead
            for iname, im in self.vector_index_list(cube).items():
                if col in (im.get("vec_col"), im.get("id_col")):
                    raise ValueError(
                        f"cannot drop {col!r}: committed vector index "
                        f"{iname!r} depends on it "
                        f"(vec_col={im.get('vec_col')!r}, "
                        f"id_col={im.get('id_col')!r}) — "
                        "drop_vector_index first, or rebuild it over "
                        "another column)")
            newsch = StructType(
                [f for f in sch.fields if f.name != col]).jsonValue()
            # registry BEFORE the flip: a crash in between leaves an
            # entry for a still-live column — harmless (_check_redrop
            # only constrains columns absent from the stored schema)
            reg = self._dropped_registry(path)
            reg[col] = hit[0].dataType.simpleString()
            self.fs.write_text(self.fs.join(path, self._DROPPED_SIDECAR),
                               json.dumps(reg))
            layout = self._cube_layout(path)
            keep = layout.get("keep_generations", 0) if layout else 0
            gen = meta["gen"] + 1
            dirs = set(meta["dirs"])
            hist = self._push_history(meta, keep)
            self._manifest_flip(
                path, raw, gen, dirs, hist,
                stats=self._merged_stats(meta, None, dirs, hist,
                                         path=path),
                schema=newsch)
            # dirs unchanged — nothing to sweep. The generation DID
            # advance, so auto-refresh indexes like every other commit:
            # content is identical (the dropped column can't be an index
            # column — guarded above), the diff is empty, and this only
            # bumps the markers' generation so searches keep working
            self._auto_refresh_indexes(cube)

    def drop(self, cube: str) -> None:
        """Drop a cube (reference ``sqlalchemy.py:723-747``)."""
        self._views.pop(cube, None)
        self.spark.catalog.dropTempView(cube)
        if self.warehouse and self.fs.isdir(self._path(cube)):
            path = self._path(cube)
            with self._write_lock(cube):
                self.fs.delete_dir(path)
            # purge manifest caches under the dropped path: a
            # RE-CREATED cube reuses gen-scoped segment filenames, and
            # a stale cached parse would otherwise serve the old
            # cube's content through the new cube's root
            self._meta_cache.pop(path, None)
            prefix = self.fs.join(path, self._MANIFEST_SEGDIR)
            for k in [k for k in self._seg_cache if k.startswith(prefix)]:
                self._seg_cache.pop(k, None)

    def _index_meta_path(self, cube: str) -> str:
        return self.fs.join(self._path(cube), "_indexes.json")

    def index(self, cube: str, fields, name: str | None = None) -> None:
        """Register an advisory index (reference ``index``,
        ``sqlalchemy.py:826-847``). Spark has no secondary indexes —
        file-format stats and partitioning serve that role — but the
        declaration is durably recorded per cube so ``index_list`` can
        report it (and a planner MAY use it as a sort/partition hint)."""
        import json

        if isinstance(fields, str):
            fields = [fields]
        fields = list(fields)
        name = name or f"ix_{cube}_" + "_".join(fields)
        entry = {"name": name, "column_names": fields}
        registry = self._indexes.setdefault(cube, [])
        if entry not in registry:
            registry.append(entry)
        if self.warehouse and self.fs.isdir(self._path(cube)):
            # merge the persisted sidecar first: a fresh Engine starts with
            # an empty registry, and a blind dump would drop declarations
            # recorded by prior sessions
            p = self._index_meta_path(cube)
            if self.fs.isfile(p):
                for e in json.loads(self.fs.read_text(p)):
                    if e not in registry:
                        registry.append(e)
            self.fs.write_text(p, json.dumps(registry))

    def index_list(self) -> dict[str, list[dict]]:
        """All advisory indexes per cube (reference ``index_list``,
        ``sqlalchemy.py:849-863``: dict of table → index descriptors) —
        merges this session's registrations with any persisted
        ``_indexes.json`` in the warehouse."""
        import json

        out: dict[str, list[dict]] = {c: [] for c in self.ls()}
        for cube, entries in self._indexes.items():
            out.setdefault(cube, []).extend(entries)
        if self.warehouse:
            for cube in list(out):
                p = self.fs.join(self.warehouse, cube, "_indexes.json")
                if self.fs.isfile(p):
                    for e in json.loads(self.fs.read_text(p)):
                        if e not in out[cube]:
                            out[cube].append(e)
        return out

    # -- vector (ANN) indexes ------------------------------------------------
    # The similarity module's stored index kinds (IVF / PQ / IVF-PQ /
    # SQ8, driven through its ``ANN_FAMILIES`` table), managed under the
    # cube's directory with the warehouse's own protocols: built under
    # the writer lease from the COMMITTED generation, stamped with that
    # generation number, and checked for staleness at search time
    # against the live manifest pointer — a search against an index
    # built before the corpus changed fails loud instead of silently
    # returning neighbors from a superseded corpus.

    def _ann_path(self, cube: str, name: str) -> str:
        # underscore prefix: invisible to Spark's parquet discovery, so
        # the index lives inside the cube directory without polluting it
        return self.fs.join(self._path(cube), f"_ann_{name}")

    def _ann_meta_path(self, cube: str, name: str) -> str:
        return self.fs.join(self._ann_path(cube, name), "_ann.json")

    def _ann_intent_path(self, cube: str, name: str) -> str:
        """In-flight-mutation intent marker (``_refresh.json``): written
        BEFORE a refresh/compaction mutates a committed index and deleted
        only after the mutation fully lands. Its presence means the
        index data may be mid-mutation — searches refuse it (except the
        completed-refresh tail, see ``vector_search``), vacuum leaves
        the directory alone (the committed marker is still there), and
        the next ``refresh_vector_index`` CONVERGES the content (the
        diff-against-index-content refresh is self-healing), so a crash
        costs a re-run, never a rebuild."""
        return self.fs.join(self._ann_path(cube, name), "_refresh.json")

    def build_vector_index(self, cube: str, name: str, vec_col: str,
                           kind: str = "ivf", id_col: str = "_oid",
                           auto_refresh: bool = False,
                           drift_tol: float | None = None,
                           **params) -> None:
        """Build (or rebuild) a persisted ANN index over a cube's vector
        column — CURRENT versions only (an embedding index over history
        rows would return superseded objects). ``params`` pass through
        to the family writer (nlist/m/k/iters/...). The ``_ann.json``
        marker is written LAST with the cube generation the build read,
        making the build crash-safe and the staleness check possible.

        ``auto_refresh=True`` closes the staleness loop: every commit on
        the cube (upsert / insert / compact) runs
        ``refresh_vector_index`` on this index as its last step, so
        searches never hit the stale-generation error — the commit pays
        the O(delta) refresh instead. Off by default: bulk-loading N
        batches should not refresh N times (refresh once after, or
        rebuild).

        NOTE: vector columns must be ingested with
        ``stamp(sort_arrays=False)`` — the default container
        normalization SORTS array fields for order-insensitive hashing,
        which destroys vector semantics (every sorted gaussian vector
        looks like every other; similarities collapse toward 1)."""
        import json

        from metrique_spark.functions import similarity as _sim

        fam = _sim.ANN_FAMILIES.get(kind)
        if fam is None:
            raise ValueError(
                f"unknown vector-index kind {kind!r}; one of "
                f"{tuple(_sim.ANN_FAMILIES)}")
        if set(params) - fam.params:
            # checked before the old build is cleared; recording ignored
            # params in the marker would report configuration that was
            # never applied
            raise TypeError(
                f"{kind} vector indexes take no params "
                f"{sorted(set(params) - fam.params)}")
        path = self._path(cube)
        with self._write_lock(cube):
            meta = self._manifest(path)
            if meta is None:
                # staleness detection rides the generation pointer; a
                # legacy in-place cube has none, so gen would stay None
                # forever and the stale check could never fire — the
                # silent-stale failure this API exists to prevent
                raise ValueError(
                    f"cube {cube!r} has no generation manifest — vector "
                    "indexes need a manifested cube (any new commit "
                    "adopts a pre-manifest cube automatically)")
            gen = meta["gen"]
            # _current is the partition column (== _end IS NULL by
            # construction): filtering on it prunes every closed history
            # directory at plan time instead of scanning years of
            # superseded versions just to drop them
            df = self._read(path)
            if "_current" in df.columns:
                df = df.where(F.col("_current")).drop("_current")
            else:
                df = df.where(F.col("_end").isNull())
            apath = self._ann_path(cube, name)
            amarker = self._ann_meta_path(cube, name)
            if self.fs.isfile(amarker):
                self.fs.delete(amarker)  # rebuild: invalidate first
            if self.fs.isdir(apath):
                # and clear the previous build entirely: a kind switch
                # would otherwise leave the old family's data AND its
                # own committed-looking sidecar behind
                self.fs.delete_dir(apath)
            fam.write(df, apath, id_col=id_col, vec_col=vec_col,
                      fs=self.fs, **params)
            # build-time drift baseline: the same distribution-fit
            # statistic refresh will compute over appended deltas (see
            # similarity.drift_stat) recorded against the corpus the
            # model was TRAINED on — one extra map-only pass at build,
            # none when the family knows its baseline by construction
            dmetric, dval = fam.build_drift or _sim.drift_stat(
                df, kind, vec_col,
                **fam.drift_args(self.spark, apath, self.fs))
            body = {"kind": kind, "gen": gen, "vec_col": vec_col,
                    "id_col": id_col, "params": params,
                    "auto": bool(auto_refresh),
                    "drift_base": {"metric": dmetric, "value": dval}}
            if drift_tol is not None:
                # per-index tolerance: drift sensitivity is a property
                # of the INDEX's workload, so it rides the marker — a
                # later refresh (auto included) applies it without the
                # caller re-passing the knob
                body["drift_tol"] = float(drift_tol)
            self.fs.write_text(amarker, json.dumps(body))

    def vector_index_list(self, cube: str,
                          counts: bool = False) -> dict[str, dict]:
        """Committed ANN indexes on the cube: name → its ``_ann.json``
        metadata plus a ``stale`` flag (built generation != live).
        ``counts=True`` adds each index's append-granule count
        (``batches`` — see ``_index_batch_count``), the quantity
        ``compact_vector_index`` bounds; off by default because the
        listing walk runs on every auto-refresh commit epilogue."""
        import json

        path = self._path(cube)
        meta = self._manifest(path)
        live = meta["gen"] if meta else None
        out: dict[str, dict] = {}
        if not self.fs.isdir(path):
            return out
        for d in self.fs.listdir(path):
            if not d.startswith("_ann_"):
                continue
            marker = self.fs.join(path, d, "_ann.json")
            if not self.fs.isfile(marker):
                continue  # crashed build — uncommitted
            m = json.loads(self.fs.read_text(marker))
            m["stale"] = (m.get("gen") != live)
            if self.fs.isfile(self.fs.join(path, d, "_refresh.json")):
                # a mutation is in flight or crashed mid-way; the next
                # refresh converges it (see _ann_intent_path)
                m["refreshing"] = True
            if counts:
                m["batches"] = self._index_batch_count(
                    self.fs.join(path, d), m["kind"])
            out[d[len("_ann_"):]] = m
        return out

    def vector_search(self, cube: str, name: str, queries: DataFrame,
                      k: int = 5, nprobe: int | None = None,
                      allow_stale: bool = False) -> DataFrame:
        """Search a cube's persisted ANN index. Fails loud when the
        index was built against a superseded generation (the corpus
        changed under it) unless ``allow_stale=True`` — a stale ANN
        answer LOOKS fine, which is exactly why it must not be silent.
        Returns the family's (query_id, neighbor_id, sim|score) frame;
        neighbor ids are the cube's ``_oid`` values by default."""
        import json

        from metrique_spark.functions import similarity as _sim

        marker = self._ann_meta_path(cube, name)
        if not self.fs.isfile(marker):
            raise ValueError(
                f"cube {cube!r} has no committed vector index {name!r} "
                "(build_vector_index, or a crashed build — rebuild)")
        m = json.loads(self.fs.read_text(marker))
        meta = self._manifest(self._path(cube))
        live = meta["gen"] if meta else None
        ipath = self._ann_intent_path(cube, name)
        if self.fs.isfile(ipath) and self.lock_wait:
            # same opt-in as the writer lease: a reader willing to wait
            # polls the intent away instead of failing — the common case
            # is an auto-refresh commit epilogue finishing in seconds
            import time as _time

            deadline = _time.monotonic() + self.lock_wait
            backoff = 0.05
            while (self.fs.isfile(ipath)
                   and _time.monotonic() + backoff <= deadline):
                _time.sleep(backoff)
                backoff = min(backoff * 2, 1.0)
            if not self.fs.isfile(marker):
                # a concurrent drop_vector_index removed the index while
                # we waited — same refusal as the pre-wait check, not a
                # raw file-not-found from the re-read below
                raise ValueError(
                    f"cube {cube!r} has no committed vector index "
                    f"{name!r} (build_vector_index, or a crashed build "
                    "— rebuild)")
            m = json.loads(self.fs.read_text(marker))  # re-read gen
            meta = self._manifest(self._path(cube))
            live = meta["gen"] if meta else None
        if self.fs.isfile(ipath):
            intent = json.loads(self.fs.read_text(ipath))
            done = (intent.get("op") == "refresh"
                    and m.get("gen") == intent.get("target_gen"))
            if not done:
                # a refresh/compaction is in flight (or crashed) and the
                # index data may be mid-mutation — torn, not merely
                # stale, so allow_stale does NOT apply: a half-removed /
                # half-appended corpus has no consistent interpretation
                raise ValueError(
                    f"vector index {name!r} on cube {cube!r} has a "
                    f"{intent.get('op', 'mutation')} in flight or "
                    "crashed mid-way — wait for the writer, or run "
                    "refresh_vector_index to converge the index "
                    "(the content diff is self-healing)")
            # completed-refresh tail: the marker generation bump landed,
            # only the intent cleanup was lost — content is consistent
        if m.get("gen") != live and not allow_stale:
            raise ValueError(
                f"vector index {name!r} on cube {cube!r} was built at "
                f"generation {m.get('gen')} but the cube is at {live} — "
                "refresh_vector_index (incremental, needs the built "
                "generation retained), re-run build_vector_index, or "
                "pass allow_stale=True to search the superseded corpus "
                "deliberately")
        return _sim.ANN_FAMILIES[m["kind"]].search(
            self.spark, self._ann_path(cube, name), queries, k=k,
            nprobe=nprobe, id_col=m["id_col"], vec_col=m["vec_col"],
            fs=self.fs)

    def refresh_vector_index(self, cube: str, name: str,
                             drift_tol: float | None = None) -> dict:
        """Incrementally bring a committed ANN index up to the LIVE
        generation without re-training or re-encoding the corpus: diff
        the live current rows against the INDEX'S OWN CONTENT (raw
        stored vectors for IVF; the per-row ``__vh`` vector fingerprint
        for PQ/SQ8/IVF-PQ), physically REMOVE superseded ids at
        partition granularity (bucket dirs for IVF,
        ``__abatch``/cluster dirs for the PQ families — only partitions
        that contain a removed id are rewritten), encode-and-append
        only the new/changed rows against the STORED model (frozen
        centroids/codebooks/params — recall drifts with the data
        distribution, correctness doesn't; rebuild when bucket sizes
        skew), and bump the marker generation. WRITE cost is O(delta)
        encoding + O(hit partitions) code copying — never the corpus;
        the diff's READ side does scan the whole index's slim (id,
        fingerprint) pair — column-pruned, no vector/code payload —
        the unavoidable floor for an exact diff without a retained
        generation.
        Diffing against index content needs no retained generation and
        is self-healing: whatever state the index data is in (drift,
        duplicate ids from raw appends), one refresh converges it to
        exactly the live (id, vector) set under the frozen model. Only
        a legacy fingerprint-less PQ index falls back to time-traveling
        the cube to its indexed generation (then
        ``Engine(keep_generations=...)`` applies — or rebuild once to
        gain the fingerprint layout).

        Removal-by-rewrite instead of read-side tombstone filtering is
        deliberate: a tombstone anti-join would tax EVERY future search
        while refreshes are rare — pay the write amplification once,
        keep the probe path untouched (and exactly equal to a fresh
        build's, so search parity is structural, not probabilistic).

        Crash-safety WITHOUT a read-unavailability window: the committed
        ``_ann.json`` marker stays in place throughout; an intent file
        (``_refresh.json``, see ``_ann_intent_path``) is written before
        the first mutation and deleted after the marker's generation
        bump lands. A crash mid-refresh leaves marker+intent: searches
        fail loud with the stale/in-flight error (never a silent
        half-refreshed answer), vacuum leaves the directory alone (the
        marker is present), and the next refresh CONVERGES the content —
        the diff-against-index-content design is self-healing, so the
        crash costs a re-run, never the full rebuild the old
        delete-marker-first protocol forced. Returns
        ``{"appended": n, "removed": n, "gen": live, "drift": {...}}``."""
        import json

        from metrique_spark.functions import similarity as _sim

        with self._write_lock(cube):
            marker = self._ann_meta_path(cube, name)
            if not self.fs.isfile(marker):
                raise ValueError(
                    f"cube {cube!r} has no committed vector index "
                    f"{name!r} (build_vector_index, or a crashed "
                    "build/refresh — rebuild)")
            m = json.loads(self.fs.read_text(marker))
            path = self._path(cube)
            meta = self._manifest(path)
            live = meta["gen"] if meta else None
            ipath = self._ann_intent_path(cube, name)
            intent_left = self.fs.isfile(ipath)
            if m.get("gen") == live and not intent_left:
                return {"appended": 0, "removed": 0, "gen": live}
            # intent present with gen already live: a crashed mutation
            # tail (refresh that died before intent cleanup — content
            # consistent — or a compaction that died mid-rewrite —
            # duplicate ids possible). Run the full diff anyway: it
            # converges either state and the intent is cleaned at the end.
            id_col, vec_col = m["id_col"], m["vec_col"]

            def _cur(df: DataFrame) -> DataFrame:
                if "_current" in df.columns:
                    return df.where(F.col("_current"))
                return df.where(F.col("_end").isNull())

            newc = _cur(self._read(path)).select(id_col, vec_col)
            apath0 = self._ann_path(cube, name)
            # diff the live corpus against the INDEX'S OWN CONTENT —
            # IVF stores raw vectors (compare directly); the quantized
            # kinds store a per-row vector fingerprint (__vh, see
            # similarity._vh) — so no retained generation is needed and
            # the refresh is self-healing (a drifted or double-appended
            # id converges back to exactly the live row). Only a legacy
            # fingerprint-less PQ index falls back to time-traveling the
            # cube to the indexed generation.
            fam = _sim.ANN_FAMILIES[m["kind"]]
            src = fam.diff_source(self.spark, apath0, id_col, vec_col,
                                  self.fs)
            if src is None:
                # pre-fingerprint layout: codes can't be compared to
                # vectors, so diff against the retained generation —
                # raises with the keep_generations hint when swept
                # (rebuild once to gain the fingerprint layout)
                idx = (_cur(self._read(path, generation=m["gen"]))
                       .select(F.col(id_col).alias("__iid"),
                               F.col(vec_col).alias("__iv")))
                same = ((F.col(id_col) == F.col("__iid"))
                        & F.col(vec_col).eqNullSafe(F.col("__iv")))
            else:
                idx, same = src
            # changed/new: live rows with no identical (id, vec) in the
            # index; superseded: indexed entries no longer matching a
            # live row — a changed id lands in both (remove + re-append)
            changed = newc.join(idx, same, "left_anti")
            sup = (idx.join(newc, same, "left_anti")
                   .select(F.col("__iid").alias(id_col)).distinct())
            # duplicated ids (raw appends that re-added a live id with
            # the same vector evade the diff — both rows match) get
            # removed wholesale and re-appended once, so one refresh
            # always converges to exactly one row per live id
            dups = (idx.groupBy("__iid").agg(F.count("*").alias("__c"))
                    .where(F.col("__c") > 1)
                    .select(F.col("__iid").alias(id_col)))
            sup = sup.unionByName(dups).distinct()
            changed = (changed.unionByName(
                newc.join(dups.withColumnRenamed(id_col, "__did"),
                          F.col(id_col) == F.col("__did"), "left_semi"))
                .dropDuplicates([id_col]))
            changed = changed.localCheckpoint(eager=True)
            sup = sup.localCheckpoint(eager=True)
            n_add, n_del = changed.count(), sup.count()
            apath = apath0
            if n_add or n_del:
                # intent BEFORE the first mutation: the committed marker
                # stays in place (no read-unavailability window, nothing
                # for vacuum to sweep); the intent flags the data as
                # possibly mid-mutation until deleted below
                self.fs.write_text(ipath, json.dumps(
                    {"op": "refresh", "target_gen": live}))
            if n_del:
                fam.remove(self.spark, apath, sup, id_col, self.fs)
            if n_add:
                fam.append(changed, apath, id_col, vec_col, self.fs)
            # drift signal over the APPENDED delta (frozen-model refresh
            # never retrains — recall decays silently as the
            # distribution shifts, so measure it): compare the same
            # statistic the build recorded as its baseline, flag
            # rebuild_recommended when the delta falls outside tolerance
            # (higher-is-better centroid_sim: absolute drop > tol,
            # default 0.15; pq_err: relative growth > tol, default 1.0 =
            # doubling; clip_frac: absolute fraction > tol, default
            # 0.05). Cost: one map-only pass over the delta.
            drift = None
            base = (m.get("drift_base") or {}).get("value")
            if drift_tol is None:
                drift_tol = m.get("drift_tol")  # per-index tolerance
            if n_add and base is not None:
                dm, dv = _sim.drift_stat(
                    changed, m["kind"], vec_col,
                    **fam.drift_args(self.spark, apath0, self.fs))
                if dm == "centroid_sim":
                    tol = 0.15 if drift_tol is None else drift_tol
                    rec = dv is not None and dv < base - tol
                elif dm == "pq_err":
                    tol = 1.0 if drift_tol is None else drift_tol
                    rec = (dv is not None
                           and dv > max(base, 1e-12) * (1.0 + tol))
                else:
                    tol = 0.05 if drift_tol is None else drift_tol
                    rec = dv is not None and dv > tol
                drift = {"metric": dm, "baseline": base, "appended": dv,
                         "tolerance": tol,
                         "rebuild_recommended": bool(rec)}
                if fam.lists:
                    # post-refresh inverted-list balance (report-only:
                    # the documented rebuild trigger "bucket sizes
                    # skew", now measured — max/mean over the slim
                    # partition key, one combinable aggregate)
                    key, sub = fam.lists
                    srow = (self.spark.read.parquet(apath0 + sub)
                            .groupBy(key).count()
                            .agg((F.max("count")
                                  / F.avg("count")).alias("s")).first())
                    if srow["s"] is not None:
                        drift["bucket_skew"] = round(float(srow["s"]), 3)
                m["drift_last"] = drift  # surfaced by vector_index_list
            m["gen"] = live
            self.fs.write_text(marker, json.dumps(m))
            if intent_left or n_add or n_del:
                self.fs.delete(ipath)  # commit tail: mutation fully landed
            out = {"appended": n_add, "removed": n_del, "gen": live}
            if drift is not None:
                out["drift"] = drift
            # refresh epilogue: bound the append-granule growth (the
            # lock is reentrant, so this runs inside the same lease)
            lim = self.auto_compact_index_batches
            if lim and self._index_batch_count(apath0, m["kind"]) > lim:
                out["compacted"] = self.compact_vector_index(cube, name)
            return out

    def drop_vector_index(self, cube: str, name: str) -> bool:
        """Delete an ANN index — committed or crash-stranded — under the
        writer lease: marker first (searches immediately refuse), then
        the directory. Returns False when no such index directory
        exists. The inverse of ``build_vector_index``; dropping is the
        documented way to release an index whose column is about to be
        dropped from the cube."""
        apath = self._ann_path(cube, name)
        with self._write_lock(cube):
            if not self.fs.isdir(apath):
                return False
            marker = self._ann_meta_path(cube, name)
            if self.fs.isfile(marker):
                self.fs.delete(marker)
            self.fs.delete_dir(apath)
            return True

    def _index_batch_count(self, apath: str, kind: str) -> int:
        """Append-granule count of a stored index — distinct ``__abatch``
        tokens for the PQ families, the max per-bucket file count for
        IVF (both are 1 in the fully-compacted state, so the
        auto-compaction trigger converges instead of re-firing). Listing
        cost is bounded by buckets × batches."""
        from metrique_spark.functions import similarity as _sim

        return _sim.ANN_FAMILIES[kind].batch_count(self.fs, apath)

    def compact_vector_index(self, cube: str, name: str,
                             small_bytes: int | None | object =
                             _FULL_COMPACT) -> int:
        """Consolidate a committed ANN index's append-accumulated
        layout — SIZE-TIERED by default, like ``compact``: every
        ``refresh_vector_index``/append lands one content-token-keyed
        ``__abatch`` partition per hit bucket/cluster (extra files per
        bucket for IVF) — an index refreshed nightly for a year carries
        hundreds of sub-directories whose listing cost and tiny-file
        reads degrade every probe. Merges the batches at or below
        ``small_bytes`` (default: the engine's ``compact_small_bytes``)
        into one consolidated batch per bucket/cluster; larger
        consolidated levels stay untouched on disk, so the auto-
        compaction epilogue costs O(recent appends), never O(|index|).
        Pass ``small_bytes=None`` for an explicit FULL consolidation
        (also the cross-level duplicate-id convergence path). Codes are
        copied, never re-encoded; duplicate ids collapse within the
        merged tier. Physical-only: search results are identical before
        and after, and the marker generation is untouched (a stale
        index stays stale).

        Runs under the writer lease and the same ``_refresh.json``
        intent protocol as refresh: searches refuse the index while the
        rewrite is in flight, vacuum leaves it alone, and a crash
        mid-compaction is converged by the next refresh (duplicate ids
        are removed wholesale and re-appended once) or by re-running
        the compaction — the intent records each merge group as it
        starts, so a re-run COMPLETES exactly the crashed group
        (``resume_pq_compaction`` / ``resume_ivf_compaction``): the
        cross-level duplicate-id window self-heals tiered, touching
        only the group's own directories, never the whole index. (A
        group-less compact intent from a pre-resume engine still
        escalates to full.) Returns the number of batch directories
        (files for IVF) removed."""
        import json

        from metrique_spark.functions import similarity as _sim

        with self._write_lock(cube):
            marker = self._ann_meta_path(cube, name)
            if not self.fs.isfile(marker):
                raise ValueError(
                    f"cube {cube!r} has no committed vector index "
                    f"{name!r} (build_vector_index, or a crashed "
                    "build — rebuild)")
            m = json.loads(self.fs.read_text(marker))
            fam = _sim.ANN_FAMILIES[m["kind"]]
            apath = self._ann_path(cube, name)
            ipath = self._ann_intent_path(cube, name)
            if self.fs.isfile(ipath):
                intent = json.loads(self.fs.read_text(ipath))
                if (intent.get("op") == "refresh"
                        and m.get("gen") != intent.get("target_gen")):
                    # a refresh crashed MID-MUTATION: the index content
                    # is torn (neither the old nor the new generation).
                    # Compacting would consolidate the half-refreshed
                    # data and erase the torn-content flag — exactly the
                    # state the intent protocol exists to refuse. Only
                    # the self-healing diff may converge it.
                    raise ValueError(
                        f"vector index {name!r} on cube {cube!r} has a "
                        "refresh crashed mid-way — run "
                        "refresh_vector_index to converge the index "
                        "before compacting (the content diff is "
                        "self-healing)")
                # else: a crashed compaction (op=compact) or a
                # completed-refresh tail. A crashed compaction that
                # RECORDED its merge group (``pending``) self-heals
                # TIERED: the resume completes exactly that group —
                # the cross-level duplicate-id window closes without
                # touching any other level. A group-less compact intent
                # (written by a pre-resume engine) still escalates to
                # FULL, the only convergence that vintage supports.
                if intent.get("op") == "compact":
                    pend = intent.get("pending")
                    if pend is not None:
                        fam.resume(self.spark, apath, pend, self.fs)
                        self.fs.delete(ipath)
                    elif intent.get("v", 1) < 2:
                        # group-less compact intent from a PRE-resume
                        # engine: mutations may have happened without a
                        # recorded group — full is that vintage's only
                        # convergence. (A v2 intent without pending
                        # means the crash hit BEFORE any mutation:
                        # nothing to converge, proceed tiered.)
                        small_bytes = None
            if small_bytes is Engine._FULL_COMPACT:
                small_bytes = self.compact_small_bytes

            def record(pending: dict) -> None:
                # persist the group about to be rewritten INTO the
                # intent: a crash between its consolidated write and
                # its original-deletes is then resumable tiered
                self.fs.write_text(ipath, json.dumps(
                    {"op": "compact", "pending": pending}))

            self.fs.write_text(ipath, json.dumps(
                {"op": "compact", "v": 2}))
            removed = fam.compact(self.spark, apath, m["id_col"], self.fs,
                                  small_bytes, record)
            self.fs.delete(ipath)
            return removed

    # -- writes -------------------------------------------------------------

    def _write_lock(self, cube: str):
        """Advisory per-cube writer lease (the parquet-warehouse analog of
        the reference's SQLite same-host guard, ``sqlalchemy.py:869-875``):
        a ``.<cube>.lock`` object holding a JSON lease record, acquired
        with a conditional PUT and reclaimed from a dead holder with a
        single compare-and-swap (see ``fs.LeaseLock`` — rename-free, so
        the same protocol runs on an object store). A second writer fails
        fast with ``ConcurrentWriteError`` instead of interleaving
        snapshot merges; a same-host holder whose (pid, start-time) no
        longer exists is reclaimed, and on backends without pid probing a
        ``lock_ttl`` bounds how long a crashed holder blocks writers."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            if not self.warehouse or cube in self._held_locks:
                yield
                return
            lease = LeaseLock(
                self.fs, self.fs.join(self.warehouse, f".{cube}.lock"),
                ttl=self.lock_ttl)
            import time as _time

            deadline = _time.monotonic() + self.lock_wait
            backoff = 0.05
            while True:
                try:
                    lease.acquire()
                    break
                except LeaseHeldError as exc:
                    if _time.monotonic() + backoff > deadline:
                        raise ConcurrentWriteError(
                            f"cube {cube!r} is locked by writer — "
                            "concurrent upserts would interleave "
                            "snapshot merges; retry after the other "
                            "writer finishes, or construct the Engine "
                            f"with lock_wait=<seconds> ({exc})") from exc
                    _time.sleep(backoff)
                    backoff = min(backoff * 2, 1.0)
            self._held_locks.add(cube)
            try:
                yield
            finally:
                self._held_locks.discard(cube)
                lease.release()

        return _cm()

    _LAYOUT_SIDECAR = "_layout.json"
    # Highest layout semantics this engine version understands. A
    # sidecar's ``min_format`` field names the semantics an engine MUST
    # implement to read or write the cube without corrupting it —
    # ``rebucket`` stamped 3 (manifest-first bucket counts; incremental
    # migrations add mixed-modulus pruning); 4 adds the SEGMENTED
    # manifest (root pointer → per-bucket-range segment files, written
    # by every commit to a bucketed cube) and per-directory modulus
    # stamps (chained doubling migrations) — an engine that only reads
    # monolithic manifests, or prunes under at most two moduli, refuses
    # loud here instead of misreading the cube. (Engines that PREDATE
    # the field can't be fenced retroactively — the post-flip sidecar
    # count rewrite shrinks their stale window; see rebucket.)
    _SUPPORTED_LAYOUT_FORMAT = 4

    def _cube_layout(self, path: str) -> dict | None:
        """The cube's recorded layout sidecar (oid-bucket count + time
        partition), or None for the legacy unsidecared
        ``(_current, __batch)`` layout. Writers must use the RECORDED
        values — bucketing with a different modulus or a different
        period key would prune the wrong directories on a later
        history import.

        An unreadable sidecar raises instead of falling back to legacy:
        a writer that silently treated a bucketed cube as legacy would
        append mixed partition levels and corrupt the cube — only a
        genuinely ABSENT sidecar means legacy layout."""
        import json

        p = self.fs.join(path, self._LAYOUT_SIDECAR)
        if not self.fs.isfile(p):
            return None
        try:
            meta = json.loads(self.fs.read_text(p))
        except ValueError as e:
            raise RuntimeError(
                f"unreadable layout sidecar {p!r}: {e} — refusing to "
                "fall back to the legacy layout (mixed partition "
                "levels would corrupt the cube); repair or remove "
                "the sidecar explicitly") from e
        if not isinstance(meta, dict):
            raise RuntimeError(
                f"layout sidecar {p!r} is not a JSON object "
                f"(got {type(meta).__name__}) — refusing legacy "
                "fallback; repair or remove the sidecar explicitly")
        need = meta.get("min_format", 0)
        if need > self._SUPPORTED_LAYOUT_FORMAT:
            raise RuntimeError(
                f"cube at {path!r} requires layout format {need} but "
                f"this engine supports up to "
                f"{self._SUPPORTED_LAYOUT_FORMAT} — touching it could "
                "corrupt bucket pruning (e.g. merging a rebucketed or "
                "mid-migration cube with the wrong modulus); upgrade "
                "the engine")
        return meta

    def _cube_buckets(self, path: str) -> int | None:
        meta = self._cube_layout(path)
        return meta.get("oid_buckets") if meta else None

    @staticmethod
    def _live_buckets(meta: dict | None, layout: dict | None) -> int | None:
        """Authoritative oid-bucket count for a committed generation:
        the manifest's recorded count when present (``rebucket`` writes
        it atomically with the rewritten directories and every later
        flip carries it forward), else the layout sidecar's — the
        pre-rebucket world, where the count is fixed at first write."""
        if meta is not None and "oid_buckets" in meta:
            return meta["oid_buckets"]
        return layout.get("oid_buckets") if layout else None

    def _buckets_for_read(self, path: str, layout: dict | None,
                          generation: int | None
                          ) -> tuple[int | None, list[int]]:
        """``(bucket count, prune moduli)`` valid for pruning a read of
        ``generation`` (None = live). A retained generation carries its
        own count when one was manifested at retention time; a fieldless
        entry predates any rebucket, so the layout sidecar's first-write
        count is its count (``_backfill_history_buckets`` stamps every
        entry explicitly before that sidecar value can change). Unknown
        generation → ``(None, [])`` (no prune; the scan raises the
        proper error).

        The moduli list is what a point-lookup prune must UNION over:
        normally just the count itself; during in-flight doubling
        migration(s) every FROM modulus joins it — a directory at
        modulus ``m`` with value ``__obucket=v`` holds oids with
        ``hash % m == v``, so keeping every directory whose value is in
        ``{hash % m : m in moduli}`` is sound whichever vintage the
        directory is (no per-directory modulus lookup needed at prune
        time) — including CHAINED doublings, where three or more moduli
        coexist until the oldest block drains."""
        meta = self._manifest(path)
        sidecar = layout.get("oid_buckets") if layout else None
        if meta is None:
            return sidecar, [sidecar] if sidecar else []
        if generation is None or generation == meta["gen"]:
            buckets = self._live_buckets(meta, layout)
            mods = {b["from"] for b in (meta.get("migration") or [])}
        else:
            for h in meta.get("history", []):
                if h["gen"] == generation:
                    buckets = h.get("oid_buckets", sidecar)
                    if "moduli" in h:
                        mods = set(h["moduli"])
                    else:
                        # pre-blocks history entries recorded the whole
                        # migration dict (single doubling)
                        legacy = h.get("migration")
                        if isinstance(legacy, dict):
                            legacy = [legacy]
                        mods = {b["from"] for b in (legacy or [])}
                    break
            else:
                return None, []
        moduli = [buckets] if buckets else []
        moduli += sorted(m for m in mods if m and m != buckets)
        return buckets, moduli

    def _session_tz(self) -> str:
        return self.spark.conf.get("spark.sql.session.timeZone")

    def _cube_timepart(self, path: str, for_write: bool = False,
                       layout: dict | None = None) -> str | None:
        """The cube's recorded time-partition granularity, or None.
        Pass ``layout`` when the sidecar is already loaded — the read
        path calls this per query and must not re-fetch the sidecar.

        ``__stime`` values are wall-clock renderings of the ``_start``
        instant in the WRITING session's timezone, so the recorded
        timezone is part of the layout contract: a WRITER whose session
        timezone differs would file rows into periods inconsistent with
        the existing directories (raise loud); a READER whose timezone
        differs must simply skip pruning (the data predicate on
        ``_start``/``_end`` is timezone-exact either way)."""
        meta = layout if layout is not None else self._cube_layout(path)
        tp = meta.get("time_partition") if meta else None
        if tp is None:
            return None
        tz = meta.get("time_zone")
        if tz != self._session_tz():
            if for_write:
                raise RuntimeError(
                    f"cube at {path!r} is time-partitioned in timezone "
                    f"{tz!r} but the session timezone is "
                    f"{self._session_tz()!r} — writing would file rows "
                    "into inconsistent period directories; set "
                    "spark.sql.session.timeZone to the cube's zone")
            return None
        return tp

    def _write_layout(self, path: str, buckets: int,
                      timepart: str | None = None,
                      keep_generations: int = 0) -> None:
        import json

        # "format": 2 marks a sidecar written under the generation-
        # pointer protocol, whose commit point is the MANIFEST flip — so
        # sidecar-without-manifest means a crashed (uncommitted) first
        # write. A format-less sidecar predates the protocol: its data
        # was committed by the data write itself and must be ADOPTED on
        # the next write, never retried-as-new (which would sweep it).
        meta: dict = {"oid_buckets": buckets, "format": 2}
        if buckets:
            # bucketed cubes commit SEGMENTED manifests from the first
            # write: fence engines that only read monolithic ones
            meta["min_format"] = self._SUPPORTED_LAYOUT_FORMAT
        if timepart:
            meta["time_partition"] = timepart
            meta["time_zone"] = self._session_tz()
        if keep_generations:
            meta["keep_generations"] = keep_generations
        self.fs.write_text(self.fs.join(path, self._LAYOUT_SIDECAR),
                           json.dumps(meta))

    def vacuum(self, cube: str, scratch_grace: float = 3600.0) -> None:
        """Sweep directories no retained generation references — the
        leftovers of a writer that crashed after its data write but
        before the manifest flip. Normally the NEXT commit sweeps them;
        ``vacuum`` does it on demand (e.g. after a failed bulk import
        on a rarely-written cube) without advancing the generation.
        Runs under the writer lease; no-op on legacy cubes (their
        listing IS the data). Also sweeps UNCOMMITTED vector-index
        directories — a ``_ann_*`` dir without its ``_ann.json`` marker
        is a crashed BUILD (the build writes its marker last), dead
        weight no search can ever use. A crashed REFRESH/compaction is
        NOT swept: its committed marker is still present (plus a
        ``_refresh.json`` intent) and the next refresh converges the
        content — sweeping it would turn a recoverable crash into a
        forced full rebuild. Also sweeps the warehouse ``_scratch``
        root — reliable-spill directories a crashed sampling job never
        released — but ONLY entries older than ``scratch_grace``
        seconds (default one hour): the scratch root is session-global,
        so an unconditional sweep from any engine sharing the warehouse
        would destroy the in-flight spill of a concurrently RUNNING
        sampling query on another session (it fails loud on re-read,
        never silently wrong — but it shouldn't fail at all). Pass
        ``scratch_grace=0`` to force-sweep everything when you know no
        sampling query is in flight."""
        if self.warehouse:
            import time as _time

            scratch = self.fs.join(self.warehouse, "_scratch")
            if self.fs.isdir(scratch):
                cutoff = _time.time() - max(scratch_grace, 0.0)
                for d in self.fs.listdir(scratch):
                    p = self.fs.join(scratch, d)
                    mt = self.fs.mtime(p)
                    if mt is None or mt <= cutoff:
                        (self.fs.delete_dir if self.fs.isdir(p)
                         else self.fs.delete)(p)
                if not self.fs.listdir(scratch):
                    self.fs.delete_dir(scratch)
        with self._write_lock(cube):
            path = self._path(cube)
            if self.fs.isdir(path):
                for d in self.fs.listdir(path):
                    if (d.startswith("_ann_")
                            and self.fs.isdir(self.fs.join(path, d))
                            and not self.fs.isfile(
                                self.fs.join(path, d, "_ann.json"))):
                        self.fs.delete_dir(self.fs.join(path, d))
            meta = self._manifest(path)
            if meta is None:
                state, _, _ = self._cube_state(path)
                if state == "new" and self.fs.isdir(path):
                    # crashed FIRST write (format-2 sidecar, no
                    # manifest): nothing is committed, every data dir
                    # is stranded — sweep them all
                    self._sweep_unreferenced(path, set())
                # legacy / premanifest: the listing IS the data
                return
            self._sweep_unreferenced(path, self._retained_dirs(meta))
            root = self._manifest_root(path)
            if root is not None and "segs" in root:
                # manifest segment files stranded by crashed commits
                self._sweep_segments(path, root)

    def describe(self, cube: str) -> dict:
        """Zero-scan storage-health report from manifest/sidecar state
        alone — no data listing, no Spark job: the live generation and
        retained generation numbers, open/closed directory counts, the
        history batch TOKENS with their byte sizes (the tier structure
        size-tiered compaction manages), whether a ``compact()`` would
        merge anything right now (``compact_recommended`` — the trickle
        or a promotion quorum qualifies under the engine's
        ``compact_small_bytes``), whether the largest oid bucket has
        outgrown its first-write count (``rebucket_recommended`` —
        runbook: ``rebucket()`` or the incremental doubling), the
        progress of an in-flight doubling migration (``migration``:
        pending dirs/bytes for ``rebucket_step`` scheduling), and the
        committed ANN indexes with staleness flags. The "does this cube
        need maintenance" probe a scheduler can poll per cube at
        manifest-read cost."""
        from metrique_spark.compaction import tier_groups

        path = self._path(cube)
        root = (self._manifest_root(path) if self.fs.isdir(path)
                else None)
        layout = self._cube_layout(path) or {}
        out: dict = {
            "cube": cube,
            "layout": {k: layout[k]
                       for k in ("oid_buckets", "time_partition",
                                 "keep_generations") if k in layout},
        }
        rollup = (root or {}).get("rollup")
        if (root is not None and root.get("format", 0) >= 4
                and rollup is not None and "token_bytes" in rollup):
            # ROOT-ONLY fast path (format 4): every scalar below was
            # rolled up at commit time, so describe costs one small
            # JSON parse — O(segment refs), never O(dirs) — at any
            # cube size; tier recommendation is evaluated against the
            # READER's threshold from the per-token byte rollup.
            tok = rollup["token_bytes"]
            groups = tier_groups(tok, self.compact_small_bytes)
            out.update({
                "state": "manifest",
                "generation": root["gen"],
                "oid_buckets": root.get(
                    "oid_buckets", layout.get("oid_buckets")),
                "retained_generations": [h["gen"] for h in
                                         root.get("history", [])],
                "open_dirs": rollup["open_dirs"],
                "closed_dirs": rollup["closed_dirs"],
                "history_tokens": dict(sorted(tok.items(),
                                              key=lambda kv: -kv[1])),
                "history_bytes": sum(tok.values()),
                "small_tokens": sum(s <= self.compact_small_bytes
                                    for s in tok.values()),
                "compact_recommended": bool(groups),
                "indexes": self.vector_index_list(cube),
            })
            if "rows" in rollup:
                out["rows_total"] = rollup["rows"]
                out["rows_open"] = rollup["rows_open"]
            if rollup.get("migration") is not None:
                out["migration"] = rollup["migration"]
            if "max_bucket_bytes" in rollup:
                out["max_bucket_bytes"] = rollup["max_bucket_bytes"]
                if "migration" not in out:
                    out["rebucket_recommended"] = (
                        rollup["max_bucket_bytes"]
                        > 4 * self.compact_small_bytes)
                # mid-migration the runbook action is already in
                # progress (and old/new vintages sharing a bucket VALUE
                # are different buckets) — no recommendation
            return out
        state, meta, _ = self._cube_state(path)
        out["state"] = state
        if meta is None:
            return out
        tok = self._history_token_sizes(path, meta)
        groups = tier_groups(tok, self.compact_small_bytes)
        out.update({
            "generation": meta["gen"],
            # live count manifest-first: after a rebucket the layout
            # sidecar keeps the first-write count by design
            "oid_buckets": self._live_buckets(meta, layout),
            "retained_generations": [h["gen"] for h in
                                     meta.get("history", [])],
            "open_dirs": sum(d.startswith("_current=true")
                             for d in meta["dirs"]),
            "closed_dirs": sum(d.startswith("_current=false")
                               for d in meta["dirs"]),
            "history_tokens": dict(sorted(tok.items(),
                                          key=lambda kv: -kv[1])),
            "history_bytes": sum(tok.values()),
            "small_tokens": sum(s <= self.compact_small_bytes
                                for s in tok.values()),
            "compact_recommended": bool(groups),
            "indexes": self.vector_index_list(cube),
        })
        sizes = (meta.get("stats") or {}).get("bytes") or {}
        blocks = meta.get("migration") or []
        stamped = {d for b in blocks for d in b["old_dirs"]}
        if blocks:
            # in-flight doubling migration(s): how much is left, from
            # manifest state alone (rebucket_step drains it)
            out["migration"] = {
                "from": sorted({b["from"] for b in blocks}),
                "pending_dirs": len(stamped),
                "pending_bytes": sum(sizes.get(d, 0) for d in stamped),
            }
        rows = (meta.get("stats") or {}).get("rows") or {}
        if all(d in rows for d in meta["dirs"]):
            # same source as the metadata-only count(): exact when
            # every live directory carries a recorded row count
            out["rows_open"] = sum(
                rows[d] for d in meta["dirs"]
                if d.startswith("_current=true"))
            out["rows_total"] = sum(rows[d] for d in meta["dirs"])
        buckets: dict[str, int] = {}
        live = set(meta["dirs"])
        for d, b in sizes.items():
            if d not in live or d in stamped:
                # old-modulus (stamped) dirs excluded: two vintages
                # sharing a bucket VALUE are different buckets
                continue
            seg = next((s for s in d.split("/")
                        if s.startswith("__obucket=")), None)
            if seg:
                buckets[seg] = buckets.get(seg, 0) + b
        if buckets:
            # per-bucket footprint from manifest stats alone: when the
            # largest bucket outgrows what one merge/import should
            # rewrite per commit (~4x the compact threshold here), the
            # cube has outgrown its first-write count — rebucket()
            out["max_bucket_bytes"] = max(buckets.values())
            if not blocks:
                # mid-migration the runbook action is in progress —
                # no recommendation
                out["rebucket_recommended"] = (
                    out["max_bucket_bytes"]
                    > 4 * self.compact_small_bytes)
        return out

    def set_retention(self, cube: str, keep_generations: int) -> None:
        """Change the cube's recorded generation-retention count (takes
        effect at the NEXT commit; lowering it lets that commit sweep
        the excess snapshots). Retention is per-CUBE state, like
        ``oid_buckets``/``time_partition`` — if it lived only in writer
        config, a maintenance job with a default engine would silently
        truncate the history and sweep snapshots someone pinned."""
        import json

        if keep_generations < 0:
            raise ValueError("keep_generations must be >= 0")
        with self._write_lock(cube):
            path = self._path(cube)
            layout = self._cube_layout(path)
            if layout is None:
                raise ValueError(
                    f"cube {cube!r} has no layout sidecar — retention "
                    "applies to warehouse cubes only")
            layout["keep_generations"] = keep_generations
            self.fs.write_text(self.fs.join(path, self._LAYOUT_SIDECAR),
                               json.dumps(layout))

    def rebucket(self, cube: str, oid_buckets: int,
                 incremental: bool = False) -> None:
        """Migrate the cube to a different oid-bucket count — the
        managed escape from a first-write count that the data outgrew
        (at 100 TB, 16 buckets means ~6 TB bucket directories: the
        bucket-granular merge, history import and point-lookup prune
        all degrade to near-table cost; this is THE practical
        scale-up failure the fixed layout would otherwise pin forever).

        One full rewrite, one commit: every row is re-hashed into
        ``pmod(xxhash64(_oid), N')`` directories written fresh under the
        next generation (open rows in ``open-g{gen}``, closed history in
        a gen-scoped ``rb-g{gen}`` batch — never a content token, which
        identical content would collide with a LIVE directory), and the
        manifest flip publishes the new count IN THE MANIFEST atomically
        with the directories it applies to. Writers and readers resolve
        the count manifest-first (``_live_buckets``) and every later
        flip carries it forward; retained generations keep their own
        count for time-travel pruning (``_push_history``). The layout
        sidecar deliberately keeps the FIRST-WRITE count: it is the
        fallback for fieldless pre-rebucket history entries, and editing
        it could not be atomic with the data anyway. (Consequence: every
        writer of a rebucketed cube must be at least this engine
        version — an older writer reading only the sidecar would merge
        with the wrong modulus.)

        Content is invariant (physical-only, like compaction); a crash
        before the flip leaves readers on the old generation and the
        stranded directories are swept by the next commit or vacuum;
        the generation advance runs the auto-refresh index epilogue like
        every other commit.

        This is a FULL rewrite — at 100 TB, one (embarrassingly
        parallel) pass over the cube, scheduled like any other bulk
        maintenance. When even that one window is too much,
        ``incremental=True`` starts a DOUBLING migration (N → 2N only)
        instead — the linear-hashing idea (Litwin 1980: split one
        bucket at a time under a doubled modulus, address under both
        until the split round completes) applied to partition
        directories: ``pmod(h, 2N) ∈ {pmod(h, N), pmod(h, N) + N}`` means
        each old bucket splits independently, so the start commit is
        METADATA-ONLY — it records the new live count plus a
        ``migration`` block naming the directories still at the old
        modulus, and no data moves. From then on (a) reads union-prune
        point lookups under both moduli (``_buckets_for_read`` — sound
        whichever vintage a directory is), (b) every merge, history
        import and compaction that rewrites an old directory migrates
        it as a side effect (the rewrite uses the live modulus and the
        manifest carry rule retires the directory from
        ``migration.old_dirs``), and (c) ``rebucket_step`` migrates the
        remainder in byte-bounded background chunks. The migration
        completes when ``old_dirs`` empties; the sidecar count then
        converges (``_sync_layout_after_rebucket``). Crash anywhere =
        any other commit crash: the flip is the commit point and a
        half-migrated cube is a fully valid state indefinitely."""
        if oid_buckets <= 0:
            raise ValueError("oid_buckets must be > 0")
        if incremental:
            self._rebucket_start_incremental(cube, oid_buckets)
            return
        with self._write_lock(cube):
            path = self._path(cube)
            state, meta, raw = self._cube_state(path)
            if state == "premanifest":
                meta, raw = self._adopt_premanifest(path)
            elif state != "manifest":
                raise ValueError(
                    f"cube {cube!r} is {state} — rebucket needs a "
                    "generation-manifested cube")
            layout = self._cube_layout(path) or {}
            if (self._live_buckets(meta, layout) == oid_buckets
                    and not meta.get("migration")):
                # converge the sidecar too: a crash between a prior
                # rebucket's flip and its sidecar sync leaves the
                # first-write count in place — re-running heals it.
                # (With a migration in flight, fall through: the full
                # rewrite below is the escape hatch that finishes it in
                # one pass and clears the migration block.)
                self._sync_layout_after_rebucket(path, layout,
                                                 oid_buckets)
                return
            timepart = self._cube_timepart(path, for_write=True,
                                           layout=layout)
            keep = layout.get("keep_generations", 0)
            gen = meta["gen"] + 1
            part_cols = self._partition_keys(oid_buckets, timepart)
            rows = self._read(path)  # internal keys dropped; re-derived
            cols = [c for c in rows.columns if c != "_current"]
            out = rows.withColumn("_current", F.col("_end").isNull())
            out = out.withColumn(
                "__batch",
                F.when(F.col("_current"), F.lit(f"open-g{gen}"))
                .otherwise(F.lit(f"rb-g{gen}")))
            out = self._with_part_cols(out, oid_buckets, timepart)
            # localCheckpoint: the write lands under the same root the
            # plan reads from (fresh relpaths, but Spark's self-
            # overwrite check is path-based), and a retry must not
            # recompute from directories the write is mutating
            out = out.select(*cols, *part_cols).localCheckpoint(
                eager=True)
            self._write_dirs(out, path, oid_buckets, timepart)
            new_rels = self._record_sizes(
                path, self._written_dir_stats(out, oid_buckets, timepart)[1])
            dirs = set(new_rels)
            hist = self._push_history(meta, keep)
            self._backfill_history_buckets(hist, meta, layout)
            self._manifest_flip(path, raw, gen, dirs, hist,
                                stats=self._merged_stats(
                                    meta, new_rels, dirs, hist,
                                    path=path),
                                schema=meta.get("schema"),
                                oid_buckets=oid_buckets,
                                migration=None)
            self._sync_layout_after_rebucket(path, layout, oid_buckets)
            self._sweep_dropped(
                path, meta, dirs | {d for h in hist for d in h["dirs"]})
            self._auto_refresh_indexes(cube)

    def _backfill_history_buckets(self, hist: list[dict], meta: dict,
                                  layout: dict) -> None:
        """Stamp an EXPLICIT ``oid_buckets`` into every retained-history
        entry that relied on the layout sidecar's first-write count as
        its fallback — a rebucket is about to rewrite that sidecar count
        (see ``_sync_layout_after_rebucket``), and a fieldless entry
        read under the new count would prune time-travel lookups to the
        wrong directories. Their true count IS the current sidecar
        value: fieldless entries can only predate the first rebucket."""
        fallback = self._live_buckets(meta, layout)
        if fallback is None:
            return
        for h in hist:
            h.setdefault("oid_buckets", fallback)

    def _sync_layout_after_rebucket(self, path: str, layout: dict,
                                    oid_buckets: int) -> None:
        """Post-flip sidecar convergence (the manifest stays
        authoritative — this write cannot be atomic with the data):
        rewrite the sidecar's bucket count to the live one, shrinking
        the window in which a PRE-fence writer (which resolves the
        count sidecar-only) would merge a rebucketed cube with the
        wrong modulus, and stamp ``min_format`` so every fence-aware
        engine version refuses-loud on future semantics it doesn't
        implement (``_cube_layout``). Fieldless history entries were
        backfilled with their true count before the flip
        (``_backfill_history_buckets``), so changing the fallback here
        is safe."""
        import json

        if (layout.get("oid_buckets") == oid_buckets
                and layout.get("min_format", 0)
                >= self._SUPPORTED_LAYOUT_FORMAT):
            return
        out = dict(layout)
        out["oid_buckets"] = oid_buckets
        out["min_format"] = max(layout.get("min_format", 0),
                                self._SUPPORTED_LAYOUT_FORMAT)
        self.fs.write_text(self.fs.join(path, self._LAYOUT_SIDECAR),
                           json.dumps(out))

    def _rebucket_start_incremental(self, cube: str,
                                    oid_buckets: int) -> None:
        """Start a doubling migration (``rebucket(incremental=True)``):
        one METADATA-ONLY commit — the manifest's live count becomes
        ``2N`` and every directory still at the old modulus gets a
        per-directory modulus STAMP in the segmented manifest; zero
        bytes of data move. Doublings CHAIN: starting another one
        mid-migration is legal — directories already stamped keep
        their (older) modulus, the rest get stamped at the
        pre-doubling live count, and reads union-prune under every
        modulus present (``_buckets_for_read``), so growing 16 → 1024
        is six starts whose drains overlap freely instead of six
        fully-sequential windows. The sidecar's ``min_format`` fence
        is written by the flip BEFORE the CAS (a crash between the two
        leaves an over-fenced, uncorrupted cube — the safe direction);
        its COUNT stays at the first-write value until completion — no
        single sidecar number can describe a mixed-modulus cube, and
        the manifest is authoritative throughout."""
        with self._write_lock(cube):
            path = self._path(cube)
            state, meta, raw = self._cube_state(path)
            if state == "premanifest":
                meta, raw = self._adopt_premanifest(path)
            elif state != "manifest":
                raise ValueError(
                    f"cube {cube!r} is {state} — rebucket needs a "
                    "generation-manifested cube")
            layout = self._cube_layout(path) or {}
            cur = self._live_buckets(meta, layout)
            blocks = meta.get("migration") or []
            if cur == oid_buckets:
                if not blocks:
                    # converge the sidecar (idempotent restart after a
                    # completed migration whose sync crashed)
                    self._sync_layout_after_rebucket(path, layout,
                                                     oid_buckets)
                return  # already at / already migrating to this target
            if not cur:
                raise ValueError(
                    f"cube {cube!r} is unbucketed — incremental "
                    "migration needs an oid-bucketed cube (use a full "
                    "rebucket)")
            if oid_buckets != 2 * cur:
                raise ValueError(
                    f"incremental rebucket supports DOUBLING only "
                    f"({cur} -> {2 * cur}); got target {oid_buckets}. "
                    "Chain doublings (each start is metadata-only and "
                    "they drain concurrently), or use a full rebucket")
            stamped = {d for b in blocks for d in b["old_dirs"]}
            old_dirs = sorted(d for d in meta["dirs"]
                              if "/__obucket=" in d and d not in stamped)
            if not old_dirs and not blocks:
                raise RuntimeError(
                    f"cube {cube!r} has no bucketed directories to "
                    "migrate — layout/manifest disagree")
            gen = meta["gen"] + 1
            keep = layout.get("keep_generations", 0)
            hist = self._push_history(meta, keep)
            self._backfill_history_buckets(hist, meta, layout)
            self._manifest_flip(
                path, raw, gen, set(meta["dirs"]), hist,
                stats=self._merged_stats(meta, None, set(meta["dirs"]),
                                         hist, path=path),
                schema=meta.get("schema"),
                oid_buckets=oid_buckets,
                migration=({"from": cur, "old_dirs": old_dirs}
                           if old_dirs else Engine._CARRY))

    def rebucket_step(self, cube: str, max_bytes: int | None = None,
                      max_dirs: int | None = None) -> dict:
        """Migrate a bounded chunk of a doubling migration's remaining
        old-modulus directories (see ``rebucket(incremental=True)``):
        picks up to ``max_bytes`` worth (manifest-recorded sizes, no
        listing) or ``max_dirs`` of ``migration.old_dirs`` — at least
        one, all of them when unbounded — reads EXACTLY those
        directories, rewrites their rows under the live modulus into
        fresh generation-scoped directories (open rows to
        ``open-g{gen}``, closed to ``mig-g{gen}``), and commits. The
        carry rule retires the chunk from ``old_dirs``; when the last
        old directory goes, the migration is complete and the sidecar
        count converges. Each step is one ordinary commit: bounded I/O
        (O(chunk), never O(cube)), snapshot-isolated, crash-convergent
        (a retry rewrites the same gen-scoped directories), and safely
        interleavable with upserts/imports/compactions — which migrate
        whatever they touch on their own. Returns
        ``{"migrated_dirs", "migrated_bytes", "remaining_dirs",
        "done"}``."""
        with self._write_lock(cube):
            path = self._path(cube)
            state, meta, raw = self._cube_state(path)
            if state != "manifest":
                raise ValueError(
                    f"cube {cube!r} is {state} — no migration to step")
            blocks = meta.get("migration") or []
            layout = self._cube_layout(path) or {}
            buckets = self._live_buckets(meta, layout)
            if not blocks:
                if (isinstance(buckets, int)
                        and layout.get("oid_buckets") != buckets):
                    # converge the sidecar: a crash between the
                    # completing flip and its sidecar sync leaves the
                    # first-write count/fence behind — stepping a
                    # finished migration heals it (never-migrated
                    # cubes have matching counts and are untouched)
                    self._sync_layout_after_rebucket(path, layout,
                                                     buckets)
                return {"migrated_dirs": 0, "migrated_bytes": 0,
                        "remaining_dirs": 0, "done": True}
            timepart = self._cube_timepart(path, for_write=True,
                                           layout=layout)
            sizes = (meta.get("stats") or {}).get("bytes") or {}
            live = set(meta["dirs"])
            # oldest modulus first: draining the oldest block shrinks
            # the union-prune's moduli set soonest under chained
            # doublings (any order is correct — every rewrite lands at
            # the LIVE modulus)
            pending = [d for b in blocks for d in b["old_dirs"]
                       if d in live]
            if not pending:
                # defensive: the carry rule drops the migration block
                # when old_dirs empties, so this state needs a
                # hand-edited manifest — treat as complete, don't build
                # a zero-path read
                return {"migrated_dirs": 0, "migrated_bytes": 0,
                        "remaining_dirs": 0, "done": True}
            chunk: list[str] = []
            used = 0
            for d in pending:
                b = sizes.get(d)
                if b is None:
                    full = self.fs.join(path, d)
                    b = self._du_cache.get(full)
                    if b is None:
                        b = self.fs.du(full)
                        self._du_cache[full] = b
                if chunk and max_bytes is not None \
                        and used + b > max_bytes:
                    continue  # keep scanning: a smaller dir may fit
                chunk.append(d)
                used += b
                if max_dirs is not None and len(chunk) >= max_dirs:
                    break
            gen = meta["gen"] + 1
            keep = layout.get("keep_generations", 0)
            rows = self._read_dirs(path, meta, chunk)
            cols = [c for c in rows.columns
                    if c not in ("_current", "__batch", "__obucket",
                                 "__stime")]
            out = rows.withColumn("_current", F.col("_end").isNull())
            out = out.withColumn(
                "__batch",
                F.when(F.col("_current"), F.lit(f"open-g{gen}"))
                .otherwise(F.lit(f"mig-g{gen}")))
            out = self._with_part_cols(out, buckets, timepart)
            part_cols = self._partition_keys(buckets, timepart)
            # localCheckpoint: the write lands under the same root the
            # plan reads from, and a retry must not recompute from
            # directories the write is mutating
            out = out.select(*cols, *part_cols).localCheckpoint(
                eager=True)
            self._write_dirs(out, path, buckets, timepart)
            new_rels = self._record_sizes(
                path, self._written_dir_stats(out, buckets, timepart)[1])
            dirs = (live - set(chunk)) | set(new_rels)
            hist = self._push_history(meta, keep)
            self._manifest_flip(path, raw, gen, dirs, hist,
                                stats=self._merged_stats(
                                    meta, new_rels, dirs, hist,
                                    path=path),
                                schema=meta.get("schema"))
            self._sweep_dropped(
                path, meta, dirs | {d for h in hist for d in h["dirs"]})
            self._auto_refresh_indexes(cube)
            remaining = len({d for b in blocks
                             for d in b["old_dirs"]} & dirs)
            return {"migrated_dirs": len(chunk), "migrated_bytes": used,
                    "remaining_dirs": remaining,
                    "done": remaining == 0}

    # -- generation-pointer manifest (snapshot-isolated commits) -------------
    #
    # Same protocol the streaming sinks use (streaming/events.py:30-98):
    # a ``_manifest.json`` sidecar names the cube's current generation and
    # the exact set of data directories belonging to it. Every mutating
    # operation (1) writes its output into NEW directories only — never
    # into a directory the live manifest references — (2) flips the
    # pointer with ONE compare-and-swap PUT, then (3) sweeps exactly the
    # directories this commit retired (prior-retained minus
    # new-retained — known from the two manifests, no listing; strands
    # of CRASHED attempts are invisible and left for vacuum's listing
    # sweep). Readers resolve paths from the manifest, never listings,
    # so the flip is the commit point: a concurrent reader sees exactly
    # the old or exactly the new generation — the transient mixed
    # old+new-version window of the in-place two-step commit is gone.
    # Crash convergence: a retry recomputes the same generation number
    # (the pointer didn't move) and overwrites the same not-yet-referenced
    # directories; stranded directories are invisible and swept by the
    # next successful commit.

    _MANIFEST_SIDECAR = "_manifest.json"
    # Segmented manifest (format 4, bucketed cubes): the root sidecar
    # stays the single CAS commit point but holds only the generation,
    # rolled-up stats, and REFERENCES into ``_manifest_seg/`` — one
    # immutable JSON segment per oid-bucket RANGE carrying that range's
    # directory list, per-directory stats, and per-directory old-modulus
    # stamps. A commit serializes only the segments whose content
    # changed (unchanged ranges carry forward by filename reference,
    # like data directories), so per-commit manifest bytes are
    # O(touched buckets), not O(cube) — the monolithic manifest was the
    # one measured super-linear per-commit cost at 100 TB directory
    # counts (tens of MB re-serialized per 2-row trickle commit).
    # Retained generations reference THEIR segment files; the
    # post-flip segment sweep deletes only files no retained root
    # references. Segment files are immutable once their root commits,
    # so parses are cached per filename.
    _MANIFEST_SEGDIR = "_manifest_seg"
    _SEG_SPAN = 64  # oid-bucket values per segment file

    def _manifest_raw(self, path: str) -> str | None:
        p = self.fs.join(path, self._MANIFEST_SIDECAR)
        return self.fs.read_text(p) if self.fs.isfile(p) else None

    def _manifest_root(self, path: str,
                       raw: str | None = None) -> dict | None:
        """Parse (only) the manifest ROOT sidecar — O(segments), not
        O(dirs): enough for describe()/metadata-count rollups and the
        CAS protocol. ``_manifest`` assembles the full legacy-shaped
        dict from it."""
        import json

        if raw is None:
            raw = self._manifest_raw(path)
        if raw is None:
            return None
        try:
            root = json.loads(raw)
        except ValueError as e:
            raise RuntimeError(
                f"unreadable cube manifest {path!r}/_manifest.json: {e} — "
                "refusing to fall back to a listing read") from e
        if not isinstance(root, dict) or (
                "dirs" not in root and "segs" not in root):
            raise RuntimeError(
                f"malformed cube manifest in {path!r} — refusing to fall "
                "back to a listing read")
        return root

    @classmethod
    def _seg_key(cls, rel: str) -> str:
        """The manifest segment a directory belongs to: its oid-bucket
        VALUE range (``b{value // span}``) — the same key whatever the
        directory's modulus vintage, so a point lookup's pruned bucket
        values name exactly the segments worth loading. Unbucketed
        directories share the ``m`` segment."""
        i = rel.find("/__obucket=")
        if i < 0:
            return "m"
        v = rel[i + 11:].split("/", 1)[0]
        try:
            return f"b{int(v) // cls._SEG_SPAN:05d}"
        except ValueError:
            return "m"

    def _load_segment(self, path: str, fname: str) -> dict:
        full = self.fs.join(path, self._MANIFEST_SEGDIR, fname)
        seg = self._seg_cache.get(full)
        if seg is None:
            import json

            seg = json.loads(self.fs.read_text(full))
            self._seg_cache[full] = seg
        return seg

    def _assemble(self, path: str, root: dict) -> dict:
        """The legacy-shaped manifest dict every consumer reads —
        ``{gen, dirs, stats, schema, oid_buckets, history, migration}``
        — assembled from a segmented root (or passed through for a
        pre-segmentation monolithic one, with the single-block
        ``migration`` dict normalized to the blocks list). Wall-clock
        stats (``max_end``/``min_start``) are taken only from segments
        recorded under the root's commit timezone — same skipped-not-
        wrong contract as the monolithic ``stats.tz``; byte/row stats
        are tz-independent and always fold. ``migration`` assembles
        from the per-directory modulus stamps into per-modulus blocks
        ``[{"from": N, "old_dirs": [...]}, ...]`` (oldest modulus
        first) — the shape every merge/drain path consumes."""
        if root.get("format", 0) < 4:
            meta = dict(root)
            mig = meta.get("migration")
            if isinstance(mig, dict):
                meta["migration"] = [mig]
            return meta
        tz = root.get("tz")
        dirs: list[str] = []
        me: dict = {}
        ms: dict = {}
        by: dict = {}
        rw: dict = {}
        stamps: dict[str, int] = {}

        def fold(segrefs: dict, live: bool) -> list[str]:
            got: list[str] = []
            for key in sorted(segrefs):
                seg = self._load_segment(path, segrefs[key])
                got.extend(seg["dirs"])
                if live:
                    for d, m in (seg.get("moduli") or {}).items():
                        stamps[d] = m
                st = seg.get("stats") or {}
                if st.get("tz") == tz:
                    for d, v in (st.get("max_end") or {}).items():
                        me.setdefault(d, v)
                    for d, v in (st.get("min_start") or {}).items():
                        ms.setdefault(d, v)
                for d, v in (st.get("bytes") or {}).items():
                    by.setdefault(d, v)
                for d, v in (st.get("rows") or {}).items():
                    rw.setdefault(d, v)
            return got

        dirs = fold(root.get("segs") or {}, live=True)
        meta: dict = {"gen": root["gen"], "format": 4,
                      "dirs": sorted(dirs)}
        hist_out: list[dict] = []
        for h in root.get("history", []):
            e = {k: h[k] for k in ("gen", "oid_buckets", "moduli",
                                   "schema") if k in h}
            e["dirs"] = (h["dirs"] if "dirs" in h
                         else sorted(fold(h.get("segs") or {},
                                          live=False)))
            hist_out.append(e)
        if hist_out:
            meta["history"] = hist_out
        if me or ms or by or rw:
            st_out: dict = {"tz": tz, "max_end": me, "min_start": ms}
            if by:
                st_out["bytes"] = by
            if rw:
                st_out["rows"] = rw
            meta["stats"] = st_out
        if "schema" in root:
            meta["schema"] = root["schema"]
        if "oid_buckets" in root:
            meta["oid_buckets"] = root["oid_buckets"]
        if "rollup" in root:
            meta["rollup"] = root["rollup"]
        if stamps:
            by_mod: dict[int, list[str]] = {}
            for d, m in stamps.items():
                by_mod.setdefault(m, []).append(d)
            meta["migration"] = [
                {"from": m, "old_dirs": sorted(ds)}
                for m, ds in sorted(by_mod.items())]
        return meta

    def _manifest(self, path: str) -> dict | None:
        """The assembled manifest dict — treat as READ-ONLY: the
        assembly is cached per path keyed by the exact root text (a
        commit changes the root, so staleness is impossible; segment
        content behind an unchanged root is immutable), making the
        second and later resolutions of one generation O(1) instead of
        O(dirs) — several resolutions happen per query."""
        for attempt in (0, 1):
            raw = self._manifest_raw(path)
            if raw is None:
                return None
            cached = self._meta_cache.get(path)
            if cached is not None and cached[0] == raw:
                return cached[1]
            root = self._manifest_root(path, raw)
            try:
                with self._phase("manifest_assemble"):
                    meta = self._assemble(path, root)
            except (FileNotFoundError, OSError) as e:
                # the swept-SEGMENT race: a concurrent commit retired
                # segment files our root resolution referenced —
                # re-resolve once from the fresh pointer (same contract
                # as the swept data-directory retry in _read_raw)
                if attempt:
                    raise RuntimeError(
                        f"cube manifest at {path!r} references missing "
                        f"segment files: {e} — torn manifest") from e
                continue
            self._meta_cache[path] = (raw, meta)
            return meta

    def _push_history(self, meta: dict | None, keep: int) -> list[dict]:
        """History entries for the NEXT manifest: the superseded current
        generation first, then the previously retained ones, truncated
        to ``keep`` — the CUBE's recorded retention (layout sidecar),
        not this writer's config, so a maintenance engine with default
        settings cannot silently truncate pinned snapshots."""
        if not keep or meta is None:
            return []
        cur: dict = {"gen": meta["gen"], "dirs": meta["dirs"]}
        if "oid_buckets" in meta:
            # a retained generation keeps ITS OWN bucket count: after a
            # rebucket, a time-travel point lookup of the old snapshot
            # must prune with the modulus its directories were hashed
            # under, not the live one
            cur["oid_buckets"] = meta["oid_buckets"]
        if meta.get("migration"):
            # mid-migration generations keep their moduli SET: a
            # time-travel point lookup of a mixed-modulus snapshot must
            # union-prune under every modulus its directories were
            # hashed under (the old_dirs lists themselves are not
            # needed for reads — only the moduli)
            cur["moduli"] = sorted({b["from"]
                                    for b in meta["migration"]})
        if meta.get("schema") is not None:
            # each retained generation keeps ITS OWN read schema: after a
            # schema evolution, a time-travel read of an old snapshot
            # must reproduce exactly the frame a job saw then — not the
            # union schema with phantom null columns
            cur["schema"] = meta["schema"]
        # entry dicts are COPIED: callers may stamp fields into them
        # (_backfill_history_buckets), and the assembled manifest they
        # came from is cached and shared (see _manifest)
        hist = [cur] + [dict(h) for h in meta.get("history", [])]
        return hist[:keep]

    @staticmethod
    def _retained_dirs(meta: dict | None) -> set[str]:
        """Directories referenced by any RETAINED generation (current +
        history) — the set no writer may overwrite and no sweep may
        delete."""
        if meta is None:
            return set()
        dirs = set(meta["dirs"])
        for h in meta.get("history", []):
            dirs.update(h["dirs"])
        return dirs

    def _merged_stats(self, meta: dict | None,
                      new_stats: dict[str, dict[str, str | None]] | None,
                      dirs: set[str],
                      history: list[dict] | None,
                      path: str | None = None) -> dict | None:
        """The ``stats`` block for the next manifest: per-directory
        ``max(_end)`` carried forward for every retained directory and
        extended with this commit's writes. Prior stats recorded under a
        DIFFERENT session timezone are dropped, not converted — the
        strings are wall-clock renderings, and a reader only consults
        stats whose recorded zone matches its own session (skipped, not
        wrong, on mismatch — same contract as the ``__stime`` prune)."""
        tz = self._session_tz()
        prior = (meta or {}).get("stats") or {}
        end_m: dict[str, str] = {}
        start_m: dict[str, str] = {}
        if prior.get("tz") == tz:
            end_m.update(prior.get("max_end") or {})
            start_m.update(prior.get("min_start") or {})
        # per-directory byte sizes (the tiered-compaction level
        # classifier) and row counts (the metadata-only count fast
        # path) are tz-independent: always carried forward
        bytes_m: dict[str, int] = dict(prior.get("bytes") or {})
        rows_m: dict[str, int] = dict(prior.get("rows") or {})
        for d, v in (new_stats or {}).items():
            if v.get("max_end") is not None:
                end_m[d] = v["max_end"]
            else:
                end_m.pop(d, None)  # rewritten as an open dir
            if v.get("min_start") is not None:
                start_m[d] = v["min_start"]
            else:
                start_m.pop(d, None)
            if v.get("bytes") is not None:
                bytes_m[d] = v["bytes"]
            if v.get("rows") is not None:
                rows_m[d] = v["rows"]
        retained = set(dirs) | {d for h in (history or [])
                                for d in h["dirs"]}
        if path is not None:
            # backfill du-fallback measurements for retained dirs a
            # pre-upgrade manifest never sized — persisting them here
            # makes the fallback walk a once-per-dir cost, not
            # once-per-compaction-trigger
            for d in retained:
                if d not in bytes_m:
                    cached = self._du_cache.get(self.fs.join(path, d))
                    if cached is not None:
                        bytes_m[d] = cached
        kept_end = {d: end_m[d] for d in sorted(retained) if d in end_m}
        kept_start = {d: start_m[d] for d in sorted(retained)
                      if d in start_m}
        kept_bytes = {d: bytes_m[d] for d in sorted(retained)
                      if d in bytes_m}
        kept_rows = {d: rows_m[d] for d in sorted(retained)
                     if d in rows_m}
        if (not kept_end and not kept_start and not kept_bytes
                and not kept_rows):
            return None
        out: dict = {"tz": tz, "max_end": kept_end,
                     "min_start": kept_start}
        if kept_bytes:
            out["bytes"] = kept_bytes
        if kept_rows:
            out["rows"] = kept_rows
        return out

    _CARRY = object()  # _manifest_flip: keep the prior manifest's value

    def _manifest_flip(self, path: str, old_raw: str | None,
                       gen: int, dirs: set[str],
                       history: list[dict] | None = None,
                       stats: dict | None = None,
                       schema: dict | None = None,
                       oid_buckets: int | None | object = _CARRY,
                       migration: dict | None | object = _CARRY) -> None:
        """The commit point: ONE atomic pointer write. CAS against the
        text read at operation start — under the writer lease this only
        fails if a TTL-expired zombie writer raced us; fail loud.

        Bucketed cubes commit the SEGMENTED layout (format 4): the
        directory list and per-directory stats are re-grouped into
        per-bucket-range segment files, only segments whose content
        changed are serialized (to fresh gen-scoped filenames — a
        crash-retry of the same generation overwrites the same
        not-yet-referenced files), unchanged ranges carry forward by
        filename reference, and the tiny root — generation, segment
        refs, rolled-up stats — is the CAS payload. Per-commit manifest
        bytes are therefore O(touched buckets); the root also carries
        the rollup ``describe()`` and the metadata-only ``count()``
        answer from without loading any segment. Unbucketed cubes keep
        the monolithic single-JSON manifest (they have no bucket ranges
        to segment by, and no migration either).

        ``schema`` is the generation's authoritative read schema (data
        columns + directory-encoded partition columns, StructType JSON):
        readers pass it to the parquet scan instead of sampling file
        footers, which (a) makes schema EVOLUTION sound — files written
        before a column existed read back as typed nulls instead of the
        footer-picked-at-random roulette — and (b) skips the footer
        schema-merge job entirely at plan time (at 100 TB a listing of a
        million files never needs a schema-inference pass).

        ``migration`` carries the in-flight doubling migration(s) as
        per-directory old-modulus STAMPS (see
        ``rebucket(incremental=True)``): the default carries every
        stamped directory that survives into this generation forward —
        a commit that rewrites an old directory (merge, import,
        compact, migration step) thereby migrates it, because the
        rewrite used the live modulus and the vanished relpath drops
        its stamp; new directories are never stamped. Explicit None
        clears every stamp (full rebucket); an explicit
        ``{"from": N, "old_dirs": [...]}`` dict ADDS stamps for a newly
        started doubling on top of the carried ones (chained
        migrations). The stamps live in the segment files; the root
        keeps only the rolled-up moduli/pending summary. When the last
        stamp drains, the migration is complete and the layout sidecar
        count converges (post-CAS, best-effort — the manifest stays
        authoritative)."""
        import json

        prior_root = json.loads(old_raw) if old_raw else {}
        # reuse the read-path's assembled-manifest cache when it holds
        # exactly the root text this commit CASes against (the common
        # case: the caller just resolved the manifest to plan its
        # writes) — the flip then skips its own O(dirs) assembly fold
        cached = self._meta_cache.get(path)
        if old_raw is None:
            prior = {}
        elif cached is not None and cached[0] == old_raw:
            prior = cached[1]
        else:
            with self._phase("flip_assemble"):
                prior = self._assemble(path, prior_root)
        # the generation's authoritative oid-bucket count: ``rebucket``
        # sets it explicitly (atomically with the rewritten dirs — the
        # layout sidecar alone can't change in the same write as the
        # data); every other flip carries the prior generation's value
        # forward, so once recorded it never silently reverts to the
        # sidecar default
        if oid_buckets is Engine._CARRY:
            oid_buckets = prior.get("oid_buckets", Engine._CARRY)
        carried = {d: b["from"] for b in (prior.get("migration") or [])
                   for d in b["old_dirs"] if d in dirs}
        if migration is Engine._CARRY:
            stamps = carried
        elif migration is None:
            stamps = {}
        else:
            stamps = carried
            stamps.update({d: migration["from"]
                           for d in migration["old_dirs"]
                           if d in dirs and d not in carried})
        body: dict = {"gen": gen}
        if oid_buckets is not Engine._CARRY:
            body["oid_buckets"] = oid_buckets
        buckets = (oid_buckets if isinstance(oid_buckets, int)
                   else self._cube_buckets(path))
        if buckets:
            with self._phase("flip_build_segments"):
                self._flip_build_segmented(path, prior_root, gen, dirs,
                                           history, stats, schema,
                                           stamps, body)
        else:
            body["dirs"] = sorted(dirs)
            if history:
                body["history"] = history
            if stats:
                body["stats"] = stats
            if schema is not None:
                body["schema"] = schema
        new = json.dumps(body)
        p = self.fs.join(path, self._MANIFEST_SIDECAR)
        if old_raw is None:
            # first flip is a CAS too (put-if-absent): two racing first
            # writers (TTL-expired zombie vs reclaimer) must not both
            # "succeed" — the loser's sweep would delete the winner's
            # directories while the surviving manifest references them
            if not self.fs.put_if_absent(p, new):
                raise ConcurrentWriteError(
                    f"cube manifest at {path!r} appeared under our "
                    "writer lease — concurrent first writer detected, "
                    "commit aborted")
        elif not self.fs.replace_if_match(p, new, old_raw):
            raise ConcurrentWriteError(
                f"cube manifest at {path!r} changed under our writer "
                "lease — concurrent writer detected, commit aborted")
        if "segs" in body:
            # retire segment files no retained root references (this
            # commit's superseded ones, or strands of crashed attempts)
            with self._phase("flip_sweep_segments"):
                self._sweep_segments(path, body)
        if (prior.get("migration") and not stamps
                and isinstance(body.get("oid_buckets"), int)):
            # this commit rewrote the last old-modulus directory: the
            # doubling migration is COMPLETE — converge the layout
            # sidecar to the live count (post-CAS and best-effort, like
            # the full rebucket's sync; the manifest stays authoritative)
            self._sync_layout_after_rebucket(
                path, self._cube_layout(path) or {}, body["oid_buckets"])

    def _flip_build_segmented(self, path: str, prior_root: dict,
                              gen: int, dirs: set[str],
                              history: list[dict] | None,
                              stats: dict | None, schema: dict | None,
                              stamps: dict[str, int],
                              body: dict) -> None:
        """Build the format-4 root ``body`` in place and write the
        changed segment files (BEFORE the CAS — stranded ones are
        invisible until a root references them and are swept by the
        next successful commit). Also writes the layout ``min_format``
        fence FIRST when this flip upgrades a monolithic cube: a crash
        between fence and flip leaves an over-fenced but uncorrupted
        cube, the safe failure direction."""
        import json

        if prior_root.get("format", 0) < 4:
            lay = self._cube_layout(path)
            if (lay is not None and lay.get("min_format", 0)
                    < self._SUPPORTED_LAYOUT_FORMAT):
                out = dict(lay)
                out["min_format"] = self._SUPPORTED_LAYOUT_FORMAT
                self.fs.write_text(
                    self.fs.join(path, self._LAYOUT_SIDECAR),
                    json.dumps(out))
        st = stats or {}
        tz = st.get("tz") or self._session_tz()
        per_seg: dict[str, dict] = {}
        for d in sorted(dirs):
            per_seg.setdefault(self._seg_key(d),
                               {"dirs": []})["dirs"].append(d)
        for k, s in per_seg.items():
            seg_st: dict = {"tz": tz}
            for field in ("max_end", "min_start", "bytes", "rows"):
                src = st.get(field) or {}
                sub = {d: src[d] for d in s["dirs"] if d in src}
                if sub:
                    seg_st[field] = sub
            if len(seg_st) > 1:
                s["stats"] = seg_st
            mod = {d: stamps[d] for d in s["dirs"] if d in stamps}
            if mod:
                s["moduli"] = mod
        prior_segs = prior_root.get("segs") or {}
        seg_refs: dict[str, str] = {}
        for k, s in per_seg.items():
            pf = prior_segs.get(k)
            if pf is not None and self._load_segment(path, pf) == s:
                seg_refs[k] = pf  # unchanged range: carry by reference
                continue
            import hashlib

            txt = json.dumps(s)
            # CONTENT-ADDRESSED name (gen prefix for debuggability):
            # same name ⇒ same bytes, everywhere and forever — so the
            # per-filename parse cache is sound across engines, across
            # drop-and-recreate of the cube, and across a TTL-expired
            # zombie losing the CAS race; a crash-retry with identical
            # input rewrites the identical file, and one with changed
            # input writes a NEW name whose stranded predecessor the
            # post-commit sweep retires
            h = hashlib.md5(txt.encode()).hexdigest()[:10]
            fname = f"g{gen:08d}-{k}-{h}.json"
            full = self.fs.join(path, self._MANIFEST_SEGDIR, fname)
            self.fs.write_text(full, txt)
            seg_refs[k] = fname
        body["format"] = 4
        body["tz"] = tz
        body["segs"] = seg_refs
        if schema is not None:
            body["schema"] = schema
        hist_out: list[dict] = []
        for h in history or []:
            e = {k: h[k] for k in ("gen", "oid_buckets", "moduli",
                                   "schema") if k in h}
            if h["gen"] == prior_root.get("gen") and prior_segs:
                e["segs"] = prior_segs
            else:
                for ph in prior_root.get("history", []):
                    if ph["gen"] == h["gen"] and "segs" in ph:
                        e["segs"] = ph["segs"]
                        break
                else:
                    # format upgrade / adopted cube: no prior segment
                    # refs exist for this generation — inline its dirs
                    e["dirs"] = h["dirs"]
            hist_out.append(e)
        if hist_out:
            body["history"] = hist_out
        body["rollup"] = self._flip_rollup(dirs, st, stamps)

    def _flip_rollup(self, dirs: set[str], st: dict,
                     stamps: dict[str, int]) -> dict:
        """Root-level rolled-up stats, computed once per commit from
        the merged per-directory stats already in hand: everything
        ``describe()`` and the metadata-only ``count()`` report, so
        both answer from the root alone — O(segment refs), not
        O(dirs) — at any cube size. ``token_bytes`` (per history-batch
        byte totals, the size-tiered level structure) lets describe
        evaluate ``tier_groups`` under the READER's threshold; with
        compaction on its size is O(levels). Per-bucket byte maxima
        exclude old-modulus (stamped) directories — two vintages
        sharing a bucket VALUE are different buckets, and summing them
        would over-trigger ``rebucket_recommended`` mid-migration."""
        rows_map = st.get("rows") or {}
        bytes_map = st.get("bytes") or {}
        open_d = [d for d in dirs if d.startswith("_current=true")]
        rollup: dict = {"dirs": len(dirs), "open_dirs": len(open_d),
                        "closed_dirs": len(dirs) - len(open_d)}
        if dirs and all(d in rows_map for d in dirs):
            rollup["rows"] = sum(rows_map[d] for d in dirs)
            rollup["rows_open"] = sum(rows_map[d] for d in open_d)
        tok: dict[str, int] = {}
        tok_ok = True
        for d in dirs:
            if d.startswith("_current=true"):
                continue
            b = bytes_map.get(d)
            if b is None:
                tok_ok = False
                break  # unsized closed dir: no token rollup (fallback)
            t = self._batch_dir_token(d)
            tok[t] = tok.get(t, 0) + b
        if tok_ok:
            rollup["token_bytes"] = tok
        bb: dict[str, int] = {}
        for d in dirs:
            if d in stamps:
                continue
            b = bytes_map.get(d)
            if b is None:
                continue
            i = d.find("/__obucket=")
            if i < 0:
                continue
            seg = d[i + 1:].split("/", 1)[0]
            bb[seg] = bb.get(seg, 0) + b
        if bb:
            rollup["max_bucket_bytes"] = max(bb.values())
        if stamps:
            rollup["migration"] = {
                "from": sorted(set(stamps.values())),
                "pending_dirs": len(stamps),
                "pending_bytes": sum(bytes_map.get(d, 0)
                                     for d in stamps)}
        return rollup

    def _sweep_segments(self, path: str, root: dict) -> None:
        """Delete manifest segment files the just-committed root (live
        refs + every retained generation's refs) does not reference.
        Runs post-CAS under the writer lease; listing the segment dir
        is safe — readers resolve segments from root refs, never
        listings, and a reader still holding the superseded root
        re-resolves once on a missing segment (see ``_manifest``)."""
        keep = set((root.get("segs") or {}).values())
        for h in root.get("history", []):
            keep.update((h.get("segs") or {}).values())
        segdir = self.fs.join(path, self._MANIFEST_SEGDIR)
        if not self.fs.isdir(segdir):
            return
        for f in self.fs.listdir(segdir):
            if f not in keep:
                full = self.fs.join(segdir, f)
                self.fs.delete(full)
                self._seg_cache.pop(full, None)

    def _sweep_dropped(self, path: str, prior_meta: dict | None,
                       keep: set[str]) -> None:
        """Post-commit sweep WITHOUT LISTING: the directories this
        commit retired are exactly (what the prior manifest retained)
        minus (what the new one retains) — both known, so the sweep
        costs O(dropped) deletes, never an O(cube) directory walk (at
        100 TB the per-commit tree LIST was the last O(cube) metadata
        op left in the commit path; object-store LIST round trips make
        it the dominant one). Crash-STRANDED directories (invisible —
        no manifest ever referenced them) are left for ``vacuum``'s
        listing sweep instead of being collected per commit."""
        for d in sorted(self._retained_dirs(prior_meta) - keep,
                        reverse=True):
            full = self.fs.join(path, d)
            if self.fs.isdir(full):
                self.fs.delete_dir(full)
            # prune emptied parent shells (__obucket= / __stime= /
            # _current= levels) so point-lookup listings never walk
            # hollow directories — bounded by the dropped dir's depth
            parts = d.split("/")
            for i in range(len(parts) - 1, 0, -1):
                parent = self.fs.join(path, *parts[:i])
                if self.fs.isdir(parent) and not self.fs.listdir(parent):
                    self.fs.delete_dir(parent)
                else:
                    break

    def _sweep_unreferenced(self, path: str, keep: set[str]) -> None:
        """Delete data directories the live manifest does not reference
        — superseded OR stranded by crashed attempts. This is the
        LISTING sweep: it walks the cube's directory tree, so it runs
        only where that is cheap or necessary (first write, premanifest
        adoption, ``vacuum``); ordinary commits use ``_sweep_dropped``,
        which needs no listing. Runs under the writer lease — only the
        writer lists; readers never do."""
        def walk(dirpath: str, rel: str) -> None:
            for d in self.fs.listdir(dirpath):
                full = self.fs.join(dirpath, d)
                r = f"{rel}/{d}"
                if d.startswith("__batch="):
                    if r not in keep and self.fs.isdir(full):
                        self.fs.delete_dir(full)
                elif (d.startswith(("__obucket=", "__stime="))
                        and self.fs.isdir(full)):
                    walk(full, r)
                    if not self.fs.listdir(full):
                        self.fs.delete_dir(full)  # emptied shell

        for cur in self.fs.listdir(path):
            if cur.startswith("_current="):
                full = self.fs.join(path, cur)
                walk(full, cur)
                if not self.fs.listdir(full):
                    self.fs.delete_dir(full)

    def _written_dir_stats(
        self, out: DataFrame, buckets: int | None,
        timepart: str | None = None, open_batch: str | None = None,
    ) -> tuple[str | None, dict[str, dict[str, str | None]]]:
        """Manifest-relative directory paths a partitioned write of
        ``out`` produces, each with its ``max(_end)`` (None for open
        directories), ``min(_start)`` and row count — computed from the
        DATA in one small aggregate over the partition columns, not
        from a listing. The stats land in the manifest and let as-of
        reads skip closed directories whose whole content ended before
        the probe date (the lakehouse data-skipping pattern, at
        directory granularity).

        A frame that carries its ``__batch`` column is keyed by it. A
        frame without one leaves the batch names to this aggregate:
        open rows go to ``open_batch`` and closed rows to their content
        token ``n{rows}x{sum}``, the sum being ``xxhash64(_id, _end)``
        per row — an order-insensitive checksum that aggregates
        map-side with constant memory per task (a collect_list token
        would hold every closed _id in ONE aggregation buffer,
        gigabytes at a 100 TB-scale batch). The per-directory partial
        sums are decimal(38,0), which cannot overflow under ANSI until
        ~1e19 rows; they add up in Python ``int``. The token is what
        makes a retried closed-row write idempotent: the same content
        overwrites the same directory. Returns ``(token, stats)``; the
        token is None when the batch names came with the frame or no
        row is closed."""
        cols = self._partition_keys(buckets, timepart)
        tokened = "__batch" not in out.columns
        aggs = [F.date_format(F.max("_end"), _END_STAT_FMT).alias("__max_end"),
                F.date_format(F.min("_start"), _END_STAT_FMT)
                .alias("__min_start"),
                F.count(F.lit(1)).alias("__rows")]
        if tokened:
            cols.remove("__batch")
            aggs.append(F.sum(F.xxhash64("_id", F.col("_end").cast("string"))
                              .cast("decimal(38,0)")).alias("__hsum"))
        agg = out.groupBy(*cols).agg(*aggs).collect()
        token = None
        if tokened:
            closed = [r for r in agg if not r["_current"]]
            n = sum(r["__rows"] for r in closed)
            if n:
                token = f"n{n}x{sum(int(r['__hsum']) for r in closed)}"
        stats: dict[str, dict] = {}
        for r in agg:
            parts = []
            for c in cols:
                v = r[c]
                if c == "_current":
                    v = str(bool(v)).lower()
                elif v is None:
                    # a null partition value lands in the Hive default
                    # dir, which the period-prune predicate cannot
                    # reason about — refuse before the manifest flip
                    # (the stranded write is unreferenced and swept)
                    raise ValueError(
                        f"null {c} partition value (null _start?) — "
                        "time-partitioned cubes require non-null _start")
                parts.append(f"{c}={v}")
            if tokened:
                parts.append(
                    f"__batch={open_batch if r['_current'] else token}")
            stats["/".join(parts)] = {"max_end": r["__max_end"],
                                      "min_start": r["__min_start"],
                                      "rows": r["__rows"]}
        return token, stats

    def _record_sizes(
        self, path: str, stats: dict[str, dict[str, str | int | None]],
    ) -> dict[str, dict[str, str | int | None]]:
        """Stamp each just-written directory's byte size into its stats
        entry (``bytes``) so the manifest carries per-directory sizes —
        the size-tiered compaction's level classifier then reads them
        from the manifest instead of paying a listing walk over a
        100 TB cube's directory tree. Cost is one recursive LIST per
        directory THIS commit wrote (bounded by the commit, not the
        cube); sizes for untouched dirs carry forward in
        ``_merged_stats``."""
        for rel, v in stats.items():
            try:
                v["bytes"] = self.fs.du(self.fs.join(path, rel))
            except Exception:
                pass  # size unknown: tiered compact falls back to du
        return stats

    @staticmethod
    def _check_oid_type(stored: DataFrame, incoming: DataFrame) -> None:
        """Reject an incoming frame whose ``_oid`` type differs from the
        stored cube's. Parquet directories with mixed physical types for
        the same column read back wrong (Spark picks one file's footer
        schema unless mergeSchema), and type drift is how the bucket
        hash / anti-join hazards arise in the first place — fail loud at
        the write boundary instead."""
        s = stored.schema["_oid"].dataType
        i = incoming.schema["_oid"].dataType
        if s != i:
            raise TypeError(
                f"incoming _oid type {i.simpleString()} != stored cube's "
                f"{s.simpleString()}; cast the incoming _oid to the "
                "stored type before writing")

    def _has_data(self, path: str) -> bool:
        """True once the cube holds any partition directory. A dir with
        only sidecars (crash between the layout write and the first data
        write) must retry the FIRST-WRITE path, not the merge path."""
        return any(d.startswith("_current=")
                   for d in self.fs.listdir(path))

    @staticmethod
    def _obucket(buckets: int):
        """Scan-stage oid-bucket expression — stable content hash, so the
        same oid always lands in the same directory whatever the batch.
        Hashes the STRING form of ``_oid``: xxhash64 is type-sensitive
        (int 7 and long 7 hash differently), so hashing the raw column
        would prune point lookups to the wrong directories whenever the
        lookup frame's inferred type differs from the stored type. The
        string cast makes every integral width hash identically."""
        return F.pmod(F.xxhash64(F.col("_oid").cast("string")),
                      F.lit(buckets)).cast("int")

    @staticmethod
    def _stime_col(timepart: str):
        """Scan-stage period expression for the ``__stime`` partition
        key — a wall-clock rendering of ``_start`` in the session
        timezone (the layout sidecar pins the zone). Zero-padded
        ``yyyy-MM``/``yyyy`` strings compare lexicographically in date
        order, which is what the prune predicate relies on."""
        return F.date_format(
            F.col("_start"), "yyyy-MM" if timepart == "month" else "yyyy")

    def _partition_keys(self, buckets: int | None,
                        timepart: str | None = None) -> list[str]:
        # __stime sits BELOW __obucket: the bounded history import
        # identifies a hit bucket by the relpath's second component
        keys = ["_current"]
        if buckets:
            keys.append("__obucket")
        if timepart:
            keys.append("__stime")
        keys.append("__batch")
        return keys

    def _manifest_schema(self, data_schema, buckets: int | None,
                         timepart: str | None = None) -> dict:
        """StructType JSON for the manifest's ``schema`` field: the DATA
        columns as committed (minus any partition/internal columns that
        may ride along) followed by the directory-encoded partition
        columns in nesting order — exactly the frame
        ``spark.read.schema(...).option("basePath", ...)`` returns, so
        a stored-schema read is byte-compatible with the footer-inferred
        read it replaces."""
        from pyspark.sql.types import (BooleanType, IntegerType,
                                       StringType, StructField, StructType)

        part = self._partition_keys(buckets, timepart)
        # every data field is recorded nullable: pre-evolution files and
        # null-filled kept rows MUST read the column as null, so a
        # batch-copied nullable:false would make the stored contract
        # self-inconsistent (reads work today only because Spark forces
        # file-source user schemas nullable — an implementation detail
        # the persisted schema must not lean on)
        fields = [StructField(f.name, f.dataType, True)
                  for f in data_schema.fields
                  if f.name not in part and f.name != "__batch"]
        types = {"_current": BooleanType(), "__obucket": IntegerType(),
                 "__stime": StringType(), "__batch": StringType()}
        fields += [StructField(k, types[k]) for k in part]
        return StructType(fields).jsonValue()

    @staticmethod
    def _refuse_legacy_evolution(table: DataFrame, incoming: DataFrame,
                                 meta: dict | None) -> None:
        """Schema evolution needs the manifest's authoritative read
        schema — on a legacy (listing-read) cube, files with different
        footer schemas read back nondeterministically (Spark picks one
        footer unless mergeSchema), so refuse new columns there instead
        of silently writing an unreadable mix."""
        if meta is not None:
            return
        new = [c for c in incoming.columns
               if c not in table.columns and c != "_current"]
        if new:
            raise ValueError(
                f"incoming batch adds column(s) {sorted(new)} but the "
                "cube predates the generation manifest — legacy cubes "
                "cannot evolve schema (their footer-inferred read would "
                "be nondeterministic); drop the columns or rebuild the "
                "cube under the manifested layout")

    @staticmethod
    def _align_incoming(table: DataFrame, incoming: DataFrame,
                        evolve: bool) -> tuple[DataFrame, DataFrame, list[str]]:
        """Schema-align a write batch against the stored cube: missing
        stored columns are null-filled into the batch (the reference's
        store is schemaless dicts — an object that stops carrying a
        field simply has no value for it, ``core_api.py:505-520``), NEW
        batch columns widen the cube's schema when ``evolve`` (files
        already on disk never rewrite; the manifest schema makes them
        read back as typed nulls), and a same-name type conflict always
        fails loud — parquet directories with mixed physical types for
        one column are unreadable roulette, and a silent cast hides
        upstream drift. Returns ``(table', incoming', cols)`` both
        selected to the union column order (stored order first, new
        columns appended; ``_current`` excluded)."""
        stored = {f.name: f.dataType for f in table.schema.fields
                  if f.name != "_current"}
        inc = {f.name: f.dataType for f in incoming.schema.fields
               if f.name != "_current"}
        # simpleString comparison: nullability is NOT a physical type —
        # an incoming array<double> built with containsNull=false (e.g.
        # F.array(F.lit(1.0))) is write-compatible with a stored
        # parquet-read array whose containsNull=true, and strict
        # DataType equality would reject it spuriously
        conflicts = [
            f"{n}: incoming {inc[n].simpleString()} != stored "
            f"{stored[n].simpleString()}"
            for n in stored
            if n in inc
            and inc[n].simpleString() != stored[n].simpleString()]
        if conflicts:
            raise TypeError(
                "incoming column type(s) differ from the stored cube's "
                "(cast before writing): " + "; ".join(sorted(conflicts)))
        new = [n for n in inc if n not in stored]
        if new and not evolve:
            raise ValueError(
                f"incoming batch adds column(s) {sorted(new)} the cube "
                "does not have; pass evolve=True to widen the cube "
                "schema, or drop them before writing")
        if new:
            # widening is irreversible-by-default on the manifested
            # layout (drop_column exists, but nobody audits what they
            # didn't notice): make every widening VISIBLE so a typo'd
            # column name doesn't silently become permanent schema
            _log.warning(
                "schema evolution: commit widens the cube with new "
                "column(s) %s — drop_column() to undo an accidental "
                "widening", sorted(new))
        missing = [n for n in stored if n not in inc]
        for n in missing:
            incoming = incoming.withColumn(n, F.lit(None).cast(stored[n]))
        cols = [n for n in stored] + new
        for n in new:
            table = table.withColumn(n, F.lit(None).cast(inc[n]))
        keep = cols + (["_current"] if "_current" in table.columns else [])
        return table.select(*keep), incoming.select(*cols), cols

    def _cube_writer(self, out: DataFrame):
        """``out.write`` with the engine's cube-file parquet options
        applied — single choke point so every data write (first write,
        open overwrite, closed batch, history import, compaction
        rewrite) carries the same physical-file features (see
        ``bloom_oid_ndv``)."""
        w = out.write
        ndv = self.bloom_oid_ndv
        if ndv == "auto":
            # derived from the manifest row stats the current operation
            # already resolved (see _cube_state); 1.5x headroom so the
            # target FPP survives a growing bucket until the next write
            # re-derives, floor 1024 so tiny cubes get a working bloom
            ndv = (max(1024, int(self._bloom_hint * 1.5))
                   if self._bloom_hint else 100_000)
        if ndv:
            w = (w.option("parquet.bloom.filter.enabled#_oid", "true")
                 .option("parquet.bloom.filter.expected.ndv#_oid",
                         str(ndv)))
        return w

    def _with_part_cols(self, out: DataFrame, buckets: int | None,
                        timepart: str | None) -> DataFrame:
        """``out`` plus the scan-stage ``__obucket``/``__stime``
        partition columns the layout asks for."""
        if buckets:
            out = out.withColumn("__obucket", self._obucket(buckets))
        if timepart:
            out = out.withColumn("__stime", self._stime_col(timepart))
        return out

    def _write_dirs(self, out: DataFrame, path: str, buckets: int | None,
                    timepart: str | None, mode: str = "overwrite",
                    dynamic: bool = True) -> None:
        """The partitioned parquet write every data commit ends with."""
        (
            self._cube_writer(out).mode(mode)
            .partitionBy(*self._partition_keys(buckets, timepart))
            .option("partitionOverwriteMode",
                    "dynamic" if dynamic else "static")
            .parquet(path)
        )

    def _write_partitioned(
        self, df: DataFrame, path: str, mode: str, dynamic: bool = True,
        buckets: int | None = None, open_batch: str = "open",
        hist_batch: str = "hist", collect_dirs: bool = False,
        timepart: str | None = None,
    ) -> dict[str, dict[str, str | None]] | None:
        out = df.withColumn("_current", F.col("_end").isNull())
        # second-level __batch partition key: open rows live in one fixed
        # partition; closed (history) rows land in per-upsert-batch
        # directories keyed by a content token, which is what makes the
        # snapshot upsert's closed-row write idempotent (see upsert below).
        # Manifested cubes pass generation-scoped batch names so every
        # commit writes FRESH directories (never ones a live manifest
        # references).
        out = out.withColumn(
            "__batch",
            F.when(F.col("_current"), F.lit(open_batch))
            .otherwise(F.lit(hist_batch)),
        )
        out = self._with_part_cols(out, buckets, timepart)
        self._write_dirs(out, path, buckets, timepart, mode, dynamic)
        return (self._written_dir_stats(out, buckets, timepart)[1]
                if collect_dirs else None)

    def _write_tagged(
        self, tagged: DataFrame, path: str, buckets: int | None,
        timepart: str | None = None, open_batch: str | None = None,
        live: set[str] | None = None,
    ) -> tuple[str | None, dict[str, dict[str, str | None]]]:
        """ONE stats aggregate and ONE partitioned write of a frame whose
        ``__closed`` flag picks each row's side. Closed rows land under
        their content token (``_written_dir_stats``), so retrying the
        same content overwrites the SAME directory instead of appending
        duplicates; open rows land under ``open_batch``. Given the
        ``live`` manifest dirs, closed rows whose token is already
        committed drop out of the write. Returns the token and the stats
        of every directory the caller references."""
        cols = [c for c in tagged.columns if c != "__closed"]
        out = self._with_part_cols(
            tagged.withColumn("_current", ~F.col("__closed")),
            buckets, timepart)
        token, stats = self._written_dir_stats(out, buckets, timepart,
                                               open_batch=open_batch)
        closed = {d: v for d, v in stats.items()
                  if d.startswith("_current=false")}
        opened = {d: v for d, v in stats.items() if d not in closed}
        write_closed = True
        if live is not None and closed:
            if set(closed) <= live:
                # re-upserted byte-identical content: overwriting a live
                # directory would tear a concurrent reader
                write_closed = False
            elif any(self._batch_dir_token(d) == token for d in live):
                # identical content already committed under ANOTHER
                # modulus's directories (re-upsert during a doubling
                # migration): keep that copy referenced instead of
                # writing a second one the reads would double-count
                closed, write_closed = {}, False
        if not write_closed:
            out = out.where(F.col("_current"))
        if opened or (write_closed and closed):
            out = out.withColumn(
                "__batch", F.when(F.col("_current"), F.lit(open_batch))
                .otherwise(F.lit(token)))
            self._write_dirs(
                out.select(*cols, *self._partition_keys(buckets, timepart)),
                path, buckets, timepart)
        return token, {**closed, **opened}

    def compact(self, cube: str, target_partitions: int | None = None,
                sort_by: Sequence[str] | None = None,
                small_bytes: int | None | object = _FULL_COMPACT,
                cluster: str = "range") -> int:
        """Consolidate the history partition's per-upsert-batch
        directories — SIZE-TIERED (LSM-style) by default.

        Every snapshot upsert appends one token-keyed ``__batch``
        directory of closed rows — correct and idempotent, but after
        thousands of batches the history side is thousands of small
        parquet directories (the classic small-files problem; at cluster
        scale, NameNode/listing pressure and tiny scan tasks). ``compact``
        merges the batches whose total size is at or below
        ``small_bytes`` (default: the engine's ``compact_small_bytes``)
        into ONE consolidated batch directory and removes the originals;
        batches ABOVE the threshold — prior consolidated levels — merge
        only when ≥4 of them are of similar size (promotion into the
        next level up, see ``compaction.tier_groups``), otherwise they
        carry forward by manifest reference, untouched on disk. This
        bounds routine maintenance at O(recent small batches) while the
        promotion rule bounds the LEVEL COUNT as data grows (~3 levels
        per 2x size class, O(log(|history|/threshold)) directories) and
        each byte's lifetime rewrite count at O(log(|history|)) — a
        steady small-batch ingest under ``auto_compact_batches`` never
        pays an O(|history|) rewrite on any single commit. Pass
        ``small_bytes=None`` for an explicit FULL consolidation (every
        batch merges — e.g. one final clustering pass with ``sort_by``
        before archiving).
        Per-batch sizes come from the manifest's recorded per-directory
        byte stats (written at commit time; ``fs.du`` fallback for
        pre-upgrade manifests), so tier selection costs no listing.
        Returns the number of directories removed. Legacy (pre-manifest)
        cubes always compact fully — tiering needs the manifest's
        carry-forward.

        ``sort_by`` (e.g. ``["_start"]``) range-partitions and sorts the
        rewritten rows on the given columns, so each output file covers
        a tight, largely disjoint slice of the sort key and its parquet
        row-group min/max statistics become selective: an as-of or
        date-range scan then skips most files/row-groups at the reader
        even within a single period directory — the clustering half of
        the data-skipping story that partition pruning alone can't give
        (a month of 100 TB history is still thousands of files).
        ``cluster='zorder'`` with 2+ numeric/timestamp ``sort_by``
        columns interleaves quantile-binned axes into a Morton key
        instead (see ``_zorder``): each file then covers a tight
        hyper-rectangle of ALL the columns, so scans filtering on ANY
        of them skip — lexicographic range sort only ever skips on the
        leading column.

        Crash-safe under the engine's single-writer assumption: the
        consolidated directory's name is the same order-insensitive
        content checksum the upsert commit uses, and rows are deduped by
        ``_id`` on read — so a crash between write and delete leaves
        duplicates that the NEXT compact (or any retry) collapses back;
        re-running with no new data converges to the same directory.
        Consequence: re-compacting IDENTICAL content with a different
        ``sort_by`` is a no-op (same token, live directory, overwrite
        would tear readers) — cluster on the first compact, or after
        new batches land (both apply within the merged tier)."""
        if small_bytes is Engine._FULL_COMPACT:
            small_bytes = self.compact_small_bytes
        if cluster not in ("range", "zorder"):
            raise ValueError(f"cluster must be 'range' or 'zorder', "
                             f"got {cluster!r}")
        with self._write_lock(cube):
            return self._compact_locked(cube, target_partitions, sort_by,
                                        small_bytes, cluster=cluster)

    @staticmethod
    def _batch_dir_token(rel: str) -> str:
        """The upsert-batch token of a manifest-relative history
        directory path (the ``__batch=`` leaf — one token spans several
        bucket/period dirs under the bucketed layout)."""
        return rel.rsplit("__batch=", 1)[-1]

    def _history_token_sizes(self, path: str,
                             meta: dict) -> dict[str, int]:
        """Total byte size per history batch TOKEN, from the manifest's
        recorded per-directory sizes (``stats.bytes``, written at commit
        time) — ``fs.du`` only for directories a pre-upgrade manifest
        never sized. This is the size-tiered compaction's level
        classifier and costs no listing on an up-to-date manifest."""
        sizes = (meta.get("stats") or {}).get("bytes") or {}
        tot: dict[str, int] = {}
        for d in meta["dirs"]:
            if not d.startswith("_current=false"):
                continue
            b = sizes.get(d)
            if b is None:
                full = self.fs.join(path, d)
                b = self._du_cache.get(full)
                if b is None:
                    b = self.fs.du(full)
                    self._du_cache[full] = b
            t = self._batch_dir_token(d)
            tot[t] = tot.get(t, 0) + b
        return tot

    def _sort_compacted(self, closed: DataFrame,
                        target_partitions: int | None,
                        sort_by: Sequence[str] | None,
                        cluster: str = "range") -> DataFrame:
        if sort_by and cluster == "zorder" and len(sort_by) >= 2:
            return self._zorder(closed, sort_by, target_partitions)
        if sort_by:
            # range-partition + in-task sort: each rewritten file covers
            # a tight slice of the sort key, making row-group min/max
            # stats selective for later scans (partitionBy preserves a
            # task's row order into the files it writes)
            nparts = (target_partitions
                      or self.spark.sparkContext.defaultParallelism)
            return (closed.repartitionByRange(
                nparts, *[F.col(c) for c in sort_by])
                .sortWithinPartitions(*sort_by))
        if target_partitions:
            return closed.repartition(target_partitions)
        return closed

    _ZBINS_BITS = 8  # 256 quantile bins per axis

    def _zorder(self, closed: DataFrame, cols: Sequence[str],
                target_partitions: int | None) -> DataFrame:
        """Multi-dimensional clustering (Z-order / Morton curve — the
        public Delta Lake OSS ``OPTIMIZE ZORDER BY`` idea): bin each
        clustering column into ~256 BALANCED buckets (approxQuantile
        boundaries, so skew can't collapse the curve onto one axis),
        bit-interleave the bin ids into one Morton key, then
        range-partition + sort on it. Every rewritten file then covers a
        tight hyper-rectangle of ALL the clustering columns at once, so
        parquet row-group min/max stats prune scans filtering on ANY of
        them — a lexicographic ``sort_by`` only ever skips on its
        leading column. Numeric / timestamp / date columns only (string
        min/max locality doesn't survive hashing; sort strings
        lexicographically instead). Costs one extra quantile pass over
        the rows being rewritten — bounded by the compaction tier, not
        the cube. Nulls bin to the lowest bucket (clustered together,
        stats stay truthful)."""
        from pyspark.sql import types as T

        k = len(cols)
        # stay below the long's sign bit: max interleaved position is
        # (bits-1)*k + (k-1) < 63 — with many axes, fewer bits per axis
        # (coarser bins) keeps the curve a valid non-negative sort key
        bits = min(self._ZBINS_BITS, max(1, 62 // k))
        nums = []
        for c in cols:
            dt = closed.schema[c].dataType
            col = F.col(c)
            if isinstance(dt, T.DateType):
                col = col.cast("timestamp")
            elif not isinstance(dt, (T.NumericType, T.TimestampType)):
                raise ValueError(
                    f"zorder column {c!r} must be numeric/timestamp/"
                    f"date, got {dt.simpleString()} (use "
                    "cluster='range' for lexicographic keys)")
            nums.append(col.cast("double"))
        probes = [i / (1 << bits) for i in range(1, 1 << bits)]
        qs = closed.select(*[n.alias(f"__q{j}") for j, n in
                             enumerate(nums)]).approxQuantile(
            [f"__q{j}" for j in range(k)], probes, 0.001)  # ONE pass
        def binner(num):  # bind the axis column per-iteration (pyspark
            # reads the lambda's arity, so no default-arg capture)
            return lambda acc, b: acc + F.when(num >= b, 1).otherwise(0)

        bins = []
        for num, axis in zip(nums, qs):
            bounds = sorted({b for b in axis if b is not None})
            if not bounds:
                continue  # all-null axis contributes nothing
            # balanced bin id = #boundaries <= value (JVM fold, ~256
            # comparisons per row, codegen-friendly)
            bins.append(F.aggregate(F.lit(bounds), F.lit(0), binner(num)))
        if not bins:
            return closed
        z = F.lit(0).cast("long")
        for j, bcol in enumerate(bins):
            b = bcol.cast("long")
            for i in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
        nparts = (target_partitions
                  or self.spark.sparkContext.defaultParallelism)
        out = (closed.withColumn("__zkey", z)
               .repartitionByRange(nparts, F.col("__zkey"))
               .sortWithinPartitions("__zkey"))
        return out.drop("__zkey")

    def _compact_locked(self, cube: str, target_partitions: int | None,
                        sort_by: Sequence[str] | None = None,
                        small_bytes: int | None = None,
                        cluster: str = "range") -> int:
        path = self._path(cube)
        state, meta, raw = self._cube_state(path)
        if state == "premanifest":
            meta, raw = self._adopt_premanifest(path)
        layout = self._cube_layout(path)
        buckets = self._live_buckets(meta, layout)
        timepart = self._cube_timepart(path, for_write=True, layout=layout)
        if meta is None:
            # legacy in-place compact: always FULL (tiering needs the
            # manifest's dir carry-forward). Can crash between write and
            # delete, leaving visible duplicates — deduped by _id on the
            # next compact's read; the manifested path can't (a stranded
            # consolidated dir is never referenced).
            batches = self._closed_batch_dirs(path)
            if len({d.rsplit("/", 1)[-1] for d in batches}) <= 1:
                return 0
            closed = (self._read(path).where(~F.col("_current"))
                      .drop("_current").dropDuplicates(["_id"]))
            closed = self._sort_compacted(
                closed, target_partitions, sort_by, cluster=cluster)
            # localCheckpoint: the write below rewrites the directories
            # this plan reads from
            closed = closed.localCheckpoint(eager=True)
            token, _ = self._write_tagged(
                closed.withColumn("__closed", F.lit(True)), path, buckets)
            removed = 0
            for full in batches:
                # the consolidated dir may reuse one of the existing
                # tokens (re-compacting identical content); never delete
                # the one we just wrote
                if (full.rsplit("/", 1)[-1] != f"__batch={token}"
                        and self.fs.isdir(full)):
                    self.fs.delete_dir(full)
                    removed += 1
            return removed
        # manifested: size-tiered — the trickle of small batches merges
        # into one level, and ≥4 similar-sized larger levels fold into
        # the next level up (see compaction.tier_groups: bounded level
        # count AND bounded lifetime write amplification); every other
        # level carries forward by manifest reference, untouched on
        # disk (byte-identical)
        from metrique_spark.compaction import tier_groups

        if small_bytes is not None:
            tok_sizes = self._history_token_sizes(path, meta)
            groups = tier_groups(tok_sizes, small_bytes)
        else:
            merge = {self._batch_dir_token(d) for d in meta["dirs"]
                     if d.startswith("_current=false")}
            groups = [merge] if len(merge) > 1 else []
        if not groups:
            return 0
        keep = layout.get("keep_generations", 0) if layout else 0
        gen = meta["gen"] + 1
        live = set(meta["dirs"])
        raw_df = self._read_raw(path)
        rels: dict[str, dict] = {}
        merged_all: set[str] = set()
        for merge in groups:
            closed = (raw_df.where(~F.col("_current")
                                   & F.col("__batch").isin(sorted(merge)))
                      .drop(*[c for c in ("__batch", "__obucket",
                                          "__stime", "_current")
                              if c in raw_df.columns]))
            closed = self._sort_compacted(closed, target_partitions,
                                          sort_by, cluster=cluster)
            # localCheckpoint: the write below rewrites the directories
            # this plan reads from
            closed = closed.localCheckpoint(eager=True)
            _, grels = self._write_tagged(
                closed.withColumn("__closed", F.lit(True)), path, buckets,
                timepart, live=self._retained_dirs(meta))
            rels.update(grels)
            merged_all |= merge
        drop = {d for d in live
                if d.startswith("_current=false")
                and self._batch_dir_token(d) in merged_all}
        dirs = (live - drop) | set(rels)
        hist = self._push_history(meta, keep)
        self._manifest_flip(path, raw, gen, dirs, hist,
                            stats=self._merged_stats(
                                meta, self._record_sizes(path, rels),
                                dirs, hist, path=path),
                            schema=meta.get("schema"))
        self._sweep_dropped(
            path, meta, dirs | {d for h in hist for d in h["dirs"]})
        # content is identical post-compact: the auto-refresh diff
        # is empty and this only bumps auto indexes' marker gens
        self._auto_refresh_indexes(cube)
        return len(drop - dirs)

    def _cube_state(self, path: str) -> tuple[str, dict | None, str | None]:
        """(state, manifest, manifest_raw) where state is one of:
        ``new`` — no committed data (absent; or a crashed first write
        whose pointer never landed: format-2 sidecar, manifest absent);
        ``manifest`` — committed generation-pointer cube;
        ``premanifest`` — data committed by a pre-protocol writer under
        a format-less layout sidecar (the old commit point was the data
        write itself): COMMITTED data, must be adopted via
        ``_adopt_premanifest``, never retried-as-new (a first-write
        retry would flip a manifest naming only the new batch and sweep
        every pre-existing directory — silent data loss);
        ``legacy`` — unbucketed pre-sidecar data."""
        if not self.fs.isdir(path):
            self._bloom_hint = None
            return "new", None, None
        raw = self._manifest_raw(path)
        if raw is not None:
            meta = self._manifest(path)
            rows = (meta.get("stats") or {}).get("rows") or {}
            live = [rows[d] for d in meta["dirs"] if d in rows]
            # average rows per live directory — the "auto" bloom NDV
            # estimate for this operation's writes (see _cube_writer)
            self._bloom_hint = (sum(live) // len(live)) if live else None
            return "manifest", meta, raw
        layout = self._cube_layout(path)
        if layout is not None:
            if layout.get("format", 1) >= 2 or not self._has_data(path):
                return "new", None, None
            return "premanifest", None, None
        return ("legacy" if self._has_data(path) else "new"), None, None

    def _adopt_premanifest(self, path: str) -> tuple[dict, str]:
        """Publish a gen-1 manifest for a cube written before the
        generation-pointer protocol: under the writer lease, list the
        existing partition directories (safe — no reader of this cube
        resolves a manifest yet, and only the lease holder mutates) and
        name them as generation 1, then stamp the sidecar to format 2.
        Crash-safe: a crash after the flip leaves a valid manifest (the
        retry sees state ``manifest``); a crash before it changes
        nothing."""
        import json

        dirs: set[str] = set()

        def walk(dirpath: str, rel: str) -> None:
            for d in self.fs.listdir(dirpath):
                full = self.fs.join(dirpath, d)
                r = f"{rel}/{d}"
                if d.startswith("__batch=") and self.fs.isdir(full):
                    dirs.add(r)
                elif (d.startswith(("__obucket=", "__stime="))
                        and self.fs.isdir(full)):
                    walk(full, r)

        for cur in self.fs.listdir(path):
            if cur.startswith("_current="):
                walk(self.fs.join(path, cur), cur)
        self._manifest_flip(path, None, 1, dirs)
        layout = self._cube_layout(path) or {}
        layout["format"] = 2
        self.fs.write_text(self.fs.join(path, self._LAYOUT_SIDECAR),
                           json.dumps(layout))
        raw = self._manifest_raw(path)
        return self._manifest(path), raw

    def _first_write(self, path: str, obj: DataFrame) -> None:
        """First committed generation. Layout sidecar FIRST (a crash
        between data and sidecar would otherwise let the next writer
        extend a bucketed cube with the legacy layout); the manifest PUT
        is the commit point — until it lands, readers see nothing and a
        retry rewrites the same gen-1 directories.

        ``obj`` must be checkpointed by the caller: the data write and
        the stats aggregate below must see the SAME rows — stamp()'s
        default _start is current_timestamp() (fixed per QUERY,
        different across the two jobs), so an unpinned plan straddling
        a period boundary would record manifest dirs the data never
        landed in, and the sweep would then delete the real ones."""
        buckets = self.oid_buckets
        self._write_layout(path, buckets, self.time_partition,
                           self.keep_generations)
        dirs = self._write_partitioned(
            obj, path, "overwrite", buckets=buckets,
            open_batch="open-g1", hist_batch="hist-g1", collect_dirs=True,
            timepart=self.time_partition)
        if not dirs:
            # zero-row first batch: nothing landed — leave the cube in
            # the "new" state (no manifest) instead of committing an
            # empty generation every read would refuse
            return
        self._manifest_flip(path, None, 1, set(dirs),
                            stats=self._merged_stats(
                                None, self._record_sizes(path, dirs),
                                set(dirs), None, path=path),
                            schema=self._manifest_schema(
                                obj.schema, buckets, self.time_partition))
        self._sweep_unreferenced(path, set(dirs))

    def insert(self, cube: str, df: DataFrame, stamped: bool = False,
               evolve: bool = True, **stamp_kw) -> None:
        """Plain append (reference ``insert``, ``sqlalchemy.py:865-875``).
        On manifested cubes the append is a commit like any other: rows
        land in fresh generation-scoped directories, the pointer flip
        makes them visible atomically. Schema-aligned against the stored
        cube like ``upsert`` (see ``_align_incoming``): missing columns
        null-fill, new columns widen the cube schema when ``evolve``."""
        obj = df if stamped else stamp(df, **stamp_kw)
        validate(obj)
        path = self._path(cube)
        with self._write_lock(cube):
            state, meta, raw = self._cube_state(path)
            if state == "new":
                self._first_write(path, obj.localCheckpoint(eager=True))
                return
            if state == "premanifest":
                meta, raw = self._adopt_premanifest(path)
            layout = self._cube_layout(path)
            buckets = self._live_buckets(meta, layout)
            timepart = self._cube_timepart(path, for_write=True,
                                           layout=layout)
            table = self._read(path)
            self._check_oid_type(table, obj)
            self._refuse_legacy_evolution(table, obj, meta)
            self._check_redrop(path, obj, set(table.columns))
            _, obj, _ = self._align_incoming(table, obj, evolve)
            if state == "legacy":
                self._write_partitioned(obj, path, "append", buckets=buckets)
                return
            gen = meta["gen"] + 1
            # checkpoint: the relpath distinct and the data write must
            # see the SAME rows (a nondeterministic source recomputed
            # between them could write a directory the manifest misses)
            obj = obj.localCheckpoint(eager=True)
            new_dirs = self._write_partitioned(
                obj, path, "overwrite", buckets=buckets,
                open_batch=f"ins-g{gen}", hist_batch=f"insh-g{gen}",
                collect_dirs=True, timepart=timepart)
            dirs = set(meta["dirs"]) | set(new_dirs)
            hist = self._push_history(
                meta, layout.get("keep_generations", 0) if layout else 0)
            self._manifest_flip(path, raw, gen, dirs, hist,
                                stats=self._merged_stats(
                                    meta,
                                    self._record_sizes(path, new_dirs),
                                    dirs, hist, path=path),
                                schema=self._manifest_schema(
                                    obj.schema, buckets, timepart))
            self._sweep_dropped(
                path, meta, dirs | {d for h in hist for d in h["dirs"]})
            self._auto_refresh_indexes(cube)

    def upsert(self, cube: str, df: DataFrame, autosnap: bool | None = None,
               stamped: bool = False, evolve: bool = True,
               **stamp_kw) -> None:
        """Temporal upsert (reference ``sqlalchemy.py:906-975``); see
        ``upsert.py`` for semantics and the partition-local write
        strategy. The batch is schema-aligned against the stored cube
        (``_align_incoming``): columns the batch stops carrying
        null-fill (the reference's dict objects simply lack the key),
        NEW columns widen the cube schema when ``evolve`` — on-disk
        files never rewrite; the manifest's authoritative schema makes
        pre-evolution files read back as typed nulls. ``evolve=False``
        fails loud on new columns instead. The batch invariants
        (``objects.validate``) are checked inside the commit's first
        aggregate, under the writer lease and before any write: a bad
        batch raises and leaves the cube's generation unchanged."""
        incoming = df if stamped else stamp(df, **stamp_kw)
        path = self._path(cube)
        with self._write_lock(cube):
            self._upsert_locked(cube, path, incoming, autosnap, evolve)
            self._auto_refresh_indexes(cube)

    def _auto_refresh_indexes(self, cube: str) -> None:
        """Commit epilogue for indexes built with ``auto_refresh=True``:
        bring every such stale index to the generation this commit just
        published (runs under the already-held writer lease — the lock
        is reentrant). O(delta) per index; cubes without auto indexes
        pay one sidecar listing."""
        for name, m in self.vector_index_list(cube).items():
            if m.get("auto") and m.get("stale"):
                self.refresh_vector_index(cube, name)

    def _profile_batch(self, incoming: DataFrame, moduli: Sequence[int]
                       ) -> tuple[int, dict[int, set[int]]]:
        """ONE aggregate over the checkpointed batch, grouped by its oid
        bucket under every live modulus (chained doublings included;
        none on an unbucketed or new cube). It checks the batch
        invariants (``objects.invariant_counts`` — the definition
        ``validate`` uses) and raises before any write; it counts the
        closed rows (autosnap detection, reference
        ``sqlalchemy.py:910-915``); and its group keys are the hit
        bucket values per modulus. Returns ``(closed rows, hit)``."""
        keys = [self._obucket(m).alias(f"__b{i}")
                for i, m in enumerate(moduli)]
        rows = (incoming.groupBy(*keys)
                .agg(*invariant_counts(), F.count("_end").alias("closed"))
                .collect())

        def total(k: str) -> int:
            return sum(r[k] or 0 for r in rows)

        check_invariants(total("null_oid"), total("bad_interval"))
        hit = {m: {r[f"__b{i}"] for r in rows}
               for i, m in enumerate(moduli)}
        return total("closed"), hit

    def _upsert_locked(self, cube, path, incoming, autosnap, evolve=True):
        # A manifested snapshot commit runs five actions (upsert.py,
        # "Scale design"): checkpoint → profile → merge → stats → one
        # write. 1. Checkpoint the batch ONCE: the profile, the merge,
        # the stats and the write must all see the same rows — a
        # nondeterministic source recomputed between the hit-bucket
        # profile and the merge could land rows in an unmerged bucket,
        # whose open rows the merge never saw. The first write and the
        # history import reuse it too.
        incoming = incoming.localCheckpoint(eager=True)
        state, meta, raw = self._cube_state(path)
        layout = self._cube_layout(path) if state != "new" else None
        buckets = self._live_buckets(meta, layout)
        mig = meta.get("migration") if meta is not None else None
        moduli = ([buckets] + [b["from"] for b in mig or []]
                  if buckets else [])
        # 2. profile: invariants, autosnap, hit buckets — one aggregate
        n_closed, hit = self._profile_batch(incoming, moduli)
        if autosnap is None:
            autosnap = not n_closed
        if state == "new":
            if autosnap:
                # last write wins within a snapshot batch (the
                # reference's container buffer is keyed by _id,
                # core_api.py:537-540); the merge paths below dedup
                # inside snapshot_merge_tagged
                incoming = _upsert.latest_per_oid(incoming).localCheckpoint(
                    eager=True)
            self._first_write(path, incoming)
            return
        if state == "premanifest":
            meta, raw = self._adopt_premanifest(path)
            layout = self._cube_layout(path)
        timepart = self._cube_timepart(path, for_write=True, layout=layout)
        if meta is not None and meta.get("schema") is not None and buckets:
            # every consumer of ``table`` on the bucketed manifested
            # path reads only its SCHEMA (oid-type / evolution / redrop
            # checks, column alignment) — the data reads below go
            # through the hit-directory prunes. A zero-row frame from
            # the manifest schema stands in, skipping the O(dirs)
            # full-cube listing a trickle commit paid just to look at
            # column types (the measured plan-build term in the
            # trickle scale curve). Internal partition keys are
            # dropped exactly as _read drops them.
            table = self._empty_schema_frame(meta["schema"]).drop(
                *[c for c in ("__batch", "__obucket", "__stime")])
        else:
            table = self._read(path)
        self._check_oid_type(table, incoming)
        self._refuse_legacy_evolution(table, incoming, meta)
        self._check_redrop(path, incoming, set(table.columns))
        table, incoming, cols = self._align_incoming(table, incoming, evolve)
        msch = self._manifest_schema(incoming.schema, buckets, timepart)
        keep = layout.get("keep_generations", 0) if layout else 0
        if not autosnap:
            if meta is not None:
                self._history_replace_manifested(
                    path, incoming.select(*cols), cols, buckets, meta, raw,
                    hit, timepart=timepart, keep=keep, schema=msch)
                return
            replaced = _upsert.history_replace(
                table.select(*cols), incoming.select(*cols)
            ).localCheckpoint(eager=True)
            # legacy unbucketed layout: static overwrite — the history
            # import must rewrite BOTH partitions (reference deletes ALL
            # versions of the replaced oids, sqlalchemy.py:955-963) —
            # dynamic mode would leave a _current partition absent from
            # the result untouched on disk, letting stale versions
            # survive. A static partitioned overwrite wipes EVERYTHING
            # under the path including sidecars (verified), so preserve
            # the advisory index registry across it.
            ixp = self._index_meta_path(cube)
            ix = self.fs.read_text(ixp) if self.fs.isfile(ixp) else None
            self._write_partitioned(replaced, path, "overwrite", dynamic=False)
            if ix is not None:
                self.fs.write_text(ixp, ix)
            return
        drop: set[str] | None = None  # the open dirs this commit replaces
        if meta is not None and buckets:
            if mig:
                # MIGRATION-AWARE bucket-granular merge: the open rows
                # an incoming oid can touch live in an open dir at ANY
                # modulus still present (live count, plus each chained
                # doubling's from-modulus) — resolve the hit
                # DIRECTORIES per vintage from the manifest blocks and
                # read exactly the set being dropped. Rewriting under
                # the live modulus migrates the hit old dirs' open rows
                # as a side effect — the opportunistic half of the
                # doubling migration; _manifest_flip's carry rule
                # retires their stamps automatically.
                drop = self._migration_hit_dirs(
                    hit, meta, buckets, meta["dirs"], current_only=True)
            else:
                # BUCKET-GRANULAR merge: the open snapshot is oid-bucket
                # partitioned, and a snapshot batch can only touch open
                # rows whose _oid it carries — so read, merge and
                # rewrite ONLY the open dirs of the buckets the incoming
                # oids hash into (by RELPATH, so read-set == drop-set by
                # construction, with no O(cube) listing); every other
                # open-bucket directory carries forward by manifest
                # reference, untouched on disk (the same trick the
                # bounded history import and the ANN gbucket removal
                # use). At 100 TB this turns the per-commit write cost
                # from O(|current snapshot|) into O(open rows of hit
                # buckets + closed delta).
                hit_open = {f"__obucket={b}" for b in hit[buckets]}
                drop = {d for d in meta["dirs"]
                        if d.startswith("_current=true")
                        and d.split("/")[1] in hit_open}
            if drop:
                pruned = self._read_dirs(path, meta, sorted(drop))
                if not mig:
                    # value-level twin of the relpath selection: the
                    # scan carries PartitionFilters on both keys
                    pruned = pruned.where(
                        F.col("_current")
                        & F.col("__obucket").isin(sorted(hit[buckets])))
            elif meta.get("schema") is not None:
                # no existing open dir can hold these oids: merge
                # against an empty open side (schema from the manifest
                # — no O(cube) listing for a no-op read)
                pruned = self._empty_schema_frame(meta["schema"])
            else:
                # pre-schema manifest: the listing read's schema
                pruned = self._read_raw(path).where(F.lit(False))
            pruned = pruned.drop(*[c for c in
                                   ("__batch", "__obucket", "__stime",
                                    "_current")
                                   if c in pruned.columns])
            # the pruned rows were read under the PRE-commit schema;
            # null-fill any columns this batch evolves in, like the
            # history import does for its kept rows
            inc_types = {f.name: f.dataType for f in incoming.schema.fields}
            for c in cols:
                if c not in pruned.columns:
                    pruned = pruned.withColumn(
                        c, F.lit(None).cast(inc_types[c]))
            open_rows = pruned.select(*cols)
        else:
            open_rows = table.where(F.col("_current")).select(*cols)
        # 3. one join, one materialization (must happen before rewriting
        # the partition we read from)
        tagged = _upsert.snapshot_merge_tagged(
            open_rows, incoming.select(*cols)
        ).localCheckpoint(eager=True)
        if meta is not None:
            # 4-5. snapshot-isolated commit: one stats aggregate, then
            # one write of closed and open rows into directories no
            # live manifest references; the pointer flip publishes them
            # atomically. A crash anywhere before the flip leaves
            # readers on the old generation and the retried batch
            # rewrites the same directories (the closed dirs are
            # content-keyed, the open dirs gen-keyed, and the gen
            # didn't advance).
            gen = meta["gen"] + 1
            live = set(meta["dirs"])
            if drop is None:
                drop = {d for d in live if d.startswith("_current=true")}
            _, rels = self._write_tagged(
                tagged, path, buckets, timepart, f"open-g{gen}",
                # history dirs too: overwriting one would corrupt a
                # retained snapshot
                live=self._retained_dirs(meta))
            dirs = (live - drop) | set(rels)
            hist = self._push_history(meta, keep)
            self._manifest_flip(path, raw, gen, dirs, hist,
                                stats=self._merged_stats(
                                    meta, self._record_sizes(path, rels),
                                    dirs, hist, path=path),
                                schema=msch)
            self._sweep_dropped(
                path, meta, dirs | {d for h in hist for d in h["dirs"]})
        else:
            # legacy in-place commit (no isolation): closed rows FIRST
            # (idempotent token-keyed partition), open overwrite second
            # — a crash between the two leaves old rows open alongside
            # their closed copies; retrying the same batch converges.
            self._write_tagged(tagged.where(F.col("__closed")), path,
                               buckets)
            self._write_tagged(tagged.where(~F.col("__closed")), path,
                               buckets, open_batch="open")
        if self.auto_compact_batches:
            if meta is not None:
                # count only SMALL tokens (manifest-recorded sizes, no
                # listing): consolidated levels above the tier threshold
                # are already compacted and must not re-trigger an
                # O(|history|) rewrite every commit
                fresh = self._manifest(path)
                n = sum(s <= self.compact_small_bytes for s in
                        self._history_token_sizes(path, fresh).values())
            else:
                n = len({d.rsplit("/", 1)[-1]
                         for d in self._closed_batch_dirs(path)})
            if n > self.auto_compact_batches:
                self.compact(cube)

    def _history_replace_manifested(
        self, path: str, incoming: DataFrame, cols: list[str],
        buckets: int | None, meta: dict, raw_manifest: str,
        hit: dict[int, set[int]], timepart: str | None = None,
        keep: int = 0, schema: dict | None = None,
    ) -> None:
        """Bounded, snapshot-isolated history import: rewrite ONLY the
        oid-bucket directories containing incoming oids (reference
        semantics — delete every stored version of the incoming oids,
        insert the supplied full history, ``sqlalchemy.py:955-963`` —
        without the full-table rewrite). Untouched buckets are never read
        OR written: the scan below partition-prunes to the hit buckets,
        and the rewrite lands in fresh generation-scoped directories that
        the manifest flip publishes atomically — a concurrent reader sees
        exactly the old or exactly the new history of a replaced oid,
        never both. Unbucketed manifested cubes take the same path with
        the whole table as the single 'bucket'.

        ``incoming`` must be a projection of the commit's checkpointed
        batch and ``hit`` its profiled bucket values per modulus (see
        ``_profile_batch``): a nondeterministic source recomputed
        between the profile and the write could land rows in a bucket
        outside ``hit``, whose rewrite would then drop every other
        oid's rows there (kept is pruned to hit buckets only).

        Crash-convergent under the single-writer lease: the union write
        is deterministic from (manifested state minus incoming oids) +
        incoming, and the generation number doesn't advance until the
        flip — a retry recomputes the identical directories; stranded
        ones stay unreferenced and are swept by the next commit."""
        gen = meta["gen"] + 1
        live = set(meta["dirs"])
        part_cols = self._partition_keys(buckets, timepart)
        raw = self._read_raw(path)
        if buckets and meta.get("migration"):
            # migration-aware: an incoming oid's stored versions live
            # in dirs at ANY modulus still present (chained doublings
            # included) — resolve the replaced DIRECTORIES per vintage
            # from the manifest blocks and read exactly that set (see
            # the snapshot merge's migration branch). The rewrite under
            # the live modulus migrates the hit old dirs as a side
            # effect.
            replaced_dirs = self._migration_hit_dirs(
                hit, meta, buckets, live, current_only=False)
            pruned = (self._read_dirs(path, meta, sorted(replaced_dirs))
                      if replaced_dirs else raw.where(F.lit(False)))
        elif buckets:
            hb = sorted(hit[buckets])
            pruned = raw.where(F.col("__obucket").isin(hb))
            hit_set = {f"__obucket={b}" for b in hb}
            replaced_dirs = {d for d in live
                             if d.split("/")[1] in hit_set}
        else:
            pruned = raw
            replaced_dirs = set(live)
        keys = incoming.select("_oid").distinct()
        kept = pruned.join(_upsert.maybe_broadcast_keys(keys), "_oid",
                           "left_anti")
        # the kept rows were read under the PRE-commit manifest schema;
        # when this import evolves the schema, null-fill the new columns
        # so the union below lines up (their files stay as-is — the new
        # manifest schema null-fills them on every later read too)
        inc_types = {f.name: f.dataType for f in incoming.schema.fields}
        for c in cols:
            if c not in kept.columns:
                kept = kept.withColumn(c, F.lit(None).cast(inc_types[c]))
        inc = _upsert._regen_id(incoming)
        inc_part = inc.withColumn("_current", F.col("_end").isNull())
        kept_part = kept.withColumn(
            "_current", F.col("_end").isNull())  # recompute, drop old dirs
        union = kept_part.select(*cols, "_current").unionByName(
            inc_part.select(*cols, "_current"))
        union = union.withColumn(
            "__batch",
            F.when(F.col("_current"), F.lit(f"open-g{gen}"))
            .otherwise(F.lit(f"hr-g{gen}")))
        union = self._with_part_cols(union, buckets, timepart)
        # localCheckpoint: the write lands under the same root the plan
        # reads from, and the stats below must see the rows it wrote
        union = union.select(*cols, *part_cols).localCheckpoint(eager=True)
        self._write_dirs(union, path, buckets, timepart)
        new_rels = self._record_sizes(
            path, self._written_dir_stats(union, buckets, timepart)[1])
        dirs = (live - replaced_dirs) | set(new_rels)
        hist = self._push_history(meta, keep)
        self._manifest_flip(path, raw_manifest, gen, dirs, hist,
                            stats=self._merged_stats(meta, new_rels, dirs,
                                                     hist, path=path),
                            schema=schema if schema is not None
                            else meta.get("schema"))
        self._sweep_dropped(
            path, meta, dirs | {d for h in hist for d in h["dirs"]})

    def _closed_batch_dirs(self, path: str) -> list[str]:
        """Full paths of every history ``__batch=`` directory — from the
        manifest when one exists (stranded crash leftovers are not part
        of the cube), from a listing on legacy layouts."""
        meta = self._manifest(path)
        if meta is not None:
            return [self.fs.join(path, d) for d in meta["dirs"]
                    if d.startswith("_current=false")]
        out = []
        hist = self.fs.join(path, "_current=false")
        for d in self.fs.listdir(hist):
            full = self.fs.join(hist, d)
            if d.startswith("__batch=") and self.fs.isdir(full):
                out.append(full)
            elif d.startswith("__obucket=") and self.fs.isdir(full):
                out.extend(
                    self.fs.join(full, b) for b in self.fs.listdir(full)
                    if b.startswith("__batch=")
                    and self.fs.isdir(self.fs.join(full, b)))
        return out

    # -- queries (reference sqlalchemy.py:641-803) ---------------------------

    @staticmethod
    def _prune_family_ok(dtype, values: Sequence) -> bool:
        """True when every lookup literal is in the same TYPE FAMILY as
        the stored ``_oid`` dtype (numeric literal + numeric column, str
        + string column) — the precondition for the bucket prune to be
        sound. The prune hashes ``cast(literal AS stored dtype)``, but
        the row predicate compares under Spark's binary-comparison
        coercion, and the two disagree across families: on a STRING-oid
        cube, ``_oid == 1`` coerces the column numerically, so the row
        ``_oid='01'`` satisfies the predicate yet lives in the bucket of
        ``'01'`` — which a prune keyed on ``cast(1 AS string) = '1'``
        would skip. Cross-family lookups read unpruned (skipped, not
        wrong); bool literals are excluded from the numeric family
        (Spark coerces them on their own rules)."""
        import datetime as _dt
        from numbers import Number

        from pyspark.sql import types as T

        if isinstance(dtype, T.StringType):
            return all(isinstance(v, str) for v in values)
        if isinstance(dtype, T.NumericType):
            return all(isinstance(v, Number)
                       and not isinstance(v, bool) for v in values)
        if isinstance(dtype, (T.DateType, T.TimestampType,
                              T.TimestampNTZType)):
            return all(isinstance(v, (_dt.date, _dt.datetime))
                       for v in values)
        if isinstance(dtype, T.BinaryType):
            return all(isinstance(v, (bytes, bytearray))
                       for v in values)
        return False

    def _oid_bucket_values(self, oids: Sequence,
                           moduli: int | Sequence[int],
                           dtype=None) -> list[int]:
        """The __obucket partition values the given oids hash into — one
        tiny Spark job (the hash must be the JVM's xxhash64, the same
        expression every write used). ``dtype`` is the cube's STORED
        ``_oid`` type: the lookup values are cast to it before hashing,
        so a probe whose inferred type renders differently as a string
        (float 7.0 → '7.0' vs stored long 7 → '7') still prunes to the
        right directories — matching the numeric coercion the row-level
        ``isin`` filter applies. Values the cast nulls out can match no
        stored row and drop from the prune set.

        ``moduli`` may be a list (an in-flight doubling migration prunes
        under the UNION of the old and new bucket counts — see
        ``_buckets_for_read``); the union still costs the one job.

        Fast path: when every literal is a plain ``int``/``str`` and
        the stored dtype is an integral or string type, the string
        rendering the JVM would hash is knowable on the driver —
        ``metrique_spark.xxh64`` (property-tested against Spark's own
        expression) computes the values with NO Spark job, removing a
        fixed ~0.4 s of pure scheduling from every point lookup. Any
        other combination (float/Decimal literals, date/binary oids,
        no dtype) keeps the JVM job — rendering there is cast-rule
        territory the driver must not guess."""
        if isinstance(moduli, int):
            moduli = [moduli]
        fast = self._bucket_values_driver_side(oids, moduli, dtype)
        if fast is not None:
            return fast
        df = self.spark.createDataFrame([(o,) for o in oids], ["_oid"])
        if dtype is not None:
            # try_cast: ANSI mode would otherwise throw on an
            # un-castable probe, which the row filter treats as
            # no-match, not an error
            df = df.withColumn("_oid", F.col("_oid").try_cast(dtype))
        rows = (df.select(*[self._obucket(m).alias(f"b{i}")
                            for i, m in enumerate(moduli)])
                .distinct().collect())
        return sorted({r[f"b{i}"] for r in rows
                       for i in range(len(moduli))
                       if r[f"b{i}"] is not None})

    @staticmethod
    def _bucket_values_driver_side(oids: Sequence, moduli: Sequence[int],
                                   dtype) -> list[int] | None:
        """Driver-computed bucket values, or None when any literal or
        the stored dtype falls outside the envelope where the string
        rendering is unambiguous: integral dtypes render ``str(int)``
        (a literal beyond the dtype's range matches no stored row, so
        its extra value only widens the kept set — sound), string
        dtypes hash ``str`` literals as-is. Floats/Decimals are
        excluded — ``try_cast(7.5 AS long)`` truncates JVM-side, and
        guessing that here could DROP the right bucket."""
        from pyspark.sql import types as T

        if isinstance(dtype, T.StringType):
            if not all(isinstance(o, str) for o in oids):
                return None
        elif isinstance(dtype, (T.ByteType, T.ShortType,
                                T.IntegerType, T.LongType)):
            if not all(isinstance(o, int) and not isinstance(o, bool)
                       for o in oids):
                return None
        else:
            return None
        from metrique_spark.xxh64 import obucket_of

        return sorted({obucket_of(o, m) for o in oids for m in moduli})

    def _scoped(self, cube: str | DataFrame, query: str | None,
                date: str | None, oids: Sequence | None = None,
                generation: int | None = None) -> DataFrame:
        oids = list(oids) if oids is not None else None
        if isinstance(cube, DataFrame):
            if generation is not None:
                raise ValueError(
                    "generations exist only for warehouse cubes — a "
                    "DataFrame input has no generation manifest")
            df = cube
        elif cube in self._views or not self.warehouse:
            df = self.table(cube, generation=generation)
        else:
            # warehouse cube: express every prune the date spec / oid
            # list implies as a predicate on the PARTITION columns
            # before dropping them, so the parquet scan skips whole
            # directories instead of filtering rows
            path = self._path(cube)
            layout = self._cube_layout(path)  # ONE sidecar fetch/query
            buckets, moduli = self._buckets_for_read(path, layout,
                                                     generation)
            # as-of / since specs bound _end from below: closed dirs
            # whose recorded max(_end) precedes the bound are skipped at
            # manifest resolution (directory-level data skipping)
            lo = date_end_lower_bound(date)
            hi = date_start_upper_bound(date)
            # point lookup (oids= list, or the same lookup written as
            # MQL — ``_oid == X`` / ``_oid in [...] and ...``, the
            # reference's idiom): turn the literals into __obucket
            # partition values so the read PRUNES to the ~|oids|/N of
            # the table that can contain them — at 100 TB the
            # difference between reading a few directories and reading
            # the table (the _oid filter alone cannot prune: the bucket
            # is a hash Spark doesn't invert). Resolved BEFORE the read
            # from the manifest's stored dtype, so the prune applies to
            # the directory list itself (_read_raw lists O(hit dirs),
            # not O(cube)). Sound only when the literals share the
            # stored _oid's type family (see _prune_family_ok) and,
            # for MQL, when the conjunctively-implied literal set is
            # bounded and single-typed — otherwise unpruned (skipped,
            # not wrong).
            def lookup_literals():
                if oids:
                    return list(oids)
                if query:
                    qoids = oid_literal_set(query)
                    if (qoids and len(qoids) <= 10_000
                            and len({type(o) for o in qoids}) == 1):
                        return sorted(qoids, key=repr)
                return None

            bvals = None
            if buckets:
                lookup = lookup_literals()
                if lookup:
                    mdtype = self._manifest_oid_dtype(path, generation)
                    if (mdtype is not None
                            and self._prune_family_ok(mdtype, lookup)):
                        bvals = self._oid_bucket_values(
                            lookup, moduli, dtype=mdtype)
            raw = self._read_raw(
                path, generation=generation,
                min_end=_norm_ts_bound(lo) if lo else None,
                start_upper=_norm_ts_bound(hi) if hi else None,
                bucket_values=bvals)
            if bvals and "__obucket" in raw.columns:
                # belt-and-braces value filter on the pruned read: also
                # covers legacy premanifest cubes below
                raw = raw.where(F.col("__obucket").isin(bvals))
            elif (bvals is None and "__obucket" in raw.columns
                    and buckets):
                # premanifest bucketed cube (no stored dtype): the
                # legacy post-read prune, keyed on the read schema
                lookup = lookup_literals()
                if lookup and self._prune_family_ok(
                        raw.schema["_oid"].dataType, lookup):
                    raw = raw.where(F.col("__obucket").isin(
                        self._oid_bucket_values(
                            lookup, moduli,
                            dtype=raw.schema["_oid"].dataType)))
            if "__stime" in raw.columns:
                # time-partitioned layout: the date spec's strict
                # ``_start < U`` bound prunes periods AFTER period(U).
                # Skipped (not wrong) when the session timezone differs
                # from the layout's recorded zone.
                tp = self._cube_timepart(path, layout=layout)
                hi = date_start_upper_bound(date)
                if tp and hi is not None:
                    bound = F.date_format(
                        to_timestamp_lit(hi),
                        "yyyy-MM" if tp == "month" else "yyyy")
                    raw = raw.where((F.col("__stime") <= bound)
                                    | F.col("__stime").isNull())
            if date_is_current_only(date) and "_current" in raw.columns:
                # current-versions-only spec: the open snapshot lives
                # entirely under _current=true — skip every history dir
                raw = raw.where(F.col("_current"))
            df = raw.drop(*[c for c in ("__batch", "__obucket", "__stime")
                            if c in raw.columns])
        if oids is not None:
            # empty list short-circuits: no rows match, and building the
            # bucket-lookup frame from zero rows cannot infer a schema
            df = df.where(F.col("_oid").isin(oids) if oids
                          else F.lit(False))
        if "_current" in df.columns:
            df = df.drop("_current")
        dpred = date_range_predicate(date) if ("_end" in df.columns) else None
        if dpred is not None:
            df = df.where(dpred)
        if query:
            df = df.where(compile_mql(query, df))
        return df

    def find(
        self,
        cube: str | DataFrame,
        query: str | None = None,
        fields=None,
        date: str | None = None,
        sort: str | None = None,
        descending: bool = False,
        limit: int | None = None,
        distinct: bool = False,
        default_fields: bool = True,
        oids: Sequence | None = None,
        generation: int | None = None,
    ) -> DataFrame:
        """MQL find (reference ``sqlalchemy.py:753-785``). ``oids``
        narrows to specific objects AND prunes the scan to their oid
        buckets on bucketed cubes — the fast path for point lookups.
        ``generation`` queries a retained snapshot (time travel) with
        the full MQL/date surface; partition prunes apply there too."""
        df = self._scoped(cube, query, date, oids=oids,
                          generation=generation)
        cols = parse_fields(fields)
        if cols is not None:
            if default_fields:
                cols = cols + [c for c in DEFAULT_FIELDS if c not in cols and c in df.columns]
            df = df.select(*cols)
        if distinct:
            df = df.distinct()
        if sort:
            df = df.orderBy(F.col(sort).desc() if descending else F.col(sort))
        if limit and limit >= 1:
            df = df.limit(limit)
        return df

    def _retry_swept(self, action):
        """Run a callable that BUILDS a cube read from its name and
        materializes it. If it fails on the swept-generation race (a
        concurrent commit deleted the directories our earlier manifest
        resolution named — see ``_read_raw``), run it once more: the
        rebuild re-resolves the manifest pointer, so the retry sees
        exactly the new committed generation. A second miss fails loud —
        that is no longer the race, it is a broken cube."""
        try:
            return action()
        except Exception as e:
            if not _is_swept_read_error(e):
                raise
            return action()

    def find_one(self, cube: str | DataFrame, query: str | None = None,
                 **kw):
        """First matching row as a dict, or None (reference ``one=True``,
        ``sqlalchemy.py:769-771``)."""
        row = self._retry_swept(
            lambda: self.find(cube, query, **kw).first())
        return row.asDict(recursive=True) if row is not None else None

    def find_scalar(self, cube: str | DataFrame, query: str | None = None,
                    **kw):
        """First column of the first matching row (reference
        ``scalar=True``, ``sqlalchemy.py:772-774``)."""
        row = self._retry_swept(
            lambda: self.find(cube, query, **kw).first())
        return row[0] if row is not None else None

    def count(self, cube: str | DataFrame, query: str | None = None,
              date: str | None = None,
              oids: Sequence | None = None,
              generation: int | None = None) -> int:
        """Count matches (reference ``sqlalchemy.py:641-664``). The two
        unfiltered shapes — current-only (``date=None``) and all-history
        (``date='~'``) — answer from the manifest's per-directory row
        counts when every relevant directory has one (a metadata-only
        read: zero files opened, zero Spark jobs — at 100 TB a bare
        ``count`` should never scan the table); any filter, or a
        pre-upgrade manifest missing a count, falls back to the scan.

        Freshness: the metadata answer reflects the manifest resolved AT
        CALL TIME — the same snapshot semantics as any other read of the
        cube. Under a concurrent commit this can be one generation
        behind the committer's own view (the scan path's swept-read
        retry used to re-resolve onto the newer pointer); callers that
        need read-your-own-commit across engines should count through
        the same engine that committed, or re-call."""
        if (isinstance(cube, str) and query is None and oids is None
                and self.warehouse and cube not in self._views):
            n = self._count_from_stats(cube, date, generation)
            if n is not None:
                return n
        return self._retry_swept(
            lambda: self._scoped(cube, query, date, oids=oids,
                                 generation=generation).count())

    def _count_from_stats(self, cube: str, date: str | None,
                          generation: int | None) -> int | None:
        """Manifest-recorded row total for an unfiltered count, or None
        when the shape is filtered / the cube predates row stats /
        any relevant directory lacks a count (fall back to the scan —
        skipped, not wrong). Works for retained generations too: stats
        carry forward for every retained directory."""
        if date == "~":
            want_open_only = False
        elif date_is_current_only(date):
            want_open_only = True
        else:
            return None
        path = self._path(cube)
        if not self.fs.isdir(path):
            return None  # the scan path raises the proper error
        root = self._manifest_root(path)
        if root is None:
            return None
        if (root.get("format", 0) >= 4
                and (generation is None or generation == root["gen"])):
            # ROOT-ONLY fast path: the totals were rolled up at commit
            # time — a bare count() parses one small JSON whatever the
            # cube's directory count (no segment loads, no Spark job)
            r = root.get("rollup") or {}
            key = "rows_open" if want_open_only else "rows"
            return r.get(key)  # None when incomplete: fall back to scan
        meta = self._manifest(path)  # full assembly (swept-seg retry)
        if generation is None or generation == meta["gen"]:
            dirs = meta["dirs"]
        else:
            for h in meta.get("history", []):
                if h["gen"] == generation:
                    dirs = h["dirs"]
                    break
            else:
                return None  # the scan path raises the retention error
        rows = (meta.get("stats") or {}).get("rows") or {}
        want = [d for d in dirs
                if not want_open_only or d.startswith("_current=true")]
        if not all(d in rows for d in want):
            return None
        return sum(rows[d] for d in want)

    def distinct(self, cube: str | DataFrame, fields, query: str | None = None,
                 date: str | None = "~") -> DataFrame:
        """Unique values of field(s); array-valued fields are flattened
        (reference ``sqlalchemy.py:706-721`` reduce-adds per-field lists
        into ONE flat sorted value set). Single field keeps its name and
        type; multiple fields union into a single string-cast ``value``
        column, matching the reference's untyped flat list."""
        from pyspark.sql import types as T

        df = self._scoped(cube, query, date)
        cols = parse_fields(fields) or df.columns
        outs = []
        for c in cols:
            dtype = df.schema[c].dataType
            col = F.explode_outer(F.col(c)) if isinstance(dtype, T.ArrayType) else F.col(c)
            outs.append(df.select(col.alias(c)).where(F.col(c).isNotNull()).distinct())
        if len(outs) == 1:
            return outs[0].orderBy(cols[0])
        uni = None
        for out in outs:
            part = out.select(F.col(out.columns[0]).cast("string").alias("value"))
            uni = part if uni is None else uni.unionByName(part)
        return uni.distinct().orderBy("value")

    def get_last_field(self, cube: str | DataFrame, field: str):
        """Max value of a field across all history (reference
        ``sqlalchemy.py:787-803``) — one aggregate, no sort."""
        def run():
            df = cube if isinstance(cube, DataFrame) else self.table(cube)
            return df.agg(F.max(field).alias(field)).first()[field]

        return self._retry_swept(run)

    def deptree(self, cube: str | DataFrame, field: str, oids: Sequence,
                date: str | None = None, level: int | None = None,
                as_df: bool = False):
        """Recursive closure over a parent→children array field
        (reference ``sqlalchemy.py:666-692``). Returns the sorted
        visited-oid LIST by default (reference parity); ``as_df=True``
        returns the visited set as a one-column ``_oid`` DataFrame
        instead — the scale path when the closure feeds another plan
        (tens of millions of reachable oids never cross the driver)."""
        def run():
            df = cube if isinstance(cube, DataFrame) else self.table(cube)
            fn = temporal.deptree_df if as_df else temporal.deptree
            return fn(df, field, oids, level=level, date=date)

        return self._retry_swept(run)

    def dfind(self, cube: str | DataFrame, fields: Iterable[str] | None = None,
              query: str | None = None, date: str | None = "~") -> DataFrame:
        """Diff-find (reference ``sqlalchemy.py:694-704``); ``fields=None``
        diffs the whole object with added/removed-key classification."""
        return temporal.dfind(self._scoped(cube, query, date), fields)

    @staticmethod
    def _plan_relations(jplan) -> set:
        """Single-part table names a parsed (unresolved) logical plan
        references: every ``UnresolvedRelation`` leaf of the main plan
        and of every subquery expression plan (``subqueriesAll`` is
        transitive), identifiers read via ``multipartIdentifier`` —
        never from the plan's string repr, so quoting is a non-issue.
        Multipart names (``db.tbl``) are skipped: the warehouse
        namespace is flat, so they cannot be cubes."""
        out: set = set()
        plans = [jplan]
        try:
            it = jplan.subqueriesAll().iterator()
            while it.hasNext():
                plans.append(it.next())
        except Exception:
            pass  # older/newer internals: main plan still walked
        for p in plans:
            it = p.collectLeaves().iterator()
            while it.hasNext():
                node = it.next()
                if (node.getClass().getSimpleName()
                        != "UnresolvedRelation"):
                    continue
                parts = node.multipartIdentifier()
                if parts.size() == 1:
                    out.add(parts.apply(0))
        return out

    def sql(self, query: str) -> DataFrame:
        """Raw SQL over cubes (reference ``execute``,
        ``sqlalchemy.py:528-547``) — full Spark SQL surface. Reference
        users SELECT straight from cube tables, so warehouse cubes whose
        names appear in the query are registered as temp views on demand
        (a lazy manifest-resolved read — no scan until the query runs);
        explicitly ``register``-ed views always win, ``_scratch`` /
        unnamed dirs never shadow SQL identifiers, a same-named temp
        view the user created DIRECTLY on the SparkSession is never
        clobbered (only views this lazy path itself registered are
        refreshed), and an INCIDENTAL bare-word match on an unreadable
        cube (a column name or string literal that happens to equal a
        cube name) skips registration instead of aborting the query —
        if the query truly references that cube as a table, Spark's own
        TABLE_OR_VIEW_NOT_FOUND follows and names it."""
        if self.warehouse:
            import re as _re

            # autoviews sql() itself registered, shared SESSION-wide
            # (temp views are per-SparkSession, so per-engine tracking
            # would mistake another engine's autoview for a user view
            # and serve it stale forever): name -> the exact DataFrame
            # this path registered last. Refreshing re-resolves the
            # live manifest; before refreshing, the CURRENT catalog
            # view is compared (sameResult) against the one we
            # registered — a same-named view the user created AFTER
            # our autoview existed is therefore never clobbered (it no
            # longer matches ours), closing the old name-set
            # registry's gap.
            reg = getattr(self.spark, "_mtq_sql_autoviews", None)
            if not isinstance(reg, dict):
                reg = {}
                try:
                    self.spark._mtq_sql_autoviews = reg
                except Exception:
                    pass
            # the names the query actually references AS TABLES: parse
            # it with Spark's own SQL parser and WALK the logical plan
            # for ``UnresolvedRelation`` leaves (main plan + every
            # subquery expression via ``subqueriesAll``), reading each
            # relation's ``multipartIdentifier`` parts directly — a
            # cube name inside a string literal or column alias is no
            # longer a match at all, and a backtick-quoted identifier
            # containing ``]`` or ``,`` (which the earlier
            # plan-STRING-repr regex would mis-extract) round-trips
            # exactly. Only single-part names can be cubes (the
            # warehouse namespace is flat); CTE names collected here
            # are harmless — Spark resolves a CTE before any temp
            # view, so a same-named lazy autoview is shadowed. Parse
            # failure (or an engine without these internals) falls
            # back to the bare-word scan: registration stays
            # best-effort either way, and a truly-referenced missing
            # table still fails with Spark's own not-found error.
            referenced: set | None = None
            try:
                jplan = (self.spark._jsparkSession.sessionState()
                         .sqlParser().parsePlan(query))
                referenced = self._plan_relations(jplan)
            except Exception:
                referenced = None
            for name in self.ls():
                if name in self._views or name.startswith("_"):
                    continue
                if not _re.match(r"^\w+$", name):
                    continue  # not addressable as a bare SQL identifier
                if referenced is not None:
                    if name not in referenced:
                        continue
                elif not _re.search(rf"(?<![\w.`]){name}(?![\w`])",
                                    query):
                    continue
                ours = reg.get(name)
                exists = False
                try:
                    exists = self.spark.catalog.tableExists(name)
                except Exception:
                    pass
                if exists:
                    if ours is None:
                        continue  # user-created view wins
                    try:
                        cur = self.spark.table(name)
                        same = (cur._jdf.queryExecution().analyzed()
                                .sameResult(ours._jdf.queryExecution()
                                            .analyzed()))
                    except Exception:
                        same = False
                    if not same:
                        # the user replaced our autoview since the last
                        # call — theirs wins from now on
                        reg.pop(name, None)
                        continue
                try:
                    df = self.table(name)
                    df.createOrReplaceTempView(name)
                except Exception:
                    continue  # incidental match on an unreadable cube
                reg[name] = df
        return self.spark.sql(query)
