"""Physical table layout (SURVEY.md §1.3 / FIXTURES.md B1).

Four tables under a root directory. ``streams`` and ``points_derived``
sit behind a tiny snapshot pointer (``_CURRENT`` names the live ``v=<n>/``
data directory — a poor man's Iceberg snapshot, so full-table rewrites
such as vacuum/compaction are atomic for concurrent readers); the two
datapoint tables live on the transactional commit log (:mod:`.txnlog`):

- ``streams``        — metadata, stored as an APPEND-ONLY LOG of row
                       versions (``_v`` monotone, ``_deleted`` tombstone).
                       Reads resolve the latest version per stream_id —
                       MERGE semantics without ever collecting or
                       rewriting the table on the driver. Compaction
                       (vacuum) snapshots the live rows into a new
                       version dir and swaps the pointer.
- ``points_raw``     — appends at each stream's highest granularity,
                       partitioned by ``p_date`` (UTC day of ts) so range
                       scans prune partitions. Every append is one ACID
                       commit; compaction is a ``txn_optimize`` commit.
- ``points_derived`` — materialized datapoints of derived streams,
                       append-only with ``seq`` as the row version:
                       re-derived slots (e.g. a `sum` slot that grows as
                       a lagging source arrives) are re-appended and the
                       highest ``seq`` wins at read time. Vacuum compacts
                       superseded versions away.
- ``points_agg``     — downsampled buckets for all coarser granularities,
                       partitioned by ``(granularity, p_date)``; upserts
                       (recomputed boundary buckets) rebuild only the
                       affected partitions and land as ONE
                       snapshot-isolated ``overwrite`` commit.

All aggregate columns are *algebraic carriers* (sum, count, sum_squares,
t_sum_epoch, frequencies) plus their finished presentation values, so a
coarser granularity can be computed by merging the next-finer aggregates
without rescanning raw data — the property that makes the downsample
cascade O(raw + Σ aggregates) instead of O(6 × raw) at 100 TB.

STORAGE-REACH BOUNDARY (deliberate): the external lakehouse tier AND
the engine's txn tier are FileIO-seam-routed — they run on object-store
roots with no POSIX path (sources/fileio.py, txnlog's
``_root``/``_store``). The POINTS/AGGREGATE data tables ride the txn
tier, whose commit CAS is object-store-capable. THIS module's own
state — the ``_CURRENT`` pointer swap via ``os.replace`` for the
streams registry and derived points, the flock'd external-catalog
RMW — remains POSIX-rooted: its pointer swap and file lock have no
object-store equivalent without a coordinator. That leaves the
streams registry, the derived points, the pointer files and the
catalog POSIX-resident (mount or local disk both serve them).
Documented here so the boundary is a stated contract, not an accident
of ``os.`` calls.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_rows_df(spark: SparkSession, data, schema) -> DataFrame:
    """Bounded driver-side rows -> DataFrame via pandas/Arrow.

    ``createDataFrame(list, ...)`` builds a pickled Python RDD
    (``Scan ExistingRDD``): every job that evaluates it — above all
    every WRITE that includes one, even as a broadcast join input —
    pays a Python-worker round trip per task (~5 s/write measured in
    this container vs 0.2 s without). Routing through pandas turns the
    same rows into an Arrow ``LocalTableScan``: plan-inlined, JVM-only,
    broadcastable for free. Every metadata-bounded frame the engine
    writes or joins against goes through here; unbounded data NEVER
    should (this materializes ``data`` on the driver by definition).
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = [f.name for f in schema.fields]
    if data and isinstance(data[0], dict):
        cells = [[r.get(c) for c in cols] for r in data]
    else:
        cells = [list(r) for r in data]
    pdf = pd.DataFrame(cells if cells else None, columns=cols, dtype=object)
    # ONE partition, always (r12, guide §2: derive partitioning from input
    # size): Arrow createDataFrame slices any pandas frame into
    # defaultParallelism chunks, so a 400-row metadata batch became 32
    # near-empty partitions — and every write that included one (txn_append
    # of an ingest batch, a streams-log upsert) ran a 32-task job emitting
    # dozens of near-empty files (measured: one engine append staged 60
    # files for 372 rows; q182). These frames are bounded driver-side
    # metadata BY CONTRACT, so one partition is right at any scale; the two
    # call sites that fan a bounded list out for distributed work
    # (collect_file_stats / bloom build) already repartition explicitly.
    return spark.createDataFrame(pdf, schema).coalesce(1)

STREAMS_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("value_type", T.StringType()),
        T.StructField("highest_granularity", T.StringType()),
        T.StructField("value_downsamplers", T.ArrayType(T.StringType())),
        T.StructField("time_downsamplers", T.ArrayType(T.StringType())),
        T.StructField("derived_from", T.ArrayType(T.StringType())),
        T.StructField("derive_op", T.StringType()),
        T.StructField("derive_args", T.StringType()),  # json
        T.StructField("tags", T.StringType()),  # json
        # type-preserving flattened tags: dotted path -> compact canonical
        # JSON of the value, so `true` vs `"true"` and `[1,2]` vs `"[1, 2]"`
        # stay distinct — exact JVM-side tag matching (map lookup, no JSON
        # re-parse per row)
        T.StructField("tags_flat", T.MapType(T.StringType(), T.StringType())),
        T.StructField("earliest_ts", T.TimestampType()),
        T.StructField("latest_ts", T.TimestampType()),
        # per-granularity FINALITY watermark: buckets starting before this
        # are final (never recomputed); clamped to the stream's own data
        T.StructField(
            "downsampled_until", T.MapType(T.StringType(), T.TimestampType())
        ),
    ]
)

#: streams log = streams row + version/tombstone columns
STREAMS_LOG_SCHEMA = T.StructType(
    list(STREAMS_SCHEMA.fields)
    + [T.StructField("_v", T.LongType()), T.StructField("_deleted", T.BooleanType())]
)

GRAPH_TYPE = T.StructType(
    [
        T.StructField(
            "v",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("i", T.StringType()),
                        # arbitrary extra vertex properties, canonical json
                        T.StructField("props", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "e",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("f", T.StringType()),
                        T.StructField("t", T.StringType()),
                        T.StructField("props", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

POINTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        # insertion sequence — total order for ties when check_timestamp is
        # off (the reference gets this from MongoDB ObjectId creation order)
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_nominal", T.StringType()),  # canonical json
        T.StructField("value_graph", GRAPH_TYPE),
    ]
)

#: materialized derived datapoints; seq doubles as the row version
POINTS_DERIVED_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

V_TYPE = T.StructType(
    [
        T.StructField("mean", T.DoubleType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("sum_squares", T.DoubleType()),
        T.StructField("std_dev", T.DoubleType()),
        T.StructField("count", T.LongType()),
        T.StructField("frequencies", T.MapType(T.StringType(), T.LongType())),
        T.StructField("most_often", T.StringType()),
        T.StructField("least_often", T.StringType()),
    ]
)

T_TYPE = T.StructType(
    [
        T.StructField("first", T.TimestampType()),
        T.StructField("last", T.TimestampType()),
        T.StructField("mean", T.TimestampType()),
    ]
)

POINTS_AGG_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType()),
        T.StructField("granularity", T.StringType()),
        T.StructField("bucket_ts", T.TimestampType()),
        T.StructField("v", V_TYPE),
        T.StructField("t", T_TYPE),
        # algebraic carrier: exact sum of epoch-seconds, for merging t.mean
        T.StructField("t_sum_epoch", T.LongType()),
    ]
)

_PART_MARKERS = ("p_date=", "granularity=")

#: tables stored on the transactional commit log (:mod:`.txnlog`)
_TXN_TABLES = ("points_raw", "points_agg")


class Tables:
    """Parquet-backed storage for one engine instance.

    ``points_raw`` and ``points_agg`` are commit-log tables: appends,
    aggregate upserts, compaction and dead-row deletes are
    snapshot-isolated commits, so readers are safe concurrently with
    every one of them (superseded files stay until ``txn_vacuum``).
    ``streams`` and ``points_derived`` keep a single writer per store
    (SURVEY T5 note): readers are safe concurrently with their
    SNAPSHOT-SWAPPING writers (vacuum, compaction: new generation
    written, pointer flipped, old files retained), while rows appended
    during such a swap would be dropped — the quiescence rule vacuum
    documents.
    """

    #: auto-compact the streams version log once it exceeds this many
    #: parquet files — keeps metadata reads O(live streams) under
    #: continuous ingest (each micro-batch appends 1–3 small files)
    STREAMS_LOG_MAX_FILES = 48

    #: implicit streams-log compaction inside upserts assumes this process
    #: is the log's only writer (see _maybe_compact_streams); flip off for
    #: multi-writer metadata deployments and compact from one owner
    auto_compact_streams = True

    #: snapshot generations retained per snapshot-pointer table
    #: (current + priors). 2 (default) preserves today's reader-safety
    #: guarantee; raise it to keep a deeper time-travel history at
    #: rewrite-size disk cost per generation (snapshots share nothing —
    #: this is the honest local-parquet trade; the commit-log tables
    #: share unchanged files)
    SNAPSHOT_RETAIN = 2

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._v_counter = 0

    # -- snapshot pointer ----------------------------------------------------
    def _current_version(self, table: str) -> int:
        ptr = os.path.join(self.root, table, "_CURRENT")
        try:
            with open(ptr) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _data_dir(self, table: str) -> str:
        return os.path.join(self.root, table, f"v={self._current_version(table)}")

    def _swap_version(self, table: str, write_fn) -> None:
        """Write a full replacement snapshot into v=<n+1>, then atomically
        repoint ``_CURRENT``. The previous version dir is kept for one
        generation (readers planned against it finish safely) and removed
        on the following swap."""
        import shutil

        cur = self._current_version(table)
        new_dir = os.path.join(self.root, table, f"v={cur + 1}")
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)
        write_fn(new_dir)
        ptr = os.path.join(self.root, table, "_CURRENT")
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(cur + 1))
        os.replace(tmp, ptr)  # atomic — readers see old or new, never neither
        # retention: keep the newest SNAPSHOT_RETAIN generations (the
        # default 2 = current + one prior, so readers planned against
        # the old snapshot finish safely). Raising it enables
        # time-travel reads over a deeper history (read_table_at).
        keep_min = (cur + 1) - (self.SNAPSHOT_RETAIN - 1)
        tdir = os.path.join(self.root, table)
        for name in os.listdir(tdir):
            if not name.startswith("v="):
                continue
            try:
                v = int(name[2:])
            except ValueError:
                continue
            if v < keep_min:
                shutil.rmtree(os.path.join(tdir, name))

    # -- time travel ---------------------------------------------------------
    def snapshot_versions(self, table: str) -> list[int]:
        """Retained snapshot versions for ``table``, oldest first. On
        the snapshot-pointer tables a new version is cut at every
        rewrite boundary (compaction, log compaction); appends accrete
        into the current snapshot — so time travel is at rewrite
        granularity, like any snapshot-pointer table format.  On the
        commit-log tables (``points_raw``, ``points_agg``) versions are
        COMMIT versions — every append/upsert/optimize/delete is
        time-travelable until vacuum."""
        if table in _TXN_TABLES:
            from . import txnlog as TL

            root = getattr(self, f"{table}_path")
            if not TL.is_txn_table(root):
                return []
            return list(range(1, TL.latest_version(root) + 1))
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for name in os.listdir(tdir):
            if name.startswith("v="):
                try:
                    out.append(int(name[2:]))
                except ValueError:
                    pass
        return sorted(out)

    def read_table_at(self, table: str, version: int) -> DataFrame:
        """Read a retained snapshot of ``table`` as-of ``version``
        (raw stored rows — for the streams table that is the metadata
        log state at that snapshot). Raises ``ValueError`` if the
        version was never cut or was vacuumed by retention."""
        if table in _TXN_TABLES:
            from . import txnlog as TL

            if version not in self.snapshot_versions(table):
                raise ValueError(f"{table} commit v{version} not in log")
            return TL.txn_read(
                self.spark, getattr(self, f"{table}_path"), version=version
            )
        if version not in self.snapshot_versions(table):
            raise ValueError(
                f"{table} v={version} not retained "
                f"(have {self.snapshot_versions(table)}; "
                f"raise SNAPSHOT_RETAIN to keep deeper history)"
            )
        return self.spark.read.parquet(
            os.path.join(self.root, table, f"v={version}")
        )

    # -- paths ---------------------------------------------------------------
    # a txn table's root is FIXED (versioning lives in the commit log);
    # the snapshot-pointer tables resolve to their current v=<n> dir
    @property
    def streams_path(self) -> str:
        return self._data_dir("streams")

    @property
    def points_raw_path(self) -> str:
        return os.path.join(self.root, "points_raw_txn")

    @property
    def points_derived_path(self) -> str:
        return self._data_dir("points_derived")

    @property
    def points_agg_path(self) -> str:
        return os.path.join(self.root, "points_agg_txn")

    # -- external-table catalog (lakehouse interop by NAME) -----------
    @property
    def external_catalog_path(self) -> str:
        return os.path.join(self.root, "external_tables.json")

    def read_external_catalog(self) -> dict:
        """name → {path, format} for every registered external table
        (empty when none). One small JSON object, atomic-replaced —
        the catalog is engine metadata, not a data table."""
        import json as _json

        try:
            with open(self.external_catalog_path, encoding="utf-8") as f:
                return _json.load(f)
        except FileNotFoundError:
            return {}

    def write_external_catalog(self, catalog: dict) -> None:
        import json as _json
        import uuid as _uuid

        tmp = self.external_catalog_path + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump(catalog, f, indent=1, sort_keys=True)
        os.replace(tmp, self.external_catalog_path)

    def mutate_external_catalog(self, fn) -> dict:
        """Atomic read-modify-write of the catalog under an exclusive
        flock — os.replace alone prevents torn writes, not LOST
        UPDATES (two concurrent registrations would last-writer-win).
        ``fn`` receives the current dict and returns the new one."""
        import fcntl

        lock = self.external_catalog_path + ".lock"
        with open(lock, "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                cat = fn(self.read_external_catalog())
                self.write_external_catalog(cat)
                return cat
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _exists(self, path: str) -> bool:
        return os.path.isdir(path) and any(
            n.endswith(".parquet") or n.startswith(_PART_MARKERS)
            for n in os.listdir(path)
        )

    def _migrate_plain_to_txn(self, table: str) -> None:
        """One-way zero-copy upgrade of a store written in the legacy
        plain-parquet layout (``<table>/v=<n>/...`` behind a
        ``_CURRENT`` pointer): hard-link the plain table's current
        snapshot files into the txn root (partition dirs preserved)
        and adopt them as commit 1, so the first READ sees the full
        history instead of an empty fresh table.  Idempotent (no-op
        once the txn log exists) and metadata-only — bytes are shared
        inodes and the plain snapshot dirs are left untouched.  Run
        it with the legacy store's writers quiesced."""
        from . import txnlog as TL

        txn_root = getattr(self, f"{table}_path")
        if TL.is_txn_table(txn_root):
            return
        plain = self._data_dir(table)
        if not self._exists(plain):
            return
        import shutil

        for dirpath, _dirs, files in os.walk(plain):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                rel = os.path.relpath(src, plain)
                dst = os.path.join(txn_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(src, dst)
                except FileExistsError:
                    pass  # idempotent re-entry after a partial link pass
                except OSError:
                    shutil.copy2(src, dst)  # cross-device fallback
        TL.init_table(txn_root)  # adopts the linked files as commit 1

    def _next_v(self) -> int:
        self._v_counter = max(self._v_counter + 1, time.time_ns())
        return self._v_counter

    def bump_v(self, v: int) -> None:
        """Reserve the version/seq range up to ``v`` — callers that hand
        out ``base + row_number`` seqs bump past their batch so the next
        base can never overlap it, even if the clock stalls."""
        self._v_counter = max(self._v_counter, v)

    # -- streams metadata (MERGE-style log) ----------------------------------
    def read_streams_log(self) -> DataFrame:
        if not self._exists(self.streams_path):
            return local_rows_df(self.spark, [], STREAMS_LOG_SCHEMA)
        return self.spark.read.schema(STREAMS_LOG_SCHEMA).parquet(self.streams_path)

    def read_streams(self) -> DataFrame:
        """Live stream rows: latest version per stream_id, tombstones out."""
        log = self.read_streams_log()
        w = Window.partitionBy("stream_id").orderBy(F.col("_v").desc())
        return (
            log.withColumn("_rk", F.row_number().over(w))
            .filter((F.col("_rk") == 1) & ~F.coalesce("_deleted", F.lit(False)))
            .drop("_rk", "_v", "_deleted")
        )

    def upsert_streams(self, rows: list[dict]) -> None:
        """MERGE: append new row versions (full rows; latest _v wins).
        O(changed rows), never a table rewrite or driver collect."""
        if not rows:
            return
        v = self._next_v()
        out = []
        for r in rows:
            r = dict(r)
            r["_v"] = v
            r.setdefault("_deleted", False)
            out.append(r)
        df = local_rows_df(self.spark, out, STREAMS_LOG_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.streams_path)
        self._maybe_compact_streams()

    def upsert_streams_df(self, df: DataFrame) -> None:
        """MERGE from a DataFrame in STREAMS_SCHEMA shape — appends new row
        versions without any driver materialization."""
        v = self._next_v()
        (
            df.select(*[f.name for f in STREAMS_SCHEMA.fields])
            .withColumn("_v", F.lit(v))
            .withColumn("_deleted", F.lit(False))
            .coalesce(1)
            .write.mode("append")
            .parquet(self.streams_path)
        )
        self._maybe_compact_streams()

    def _maybe_compact_streams(self) -> None:
        """Keep the append-only streams log bounded: once the current
        version dir exceeds STREAMS_LOG_MAX_FILES parquet files, snapshot
        the live rows into a fresh dir (atomic pointer swap). Amortized
        O(live streams) every N upserts — without this, every metadata
        read window-scans a log that grows with uptime.

        SINGLE-WRITER ONLY: the snapshot swap captures the log as seen by
        THIS process, so a second process appending to the streams log
        concurrently would have its rows silently dropped by the swap —
        the same writer-quiescence rule documented for ``vacuum`` applies
        to every upsert while auto-compaction is enabled. Deployments
        with multiple metadata writers must set
        ``auto_compact_streams = False`` on every Tables instance and run
        ``compact_streams()`` from one owning process during a quiesced
        window (or use a transactional table format — Delta/Iceberg MERGE
        — where this log is a real table)."""
        if not self.auto_compact_streams:
            return
        path = self.streams_path
        try:
            n = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
        except FileNotFoundError:
            return
        if n > self.STREAMS_LOG_MAX_FILES:
            self.compact_streams()

    def delete_streams_rows(self, stream_ids: list[str]) -> None:
        """Tombstone the given streams (latest version = deleted)."""
        self.upsert_streams(
            [{"stream_id": sid, "_deleted": True} for sid in stream_ids]
        )

    def compact_streams(self) -> None:
        """Snapshot the live rows into a fresh version dir (atomic swap).
        Pure DataFrame rewrite — the snapshot job reads the outgoing
        version dir (still in place until the pointer swap) and writes the
        new one, so compaction never materializes stream metadata on the
        driver and scales to millions of streams."""
        live = (
            self.read_streams()
            .withColumn("_v", F.lit(self._next_v()))
            .withColumn("_deleted", F.lit(False))
            .select(*[f.name for f in STREAMS_LOG_SCHEMA.fields])
        )

        def write(d):
            live.coalesce(1).write.mode("overwrite").parquet(d)

        self._swap_version("streams", write)

    # -- raw points ------------------------------------------------------------
    def read_points_raw(self) -> DataFrame:
        from . import txnlog as TL

        self._migrate_plain_to_txn("points_raw")
        if not TL.is_txn_table(self.points_raw_path):
            return self.spark.createDataFrame(
                [], POINTS_RAW_SCHEMA
            ).withColumn("p_date", F.to_date("ts"))
        return TL.txn_read(self.spark, self.points_raw_path)

    def append_points_raw(self, df: DataFrame) -> None:
        """One ACID ``append`` commit (auto-rebasing: concurrent
        appenders never conflict)."""
        from . import txnlog as TL

        self._migrate_plain_to_txn("points_raw")
        TL.txn_append(
            self.spark,
            df.withColumn("p_date", F.to_date("ts")),
            self.points_raw_path,
            ["p_date"],
            writer="ingest",
        )

    def compact_points_raw(
        self, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """OPTIMIZE-style small-file compaction (continuous ingest
        appends one file per micro-batch per partition): one
        ``txn_optimize`` commit rewrites each partition's small files
        into ~``target_file_bytes`` apiece. It commutes with concurrent
        appends (no quiescence needed), and superseded files stay for
        snapshot readers until ``txn_vacuum``. On Delta/Iceberg this is
        OPTIMIZE / rewrite_data_files. Returns the number of files
        rewritten."""
        from . import txnlog as TL

        src = self.points_raw_path
        self._migrate_plain_to_txn("points_raw")
        if not TL.is_txn_table(src):
            return 0
        res = TL.txn_optimize(self.spark, src, target_file_bytes=target_file_bytes)
        return int(res.get("rewritten_files") or 0)

    # -- derived points (versioned by seq) --------------------------------------
    def read_points_derived(self, latest_only: bool = True) -> DataFrame:
        if not self._exists(self.points_derived_path):
            df = local_rows_df(self.spark, [], POINTS_DERIVED_SCHEMA)
        else:
            df = self.spark.read.parquet(self.points_derived_path).select(
                *[f.name for f in POINTS_DERIVED_SCHEMA.fields]
            )
        if not latest_only:
            return df
        w = Window.partitionBy("stream_id", "ts").orderBy(F.col("seq").desc())
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )

    def replace_points_derived(
        self, stream_ids: list[str], df: DataFrame
    ) -> None:
        """RETRACTING upsert for a derived-stream backfill: drop EVERY
        stored version of the given streams' points and land ``df`` as
        the only copy — the repair for ghost rows that latest-seq-wins
        cannot remove (a recompute that no longer emits a formerly
        materialized (stream_id, ts) key; see
        api.backprocess_streams). Partition-scoped like
        upsert_points_agg: only p_date partitions where the target
        streams have old or new rows are read-modified-overwritten
        (other streams' rows kept verbatim); untouched partitions are
        never rewritten. Same single-writer quiescence rule as vacuum;
        on Delta/Iceberg this is one MERGE with
        NOT-MATCHED-BY-SOURCE DELETE."""
        df = (
            df.select(*[f.name for f in POINTS_DERIVED_SCHEMA.fields])
            .withColumn("p_date", F.to_date("ts"))
            .localCheckpoint(eager=True)  # bounded by the backfill
        )
        path = self.points_derived_path
        if not self._exists(path):
            df.write.mode("append").partitionBy("p_date").parquet(path)
            return
        sid_df = F.broadcast(
            local_rows_df(
                self.spark, [(s,) for s in stream_ids], "stream_id string"
            )
        )
        existing = self.spark.read.parquet(path).select(df.columns)
        touched = (
            existing.join(sid_df, "stream_id", "left_semi")
            .select("p_date")
            .unionByName(df.select("p_date"))
            .distinct()
            .collect()  # metadata: bounded by touched-partition count
        )
        if not touched:
            return
        tdf = F.broadcast(
            local_rows_df(
                self.spark, [(r["p_date"],) for r in touched], "p_date date"
            )
        )
        keep = existing.join(tdf, "p_date", "left_semi").join(
            sid_df, "stream_id", "left_anti"
        )
        out = keep.unionByName(df).localCheckpoint(eager=True)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev = self.spark.conf.get(mode_key, "static")
        self.spark.conf.set(mode_key, "dynamic")
        try:
            out.write.mode("overwrite").partitionBy("p_date").parquet(path)
        finally:
            self.spark.conf.set(mode_key, prev)
        # dynamic overwrite cannot VACATE a partition: a touched p_date
        # whose every row belonged to the replaced streams gets nothing
        # written, so its stale files need explicit removal
        import shutil

        written = {
            str(r["p_date"])
            for r in out.select("p_date").distinct().collect()
        }
        for r in touched:
            p = str(r["p_date"])
            if p not in written:
                shutil.rmtree(
                    os.path.join(path, f"p_date={p}"), ignore_errors=True
                )

    def append_points_derived(self, df: DataFrame) -> None:
        (
            df.select(*[f.name for f in POINTS_DERIVED_SCHEMA.fields])
            .withColumn("p_date", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("p_date")
            .parquet(self.points_derived_path)
        )

    # -- aggregates --------------------------------------------------------------
    def read_points_agg(self) -> DataFrame:
        from . import txnlog as TL

        self._migrate_plain_to_txn("points_agg")
        if not TL.is_txn_table(self.points_agg_path):
            return local_rows_df(self.spark, [], POINTS_AGG_SCHEMA)
        return TL.txn_read(self.spark, self.points_agg_path).select(
            *[f.name for f in POINTS_AGG_SCHEMA.fields]
        )

    def upsert_points_agg(self, df: DataFrame) -> None:
        """Upsert on (stream_id, granularity, bucket_ts), rewriting only
        the (granularity, p_date) partitions that actually REPLACE an
        existing bucket:

        1. the incoming batch is pinned (localCheckpoint — bounded by the
           batch, not by partition contents),
        2. touched partitions of the snapshot the upsert reads are probed
           for key collisions (one semi-join; the collided partition LIST
           is collected — metadata bounded by touched-partition count),
        3. conflicted partitions rebuild into staged files and land with
           their superseded files' removal as ONE snapshot-isolated
           ``overwrite`` commit; all remaining new rows are a blind
           ``append`` commit (zero read-back, zero rewrite).

        Readers keep the snapshot they planned against (superseded files
        stay until ``txn_vacuum``); a racing writer on the same
        partitions loses the CAS and must re-run. Under steady
        auto_downsample most batches only append fresh buckets +
        recompute the watermark-tail bucket, so per-batch rewrite volume
        is the conflicted tail partitions, not every partition the batch
        touches."""
        import uuid as _uuid

        from . import txnlog as TL

        df = (
            df.select(*[f.name for f in POINTS_AGG_SCHEMA.fields])
            .withColumn("p_date", F.to_date("bucket_ts"))
            .localCheckpoint(eager=True)
        )
        self._migrate_plain_to_txn("points_agg")
        path = self.points_agg_path
        key = ["stream_id", "granularity", "bucket_ts"]
        parts = ["granularity", "p_date"]
        if not TL.is_txn_table(path):
            TL.txn_append(self.spark, df, path, parts, writer="agg")
            return
        base_ver, committed = TL.snapshot(path)
        existing = TL.txn_read(
            self.spark, path, version=base_ver
        ).select(df.columns)
        touched = df.select(*parts).distinct()
        conflicts = (
            existing.join(F.broadcast(touched), parts, "left_semi")
            .join(F.broadcast(df.select(*key)), key, "left_semi")
            .select(*parts)
            .distinct()
            .collect()  # metadata: bounded by touched-partition count
        )
        new_rows = df
        if conflicts:
            cdf = local_rows_df(
                self.spark,
                [(r["granularity"], r["p_date"]) for r in conflicts],
                "granularity string, p_date date",
            )
            keep = existing.join(
                F.broadcast(cdf), parts, "left_semi"
            ).join(df.select(*key), key, "left_anti")
            out = keep.unionByName(
                df.join(F.broadcast(cdf), parts, "left_semi")
            )
            segs = {
                (f"granularity={r['granularity']}", f"p_date={r['p_date']}")
                for r in conflicts
            }
            removes = sorted(
                f
                for f in committed
                if any(
                    set(s) <= set(f.split(os.sep)[:-1]) for s in segs
                )
            )
            adds = TL.stage_files(
                self.spark, out, path, parts, _uuid.uuid4().hex[:12]
            )
            TL.commit(
                path,
                adds,
                removes,
                "overwrite",
                [],
                base_version=base_ver,
                writer="agg_upsert",
            )
            new_rows = df.join(F.broadcast(cdf), parts, "left_anti")
        if new_rows.head(1):
            TL.txn_append(self.spark, new_rows, path, parts, writer="agg")
