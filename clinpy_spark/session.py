"""SparkSession factory and project catalog.

The reference opens one SQLite engine per project and reflects its schema
once (assay_base.py:10-18). Here a "project" is a directory of Parquet
tables; the catalog lazily registers each as a temp view and hands out
DataFrames (no reflection round-trip, no double query execution like
reference junction.py:59-61).

Table resolution has one path. :meth:`ProjectCatalog.read` infers a
table's schema from its Parquet footers once per table VERSION and every
later read is ``spark.read.schema(s).parquet(path)``, which runs no Spark
job. The version key is the table path plus the size and ``mtime_ns`` of
every file under it, taken from filesystem metadata only, so a rewrite
in place or an appended file is seen on the next read. The query
registry reaches the same path through :func:`session_catalog` (one
catalog per session and directory), assays through their project's
catalog.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

try:
    import fcntl
except ImportError:  # non-POSIX: cross-process locking degrades to in-process
    fcntl = None

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

#: Tables of the driver's star schema (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "clinpy-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for OLAP work.

    Scale stance: AQE on (runtime coalesce + skew-join handling),
    shuffle partitions sized to the local core count (on a real cluster
    AQE re-plans upward from this), UTC session timezone (parquet
    timestamps compare bit-identically against external oracles), Arrow
    enabled for the few pandas-interchange paths.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.maxResultSize", "4g")
        # local mode runs every executor thread inside the driver JVM,
        # so the PySpark default 1g heap is the real executor-memory
        # budget for all 32 cores at once — the sf1 sweep OOMed on it.
        # Size it like the per-executor memory a cluster deploy would
        # get (only effective at JVM launch; a cluster submit overrides
        # this with --executor-memory/--driver-memory as usual).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a DataFrame whose source is under-partitioned
    (e.g. one small single-row-group parquet file -> a 1-task scan) so
    CPU-bound downstream work (tokenization, hashing, vector math) uses
    every core. No-op when the scan already yields >= the session's default
    parallelism — the normal case on real multi-file datasets — so at
    cluster scale this never introduces a shuffle.
    """
    if df.isStreaming:
        # partition counts aren't inspectable on an unstarted stream (no
        # .rdd); micro-batch parallelism follows the source's file/offset
        # split, so pass through untouched — the operators this guards
        # (mapInPandas codecs etc.) run per-batch either way
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def collect_bounded(df: DataFrame, cap: int) -> list[Row] | None:
    """``df``'s rows on the driver if it has at most ``cap`` of them,
    else None: one action that brings at most ``cap + 1`` rows back, so
    a data-sized result never reaches the driver. The guard of every
    "collect if small, else stay distributed" decision."""
    rows = df.take(cap + 1)
    return rows if len(rows) <= cap else None


def _files_version(path: str) -> tuple:
    """A table's version: (relative path, size, mtime_ns) of every file
    under ``path`` (or of ``path`` itself for a single-file table), from
    filesystem metadata only. Empty when nothing is there."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for dp, dirs, fs in os.walk(path):
        dirs.sort()
        for f in sorted(fs):
            fp = os.path.join(dp, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _parse_size_conf(conf: str) -> int:
    """Spark size-conf string -> bytes. Handles '-1' (disabled), plain
    numbers, and the k/m/g(b) suffix forms ('10MB', '52428800b')."""
    s = conf.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return 10 * 1024 * 1024


def _atomic_swap(path: str, staging: str) -> None:
    """Replace the directory at ``path`` with ``staging`` without a
    window where ``path`` is missing: rename the old directory aside,
    rename staging into place, then delete the old copy. A crash leaves
    either the old or the new table at ``path``, never neither.

    The aside-name is derived from the (unique) staging name, so two
    writers' swaps never trample each other's aside directory; combined
    with :func:`_table_lock` (threading lock + cross-process flock),
    concurrent staged writers on the same host serialize at the swap and
    the table always holds ONE writer's complete result (last swap wins
    — the documented semantics for concurrent point updates; multi-host
    coordination needs a transaction log, same as any filesystem table
    format without one).
    """
    import shutil

    old = staging.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


_SWAP_LOCKS: dict[str, threading.Lock] = {}
_SWAP_LOCKS_GUARD = threading.Lock()


def _swap_lock(path: str) -> threading.Lock:
    """Per-table in-process lock serializing staged swaps."""
    with _SWAP_LOCKS_GUARD:
        return _SWAP_LOCKS.setdefault(os.path.abspath(path), threading.Lock())


@contextmanager
def _file_lock(lock_path: str):
    """Advisory CROSS-PROCESS lock: ``fcntl.flock(LOCK_EX)`` on a
    sibling lockfile. Scope is same-host / same-local-filesystem — flock
    is not coherent over NFS and never spans hosts; multi-host writers
    need a real transaction log (Delta/Iceberg), the documented limit of
    any log-less parquet layout. The lockfile is a separate path from
    the table directory so atomic swaps never rename it out from under
    a waiter. No-op on platforms without ``fcntl``."""
    if fcntl is None:
        yield
        return
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


@contextmanager
def _table_lock(path: str):
    """Both layers of swap serialization: the in-process threading lock
    (cheap, reentrancy-clear) nested with the cross-process flock, so
    concurrent staged writers serialize whether they share a process or
    only a filesystem."""
    with _swap_lock(path):
        with _file_lock(path.rstrip("/") + ".lock"):
            yield


class ProjectCatalog:
    """Lazy table access over a directory of Parquet tables.

    Analogue of the reference's schema reflection (assay_base.py:13-16,
    ``Table(name, metadata, autoload=True)``): a table's schema is
    inferred on first touch of each table version and kept; nothing is
    scanned until an action runs.
    """

    def __init__(self, spark: SparkSession, project_dir: str):
        self.spark = spark
        self.project_dir = project_dir
        # path -> (version, schema); name -> (version, DataFrame)
        self._schemas: dict[str, tuple[tuple, StructType]] = {}
        self._tables: dict[str, tuple[tuple, DataFrame]] = {}

    # -- table statistics ---------------------------------------------------
    #
    # Row count / bytes / file count per table, captured AT WRITE TIME from
    # parquet footers (metadata-only reads — no data scan, amortized into
    # the write) and persisted to a ``_stats.json`` manifest beside the
    # tables. The metastore-stats analogue: downstream plan decisions
    # (broadcast a small side, skip banded_pair_join's hot-key probe when
    # the whole table is under the threshold) read the manifest instead of
    # rescanning data.

    def _stats_file(self) -> str:
        return os.path.join(self.project_dir, "_stats.json")

    def _read_stats_manifest(self) -> dict:
        import json

        try:
            with open(self._stats_file()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return {}

    def _record_stats(self, name: str) -> None:
        # The footer scan runs unlocked (reads only this table's files);
        # the manifest read-modify-write holds a cross-process flock so
        # two concurrent writers to DIFFERENT tables can't lose each
        # other's entry to a last-replace-wins race (which would later
        # disable hint_small for the lost table). The tmp name is
        # pid-unique for the same reason.
        import json

        import pyarrow.parquet as papq

        path = self.path(name)
        rows = total = files = 0
        for dp, _, fs in os.walk(path):
            for f in fs:
                fp = os.path.join(dp, f)
                total += os.path.getsize(fp)
                if f.endswith(".parquet"):
                    files += 1
                    rows += papq.ParquetFile(fp).metadata.num_rows
        with _file_lock(self._stats_file() + ".lock"):
            manifest = self._read_stats_manifest()
            manifest[name] = {"rows": rows, "bytes": total, "files": files}
            tmp = f"{self._stats_file()}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
            os.replace(tmp, self._stats_file())

    def stats(self, name: str) -> dict | None:
        """Write-time stats for a table, or None if it was never written
        through this catalog (e.g. externally generated data — call
        :meth:`collect_stats` once to backfill)."""
        return self._read_stats_manifest().get(name)

    def collect_stats(self, name: str) -> dict:
        """Backfill stats for an externally written table (footer-only
        reads, no data scan) and return them. Raises on a missing table
        — silently recording zeros would later read as a legitimately
        empty (and broadcastable) table."""
        if not self.exists(name):
            raise ValueError(f"no table {name!r} under {self.project_dir}")
        self._record_stats(name)
        return self.stats(name)

    def _live_bytes(self, name: str) -> int | None:
        """Current on-disk size: filesystem metadata only (no parquet
        parsing) — cheap enough to re-check at plan time, and it catches
        growth the manifest never saw (streaming appends, out-of-band
        writes) as well as deleted tables (None)."""
        if not self.exists(name):
            return None
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self.path(name)) for f in fs
        )

    def hint_small(self, name: str, df: DataFrame | None = None,
                   threshold_bytes: int | None = None) -> DataFrame:
        """The table's DataFrame, broadcast-hinted iff it is under the
        broadcast threshold (default: the session's
        ``autoBroadcastJoinThreshold``; hinting is DISABLED when that
        conf is non-positive, mirroring Spark's own semantics). The
        size check uses live on-disk bytes — filesystem metadata, no
        data scan — so tables grown by streaming appends or replaced
        out-of-band are never force-broadcast on stale manifest
        numbers; the manifest requirement gates the hint to tables this
        catalog actually knows. Parquet bytes undercount the in-memory
        size, so this is a hint in the true sense — unknown tables come
        back unhinted and planning falls through to Spark's estimate."""
        from pyspark.sql import functions as F

        df = df if df is not None else self.table(name)
        if threshold_bytes is None:
            threshold_bytes = _parse_size_conf(
                self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
        if threshold_bytes <= 0:
            return df  # broadcast disabled for the session
        live = self._live_bytes(name)
        if self.stats(name) is not None and live is not None and live <= threshold_bytes:
            return F.broadcast(df)
        return df

    def path(self, name: str) -> str:
        base = os.path.join(self.project_dir, name)
        return base + ".parquet" if os.path.exists(base + ".parquet") else base

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def _bucket_name(self, name: str) -> str:
        """Session-catalog identifier for this project's bucketed table:
        suffixed with a project-dir hash so two projects with a table of
        the same name never collide in the shared session catalog."""
        import hashlib

        return f"{name}__{hashlib.md5(self.project_dir.encode('utf-8')).hexdigest()[:8]}"

    def _drop_bucket_entry(self, name: str) -> None:
        """Invalidate a catalog entry registered by :meth:`write_bucketed`.

        Any plain (non-bucketed) rewrite of the same logical table must
        drop the catalog registration: otherwise :meth:`table` keeps
        preferring the stale entry and Spark plans shuffle-free joins
        against files that are no longer bucketed — 'Invalid bucket
        file' at best, silently wrong join results at worst. EXTERNAL
        table, so the DROP removes only metadata, never data files.
        """
        qual = self._bucket_name(name)
        if self.spark.catalog.tableExists(qual):
            self.spark.sql(f"DROP TABLE IF EXISTS `{qual}`")

    def _read(self, path: str, version: tuple) -> DataFrame:
        hit = self._schemas.get(path)
        if hit is not None and hit[0] == version:
            return self.spark.read.schema(hit[1]).parquet(path)
        df = self.spark.read.parquet(path)  # the one inference job per version
        self._schemas[path] = (version, df.schema)
        return df

    def read(self, name: str) -> DataFrame:
        """A NEW lazy DataFrame over the table's current files (distinct
        attribute ids on every call, so two reads of one table self-join
        cleanly). No Spark job once the version's schema is known."""
        path = self.path(name)
        return self._read(path, _files_version(path))

    def table(self, name: str) -> DataFrame:
        """Catalog-registered (bucketed) tables first, then parquet dirs —
        bucket metadata only flows into plans via the catalog entry. The
        same DataFrame comes back while the table's version holds; any
        write, in this process or not, makes the next call resolve
        again."""
        path = self.path(name)
        version = _files_version(path)
        hit = self._tables.get(name)
        if hit is None or hit[0] != version:
            qual = self._bucket_name(name)
            if self.spark.catalog.tableExists(qual):
                df = self.spark.table(qual)
            else:
                df = self._read(path, version)
            hit = self._tables[name] = (version, df)
        return hit[1]

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self.table(name)

    def register_views(self, tables: tuple[str, ...] | None = None) -> None:
        """Register each table as a temp view for ``spark.sql`` use."""
        names = tables or tuple(
            f.removesuffix(".parquet")
            for f in os.listdir(self.project_dir)
            if f.endswith(".parquet") or os.path.isdir(os.path.join(self.project_dir, f))
        )
        for name in names:
            self.table(name).createOrReplaceTempView(name)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        """Append/overwrite sink (reference S8, ``to_sql if_exists=append``)."""
        if mode == "append":
            # A table created by the streaming sink carries a
            # _spark_metadata manifest; batch readers then trust ONLY the
            # manifest, so a plain batch append would write files the
            # reader silently never sees. Streamed tables are
            # stream-append-only — refuse rather than lose rows.
            target = self.path(name) if self.exists(name) else os.path.join(self.project_dir, name)
            if os.path.isdir(os.path.join(target, "_spark_metadata")):
                raise ValueError(
                    f"table {name!r} was written by the streaming sink "
                    "(_spark_metadata present); batch appends would be "
                    "invisible to readers — continue via stream_to_catalog"
                )
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name) if self.exists(name) else os.path.join(self.project_dir, name))
        self._drop_bucket_entry(name)
        self._record_stats(name)

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024,
                sort_within_by: list[str] | None = None) -> int:
        """Rewrite a table into ~``target_file_bytes`` files.

        Streaming/incremental appends accumulate small files (each
        micro-batch/append is its own file); small files poison scan
        parallelism bookkeeping and footer overhead at scale. Reads the
        table, coalesces to ceil(bytes/target), optionally restores the
        sort-on-write order (min/max pruning survives compaction), and
        atomically replaces via a staging directory. Returns the new
        file count.
        """
        path = self.path(name)
        # The whole read-rewrite-swap holds the table lock (same reason
        # as update_staged: the file listing is captured at read time, so
        # a concurrent staged writer's swap would delete this job's
        # input files mid-read).
        with _table_lock(path):
            total = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path) for f in fs
            )
            n_files = max(1, -(-total // target_file_bytes))
            df = self.read(name)
            if sort_within_by:
                df = df.repartition(n_files).sortWithinPartitions(*sort_within_by)
            else:
                df = df.coalesce(n_files)
            staging = self._staging_dir(path, "compact")
            df.write.mode("overwrite").parquet(staging)
            _atomic_swap(path, staging)
        self._drop_bucket_entry(name)
        self._record_stats(name)
        return sum(
            1 for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )

    @staticmethod
    def _staging_dir(path: str, tag: str) -> str:
        """Writer-unique staging directory name: concurrent staged
        writers never clobber each other's in-progress output; only the
        final rename is serialized (per-table lock, last swap wins)."""
        import uuid

        return f"{path.rstrip('/')}.__{tag}_{os.getpid()}_{uuid.uuid4().hex[:8]}__"

    def overwrite_staged(self, df: DataFrame, name: str) -> None:
        """Overwrite a table whose new contents are DERIVED FROM ITSELF
        (read-transform-overwrite, e.g. a point update): write to a
        staging directory first — the read of the live table happens
        during that job, executor-side — then atomically swap. No
        driver collect, no window with the table missing.

        Concurrency: SINGLE-WRITER. The caller's ``df`` captured the
        table's file listing when it was built; a concurrent writer's
        swap removes those files mid-job. For concurrent point updates
        use :meth:`update_staged`, which serializes the whole
        read-transform-swap per table.
        """
        path = self.path(name)
        staging = self._staging_dir(path, "staged")
        df.write.mode("overwrite").parquet(staging)
        with _table_lock(path):
            _atomic_swap(path, staging)
        self._drop_bucket_entry(name)
        self._record_stats(name)

    def update_staged(self, name: str, transform) -> None:
        """Serialized read-transform-overwrite (the S11 upsert story at
        scale): ``transform(df) -> df`` is applied to a FRESH read of
        the table and the staged write + atomic swap all run under the
        per-table lock — concurrent in-process updaters fully
        serialize, each sees its predecessor's result (no lost
        updates), and the table always holds one writer's complete
        output. Executor-side throughout; no driver collect.

        Cross-PROCESS updaters on the same host serialize too: the
        per-table threading lock nests a ``flock`` on a sibling
        lockfile (:func:`_table_lock`), so two driver processes sharing
        a project directory each see the predecessor's swap before
        reading. Multi-HOST writers remain out of scope — flock does
        not span filesystems; that needs a real transaction log
        (Delta/Iceberg), as any log-less parquet layout does.
        """
        path = self.path(name)
        with _table_lock(path):
            out = transform(self.read(name))
            staging = self._staging_dir(path, "staged")
            out.write.mode("overwrite").parquet(staging)
            _atomic_swap(path, staging)
        self._drop_bucket_entry(name)
        self._record_stats(name)

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """Write hash-bucketed (and optionally sorted) parquet, registered
        in the session catalog.

        Two tables bucketed on the same key with the same bucket count
        join WITHOUT a shuffle (each bucket pairs off 1:1) — the standing
        replacement for repeated shuffles on a hot join key, e.g. the
        junction master ⋈ bridge fk join on every query. ``partition_by``
        composes: directory partitions for coarse pruning + buckets for
        the co-located join. Bucket metadata lives in the table catalog
        (under a project-qualified name, see :meth:`_bucket_name`), so
        production deployments back this with a real metastore; reads go
        through ``spark.table`` / :meth:`table`, which prefers the
        catalog entry.
        """
        w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.option("path", os.path.join(self.project_dir, name)).saveAsTable(self._bucket_name(name))
        self._record_stats(name)


def session_catalog(spark: SparkSession, project_dir: str) -> ProjectCatalog:
    """The catalog over ``project_dir`` shared by every caller on
    ``spark``, so a table's schema is inferred once per session and
    table version. It lives on the session object and ends with it."""
    catalogs = spark.__dict__.setdefault("_clinpy_catalogs", {})
    key = os.path.abspath(project_dir)
    if key not in catalogs:
        catalogs[key] = ProjectCatalog(spark, project_dir)
    return catalogs[key]
