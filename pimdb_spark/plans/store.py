"""Parquet 'database' directory (SURVEY §2.1 S8/S9 and §7 architecture).

A database is a directory with one parquet dataset per table.  Every
table write — plain, hive-partitioned, bucketed, compacted, range-sorted,
or a streaming merge — replaces its directory through ONE path,
replace_directory(): the new files land in ``<table>.parquet.tmp`` and are
swapped in only once complete, so readers see the old table or the new
one, never an emptied or half-written one.  That is the crash-safe form of
pimdb's truncate-before-load (database.py:369-371); dropping obsolete
tables (database.py:582-586) is deleting datasets not in the current
table list.  Every table is registered as a temp view so ``spark.sql``
serves the pass-through query surface.

A table is resolved once per on-disk VERSION, the ``(st_ino,
st_mtime_ns)`` of its directory (table_version()): read() reuses the
parquet schema it last saw for that version instead of running a footer
job to infer it again, and register_all() re-creates only the views whose
table changed.  The key is sound because replace_directory() always
swaps in a NEW directory, so every replace — by this object, by
streaming/refresh.merge_batch, or by another process — changes the
inode.  That is why every table replace must keep going through
replace_directory(): an in-place overwrite or append into a table
directory keeps its inode and moves only its mtime (not at all for files
added under an existing partition subdirectory).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_SWAP_OLD_SUFFIX = ".swap.old"

# a table directory's (st_ino, st_mtime_ns); None while it is missing
Version = tuple[int, int] | None

# session UUID -> lower-cased view name -> (table path, table version) of
# the view register_all() last created there.  Keyed by session, not by
# database: temp views are session state, and two databases in one
# session that share a table name share its view.
_SESSION_VIEWS: dict[str, dict[str, tuple[str, Version]]] = {}


def swap_directory(path: str, tmp: str) -> None:
    """Replace the directory at ``path`` with the fully-written ``tmp``.

    Two renames, NOT one atomic operation: a reader in the gap between
    them sees ``path`` missing (it should retry), and a crash in the gap
    leaves ``<path>.swap.old`` behind — recover_swap() rolls that forward
    or back.  What this DOES guarantee is that no reader ever sees a
    half-written mix of old and new files, and the old data is never
    deleted before the new data is complete on disk — which is the
    failure mode of read-then-overwrite-in-place (cache eviction or
    executor loss mid-write recomputes from already-deleted input).
    On a real deployment this is the rename dance HDFS/object-store
    committers do; with Delta/Iceberg it becomes a metadata-only commit.
    """
    old = path + _SWAP_OLD_SUFFIX
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_swap(path: str) -> bool:
    """Repair an interrupted swap_directory: if a crash left
    ``<path>.swap.old``, roll back (restore it as ``path`` when ``path``
    is missing) or roll forward (delete it when ``path`` exists).
    Returns True if anything was repaired."""
    old = path + _SWAP_OLD_SUFFIX
    if not os.path.exists(old):
        return False
    if os.path.exists(path):
        shutil.rmtree(old)
    else:
        os.rename(old, path)
    return True


def replace_directory(path: str, write: Callable[[str], None]) -> None:
    """Replace the directory at ``path`` with what ``write(tmp)`` writes.

    The only way a table directory is replaced: clear a stale
    ``<path>.tmp``, let ``write`` fill it, then swap_directory() it in.
    The old files outlive the write, so ``write`` may read the very
    table it replaces, and a failed write leaves the old table intact
    and removes its own partial output."""
    tmp = path + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    swap_directory(path, tmp)


def table_version(path: str) -> Version:
    """On-disk version of the table directory at ``path``: its inode and
    mtime, or None if it is missing.  One stat, no Spark job."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


def _as_nullable(dt: DataType) -> DataType:
    """Spark's DataType.asNullable: every field, array element and map
    value nullable — the schema a file source reads back."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _session_views(spark: SparkSession) -> dict[str, tuple[str, Version]]:
    return _SESSION_VIEWS.setdefault(spark._jsparkSession.sessionUUID(), {})


class ParquetDatabase:
    def __init__(
        self,
        spark: SparkSession,
        db_dir: str,
        bucket_spec: dict[str, tuple[str | list[str], int]] | None = None,
    ):
        """``bucket_spec`` maps table name -> (bucket columns, bucket
        count).  Tables in the spec are written as EXTERNAL bucketed
        tables: the parquet files still live at ``path(table)`` (so
        exists/drop/plain readers keep working), while the bucketing
        metadata lives in the session catalog and ``read`` returns the
        catalog relation — joins on the bucket key then skip their
        Exchange entirely (SURVEY §4: bucketing is the Spark replacement
        for the reference's join-key indexes).  The metadata is
        session-scoped: a NEW session over the same directory reads plain
        parquet (same rows, no bucket optimization) until the tables are
        re-registered."""
        self.spark = spark
        self.db_dir = db_dir
        self.bucket_spec = dict(bucket_spec or {})
        os.makedirs(db_dir, exist_ok=True)
        # catalog identifiers are db_dir-scoped so two databases in one
        # session never collide
        import hashlib

        self._bkt_prefix = (
            "bkt_" + hashlib.md5(db_dir.encode()).hexdigest()[:8] + "_"
        )
        # table -> (table_version, schema) of a plain or partitioned table
        self._schemas: dict[str, tuple[Version, StructType]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.db_dir, f"{table}.parquet")

    def _catalog_name(self, table: str) -> str:
        return self._bkt_prefix + table.lower()

    def write(
        self, df: DataFrame, table: str, partition_by: str | list[str] | None = None
    ) -> None:
        """Replace a table (replace_directory); ``partition_by``
        hive-partitions the dataset so equality/range filters on those
        columns prune whole directories at scan time (PartitionFilters —
        the Spark form of coarse indexing; use low-cardinality columns
        only, high-cardinality partitioning makes small files).  Tables
        named in ``bucket_spec`` are written bucketed instead (see
        __init__).

        A plain write leaves the frame's schema, made nullable, as the
        table's schema for the new version, so the next read() runs no
        footer job.  A partitioned table is inferred on its first read:
        Spark types partition columns from the directory names."""
        if table in self.bucket_spec:
            cols, n = self.bucket_spec[table]
            self._write_bucketed(df, table, cols, n)
            return
        w = df.write
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            w = w.partitionBy(*cols)
        path = self.path(table)
        replace_directory(path, w.parquet)
        if not partition_by:
            self._schemas[table] = (table_version(path), _as_nullable(df.schema))

    def _write_bucketed(
        self, df: DataFrame, table: str, bucket_cols: str | list[str], num_buckets: int
    ) -> None:
        """External bucketed write: repartition on the bucket key first so
        each task holds exactly one bucket (one file per bucket — without
        this, every task writes a file per bucket it touches, and the
        resulting multi-file buckets also stop Spark from exploiting the
        within-bucket sort).  sortBy the same key so downstream sort-merge
        joins skip their Sort as well as their Exchange.

        bucketBy needs saveAsTable, so the files are written under a temp
        catalog name; that entry and the final one are both EXTERNAL
        (dropping them is metadata-only).  The final entry is re-created
        over the swapped-in files via DDL, preserving the bucket
        metadata."""
        cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
        name = self._catalog_name(table)
        tmp_name = name + "_swaptmp"
        path = self.path(table)

        def write(tmp: str) -> None:
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
            (
                df.repartition(num_buckets, *cols)
                .write.mode("overwrite")
                .format("parquet")
                .bucketBy(num_buckets, *cols)
                .sortBy(*cols)
                .option("path", tmp)
                .saveAsTable(tmp_name)
            )
            self.spark.sql(f"DROP TABLE {tmp_name}")

        schema_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        replace_directory(path, write)
        bucket_cols_sql = ", ".join(f"`{c}`" for c in cols)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.spark.sql(
            f"CREATE TABLE {name} ({schema_ddl}) USING PARQUET "
            f"CLUSTERED BY ({bucket_cols_sql}) SORTED BY ({bucket_cols_sql}) "
            f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
        )

    def to_jdbc(
        self,
        table: str,
        url: str,
        jdbc_table: str | None = None,
        mode: str = "overwrite",
        num_partitions: int | None = None,
        **properties: str,
    ) -> None:
        """Escape hatch to a real RDBMS: push a stored table out over JDBC
        — the literal form of the reference's batched-INSERT / COPY bulk
        load (pimdb/bulk.py:22-113), which this engine otherwise renders
        moot by writing parquet.

        Each partition opens one connection and streams batched INSERTs,
        so ``num_partitions`` bounds the connection count (coalesce, no
        shuffle) — at scale, size it to what the target database accepts,
        not to the cluster.  Requires the target's JDBC driver jar on the
        Spark classpath; extra ``properties`` (user, password, driver,
        batchsize, ...) pass through to the writer."""
        df = self.read(table)
        if num_partitions is not None:
            df = df.coalesce(num_partitions)
        df.write.mode(mode).jdbc(url, jdbc_table or table, properties=dict(properties))

    def read(self, table: str) -> DataFrame:
        """A fresh relation over the table's current files (so DataFrame
        self-joins keep distinct attribute ids); a bucketed table with a
        catalog entry reads through the catalog.

        The schema is inferred (one Spark job reading a parquet footer)
        only the first time a table version is read; later reads of that
        version pass the remembered schema.  The version is taken BEFORE
        the files are listed and checked again after, so a replace racing
        the read costs a later inference, never a schema that does not
        belong to the listed files."""
        if table in self.bucket_spec:
            name = self._catalog_name(table)
            if self.spark.catalog.tableExists(name):
                return self.spark.table(name)
        path = self.path(table)
        version = table_version(path)
        cached = self._schemas.get(table)
        if cached is not None and cached[0] == version:
            df = self.spark.read.schema(cached[1]).parquet(path)
            if table_version(path) == version:
                return df
        df = self.spark.read.parquet(path)
        self._schemas[table] = (version, df.schema)
        return df

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def drop(self, table: str) -> None:
        """Delete the table, and the session view register_all() made of
        it, so a later query on the name fails as "not found" rather than
        on missing files."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self._catalog_name(table)}")
        views = _session_views(self.spark)
        view = views.get(table.lower())
        if view is not None and view[0] == self.path(table):
            self.spark.catalog.dropTempView(table)
            del views[table.lower()]
        self._schemas.pop(table, None)
        if self.exists(table):
            shutil.rmtree(self.path(table))

    def table_names(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")] for f in os.listdir(self.db_dir) if f.endswith(".parquet")
        )

    def drop_obsolete(self, keep: list[str]) -> None:
        for t in self.table_names():
            if t not in keep:
                self.drop(t)

    def register_all(self) -> None:
        """Register every table as a session temp view named after it.

        A view pins the file listing it was created with, so it must be
        re-created whenever its table is replaced — and only then: a view
        is re-created only if its (path, table_version) differs from what
        was last registered under that name in this session, so a query
        over unchanged tables runs no Spark job here.  This relies on
        every replace going through replace_directory() (see the module
        docstring); a view replaced or dropped by code outside the store
        is not noticed."""
        views = _session_views(self.spark)
        for t in self.table_names():
            path = self.path(t)
            key = (path, table_version(path))
            if views.get(t.lower()) != key:
                self.read(t).createOrReplaceTempView(t)
                views[t.lower()] = key

    def sql(self, query: str) -> DataFrame:
        self.register_all()
        return self.spark.sql(query)

    def analyze(self, table: str, columns: list[str] | None = None) -> bool:
        """Collect table (and optionally column) statistics for the
        cost-based optimizer.  Only meaningful for bucketed tables (they
        live in the session catalog; path-read parquet relations take
        sizes from files directly): accurate rowCount/sizeInBytes lets
        Catalyst pick broadcast vs shuffle joins and reorder multi-way
        joins instead of guessing from compressed file sizes.  Returns
        False (no-op) for non-catalog tables."""
        if table not in self.bucket_spec:
            return False
        name = self._catalog_name(table)
        if not self.spark.catalog.tableExists(name):
            return False
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
        return True

    def compact(self, table: str, target_file_mb: int = 512) -> int:
        """Rewrite a table into ~target_file_mb-sized files and return the
        new file count.

        Incremental writers (streaming refresh, per-batch appends) leave
        many small files; at 100 TB small files dominate scan cost (task
        scheduling + footer reads, lost column-chunk locality).  The file
        count comes from the table's CURRENT on-disk size — measured, not
        guessed — and the rewrite is one narrow coalesce stage (no
        shuffle) written through write(), so a reader sees the old or the
        new table, never a half-written mix.

        Bucketed tables keep their layout: write() re-buckets them, so the
        bucket count fixes the file count (``target_file_mb`` is ignored
        and num_buckets is returned)."""
        if table in self.bucket_spec:
            n_files = self.bucket_spec[table][1]
        else:
            size_b = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(self.path(table))
                for f in files
                if f.endswith(".parquet")
            )
            n_files = max(1, -(-size_b // (target_file_mb * 1024 * 1024)))
        self.write(self.read(table).coalesce(n_files), table)
        return n_files


def write_sorted(
    db: "ParquetDatabase",
    df: DataFrame,
    table: str,
    sort_cols: str | Column | list[str | Column],
    num_files: int | None = None,
) -> None:
    """Range-partition + sort-within-partitions write: rows are globally
    clustered on ``sort_cols``, so every parquet file (and row group)
    covers a narrow min/max range of those columns and a range/equality
    filter skips whole files via footer statistics — the Spark-native
    form of coarse range indexing (complementary to hive partitioning,
    which needs low cardinality, and bucketing, which serves joins).
    One range-exchange (sampled boundaries); ``num_files`` bounds the
    output file count.

    A sort column may be an expression: ``zorder_key_2d(a, b)``
    (functions/zorder) clusters on a Morton key, so every file covers a
    small bounding box in BOTH dimensions and min/max stats prune range
    filters on either; the key is never stored.

    A range-sorted layout REPLACES a bucketed one: if ``table`` was in
    the database's bucket_spec, the catalog's bucketed entry is dropped
    and the spec entry removed, so later read()s return the plain
    parquet relation instead of a bucketed scan over files that no
    longer honor bucket naming."""
    if table in db.bucket_spec:
        db.spark.sql(f"DROP TABLE IF EXISTS {db._catalog_name(table)}")
        db.bucket_spec.pop(table, None)
    cols = list(sort_cols) if isinstance(sort_cols, (list, tuple)) else [sort_cols]
    out = (
        df.repartitionByRange(*([num_files] if num_files else []), *cols)
        .sortWithinPartitions(*cols)
    )
    db.write(out, table)
