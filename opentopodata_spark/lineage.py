"""Per-partition lineage + checkpointed resume (SURVEY.md SNK5).

The north rule requires every stage to checkpoint per-partition lineage
(tile id, row counts, elevation checksums) so a 10^12-document job can
resume mid-pipeline instead of restarting. The reference has no analog
(each HTTP request is trivially retryable); at engine scale the unit of
retry must be a *partition*, not a job.

Design:

* Work is keyed by a deterministic **bucket** = pmod(xxhash64(point_id),
  n_buckets). Buckets are the resume granularity: coarse enough that the
  lineage table stays tiny (one row per bucket), fine enough that a
  restart loses at most 1/n_buckets of the work.
* A completed bucket = its rows are in ``<out>/data/_bucket=N/`` AND a
  lineage row (run_id, stage, bucket, n_rows, checksum) exists in
  ``<out>/lineage/``. Lineage is written strictly AFTER data, so a crash
  between the two leaves an orphan partition directory that the next
  resume deletes and recomputes — exactly-once at bucket granularity.
* Resume = anti-join the input's buckets against completed lineage
  buckets; only missing buckets re-enter the resolver.
* Checksums: sum(crc32(point_id|elevation@4dp|dataset)) per bucket —
  order-independent (integer sum), cheap, and sensitive to any value or
  attribution drift. Verification re-derives them from data files.

Storage is parquet directories (this sandbox has no Iceberg catalog
jars); the layout (append-only data partitions + append-only lineage
log) is exactly an Iceberg table pair, and the swap is a format string.
Filesystem maintenance uses local os/shutil here; production would use
the Hadoop FileSystem API through the same seam (_list_buckets/_drop).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["bucket_col", "lineage_stats", "resumable_resolve",
           "verify_lineage", "PyIcebergTables", "tables_for"]

LINEAGE_SCHEMA = "run_id string, stage string, bucket int, n_rows long, checksum long"


def bucket_col(point_id_col: str = "point_id", n_buckets: int = 64):
    return F.pmod(F.xxhash64(F.col(point_id_col)), F.lit(n_buckets)).cast("int")


def _iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs: spark.sql.catalog.<name>
    keys whose value mentions iceberg. Checks the launch-time SparkConf
    AND runtime-set SQL confs (``SET`` output), because catalog confs
    are legal in both places — and the runtime path is how tests inject
    a catalog without jars."""
    entries = dict(spark.sparkContext.getConf().getAll())
    for row in spark.sql("SET").collect():
        entries[row["key"]] = row["value"]
    return sorted(
        k.rsplit(".", 1)[1]
        for k, v in entries.items()
        if k.startswith("spark.sql.catalog.")
        and k.count(".") == 3  # the catalog key itself, not sub-confs
        and "iceberg" in str(v).lower()
    )


def ensure_table_format(spark: SparkSession, table_format: str) -> None:
    """The JVM-catalog half of the table-format seam: asserts an
    Iceberg catalog is configured (jar-backed route). Note that
    ``tables_for('iceberg')`` no longer requires this — without a
    catalog it now runs the pure-Python Iceberg v2 metadata layer
    (PyIcebergTables / opentopodata_spark.iceberg); this check remains
    the fail-fast gate for code that explicitly wants the
    catalog-managed route."""
    if table_format == "parquet":
        return
    if table_format != "iceberg":
        raise ValueError(f"Unknown table_format '{table_format}'.")
    if not _iceberg_catalogs(spark):
        raise RuntimeError(
            "table_format='iceberg' needs the iceberg-spark-runtime jar on "
            "the classpath and an Iceberg catalog configured "
            "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog"
            " + warehouse). Neither is available in this sandbox; the "
            "parquet layout written here is table-for-table identical — "
            "swap the writes to df.writeTo('<catalog>.<ns>.results')/"
            "('<catalog>.<ns>.lineage').append() once the catalog exists."
        )


def _checksum():
    return F.sum(
        F.crc32(
            F.concat_ws(
                "|",
                F.col("point_id").cast("string"),
                F.round(F.col("elevation"), 4).cast("string"),
                F.col("dataset"),
            )
        )
    ).cast("long")


def lineage_stats(resolved: DataFrame, run_id: str, stage: str) -> DataFrame:
    """Per-bucket (row count, elevation checksum) for a resolver output
    that already carries ``_bucket``."""
    return resolved.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"), _checksum().alias("checksum")
    ).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("_bucket").alias("bucket"),
        "n_rows",
        "checksum",
    )


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def _list_bucket_dirs(out_dir: str) -> dict[int, str]:
    d = _data_dir(out_dir)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in os.listdir(d):
        if name.startswith("_bucket="):
            out[int(name.split("=", 1)[1])] = os.path.join(d, name)
    return out


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    d = _lineage_dir(out_dir)
    if not os.path.isdir(d) or not any(
        f.endswith(".parquet") for f in os.listdir(d)
    ):
        return None
    return spark.read.parquet(d)


class ParquetTables:
    """Path-based table pair (the sandbox implementation): append-only
    bucket-partitioned parquet for data + an append-only parquet lineage
    log. Filesystem maintenance with local os/shutil; production on an
    object store would use the Hadoop FileSystem API behind the same
    methods."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.output = _data_dir(out_dir)

    def append_data(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy("_bucket").parquet(
            _data_dir(self.out_dir)
        )

    def read_data(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(_data_dir(self.out_dir))

    def append_lineage(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(_lineage_dir(self.out_dir))

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        return read_lineage(spark, self.out_dir)

    def data_buckets(self, spark: SparkSession) -> set[int]:
        return set(_list_bucket_dirs(self.out_dir))

    def drop_bucket(self, spark: SparkSession, bucket: int) -> None:
        path = _list_bucket_dirs(self.out_dir).get(bucket)
        if path:
            shutil.rmtree(path)


class IcebergTables:
    """The production table pair as two Iceberg tables
    (<catalog>.<namespace>.<name>_data / _lineage). Identifier-routed:
    every read/write goes through ``_append`` / ``_scan`` /
    ``_delete_bucket``, which use the Spark catalog API
    (df.writeTo(ident).append(), spark.table(ident), DELETE WHERE) — the
    operations Iceberg implements transactionally. Construction resolves
    the configured Iceberg catalog from the session conf and fails fast
    with setup instructions when none exists (ensure_table_format);
    tests inject a catalog conf plus recording overrides of the three
    low-level methods to pin that the whole resume protocol routes
    through these identifiers (tests/test_lineage.py) — the jars
    themselves are unavailable in this sandbox."""

    def __init__(self, spark: SparkSession, namespace: str, name: str):
        ensure_table_format(spark, "iceberg")
        catalog = _iceberg_catalogs(spark)[0]
        self.data_ident = f"{catalog}.{namespace}.{name}_data"
        self.lineage_ident = f"{catalog}.{namespace}.{name}_lineage"
        self.output = self.data_ident

    # -- the three primitive operations everything routes through
    def _append(self, df: DataFrame, ident: str) -> None:
        df.writeTo(ident).append()

    def _scan(self, spark: SparkSession, ident: str) -> DataFrame | None:
        try:
            return spark.table(ident)
        except Exception:
            return None  # table not created yet

    def _delete_bucket(self, spark: SparkSession, ident: str, bucket: int) -> None:
        spark.sql(f"DELETE FROM {ident} WHERE _bucket = {int(bucket)}")

    # -- TableFormat surface
    def append_data(self, df: DataFrame) -> None:
        self._append(df, self.data_ident)

    def read_data(self, spark: SparkSession) -> DataFrame:
        df = self._scan(spark, self.data_ident)
        if df is None:
            raise RuntimeError(f"missing Iceberg table {self.data_ident}")
        return df

    def append_lineage(self, df: DataFrame) -> None:
        self._append(df, self.lineage_ident)

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        return self._scan(spark, self.lineage_ident)

    def data_buckets(self, spark: SparkSession) -> set[int]:
        df = self._scan(spark, self.data_ident)
        if df is None:
            return set()
        return {r["_bucket"] for r in df.select("_bucket").distinct().collect()}

    def drop_bucket(self, spark: SparkSession, bucket: int) -> None:
        self._delete_bucket(spark, self.data_ident, bucket)


class PyIcebergTables:
    """The table pair as two REAL Iceberg v2 tables written by the
    pure-Python metadata layer (opentopodata_spark.iceberg): snapshots,
    Avro manifest lists/manifests, create-if-absent metadata commits —
    no jars, no catalog service (HadoopCatalog file layout). This is the
    route ``table_format='iceberg'`` takes when no JVM Iceberg catalog
    is configured; with one configured, IcebergTables (catalog
    identifiers) is used instead.

    Scale notes: ``data_buckets`` and ``drop_bucket`` are METADATA
    operations — partition values come from manifest entries, never
    from scanning data (the distinct-scan the parquet layout can't
    avoid); a bucket drop is a copy-on-write manifest rewrite plus one
    create-if-absent metadata commit, crash-safe at any point (an
    unreferenced manifest is garbage, not corruption)."""

    def __init__(self, out_dir: str):
        from opentopodata_spark import iceberg as _ice

        self._ice = _ice
        self.out_dir = out_dir
        self.data_loc = _data_dir(out_dir)
        self.lineage_loc = _lineage_dir(out_dir)
        self.output = self.data_loc

    def _table(self, loc, df=None, partition_col=None):
        if not self._ice.table_exists(loc):
            if df is None:
                return None
            return self._ice.IcebergTable.create(
                loc, df.schema, partition_col=partition_col)
        return self._ice.IcebergTable(loc)

    def append_data(self, df: DataFrame) -> None:
        t = self._table(self.data_loc, df, partition_col="_bucket")
        self._ice.append_dataframe(t, df)

    def read_data(self, spark: SparkSession) -> DataFrame:
        if not self._ice.table_exists(self.data_loc):
            raise RuntimeError(f"missing Iceberg table {self.data_loc}")
        return self._ice.read_table(spark, self.data_loc)

    def append_lineage(self, df: DataFrame) -> None:
        t = self._table(self.lineage_loc, df)
        self._ice.append_dataframe(t, df)

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        if not self._ice.table_exists(self.lineage_loc):
            return None
        df = self._ice.read_table(spark, self.lineage_loc)
        return None if df.isEmpty() else df

    def data_buckets(self, spark: SparkSession) -> set[int]:
        t = self._table(self.data_loc)
        return set() if t is None else {
            int(v) for v in t.partition_values() if v is not None}

    def drop_bucket(self, spark: SparkSession, bucket: int) -> None:
        t = self._table(self.data_loc)
        if t is not None:
            t.delete_partition(int(bucket))


def tables_for(
    spark: SparkSession, out_dir: str, table_format: str
) -> "ParquetTables | IcebergTables | PyIcebergTables":
    if table_format == "parquet":
        return ParquetTables(out_dir)
    if table_format != "iceberg":
        raise ValueError(f"Unknown table_format '{table_format}'.")
    if _iceberg_catalogs(spark):
        # out_dir doubles as namespace.name for the catalog layout
        ns, _, name = out_dir.replace("/", ".").strip(".").rpartition(".")
        return IcebergTables(spark, ns or "default", name or "results")
    # no JVM catalog: real Iceberg v2 metadata from the pure-Python
    # layer (HadoopCatalog layout) — snapshots/manifests/time travel
    # without jars
    return PyIcebergTables(out_dir)


def resumable_resolve(
    spark: SparkSession,
    resolver,
    points: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    run_id: str = "run-0",
    stage: str = "elevation",
    table_format: str = "parquet",
) -> dict:
    """Resolve elevations with bucket-granular checkpoint/resume.

    points must carry (point_id, lat, lon); every other input column
    (e.g. the document key) is carried through to the output, which
    holds exactly one row per input row, as with ``resolver.resolve``.
    Returns stats: {completed_before, orphans_dropped, processed,
    output}. Calling it again after a crash (or after completion) does
    only missing work.

    table_format: 'parquet' | 'iceberg' | a TableFormat instance
    (ParquetTables / IcebergTables / a test double) — every read and
    write below goes through it, so swapping storage is construction,
    not surgery."""
    tables = (
        table_format
        if not isinstance(table_format, str)
        else tables_for(spark, out_dir, table_format)
    )
    lineage = tables.read_lineage(spark)
    done: set[int] = set()
    if lineage is not None:
        done = {
            r.bucket for r in lineage.where(F.col("stage") == stage).collect()
        }

    # crash hygiene: data partitions with no lineage row are partial
    # output from a dead attempt — drop and recompute them
    orphans = [b for b in tables.data_buckets(spark) if b not in done]
    for b in orphans:
        tables.drop_bucket(spark, b)

    pts = points.withColumn("_bucket", bucket_col(n_buckets=n_buckets))
    todo = pts if not done else pts.where(~F.col("_bucket").isin(*done))

    processed = 0
    if not todo.isEmpty():
        carry = tuple(
            c for c in points.columns
            if c not in ("point_id", "lat", "lon", "_bucket")
        )
        resolved = resolver.resolve(todo.drop("_bucket"), carry).withColumn(
            "_bucket", bucket_col(n_buckets=n_buckets)
        )
        tables.append_data(resolved)
        # lineage strictly after data: compute from what was WRITTEN
        written = tables.read_data(spark).where(
            ~F.col("_bucket").isin(*done) if done else F.lit(True)
        )
        stats = lineage_stats(written, run_id, stage)
        processed = stats.count()
        tables.append_lineage(stats)

    return {
        "completed_before": len(done),
        "orphans_dropped": len(orphans),
        "processed": processed,
        "output": tables.output,
    }


def verify_lineage(
    spark: SparkSession,
    out_dir: str,
    stage: str = "elevation",
    table_format="parquet",
) -> bool:
    """Recompute per-bucket counts+checksums from data files and compare
    with the lineage log (detects corruption / partial writes). Reads go
    through the same TableFormat seam as resumable_resolve."""
    tables = (
        table_format
        if not isinstance(table_format, str)
        else tables_for(spark, out_dir, table_format)
    )
    lineage = tables.read_lineage(spark)
    if lineage is None:
        return False
    actual = lineage_stats(
        tables.read_data(spark), "verify", stage
    ).select("bucket", "n_rows", "checksum")
    logged = lineage.where(F.col("stage") == stage).select(
        "bucket", "n_rows", "checksum"
    )
    return (
        actual.exceptAll(logged).isEmpty() and logged.exceptAll(actual).isEmpty()
    )
