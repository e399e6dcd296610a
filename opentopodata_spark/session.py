"""SparkSession builder with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point (and harmless locally):
- AQE on, with skew-join splitting for the join-shaped operators
  (spatial, interval and overlay joins); the elevation resolver has no
  join and spreads hot spatial cells by salting its one shuffle
  (SURVEY.md §4);
- Arrow enabled with bounded batch sizes (the mapInArrow raster sampler
  holds one Arrow batch + one memory-mapped tile window at a time);
- a broadcast threshold generous enough for the small side of those
  joins (anchor sets, polygon layers).

``worker_bootstrap`` is the Python workers' side: it makes a task's
start free of PySpark's per-task re-read of every zip's directory.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
import zipimport

from pyspark import SparkFiles
from pyspark.sql import SparkSession

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns, st_ino) when its directory was
# last read in this worker process
_archive_stamps: dict[str, tuple | None] = {}


def _stamp(archive: str) -> tuple | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _guarded_invalidate(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive only when
    its (size, mtime, inode) differs from the stamp of its last read, or
    when the directory cache no longer holds it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _archive_stamps.get(self.archive) != stamp:
        _stdlib_invalidate(self)
        _archive_stamps[self.archive] = stamp
    else:
        self._files = files


def worker_bootstrap() -> None:
    """Make a Python worker's per-task start free; every engine Arrow or
    pandas function calls this first.

    Before each task PySpark calls ``importlib.invalidate_caches()``, and
    on CPython 3.11 every zipimporter on the worker's path then re-reads
    its archive's directory (~0.2 s per task; the spark-core jar alone
    has ~5,000 entries). Installed once per worker, ``_guarded_invalidate``
    re-reads an archive only when it changed, as ``FileFinder`` does for
    directories; a zip added later by ``addPyFile`` is a new path with a
    new importer. The archives cached at install were just read by this
    task's own ``invalidate_caches``, so they are stamped as read. The
    driver is never patched."""
    if (zipimport.zipimporter.invalidate_caches is _guarded_invalidate
            or not SparkFiles._is_running_on_worker):
        return
    for archive in list(zipimport._zip_directory_cache):
        _archive_stamps[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def _package_zip() -> str:
    """Zip this package for shipment to Python workers (the local-mode
    equivalent of ``spark-submit --py-files``).

    The zip's name carries a hash of the package directory and of every
    module's path and bytes, so each checkout and each edit gets its own
    zip, and an existing zip is only ever reused for the same code."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # The package was imported FROM an archive (spark-submit
        # --py-files otds.zip): there is no directory to re-zip — the
        # archive itself IS the shippable package, and workers already
        # receive it via spark.submit.pyFiles. Walk up the virtual path
        # to the real zip file and hand that to addPyFile (a re-add of
        # an identical path is a harmless WARN).
        archive = pkg_dir
        while archive and not os.path.isfile(archive):
            parent = os.path.dirname(archive)
            if parent == archive:
                break
            archive = parent
        if archive and zipfile.is_zipfile(archive):
            return archive
        raise RuntimeError(
            f"opentopodata_spark imported from '{pkg_dir}' but no package "
            "archive found on the path — cannot ship code to workers"
        )
    root = os.path.dirname(pkg_dir)
    sources = {}
    for base, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(base, fn)
                with open(full, "rb") as f:
                    sources[os.path.relpath(full, root)] = f.read()
    key = hashlib.sha256(pkg_dir.encode())
    for rel in sorted(sources):
        key.update(f"\0{rel}\0{len(sources[rel])}\0".encode())
        key.update(sources[rel])
    out = os.path.join(
        tempfile.gettempdir(),
        f"opentopodata_spark_pyfiles_{os.getuid()}_{key.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel in sorted(sources):
                zf.writestr(rel, sources[rel])
        os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "opentopodata-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or join) the engine's SparkSession.

    master resolution: explicit arg > $SPARK_GRAFT_MASTER > local[cores].
    Pass master="external" (or set SPARK_GRAFT_MASTER=external) to defer
    to whatever ``spark-submit --master`` configured — the cluster path.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    builder = SparkSession.builder.appName(app_name)
    if master != "external":
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # InferFiltersFromGenerate clones the generator expression into a
        # pre-Generate filter. For explode-over-a-Python-UDF-result plans
        # that duplicates the whole ArrowEvalPython stage (measured 10x
        # slower at local[32] on the old pandas-UDF coordinate extraction;
        # extraction is now one mapInArrow pass with no Generate, but other
        # operators still explode UDF results). Where the inference
        # genuinely helps (pruning empty arrays at the scan) the operators
        # carry explicit size() filters.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master != "external":
        # One scan task per slot, not several waves: every Python task
        # pays a fixed worker start before user code runs, ~0.05 s on
        # local[4] with worker_bootstrap (0.2-0.3 s without it, when
        # this rule was set; see docs/DATA_PIPELINE.md), so a 4x-cores
        # split of a Python stage pays that start four times per slot.
        # Inputs larger than cores x 128 MB still split finer by the
        # normal file packing; minPartitionNum only splits finer than
        # packing would — it never merges.
        builder = builder.config("spark.sql.files.minPartitionNum", str(cores))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Make the package importable inside Python workers regardless of how
    # the driver found it (repo checkout, arbitrary cwd, spark-submit).
    spark.sparkContext.addPyFile(_package_zip())
    return spark


# public name: used by `python -m opentopodata_spark.jobs.package` to emit
# the archive handed to `spark-submit --py-files`.
package_zip = _package_zip
