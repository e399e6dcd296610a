"""SparkSession builder with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point (and harmless locally):
- AQE on, with skew-join splitting for the join-shaped operators
  (spatial and interval joins); the elevation resolver has no
  join and spreads hot spatial cells by salting its one shuffle
  (SURVEY.md §4);
- Arrow enabled with bounded batch sizes (the mapInArrow raster sampler
  holds one Arrow batch + one memory-mapped tile window at a time);
- a broadcast threshold generous enough for the small side of those
  joins (anchor sets, polygon layers).

``worker_bootstrap`` is the Python workers' side: it makes a task's
start free of PySpark's per-task re-read of every zip's directory.

Session start
-------------
A fresh driver JVM spends its first seconds loading and verifying
Spark's classes: a trivial first SQL job took 4.9-5.2 s. With a local
master, ``get_spark`` starts the driver JVM from a JDK class-data-sharing
(CDS) archive of the classes an earlier session loaded:

- The archive is ``opentopodata_spark_cds_<uid>_<key>.jsa`` in
  ``tempfile.gettempdir()``, next to the package zip. Its key covers the
  JVM binary and ``libjvm.so``, every jar in ``$SPARK_HOME/jars`` (name,
  size, mtime) and the conf directory, so a changed JDK or Spark gets a
  new archive. Delete the ``opentopodata_spark_cds_*`` files to drop it;
  the next session writes it again.
- The first session for a key holds ``<archive>.lock`` (O_EXCL, naming
  its pid) and lists the classes its JVM loads
  (``-XX:DumpLoadedClassList``, which costs nothing measurable); a
  concurrent first session launches without the archive. At interpreter
  exit that session closes the gateway's stdin, waits for the JVM to
  exit, and runs ``java -Xshare:dump`` over the list with the same class
  path into ``<archive>.<pid>.tmp`` (~48 s on 4 vCPU). It publishes the
  file with ``os.replace`` only if both JVMs exited with code 0, and
  records its size in ``<archive>.size``. An archive whose size no
  longer matches is deleted before launch: the JDK dies with SIGBUS on a
  truncated one. A dead pid's lock, class list and ``.tmp`` are removed.
  Recording with ``-XX:ArchiveClassesAtExit`` instead made the writing
  session's class loading 40-100% slower (docs/DATA_PIPELINE.md).
- JDK 17 refuses a non-empty directory on the class path of an archive,
  and the launcher puts the conf directory first. The archive is used
  only when that directory (``$SPARK_CONF_DIR``, else
  ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files, none of
  which Spark reads; the JVM is then launched with ``SPARK_CONF_DIR``
  pointing at an empty directory the engine owns. A real conf file, an
  extra class path, a non-local master or an existing gateway JVM
  launch exactly as before.
- The flags go in ``spark.driver.defaultJavaOptions`` (a caller's
  ``extraJavaOptions`` still apply) with CDS logging off, so a refused
  archive prints nothing. Every JVM the engine launches writes a crash
  log, if any, under the temp directory (``-XX:ErrorFile``), never into
  the caller's working directory.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import tempfile
import zipfile
import zipimport
from typing import NamedTuple

from pyspark import SparkContext, SparkFiles
from pyspark.find_spark_home import _find_spark_home
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


_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# the archive dump took 47-48 s on 4 vCPU; past this it is killed and
# its archive dropped
_DUMP_WAIT_S = 300


class _Launch(NamedTuple):
    """How ``get_spark`` launches the driver JVM: its extra options, the
    conf directory it is launched with (None: as configured) and, for
    the session that writes the archive, (java, class list, archive,
    lock)."""

    java_opts: list[str]
    conf_dir: str | None = None
    dump: tuple[str, str, str, str] | None = None


def _java() -> str | None:
    """The java binary Spark's launcher runs: $JAVA_HOME's, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _only_templates(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except OSError:
        return False
    return all(n.endswith(".template")
               and os.path.isfile(os.path.join(conf_dir, n)) for n in names)


def _cds_key(java: str, spark_home: str, conf_dir: str, class_conf_dir: str) -> str:
    """Hash of what a class-data archive depends on: the JVM, the jars on
    the class path (name, size, mtime) and the conf directories."""
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)),
                          "lib", "server", "libjvm.so")
    key = hashlib.sha256(f"{conf_dir}\0{class_conf_dir}".encode())
    for name in sorted(os.listdir(conf_dir)):
        key.update(f"\0{name}".encode())
    for path in [java, libjvm, *sorted(glob.glob(os.path.join(spark_home, "jars", "*")))]:
        if os.path.exists(path):
            st = os.stat(path)
            key.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return key.hexdigest()[:16]


def _remove(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _published(archive: str) -> bool:
    """True when ``archive`` has the size recorded when it was published.
    Any other archive is deleted: the JVM dies with SIGBUS on a truncated
    one."""
    try:
        size = os.path.getsize(archive)
    except OSError:
        return False
    try:
        with open(f"{archive}.size") as f:
            recorded = int(f.read())
    except (OSError, ValueError):
        recorded = None
    if recorded == size:
        return True
    _remove(archive)
    return False


def _lock_pid(lock: str) -> int | None:
    try:
        with open(lock) as f:
            return int(f.read())
    except (OSError, ValueError):
        return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(archive: str) -> str | None:
    """Create ``<archive>.lock`` naming this pid, or None while a live
    process holds it. A dead holder's lock, class list and tmp file are
    removed."""
    lock = f"{archive}.lock"
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            holder = _lock_pid(lock)
            if holder is not None and _alive(holder):
                return None
            _remove(lock)
            if holder is not None:
                _remove(f"{archive}.{holder}.classlist")
                _remove(f"{archive}.{holder}.tmp")
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return lock
    return None


def _err_file() -> str:
    return os.path.join(tempfile.gettempdir(), "opentopodata_spark_hs_err_pid%p.log")


def _publish_at_exit(proc, class_path: str, java: str, classes: str,
                     archive: str, lock: str) -> None:
    """Let the gateway JVM exit, so that its class list is complete, then
    dump the listed classes into a static archive over the same class
    path, and publish it only if both JVMs exited with code 0. ``proc``
    is the gateway's ``Popen``; the JVM exits when its stdin closes."""
    tmp = f"{archive}.{os.getpid()}.tmp"
    try:
        if proc.poll() is None:
            sc = SparkContext._active_spark_context
            if sc is not None:
                # stopped first, its accumulator server does not see the
                # JVM go away mid-connection (an EOFError traceback)
                sc.stop()
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.isfile(classes):
            return
        dump = subprocess.run(
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
             f"-XX:SharedArchiveFile={tmp}", f"-XX:ErrorFile={_err_file()}",
             "-cp", class_path],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=_DUMP_WAIT_S)
        if dump.returncode == 0 and os.path.isfile(tmp) and os.path.getsize(tmp):
            record = f"{archive}.size.{os.getpid()}.tmp"
            with open(record, "w") as f:
                f.write(str(os.path.getsize(tmp)))
            os.replace(record, f"{archive}.size")
            os.replace(tmp, archive)
    except subprocess.TimeoutExpired:
        pass
    finally:
        _remove(tmp)
        _release(classes, lock)


def _release(classes: str, lock: str) -> None:
    _remove(classes)
    if _lock_pid(lock) == os.getpid():
        _remove(lock)


def _driver_launch(master: str, extra_conf: dict) -> _Launch | None:
    """Decide how the driver JVM is launched; None when the engine
    launches none (an external master, or a gateway JVM that exists)."""
    if (not master.startswith("local") or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return None
    tmp = tempfile.gettempdir()
    plain = _Launch([shlex.quote(f"-XX:ErrorFile={_err_file()}")])
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = _java()
    # the launcher's class path is then exactly <conf dir>:<slf4j-api>:jars/*
    if (java is None or not _only_templates(conf_dir)
            or "spark.driver.extraClassPath" in extra_conf
            or os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR")
            or os.environ.get("SPARK_DIST_CLASSPATH")):
        return plain
    empty = os.path.join(tmp, f"opentopodata_spark_conf_{os.getuid()}")
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        return plain
    key = _cds_key(java, spark_home, conf_dir, empty)
    archive = os.path.join(tmp, f"opentopodata_spark_cds_{os.getuid()}_{key}.jsa")
    if _published(archive):
        flag = shlex.quote(f"-XX:SharedArchiveFile={archive}")
        return _Launch(plain.java_opts + [flag, _CDS_QUIET], empty)
    lock = _take_lock(archive)
    if lock is None:
        return plain
    classes = f"{archive}.{os.getpid()}.classlist"
    _remove(classes)
    flag = shlex.quote(f"-XX:DumpLoadedClassList={classes}")
    return _Launch(plain.java_opts + [flag], empty, (java, classes, archive, lock))


def _launch_gateway(builder, launch: _Launch | None) -> SparkSession:
    """``builder.getOrCreate()`` with the launch's conf directory in the
    environment of the launcher only."""
    if launch is None or launch.conf_dir is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


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
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    launch = _driver_launch(master, extra_conf)
    if launch is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", " ".join(
            launch.java_opts + [extra_conf.get("spark.driver.defaultJavaOptions", "")]
        ).strip())
    try:
        spark = _launch_gateway(builder, launch)
    except BaseException:
        if launch is not None and launch.dump is not None:
            _java, classes, _archive, lock = launch.dump
            _release(classes, lock)
        raise
    if launch is not None and launch.dump is not None:
        # the archive is only valid for this exact class path, as the
        # launcher built and the java launcher expanded it
        jvm = spark.sparkContext._jvm
        class_path = jvm.java.lang.System.getProperty("java.class.path")
        atexit.register(_publish_at_exit, spark.sparkContext._gateway.proc,
                        class_path, *launch.dump)
    # Make the package importable inside Python workers regardless of how
    # the driver found it (repo checkout, arbitrary cwd, spark-submit).
    spark.sparkContext.addPyFile(_package_zip())
    return spark


# public name: used by `python -m opentopodata_spark.jobs.package` to emit
# the archive handed to `spark-submit --py-files`.
package_zip = _package_zip
