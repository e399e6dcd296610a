"""A Python worker reads each archive's directory once, not once per task.

PySpark calls ``importlib.invalidate_caches()`` before every task, which
on CPython 3.11 makes every zipimporter on the worker's path re-read its
archive. ``session.worker_bootstrap``, called first by every engine
Arrow/pandas function, makes that re-read conditional on the archive
having changed. These tests count ``zipimport._read_directory`` calls
inside the workers across two Spark jobs over the same partitions.
"""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pyarrow as pa
import pytest

from opentopodata_spark import session
from opentopodata_spark.operators import elevation, extract

N_PARTS = 8
_READS_SCHEMA = "pid long, reads long"


def _counted(engine_fn):
    """A task that counts this worker's archive-directory reads, runs
    ``engine_fn`` over its input (or, for None, puts the stdlib
    ``invalidate_caches`` back: a worker without the bootstrap) and yields
    (pid, reads so far)."""

    def task(batches):
        import os
        import zipimport

        if not hasattr(zipimport, "_test_reads"):
            zipimport._test_reads = 0
            read = zipimport._read_directory

            def counted(archive):
                zipimport._test_reads += 1
                return read(archive)

            zipimport._read_directory = counted
        if engine_fn is None:
            from opentopodata_spark import session

            zipimport.zipimporter.invalidate_caches = session._stdlib_invalidate
            for _ in batches:
                pass
        else:
            for _ in engine_fn(batches):
                pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [zipimport._test_reads]})

    return task


def _two_jobs(df, engine_fn):
    """Run the counted task twice over the same partitions. Returns
    {pid: reads after its last job-1 task}, {pid: [reads after each of
    its job-2 tasks]}."""
    task = _counted(engine_fn)
    first, second = {}, {}
    for r in df.mapInArrow(task, _READS_SCHEMA).collect():
        first[r.pid] = max(first.get(r.pid, 0), r.reads)
    for r in df.mapInArrow(task, _READS_SCHEMA).collect():
        second.setdefault(r.pid, []).append(r.reads)
    both = first.keys() & second.keys()
    assert both, "no Python worker served both jobs"
    return {p: first[p] for p in both}, {p: second[p] for p in both}


def _documents(spark):
    rows = [(i, ["text"], [f"{i % 80}.5,{i % 170}.25"]) for i in range(64)]
    return spark.createDataFrame(
        rows, "doc_id long, kind array<string>, text array<string>"
    ).repartition(N_PARTS)


def _engine_task(kind, spark, datasets):
    """(engine mapInArrow function, its input) for extraction or the
    resolver's sampler."""
    if kind == "extract":
        return extract._extract_batches, _documents(spark)
    ds = [datasets["srtm90subset"], datasets["etopo1deg"]]
    resolver = elevation.ElevationResolver(spark, ds, "bilinear")
    sampler = elevation._make_sampler(
        "bilinear", None, [d.name for d in ds],
        resolver._meta_bc, resolver._paths_bc,
    )
    points = spark.createDataFrame(
        [(i, 0.5 + i * 0.01, 10.5 + i * 0.01) for i in range(64)],
        "point_id long, lat double, lon double",
    ).repartition(N_PARTS)
    return sampler, points


@pytest.mark.parametrize("kind", ["extract", "sampler"])
def test_engine_task_rereads_no_archive(spark, datasets, kind):
    fn, df = _engine_task(kind, spark, datasets)
    first, second = _two_jobs(df, fn)
    assert {p: set(r) for p, r in second.items()} == {
        p: {n} for p, n in first.items()}


def test_without_bootstrap_every_task_rereads(spark):
    first, second = _two_jobs(spark.range(0, 64, 1, N_PARTS), None)
    for pid, reads in second.items():
        assert max(reads) - first[pid] >= len(reads), (pid, first[pid], reads)


def _write_module_zip(path, module: str, value: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


def test_zip_added_after_bootstrap_imports(spark, tmp_path):
    df = _documents(spark)
    df.mapInArrow(_counted(extract._extract_batches), _READS_SCHEMA).collect()
    module = f"otds_added_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{module}.zip")
    _write_module_zip(path, module, "added")
    spark.sparkContext.addPyFile(path)

    def task(batches):
        import importlib
        import os
        import zipimport

        from opentopodata_spark import session

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "value": [importlib.import_module(module).VALUE],
            "guarded": [zipimport.zipimporter.invalidate_caches
                        is session._guarded_invalidate],
        })

    rows = df.mapInArrow(
        task, "pid long, value string, guarded boolean").collect()
    assert {r.value for r in rows} == {"added"}
    assert any(r.guarded for r in rows)


def test_zip_rewritten_in_place_is_reread(spark, tmp_path):
    module = f"otds_rewritten_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{module}.zip")
    _write_module_zip(path, module, "old")
    df = _documents(spark)

    def load(batches):
        import importlib
        import os
        import sys

        from opentopodata_spark.operators import extract

        for _ in extract._extract_batches(batches):
            pass
        if path not in sys.path:
            sys.path.insert(0, path)
        sys.modules.pop(module, None)
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "value": [importlib.import_module(module).VALUE],
        })

    schema = "pid long, value string"
    before = {r.pid: r.value for r in df.mapInArrow(load, schema).collect()}
    assert set(before.values()) == {"old"}
    inode = os.stat(path).st_ino
    _write_module_zip(path, module, "rewritten, longer")
    assert os.stat(path).st_ino != inode
    after = df.mapInArrow(load, schema).collect()
    assert before.keys() & {r.pid for r in after}
    assert {r.value for r in after} == {"rewritten, longer"}


def test_driver_is_never_patched(spark, datasets):
    stdlib = session._stdlib_invalidate
    assert stdlib.__module__ == "zipimport"
    points = spark.createDataFrame(
        [(1, 0.5, 10.5)], "point_id long, lat double, lon double")
    elevation.ElevationResolver(
        spark, [datasets["etopo1deg"]], "bilinear").resolve(points).collect()
    list(extract._extract_batches(iter(())))
    assert zipimport.zipimporter.invalidate_caches is stdlib
