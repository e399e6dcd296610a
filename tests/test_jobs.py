"""Tests for the spark-submit job surface (jobs.elevation, jobs.package)
and client-arg validation (args.py, reference api.py:153-269 parity)."""

from __future__ import annotations

import ast
import json
import math
import os
import subprocess
import sys
import zipfile

import pytest

from opentopodata_spark import args as A

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- args (P5-P8)


def test_parse_interpolation_default_and_whitelist():
    assert A.parse_interpolation(None) == "bilinear"
    assert A.parse_interpolation("cubic") == "cubic"
    with pytest.raises(A.ClientError, match="Invalid interpolation method 'lanczos'"):
        A.parse_interpolation("lanczos")


def test_parse_format():
    assert A.parse_format(None) == "json"
    assert A.parse_format("geojson") == "geojson"
    with pytest.raises(A.ClientError, match="Format must be"):
        A.parse_format("xml")


def test_parse_nodata_value():
    assert A.parse_nodata_value(None) is None
    assert A.parse_nodata_value("null") is None
    assert math.isnan(A.parse_nodata_value("NaN"))
    assert A.parse_nodata_value("-9999") == -9999
    with pytest.raises(A.ClientError, match="Invalid nodata value '1.5'"):
        A.parse_nodata_value("1.5")


def test_parse_n_samples():
    assert A.parse_n_samples(None) is None
    assert A.parse_n_samples("") is None
    assert A.parse_n_samples("5") == 5
    with pytest.raises(A.ClientError, match="at least 2 samples"):
        A.parse_n_samples("1")
    with pytest.raises(A.ClientError, match="Samples should be an integer"):
        A.parse_n_samples("2.5")
    with pytest.raises(A.ClientError, match="limit is 100"):
        A.parse_n_samples("500", max_n_locations=100)


# ---------------------------------------------------------------- package CLI


def test_package_zip_contains_modules(tmp_path):
    out = subprocess.run(
        [sys.executable, "-m", "opentopodata_spark.jobs.package", "--out", str(tmp_path / "otds.zip")],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip()
    names = zipfile.ZipFile(path).namelist()
    assert "opentopodata_spark/operators/elevation.py" in names
    assert "opentopodata_spark/jobs/elevation.py" in names


def _module_file(dotted: str):
    """The file a dotted ``opentopodata_spark...`` module name maps to,
    or None."""
    base = os.path.join(REPO, *dotted.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _top_level_names(path: str) -> set:
    names = set()
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        else:
            names.update(
                n.id for n in ast.walk(node)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            )
    return names


def _package_imports(path: str):
    """(lineno, module, imported names or None) for every
    ``opentopodata_spark`` import in ``path`` -- including the lazy ones
    inside functions, which no import-time check sees -- with relative
    imports resolved."""
    rel = os.path.relpath(path, REPO)
    package = os.path.dirname(rel).split(os.sep)  # where "." points
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            targets = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package[:len(package) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            targets = [(mod, [a.name for a in node.names])]
        else:
            continue
        for mod, names in targets:
            if mod.split(".")[0] == "opentopodata_spark":
                yield node.lineno, mod, names


def _package_files() -> list:
    pkg = os.path.join(REPO, "opentopodata_spark")
    return [
        os.path.join(base, fn)
        for base, _dirs, fns in os.walk(pkg)
        for fn in fns if fn.endswith(".py")
    ]


def _py_files(d: str) -> list:
    return [
        os.path.join(REPO, d, fn)
        for fn in sorted(os.listdir(os.path.join(REPO, d)))
        if fn.endswith(".py")
    ]


def test_no_dangling_package_imports():
    """Every ``opentopodata_spark`` import in the package, in
    ``__spark_entry__.py``, in ``tools/`` and in ``perfbench/``, the lazy
    ones included, names a module file, and every imported name exists
    in it. Every name a module lists in ``__all__`` is defined or
    imported at its top level, so a star import cannot break on a
    deleted name. ``oracle_sql()`` checks only
    queries that ``queries()`` registers."""
    dangling = []
    paths = [os.path.join(REPO, "__spark_entry__.py")] + _package_files()
    for path in paths + _py_files("tools") + _py_files("perfbench"):
        rel = os.path.relpath(path, REPO)
        for lineno, mod, names in _package_imports(path):
            target = _module_file(mod)
            if target is None:
                dangling.append(f"{rel}:{lineno} {mod}")
                continue
            for name in names or ():
                if _module_file(f"{mod}.{name}") is None and (
                    name not in _top_level_names(target)
                ):
                    dangling.append(f"{rel}:{lineno} {mod}.{name}")
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets
            ):
                defined = _top_level_names(path)
                dangling += [
                    f"{rel}:{node.lineno} __all__ {e.value}"
                    for e in node.value.elts if e.value not in defined
                ]
    assert dangling == []

    import __spark_entry__ as contract

    assert set(contract.oracle_sql()) <= set(contract.queries())


def test_no_orphan_package_modules():
    """Every package module is reachable by imports, the lazy ones
    included, from an entry point: the jobs, the driver contract,
    ``tools/`` and ``perfbench/``. A module that only tests import ships
    to every worker and does no work there."""
    roots = [os.path.join(REPO, "__spark_entry__.py")] + [
        f for d in ("opentopodata_spark/jobs", "tools", "perfbench")
        for f in _py_files(d)
    ]
    reached, todo = set(), roots
    while todo:
        path = todo.pop()
        if path in reached:
            continue
        reached.add(path)
        for _lineno, mod, names in _package_imports(path):
            parts = mod.split(".")
            # importing a submodule runs every package __init__ above it
            dotted = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            dotted += [f"{mod}.{name}" for name in names or ()]
            todo += [f for f in map(_module_file, dotted) if f is not None]
    orphans = sorted(
        os.path.relpath(f, REPO) for f in _package_files() if f not in reached
    )
    assert orphans == []


# OTDS_BLOCK_CACHE_MB goes when the decoded-block L1 does (one cache tier)
_ENV_KNOBS = {
    "CONFIG_PATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",
    "SPARK_DRIVER_MEM", "OTDS_BLOCK_CACHE_MB",
}
# Spark's, PySpark's and the JDK's own variables, which session.get_spark
# reads to know how Spark's launcher builds the driver JVM's class path
_ENV_KNOBS |= {
    "SPARK_CONF_DIR", "JAVA_HOME", "PYSPARK_GATEWAY_PORT",
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
}


def _env_reads(path: str):
    """(lineno, name) for every use of ``os.environ`` / ``os.getenv`` in
    ``path``: a subscript, a ``.get``/``getenv`` call or an ``in`` test.
    The name is None when it is not a string literal, or when the
    mapping is used whole (``dict(os.environ)``)."""
    tree = ast.parse(open(path).read())
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            continue
        up = parent.get(node)
        if isinstance(up, ast.Attribute) and up.attr == "get":
            up = parent.get(up)  # os.environ.get(...)
        if isinstance(up, ast.Subscript):
            key = up.slice
        elif isinstance(up, ast.Call) and up.args:
            key = up.args[0]
        elif isinstance(up, ast.Compare):
            key = up.left
        else:
            key = None
        name = key.value if isinstance(key, ast.Constant) else None
        yield node.lineno, name


def test_no_new_environment_knobs():
    """The package reads only the environment variables in _ENV_KNOBS.
    A knob that nothing sets leaves one value in use and a second code
    path untested; a new one needs a caller that sets it."""
    reads = [
        (os.path.relpath(path, REPO), lineno, name)
        for path in _package_files()
        for lineno, name in _env_reads(path)
    ]
    assert ("opentopodata_spark/config.py", "CONFIG_PATH") in {
        (rel, name) for rel, _lineno, name in reads
    }
    assert [r for r in reads if r[2] not in _ENV_KNOBS] == []


def test_formats_fixture_dir_is_keyed_by_formats_and_writers(
    tmp_path, monkeypatch
):
    """The contract's cross-format fixture directory belongs to one format
    list and one version of its writers: a changed list or writer gets a
    freshly written directory, never one another version left complete."""
    import __spark_entry__ as contract
    from opentopodata_spark import geotiff

    monkeypatch.setattr(contract, "_fixture_root", lambda: str(tmp_path))
    monkeypatch.setattr(contract, "_FORMAT_FMTS", ("tif",))
    first = contract._formats_fixture_dir()
    assert sorted(os.listdir(first)) == [".complete", "fmt_tif"]
    assert contract._formats_fixture_dir() == first

    monkeypatch.setattr(contract, "_FORMAT_FMTS", ("tif", "asc"))
    second = contract._formats_fixture_dir()
    assert second != first
    assert sorted(os.listdir(second)) == [".complete", "fmt_asc", "fmt_tif"]

    edited = tmp_path / "geotiff.py"
    with open(geotiff.__file__, "rb") as f:
        edited.write_bytes(f.read() + b"\n# edited\n")
    monkeypatch.setattr(geotiff, "__file__", str(edited))
    third = contract._formats_fixture_dir()
    assert third not in (first, second)
    assert sorted(os.listdir(third)) == [".complete", "fmt_asc", "fmt_tif"]


def test_listing_oracles_builds_none(monkeypatch):
    """``oracle_sql()`` names every query that has an oracle without
    building one: the tables are built when a query's SQL is read."""
    import __spark_entry__ as contract

    built = []

    def refuse(name, builder):
        built.append(name)
        raise AssertionError(f"built the {name} oracle")

    monkeypatch.setattr(contract, "_oracle_parquet", refuse)
    names = set(contract.oracle_sql())
    assert built == []
    assert set(contract._PRECOMPUTED_BUILDERS) | {
        "zonal_stats", "zonal_majority"} <= names


def test_check_contract_fails_a_query_whose_oracle_raises(
    tmp_path, monkeypatch, capsys
):
    """An oracle builder that raises fails its query, with the exception
    in the FAIL line, instead of leaving it to a rows-only pass; and
    only the oracles of the queries named on the command line are
    built."""
    import importlib.util

    import pandas as pd

    import __spark_entry__ as contract
    from opentopodata_spark import session

    def broken(sf_dir):
        raise RuntimeError("oracle builder broke")

    other = []
    monkeypatch.setitem(contract._PRECOMPUTED_BUILDERS, "s2_cells", broken)
    monkeypatch.setitem(contract._PRECOMPUTED_BUILDERS, "geodesic_paths",
                        lambda sf_dir: other.append(sf_dir))
    monkeypatch.setattr(contract, "_ORACLE_BUILT", {})

    class OneRow:  # stands in for a query's DataFrame: no Spark needed
        def toPandas(self):
            return pd.DataFrame({"x": [1]})

    monkeypatch.setattr(contract, "queries", lambda: {
        "s2_cells": lambda spark, sf_dir: OneRow(),
        "geodesic_paths": lambda spark, sf_dir: OneRow(),
    })
    monkeypatch.setattr(session, "get_spark", lambda **kw: None)
    monkeypatch.setenv("OTDS_ORACLE_SF_DIR", str(tmp_path))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(
        sys, "argv", ["check_contract.py", str(tmp_path), "s2_cells"])
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(REPO, "tools", "check_contract.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    assert check.main() == 1
    out = capsys.readouterr().out
    assert ("FAIL  s2_cells: oracle error: "
            "RuntimeError('oracle builder broke')") in out
    assert "geodesic_paths" not in out
    assert other == []


# ------------------------------------------------------------- elevation job


def test_elevation_job_bad_args_fail_fast(tmp_path, raster_root, documents_path):
    """ClientError -> INVALID_REQUEST json + exit 2, before Spark starts."""
    from opentopodata_spark.jobs import elevation as job

    rc = job.main(
        [
            "--documents", documents_path,
            "--config", os.path.join(raster_root, "test-config.yaml"),
            "--datasets", "etopo1deg",
            "--out", str(tmp_path / "o"),
            "--interpolation", "lanczos",
        ]
    )
    assert rc == 2


def _assert_document_keyed(res, rows):
    """Each result row carries its document key, one row per point: the
    output re-attaches to its document without the point_id hash."""
    key = ("doc_id", "span_pos", "point_pos")
    assert set(key) <= set(res.columns)
    assert res.select(*key).distinct().count() == rows


def test_elevation_job_end_to_end(tmp_path, raster_root, documents_path, spark, capsys):
    """Full CLI run (reusing the session fixture's JVM via getOrCreate):
    parquet in -> results parquet out, resumable second run does nothing."""
    from opentopodata_spark.jobs import elevation as job

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    argv = [
        "--documents", documents_path,
        "--config", os.path.join(raster_root, "test-config.yaml"),
        "--datasets", "multi_eudem_etopo1",
        "--out", out,
        "--resume-dir", ckpt,
        "--cores", "4",
    ]
    assert job.main(argv) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["status"] == "OK"
    assert stats["rows"] > 0
    assert stats["completed_before"] == 0

    res = spark.read.parquet(f"{out}/results")
    assert {"point_id", "lat", "lon", "elevation", "dataset"} <= set(res.columns)
    _assert_document_keyed(res, stats["rows"])

    # resume: everything checkpointed, nothing reprocessed
    assert job.main(argv) == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["processed"] == 0
    assert stats2["completed_before"] > 0
    assert stats2["rows"] == stats["rows"]


def test_elevation_job_geojson_format(tmp_path, raster_root, documents_path, spark, capsys):
    from opentopodata_spark.jobs import elevation as job

    out = str(tmp_path / "gj")
    rc = job.main(
        [
            "--documents", documents_path,
            "--config", os.path.join(raster_root, "test-config.yaml"),
            "--datasets", "etopo1deg",
            "--out", out,
            "--format", "geojson",
            "--cores", "4",
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # geojson is a serialization format: results are JSON-lines text
    lines = spark.read.text(f"{out}/results")
    assert lines.count() == stats["rows"] > 0
    feat = json.loads(lines.first().value)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] == "Point"
    assert len(feat["geometry"]["coordinates"]) == 3


def test_elevation_job_via_spark_submit(tmp_path, raster_root, documents_path, spark):
    """The flagship job through the REAL cluster path (see
    conftest.run_via_spark_submit)."""
    from tests.conftest import run_via_spark_submit

    out = str(tmp_path / "out")
    proc = run_via_spark_submit(
        tmp_path, "elevation",
        ["--documents", documents_path,
         "--config", os.path.join(raster_root, "test-config.yaml"),
         "--datasets", "multi_eudem_etopo1",
         "--out", out],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["status"] == "OK" and stats["rows"] > 0
    res = spark.read.parquet(f"{out}/results")
    assert res.count() == stats["rows"]
    assert res.where("elevation IS NOT NULL").count() > 0
    _assert_document_keyed(res, stats["rows"])
