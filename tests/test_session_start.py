"""The driver JVM starts from a class-data-sharing archive of the classes
an earlier session loaded, and no partial archive ever reaches a JVM.

The unit tests drive ``session._driver_launch`` and
``session._publish_at_exit`` against a fake Spark home and a fake
``java`` that stands in for the archive dump, without starting a JVM.
``test_fresh_drivers_write_then_map_the_archive`` starts real drivers in
subprocesses with a private ``TMPDIR``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark import SparkContext

from opentopodata_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LAUNCH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
               "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT")
# writes its arguments as the archive; $FAKE_DUMP picks how it ends
_FAKE_JAVA = """#!/bin/sh
for a in "$@"; do
  case "$a" in -XX:SharedArchiveFile=*) out="${a#-XX:SharedArchiveFile=}" ;; esac
done
echo "$@" > "$out"
case "$FAKE_DUMP" in failed) exit 1 ;; killed) kill -9 $$ ;; esac
"""
CLASS_PATH = "/conf/:/jars/slf4j-api.jar:/jars/a.jar"


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A Spark home whose conf directory holds only templates, a JDK, a
    private temp directory and no gateway JVM; returns the Spark home."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    for name in ("spark-defaults.conf.template", "log4j2.properties.template"):
        (home / "conf" / name).write_text("# template\n")
    for name in ("slf4j-api-2.0.17.jar", "spark-core_2.13-4.1.2.jar"):
        (home / "jars" / name).write_bytes(b"PK\x05\x06" + b"\0" * 18)
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text(_FAKE_JAVA)
    java.chmod(0o755)
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.delenv("FAKE_DUMP", raising=False)
    for name in _LAUNCH_ENV:
        monkeypatch.delenv(name, raising=False)
    return home


def _flag(launch, name: str) -> str | None:
    """The value of ``-XX:<name>=...`` in the launch's options."""
    for opt in launch.java_opts:
        if opt.startswith(f"-XX:{name}="):
            return opt.split("=", 1)[1]
    return None


def _plain() -> list[str]:
    return [f"-XX:ErrorFile={session._err_file()}"]


def _tmp_files() -> list[str]:
    return sorted(os.listdir(tempfile.gettempdir()))


class _Exited:
    """A gateway ``Popen`` whose JVM has exited with ``code``."""

    def __init__(self, code: int):
        self.returncode = code

    def poll(self):
        return self.returncode


def _write(launch, gateway_code: int = 0) -> None:
    """The gateway JVM wrote its class list and exited with
    ``gateway_code``; then the interpreter exits."""
    with open(launch.dump[1], "w") as f:
        f.write("java/lang/Object id: 0\n")
    session._publish_at_exit(_Exited(gateway_code), CLASS_PATH, *launch.dump)


def test_templates_only_conf_writes_then_uses_the_archive(fake_home):
    first = session._driver_launch("local[2]", {})
    java, classes, archive, lock = first.dump
    assert first.java_opts == _plain() + [f"-XX:DumpLoadedClassList={classes}"]
    assert classes == f"{archive}.{os.getpid()}.classlist"
    assert os.path.dirname(archive) == tempfile.gettempdir()
    assert first.conf_dir != str(fake_home / "conf")
    assert os.listdir(first.conf_dir) == []
    with open(lock) as f:
        assert f.read() == str(os.getpid())

    _write(first)
    assert not os.path.exists(classes) and not os.path.exists(lock)
    assert not [n for n in _tmp_files() if n.endswith(".tmp")]
    with open(archive) as f:
        dumped = f.read().split()
    assert dumped[:2] == ["-Xshare:dump", f"-XX:SharedClassListFile={classes}"]
    assert dumped[-2:] == ["-cp", CLASS_PATH]
    assert f"-XX:ErrorFile={session._err_file()}" in dumped
    with open(f"{archive}.size") as f:
        assert int(f.read()) == os.path.getsize(archive)

    second = session._driver_launch("local[2]", {})
    assert second.dump is None
    assert second.java_opts == _plain() + [
        f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off -Xlog:cds+dynamic=off"]
    assert second.conf_dir == first.conf_dir


def test_archive_key_follows_the_jars(fake_home):
    first = session._driver_launch("local[2]", {})
    _write(first)
    (fake_home / "jars" / "extra.jar").write_bytes(b"PK")
    again = session._driver_launch("local[2]", {})
    assert again.dump is not None and again.dump[2] != first.dump[2]


def test_archive_of_another_size_is_deleted_before_launch(fake_home):
    first = session._driver_launch("local[2]", {})
    _write(first)
    archive = first.dump[2]
    with open(archive, "r+b") as f:
        f.truncate(os.path.getsize(archive) - 1)

    again = session._driver_launch("local[2]", {})
    assert not os.path.exists(archive)
    assert _flag(again, "SharedArchiveFile") is None
    assert again.dump is not None and again.dump[2] == archive


def test_real_conf_file_launches_as_before(fake_home, monkeypatch):
    (fake_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    before = _tmp_files()
    launch = session._driver_launch("local[2]", {})
    assert launch.conf_dir is None and launch.dump is None
    assert launch.java_opts == _plain()
    assert _tmp_files() == before  # no lock, no conf redirect

    seen = []

    class Builder:
        def getOrCreate(self):
            seen.append(os.environ.get("SPARK_CONF_DIR"))

    session._launch_gateway(Builder(), launch)
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_home / "conf"))
    session._launch_gateway(Builder(), session._driver_launch("local[2]", {}))
    assert seen == [None, str(fake_home / "conf")]
    assert os.environ["SPARK_CONF_DIR"] == str(fake_home / "conf")


def test_redirect_is_set_for_the_launch_only(fake_home):
    launch = session._driver_launch("local[2]", {})
    seen = []

    class Builder:
        def getOrCreate(self):
            seen.append(os.environ.get("SPARK_CONF_DIR"))

    session._launch_gateway(Builder(), launch)
    assert seen == [launch.conf_dir]
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("case", ["external", "spark_master", "gateway", "submit"])
def test_no_launch_takes_no_lock_and_no_env(fake_home, monkeypatch, case):
    master = {"external": "external", "spark_master": "spark://h:7077"}.get(case, "local[2]")
    if case == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    if case == "submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4242")
    env = dict(os.environ)
    before = _tmp_files()
    assert session._driver_launch(master, {}) is None
    assert _tmp_files() == before
    assert dict(os.environ) == env


@pytest.mark.parametrize("extra", ["extraClassPath", "HADOOP_CONF_DIR"])
def test_extra_class_path_launches_as_before(fake_home, monkeypatch, tmp_path, extra):
    conf = {}
    if extra == "extraClassPath":
        conf = {"spark.driver.extraClassPath": str(tmp_path)}
    else:
        monkeypatch.setenv(extra, str(tmp_path))
    launch = session._driver_launch("local[2]", conf)
    assert launch.conf_dir is None and launch.dump is None
    assert launch.java_opts == _plain()


def test_live_dumper_lock_gives_plain_launch(fake_home):
    first = session._driver_launch("local[2]", {})
    lock = first.dump[3]
    with open(lock, "w") as f:
        f.write(str(os.getppid()))  # a live process holds it
    other = session._driver_launch("local[2]", {})
    assert other.dump is None and other.conf_dir is None
    assert other.java_opts == _plain()
    with open(lock) as f:
        assert f.read() == str(os.getppid())


def test_dead_pid_lock_and_its_files_are_removed(fake_home):
    first = session._driver_launch("local[2]", {})
    _java, _classes, archive, lock = first.dump
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead_pid = int(dead.stdout)
    with open(lock, "w") as f:
        f.write(str(dead_pid))
    for suffix in ("classlist", "tmp"):
        with open(f"{archive}.{dead_pid}.{suffix}", "wb") as f:
            f.write(b"partial")

    again = session._driver_launch("local[2]", {})
    assert not [n for n in _tmp_files() if f".{dead_pid}." in n]
    assert again.dump == first.dump
    with open(lock) as f:
        assert f.read() == str(os.getpid())


@pytest.mark.parametrize("gateway_code, dump", [
    (1, ""), (-9, ""), (0, "failed"), (0, "killed")])
def test_failed_or_killed_jvm_publishes_nothing(fake_home, monkeypatch,
                                                 gateway_code, dump):
    monkeypatch.setenv("FAKE_DUMP", dump)
    launch = session._driver_launch("local[2]", {})
    _java, classes, archive, lock = launch.dump
    _write(launch, gateway_code)
    assert not os.path.exists(archive) and not os.path.exists(f"{archive}.size")
    assert not os.path.exists(classes) and not os.path.exists(lock)
    assert not [n for n in _tmp_files() if n.endswith(".tmp")]
    again = session._driver_launch("local[2]", {})
    assert _flag(again, "SharedArchiveFile") is None and again.dump is not None


_DRIVER = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from opentopodata_spark import session
spark = session.get_spark(app_name="cds-test", cores=1, shuffle_partitions=1)
n = spark.range(1).count()
spark.sparkContext.parallelize([0]).count()  # a Python task: accumulator updates
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
tmp = session.tempfile.gettempdir()
print(json.dumps({"count": n, "maps": maps, "files": sorted(os.listdir(tmp))}),
      file=sys.stderr)
print("LAST")
"""


def _fresh_driver(tmp: str, heap: str | None = None) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in _LAUNCH_ENV}
    env["TMPDIR"] = tmp
    env.pop("SPARK_DRIVER_MEM", None)
    if heap:
        env["SPARK_DRIVER_MEM"] = heap
    out = subprocess.run([sys.executable, "-c", _DRIVER, REPO], cwd=tmp, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout == "LAST\n"  # no JVM line on stdout
    assert "Traceback" not in out.stderr
    report = json.loads(out.stderr.strip().splitlines()[-1])
    assert report["count"] == 1
    return report


def _archives(tmp: str) -> list[str]:
    return [os.path.join(tmp, n) for n in os.listdir(tmp)
            if n.startswith("opentopodata_spark_cds_") and n.endswith(".jsa")]


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="reads /proc/<pid>/maps")
def test_fresh_drivers_write_then_map_the_archive(tmp_path):
    tmp = str(tmp_path / "tmp")
    os.makedirs(tmp)
    first = _fresh_driver(tmp)
    # while the first session ran: its lock and class list, no archive
    assert [n for n in first["files"] if n.endswith(".lock")]
    assert [n for n in first["files"] if n.endswith(".classlist")]
    assert not [n for n in first["files"] if n.endswith(".jsa")]
    (archive,) = _archives(tmp)
    assert sorted(n for n in os.listdir(tmp) if n.startswith("opentopodata_spark_cds_")) \
        == [os.path.basename(archive), os.path.basename(archive) + ".size"]

    # the first session ran with the 8g default heap
    assert archive in _fresh_driver(tmp, "2g")["maps"]

    with open(archive, "r+b") as f:
        f.truncate(os.path.getsize(archive) - 4096)
    with open(f"{archive}.lock", "w") as f:
        f.write(str(os.getpid()))  # no second dump: this test holds the lock
    cut = _fresh_driver(tmp)
    assert not [m for m in cut["maps"] if os.path.dirname(m) == tmp]
    assert not os.path.exists(archive)
    assert not [n for n in os.listdir(tmp) if n.startswith("hs_err")]
