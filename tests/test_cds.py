"""The driver JVM's class-data-sharing archive (``projectmapreduce_spark.cds``):
its key, when ``get_spark`` uses it, and the builder's lock and cleanup.

These tests start no Spark.  A fake JDK (a shell-script ``java`` that
"dumps" by writing the archive file) and a fake Spark home live under
``tmp_path``, and ``XDG_CACHE_HOME`` points there too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from projectmapreduce_spark import cds, session

# Spark's launcher prints the driver's command when asked to.
FAKE_SPARK_CLASS = """#!/bin/sh
home="$(dirname "$0")/.."
echo "Spark Command: $JAVA_HOME/bin/java -cp $SPARK_CONF_DIR/:$home/jars/* -Xmx1g" >&2
"""

FAKE_JAVA = """#!/bin/sh
for a in "$@"; do
  case "$a" in -XX:SharedArchiveFile=*) f="${a#-XX:SharedArchiveFile=}" ;; esac
done
case "$1" in
  -Xshare:dump) echo archive > "$f" ;;
  -Xshare:on) test -s "$f" ;;
esac
"""


@pytest.fixture
def fake(tmp_path, monkeypatch):
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    java = jdk / "bin" / "java"
    java.write_text(FAKE_JAVA)
    java.chmod(0o755)
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    home = tmp_path / "spark"
    for d in ("bin", "jars", "conf"):
        (home / d).mkdir(parents=True)
    (home / "bin" / "spark-class").write_text(FAKE_SPARK_CLASS)
    (home / "bin" / "spark-class").chmod(0o755)
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    classlist = tmp_path / "classlist.txt"
    classlist.write_text("java/lang/Object\n")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(cds, "CLASSLIST", str(classlist))
    return {"jdk": jdk, "home": home, "classlist": classlist, "cache": tmp_path / "cache"}


def _key(fake) -> str:
    return os.path.basename(cds.locate(str(fake["home"])).archive)


def test_key_follows_jars_jdk_and_class_list(fake):
    jars = fake["home"] / "jars"
    keys = [_key(fake)]
    assert _key(fake) == keys[0], "the key is not stable"

    def changed(what):
        keys.append(_key(fake))
        assert keys[-1] not in keys[:-1], f"key unchanged after {what}"

    (jars / "c.jar").write_bytes(b"jar")
    changed("adding a jar")
    (jars / "a.jar").write_bytes(b"bigger jar")
    changed("resizing a jar")
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    changed("touching a jar")
    (fake["jdk"] / "release").write_text('JAVA_VERSION="17.0.21"\n')
    changed("changing the JDK release file")
    fake["classlist"].write_text("java/lang/Object\njava/lang/String\n")
    changed("changing the class list")


def test_templates_only_conf_allows_archive(fake):
    target = cds.locate(str(fake["home"]))
    assert target is not None
    root = fake["cache"] / "projectmapreduce_spark" / "cds"
    assert os.path.dirname(target.archive) == str(root)
    assert target.archive.endswith(".jsa")
    assert target.conf_dir == str(root / "conf") and not os.listdir(target.conf_dir)
    assert target.spark_home == str(fake["home"])
    java, classpath = cds.launch_command(target)
    assert java == str(fake["jdk"] / "bin" / "java")
    assert classpath == f"{root}/conf/:{fake['home']}/bin/../jars/*"


@pytest.mark.parametrize("conf_file", ["spark-defaults.conf", "log4j2.properties"])
def test_real_config_disables_archive(fake, tmp_path, monkeypatch, conf_file):
    (fake["home"] / "conf" / conf_file).write_text("spark.foo bar\n")
    before = dict(os.environ)
    assert cds.locate(str(fake["home"])) is None
    assert dict(os.environ) == before
    # The same for a SPARK_CONF_DIR of the user's own.
    (fake["home"] / "conf" / conf_file).unlink()
    own = tmp_path / "own-conf"
    own.mkdir()
    (own / conf_file).write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    assert cds.locate(str(fake["home"])) is None


@pytest.fixture
def launches(fake, monkeypatch):
    """Run ``session.get_spark`` against the fake Spark home with the
    launch stubbed out: each launch records the builder's options and
    the environment the JVM would inherit."""
    seen = []

    def get_or_create(builder):
        seen.append({"options": dict(builder._options), "environ": dict(os.environ)})
        return "session"

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setattr(session, "ensure_session_conf", lambda spark: spark)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(fake["home"]))
    builds = []
    monkeypatch.setattr(cds, "start_build", builds.append)
    return seen, builds


def test_get_spark_without_archive_launches_as_before(fake, launches):
    """No archive yet, or real config in the conf directory: the launch
    gets no CDS option and the environment it inherits and leaves is
    untouched.  Only the first case asks for a build."""
    seen, builds = launches
    before = dict(os.environ)
    session.get_spark(cpus=1)
    assert [b.archive for b in builds] == [cds.locate(str(fake["home"])).archive]
    (fake["home"] / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    session.get_spark(cpus=1)
    assert len(builds) == 1, "real config must not start a build"
    for launch in seen:
        assert "spark.driver.defaultJavaOptions" not in launch["options"]
        assert launch["environ"] == before
    assert dict(os.environ) == before
    assert seen[0]["options"] == seen[1]["options"]


def test_get_spark_with_archive_maps_it_for_the_launch_only(fake, launches):
    seen, builds = launches
    target = cds.locate(str(fake["home"]))
    with open(target.archive, "w") as f:
        f.write("archive")
    before = dict(os.environ)
    session.get_spark(cpus=1)
    opts = seen[0]["options"]["spark.driver.defaultJavaOptions"]
    assert opts == f"-XX:SharedArchiveFile={target.archive} {cds.LOG_OPTIONS}"
    assert seen[0]["environ"] == {**before, "SPARK_CONF_DIR": target.conf_dir}
    assert dict(os.environ) == before
    assert builds == []


def test_lock_of_live_builder_blocks_and_of_dead_one_does_not(fake):
    target = cds.locate(str(fake["home"]))
    lock = os.path.join(os.path.dirname(target.archive), "build.lock")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    assert not cds.build(target)
    assert not os.path.exists(target.archive)
    assert open(lock).read() == str(os.getpid()), "a live builder's lock was taken"

    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(lock, "w") as f:
        f.write(str(dead.pid))
    assert cds.build(target)
    assert os.path.isfile(target.archive)
    assert not os.path.exists(lock), "the builder left its lock"


def test_start_build_detaches_one_builder(fake):
    """``start_build`` returns at once; the builder it forks off builds
    the archive and releases its lock, and leaves its output in the log."""
    target = cds.locate(str(fake["home"]))
    root = os.path.dirname(target.archive)
    cds.start_build(target)
    lock = os.path.join(root, "build.lock")
    deadline = time.time() + 60
    while not os.path.isfile(target.archive) or os.path.exists(lock):
        assert time.time() < deadline, "the builder did not finish"
        time.sleep(0.1)
    with open(os.path.join(root, "build.log")) as f:
        assert f"built {target.archive}" in f.read()


def test_build_keeps_one_archive(fake):
    old = cds.locate(str(fake["home"]))
    assert cds.build(old)
    stale_tmp = f"{old.archive}.99999.tmp"
    with open(stale_tmp, "w") as f:
        f.write("partial dump")
    (fake["home"] / "jars" / "c.jar").write_bytes(b"jar")
    new = cds.locate(str(fake["home"]))
    assert new.archive != old.archive
    assert cds.build(new)
    root = os.path.dirname(new.archive)
    assert sorted(os.listdir(root)) == sorted(["conf", os.path.basename(new.archive)])


def test_failed_dump_leaves_no_archive_and_is_not_retried(fake, monkeypatch):
    fake_java = fake["jdk"] / "bin" / "java"
    fake_java.write_text("#!/bin/sh\nexit 1\n")
    target = cds.locate(str(fake["home"]))
    assert not cds.build(target)
    root = os.path.dirname(target.archive)
    assert not any(n.endswith(".jsa") or n.endswith(".tmp") for n in os.listdir(root))
    started = []
    monkeypatch.setattr(cds.subprocess, "run", lambda *a, **k: started.append(a))
    cds.start_build(target)
    assert started == [], "a key whose build failed was built again"


# Run in a fresh interpreter: a driver JVM launched from an archive, then
# one launched from a truncated archive at the same path.  The archive is
# dumped from a short class list so that the dump takes seconds; it still
# records the driver's classpath, which the JVM checks before it maps it.
E2E_CHILD = r"""
import json, os, sys
import duckdb
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from projectmapreduce_spark import cds
from projectmapreduce_spark.queries import ORACLES, QUERIES
from projectmapreduce_spark.session import get_spark
from tests.conftest import SF_SMOKE, register_views
from tests.oracle_utils import compare

cds.CLASSLIST = sys.argv[1]
target = cds.locate(_find_spark_home())
assert target is not None, "no archive target for this Spark home"
stdout = os.dup(1)
os.dup2(2, 1)  # the dump's own output is not the test's
assert cds.build(target), "the archive did not build"
os.dup2(stdout, 1)
duck = duckdb.connect()
register_views(duck, SF_SMOKE)
name = "flagship_pricing_summary"

def launch():
    spark = get_spark(app_name="pmr-cds-e2e", cpus=1)
    compare(QUERIES[name](spark, SF_SMOKE), ORACLES[name], duck)
    jvm = spark._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    info = jvm.System.getProperty("java.vm.info")
    print(json.dumps({"vm_info": info, "args": list(args)}), flush=True)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    gateway.close()
    SparkContext._gateway = SparkContext._jvm = None

launch()
with open(target.archive, "r+b") as f:
    f.truncate(4096)
launch()
"""


def test_session_maps_archive_and_survives_a_broken_one(tmp_path):
    """A fresh ``get_spark`` maps a built archive ("sharing" in
    ``java.vm.info``: with ``-XX:SharedArchiveFile`` given, the JDK's
    default archive is not used, so sharing means this one mapped), and
    the oracle still matches.  With the archive truncated the JVM runs
    unshared and answers the same.  Neither launch writes CDS text to
    stdout."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    classlist = tmp_path / "classlist.txt"
    with open(cds.CLASSLIST) as f:
        spark_classes = [c for c in f if c.startswith("org/apache/spark/")]
    classlist.write_text("".join(spark_classes[:200]))
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "PYTHONPATH": os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    env.pop("SPARK_CONF_DIR", None)
    out = subprocess.run(
        [sys.executable, "-c", E2E_CHILD, str(classlist)],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 2, f"stdout holds more than the test's lines: {out.stdout[-2000:]}"
    mapped, broken = (json.loads(line) for line in lines)
    archive = [a for a in mapped["args"] if a.startswith("-XX:SharedArchiveFile=")]
    assert len(archive) == 1 and archive[0].endswith(".jsa")
    assert "sharing" in mapped["vm_info"], mapped
    assert archive[0] in broken["args"]
    assert "sharing" not in broken["vm_info"], broken
