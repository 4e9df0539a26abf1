"""The Python worker daemon (``projectmapreduce_spark.pydaemon``): which
path entries it drops and when, what a worker of a ``get_spark`` session
imports, and workers started from outside the repository.

The ``prune`` tests start no Spark: a fake Spark home and a fake
site-packages live under ``tmp_path``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from projectmapreduce_spark.pydaemon import prune
from tests.conftest import SF_CORRECT

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VERSION_PY = b'__version__: str = "4.1.2"\n'


def _zip(path, files: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _package(root, name: str, files: dict[str, bytes]) -> None:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_bytes(b"")
    for fname, data in files.items():
        (root / name / fname).write_bytes(data)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """A worker's path as Spark builds it: the current directory, a user
    ``spark.submit.pyFiles`` zip, Spark's two zips and its core jar (by
    its real location, while ``SPARK_HOME`` is a symlink), then a
    site-packages holding pyspark and py4j."""
    real = tmp_path / "spark-4.1.2-bin"
    home = tmp_path / "spark"
    home.symlink_to(real)
    jar = _zip(real / "jars" / "spark-core_2.13-4.1.2.jar", {"org/Foo.class": b""})
    spark_zip = _zip(
        home / "python" / "lib" / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION_PY},
    )
    py4j_zip = _zip(home / "python" / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    user_zip = _zip(tmp_path / "userFiles" / "deps.zip", {"deps/__init__.py": b""})
    site = tmp_path / "site"
    _package(site, "pyspark", {"version.py": VERSION_PY})
    _package(site, "py4j", {})
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    path = [str(cwd), user_zip, spark_zip, py4j_zip, jar, str(site)]
    # PathFinder consults sys.path_importer_cache; give each test its own.
    cache: dict = {p: zipimport.zipimporter(p) for p in (user_zip, spark_zip, py4j_zip, jar)}
    cache[os.path.join(spark_zip, "pyspark")] = zipimport.zipimporter(
        os.path.join(spark_zip, "pyspark")
    )
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    return {
        "home": str(home),
        "site": site,
        "path": path,
        "spark": [spark_zip, py4j_zip, jar],
        "kept": [str(cwd), user_zip, str(site)],
    }


def test_matching_release_drops_exactly_sparks_archives(layout):
    path, cache = list(layout["path"]), sys.path_importer_cache
    removed = prune(path, cache, layout["home"])
    assert removed == layout["spark"]
    assert path == layout["kept"]
    spark = tuple(layout["spark"])
    assert not [k for k in cache if k.startswith(spark)]
    # The user's pyFiles zip keeps its importer.
    assert isinstance(cache[layout["kept"][1]], zipimport.zipimporter)


@pytest.mark.parametrize(
    "case",
    ["version_differs", "no_installed_pyspark", "no_py4j", "no_spark_home"],
)
def test_path_is_untouched_unless_the_install_can_stand_in(layout, case):
    site, home = layout["site"], layout["home"]
    if case == "version_differs":
        (site / "pyspark" / "version.py").write_bytes(b'__version__: str = "4.0.0"\n')
    elif case == "no_installed_pyspark":
        (site / "pyspark" / "__init__.py").unlink()
        (site / "pyspark" / "version.py").unlink()
        (site / "pyspark").rmdir()
    elif case == "no_py4j":
        (site / "py4j" / "__init__.py").unlink()
        (site / "py4j").rmdir()
    else:
        home = None
    path = list(layout["path"])
    cache = sys.path_importer_cache
    before = dict(cache)
    assert prune(path, cache, home) == []
    assert path == layout["path"]
    assert all(cache.get(k) is v for k, v in before.items())


def test_worker_imports_the_drivers_pyspark(spark):
    """A ``mapInArrow`` worker of a ``get_spark`` session imports pyspark
    from a plain directory (cached bytecode), holds no zipimporter, and
    runs the driver's pyspark release."""
    import pyspark

    def report(batches):
        import pyarrow as pa
        import pyspark as worker_pyspark

        zips = sorted(
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
        )
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "file": worker_pyspark.__file__,
                        "zips": ",".join(zips),
                        "version": worker_pyspark.__version__,
                    }
                ]
            )

    rows = (
        spark.range(1)
        .mapInArrow(report, "file string, zips string, version string")
        .collect()
    )
    assert rows
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert r.zips == ""
        assert r.version == pyspark.__version__


OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import duckdb
from projectmapreduce_spark.queries import ORACLES, QUERIES
from projectmapreduce_spark.session import get_spark
from tests.conftest import register_views
from tests.oracle_utils import compare

spark = get_spark(app_name="pmr-outside", cpus=2)
con = duckdb.connect()
register_views(con, {sf!r})
for name in sys.argv[1:]:
    compare(QUERIES[name](spark, {sf!r}), ORACLES[name], con)
    print("PASS", name, flush=True)
"""

OUTSIDE_QUERIES = (
    "s20_python_datasource",
    "s23_datasource_writer",
    "s25_datasource_pushdown",
    "s28_binary_file_scan",
    "x6_map_in_arrow",
    "x9_arrow_udf",
)


def test_workers_find_the_package_from_outside_the_repo(tmp_path):
    """A driver that reaches the package only through its own
    ``sys.path`` (working directory outside the repository, no
    ``PYTHONPATH``): the Python DataSource and UDF workers still import
    it, and the queries match their oracles."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", OUTSIDE_SCRIPT.format(repo=REPO, sf=SF_CORRECT), *OUTSIDE_QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    passed = [line.split()[1] for line in proc.stdout.splitlines() if line.startswith("PASS ")]
    assert proc.returncode == 0 and passed == list(OUTSIDE_QUERIES), proc.stderr[-3000:]


def test_daemon_module_loads_no_pyspark():
    """``python -m projectmapreduce_spark.pydaemon`` runs the package's
    ``__init__`` and the module before ``prune``; neither may import
    pyspark, or the worker would load it from Spark's zip first."""
    code = (
        "import sys, projectmapreduce_spark.pydaemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
