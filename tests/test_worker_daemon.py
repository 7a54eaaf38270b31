"""The Python worker daemon (``doctor_spark.worker_daemon``): Spark's
archives off the workers' ``sys.path``, and the session conf that selects it
only where the daemon can import this package."""

import os
import shutil
import site
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from doctor_spark.session import WORKER_DAEMON, worker_daemon_conf
from doctor_spark.worker_daemon import strip_spark_archives

REPO = Path(__file__).resolve().parent.parent


def _zip(path: Path, members: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _layout(tmp_path: Path, installed: str | None, archived: str = "9.1.0"):
    """A Spark-style path (pyspark zip, py4j zip, spark-core jar), a user's
    zip, and a site directory with pyspark ``installed`` at that version
    (``None``: no pyspark installed); plus the importers ``python -m``
    leaves cached for them."""
    spark = tmp_path / "spark"
    pyspark_zip = _zip(spark / "pyspark.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{archived}'\n",
        "pyspark/sql/__init__.py": "",
    })
    py4j_zip = _zip(spark / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(spark / "spark-core.jar", {"org/apache/spark/X.class": ""})
    deps = _zip(tmp_path / "user" / "deps.zip", {"mylib/__init__.py": ""})
    site_dir = tmp_path / "site"
    (site_dir / "py4j").mkdir(parents=True)
    (site_dir / "py4j" / "__init__.py").write_text("")
    if installed is not None:
        (site_dir / "pyspark").mkdir()
        (site_dir / "pyspark" / "__init__.py").write_text("")
        meta = site_dir / f"pyspark-{installed}.dist-info"
        meta.mkdir()
        (meta / "METADATA").write_text(
            f"Metadata-Version: 2.1\nName: pyspark\nVersion: {installed}\n")
    path = [pyspark_zip, py4j_zip, jar, deps, str(site_dir)]
    importers = {
        pyspark_zip: zipimport.zipimporter(pyspark_zip),
        os.path.join(pyspark_zip, "pyspark", "sql"):
            zipimport.zipimporter(os.path.join(pyspark_zip, "pyspark", "sql")),
        py4j_zip: zipimport.zipimporter(py4j_zip),
        jar: zipimport.zipimporter(jar),
        str(site_dir): None,
    }
    return path, importers, (pyspark_zip, py4j_zip, jar), deps


@pytest.fixture(autouse=True)
def _own_importer_cache(monkeypatch):
    # the rule resolves packages through sys.path_importer_cache; keep the
    # importers it creates for the temporary archives out of the real one
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))


def test_spark_archives_dropped_and_evicted(tmp_path):
    path, importers, archives, deps = _layout(tmp_path, installed="9.1.0")
    dropped = strip_spark_archives(path, importers)
    assert dropped == list(archives)
    # the user's zip is not Spark's and stays
    assert path == [deps, str(tmp_path / "site")]
    assert not [k for k in importers
                if any(k == a or k.startswith(a + os.sep) for a in archives)]
    assert list(importers) == [str(tmp_path / "site")]


def test_path_unchanged_without_installed_pyspark(tmp_path):
    path, importers, _, _ = _layout(tmp_path, installed=None)
    before_path, before_importers = list(path), dict(importers)
    assert strip_spark_archives(path, importers) == []
    assert path == before_path
    assert importers == before_importers


def test_path_unchanged_when_versions_differ(tmp_path):
    path, importers, _, _ = _layout(tmp_path, installed="9.0.0")
    before_path, before_importers = list(path), dict(importers)
    assert strip_spark_archives(path, importers) == []
    assert path == before_path
    assert importers == before_importers


def test_path_without_spark_archives_is_untouched(tmp_path):
    deps = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    path, importers = [deps, str(tmp_path)], {}
    assert strip_spark_archives(path, importers) == []
    assert path == [deps, str(tmp_path)]


def test_conf_needs_an_importable_package(monkeypatch, tmp_path):
    site_dirs = {os.path.realpath(p) for p in site.getsitepackages()}
    if os.path.realpath(REPO) in site_dirs:
        pytest.skip("package root is a site-packages directory")
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert worker_daemon_conf(submitted=False) == {}
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert worker_daemon_conf(submitted=False) == {
        "spark.python.daemon.module": WORKER_DAEMON}
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(REPO)
    assert worker_daemon_conf(submitted=False) == {
        "spark.python.daemon.module": WORKER_DAEMON}
    assert worker_daemon_conf(submitted=True) == {}


def test_worker_holds_no_archive_importers(spark):
    """A task forked from the daemon has no zipimporter left to re-read on
    the per-task ``importlib.invalidate_caches()`` (16 with Spark's own
    daemon), and imports the installed pyspark."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module", None) == WORKER_DAEMON

    def probe(batches):
        import sys as _sys
        import zipimport as _zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            n = sum(isinstance(v, _zipimport.zipimporter)
                    for v in _sys.path_importer_cache.values())
            yield pd.DataFrame({"zipimporters": [n],
                                "pyspark": [pyspark.__file__]})

    rows = (spark.range(8, numPartitions=4)
            .mapInPandas(probe, "zipimporters long, pyspark string")
            .collect())
    assert rows
    assert {r.zipimporters for r in rows} == {0}
    assert all(".zip" not in r.pyspark for r in rows), rows


@pytest.mark.skipif(not shutil.which("spark-submit"),
                    reason="spark-submit not on PATH")
def test_submitted_session_keeps_spark_daemon(tmp_path):
    """Under spark-submit (``PYSPARK_GATEWAY_PORT`` set) the conf stays
    unset, even where the package is importable: ``--py-files`` reach the
    workers only per task, after the daemon has started."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from doctor_spark.session import get_spark\n"
        "s = get_spark('daemon-probe')\n"
        "print('DAEMON=' + s.sparkContext.getConf()"
        ".get('spark.python.daemon.module', 'unset'))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = str(REPO)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "1g",
         str(probe)],
        env=env, cwd=str(REPO), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "DAEMON=unset" in proc.stdout, proc.stdout[-1000:]
