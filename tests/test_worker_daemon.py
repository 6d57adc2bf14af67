"""Python worker start-up through ``worker_daemon``: the path reorder,
the confs ``get_session`` sets, and the lazy package import the daemon
relies on."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from employee_data_management_system_data_engineering_solution_spark import session
from employee_data_management_system_data_engineering_solution_spark.worker_daemon import (
    prefer_installed_pyspark,
)

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "employee_data_management_system_data_engineering_solution_spark"
VERSION = b"__version__: str = '4.1.2'\n"


def _zip(tmp_path: Path, version: bytes | None = VERSION) -> str:
    path = tmp_path / "lib" / "pyspark.zip"
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        if version is not None:
            zf.writestr("pyspark/version.py", version)
    return str(path)


def _site(tmp_path: Path, version: bytes = VERSION, name: str = "site") -> str:
    pkg = tmp_path / name / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)
    return str(pkg.parent)


def test_prefer_installed_pyspark_moves_zip_behind_same_release(tmp_path):
    z, site = _zip(tmp_path), _site(tmp_path)
    path = ["", z, "/py4j-src.zip", "/stdlib.zip", "/stdlib", site, "/after"]
    assert prefer_installed_pyspark(path) == [
        "", "/py4j-src.zip", "/stdlib.zip", "/stdlib", site, z, "/after",
    ]  # fmt: skip


def test_prefer_installed_pyspark_without_zip_is_unchanged(tmp_path):
    path = ["", "/stdlib", _site(tmp_path)]
    assert prefer_installed_pyspark(path) == path


def test_prefer_installed_pyspark_without_installed_copy_is_unchanged(tmp_path):
    path = ["", _zip(tmp_path), "/py4j-src.zip", str(tmp_path / "empty")]
    assert prefer_installed_pyspark(path) == path


def test_prefer_installed_pyspark_version_mismatch_is_unchanged(tmp_path):
    path = [_zip(tmp_path), _site(tmp_path, b"__version__: str = '4.0.0'\n")]
    assert prefer_installed_pyspark(path) == path


def test_prefer_installed_pyspark_first_installed_copy_decides(tmp_path):
    # an older copy earlier on the path is what would be imported, so a
    # same-release copy behind it must not move the zip
    z = _zip(tmp_path)
    old = _site(tmp_path, b"__version__: str = '3.5.0'\n", name="old")
    path = [z, old, _site(tmp_path)]
    assert prefer_installed_pyspark(path) == path


def test_prefer_installed_pyspark_unreadable_zip_is_unchanged(tmp_path):
    bad = tmp_path / "pyspark.zip"
    bad.write_bytes(b"not a zip")
    site = _site(tmp_path)
    for z in (str(bad), _zip(tmp_path, version=None), str(tmp_path / "gone.zip")):
        path = [z, site]
        assert prefer_installed_pyspark(path) == path


def test_local_master_conf_merges_package_into_worker_pythonpath():
    parent = str(REPO)
    conf = session.python_worker_conf("local[4]")
    assert conf == {
        "spark.python.daemon.module": f"{PACKAGE}.worker_daemon",
        "spark.executorEnv.PYTHONPATH": parent,
    }
    # caller keys win, and a caller PYTHONPATH keeps its entries first
    conf = session.python_worker_conf(
        "local-cluster[2,1,1024]",
        {
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", parent]),
            "spark.sql.shuffle.partitions": "3",
        },
    )
    assert conf == {
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", parent]),
        "spark.sql.shuffle.partitions": "3",
    }
    conf = session.python_worker_conf("local", {"spark.executorEnv.PYTHONPATH": "/a"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/a", parent])


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://h:6443"])
def test_non_local_master_gets_no_daemon_conf(master, monkeypatch):
    assert session.python_worker_conf(master) == {}
    extra = {"spark.executorEnv.PYTHONPATH": "/a"}
    assert session.python_worker_conf(master, extra) == extra

    # and get_session passes none to the builder
    seen: dict[str, str] = {}

    class Builder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, _):
            return self

        def config(self, key=None, value=None, *, map=None):
            seen.update(map if map is not None else {key: value})
            return self

        def getOrCreate(self):
            class Ctx:
                def setLogLevel(self, _):
                    pass

            class Spark:
                sparkContext = Ctx()

            return Spark()

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    session.get_session(master=master, extra_conf=extra)
    assert seen["master"] == master
    assert "spark.python.daemon.module" not in seen
    assert seen["spark.executorEnv.PYTHONPATH"] == "/a"


def _run_child(code: str, tmp_path: Path) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["EDS_DRIVER_MEMORY"] = "1g"
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_package_import_loads_no_pyspark(tmp_path):
    code = (
        f"import sys; sys.path.insert(0, {str(REPO)!r})\n"
        f"import {PACKAGE}, {PACKAGE}.worker_daemon\n"
        "print('pyspark' in sys.modules)\n"
    )
    out = _run_child(code, tmp_path)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"


def test_fresh_session_workers_import_installed_pyspark(tmp_path):
    """A fresh ``get_session`` application, started from outside the
    repo with the repo only on the driver's own ``sys.path``: its
    Python workers import the daemon module and an installed pyspark,
    not the source-only zip."""
    code = (
        f"import json, sys; sys.path.insert(0, {str(REPO)!r})\n"
        f"from {PACKAGE} import get_session\n"
        "def where(batches):\n"
        "    import pandas as pd, pyspark\n"
        "    for b in batches:\n"
        "        yield pd.DataFrame({'f': [pyspark.__file__] * len(b)})\n"
        "spark = get_session('worker-daemon-test', master='local[1]')\n"
        "rows = spark.range(2).mapInPandas(where, 'f string').distinct().collect()\n"
        "print('FILES', json.dumps(sorted(r.f for r in rows)))\n"
        "spark.stop()\n"
    )
    out = _run_child(code, tmp_path)
    assert out.returncode == 0, out.stderr[-4000:]
    (line,) = [x for x in out.stdout.splitlines() if x.startswith("FILES")]
    files = json.loads(line[len("FILES ") :])
    assert files and all("pyspark.zip" not in f for f in files), files


def test_shared_test_session_workers_import_installed_pyspark(spark):
    """The suites' own session starts workers through the same daemon."""
    import pandas as pd

    def where(batches):
        import pyspark

        for b in batches:
            yield pd.DataFrame({"f": [pyspark.__file__] * len(b)})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == f"{PACKAGE}.worker_daemon"
    files = {r.f for r in spark.range(4).mapInPandas(where, "f string").collect()}
    assert files and all("pyspark.zip" not in f for f in files), files
