"""The Python-worker daemon (`data_framework_spark.worker_daemon`).

- the path rule on fake layouts: Spark's zips go behind an installed
  pyspark of the same version, and `sys.path` is left alone otherwise
- importing the package does not import pyspark, so the daemon can
  order the path first
- a `get_spark` session's workers run the driver's pyspark, not the zip
- the leave-alone path end to end, with `SPARK_HOME` unset
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from data_framework_spark.worker_daemon import installed_pyspark, reordered, zip_version

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _spark_lib(root, version: str) -> tuple[str, str]:
    """A fake `$SPARK_HOME/python/lib`: (pyspark.zip, py4j zip)."""
    lib = root / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _version_py(version))
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    return str(pyspark_zip), str(py4j_zip)


def _site(root, version: str) -> str:
    """A fake site-packages holding an installed pyspark."""
    pkg = root / "site-packages" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(_version_py(version))
    return str(pkg.parent)


def _path(tmp_path, zips, site) -> list[str]:
    """sys.path as Spark hands it to the daemon: working directory,
    zips, PYTHONPATH, standard library, site-packages."""
    cwd = tmp_path / "cwd"
    cwd.mkdir(exist_ok=True)
    stdlib = tmp_path / "stdlib"
    stdlib.mkdir(exist_ok=True)
    return [str(cwd), *zips, str(stdlib), site]


def test_same_version_moves_zips_behind_installed(tmp_path):
    zips = _spark_lib(tmp_path, "4.1.2")
    site = _site(tmp_path, "4.1.2")
    path = _path(tmp_path, zips, site)
    assert installed_pyspark(path) == site
    assert reordered(path, site) == [path[0], path[3], site, *zips]


def test_different_version_leaves_path(tmp_path):
    zips = _spark_lib(tmp_path, "4.1.2")
    site = _site(tmp_path, "4.0.1")
    path = _path(tmp_path, zips, site)
    assert installed_pyspark(path) == site
    assert reordered(path, site) == path


def test_missing_zip_leaves_path(tmp_path):
    # the pip-only layout without its bundled zip: Spark still lists
    # `<pyspark>/python/lib/pyspark.zip` though no such file exists
    site = _site(tmp_path, "4.1.2")
    lib = os.path.join(site, "pyspark", "python", "lib")
    zips = (os.path.join(lib, "pyspark.zip"), os.path.join(lib, "py4j-0.10.9.9-src.zip"))
    path = _path(tmp_path, zips, site)
    assert reordered(path, installed_pyspark(path)) == path


def test_no_installed_pyspark_leaves_path(tmp_path):
    zips = _spark_lib(tmp_path, "4.1.2")
    empty = tmp_path / "site-packages"
    empty.mkdir()
    path = _path(tmp_path, zips, str(empty))
    assert installed_pyspark(path) is None
    assert reordered(path, None) == path


def test_package_import_leaves_pyspark_unimported():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, data_framework_spark; print('pyspark' in sys.modules)"],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"


def test_workers_run_the_driver_pyspark(spark):
    import pyspark

    def worker_pyspark(it):
        # defined here so that it is pickled by value: workers cannot
        # import this test module
        import json
        import sys

        import pandas as pd
        import pyspark

        for _ in it:
            yield pd.DataFrame({"file": [pyspark.__file__], "path": [json.dumps(sys.path)]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(worker_pyspark, "file string, path string")
        .collect()[0]
    )
    zips = [
        p for p in json.loads(row.path)
        if os.path.basename(p) == "pyspark.zip" and os.path.isfile(p)
    ]
    if not zips or zip_version(zips[0]) != pyspark.__version__:
        pytest.skip("no pyspark.zip of the installed pyspark's version on the worker path")
    assert row.file == pyspark.__file__
    assert ".zip" not in row.file


_FALLBACK_SCRIPT = r"""
import json, sys
import pandas as pd
from pyspark.sql.functions import pandas_udf
from data_framework_spark.session import get_spark

spark = get_spark("worker-daemon-fallback")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

def worker_pyspark(it):
    import pyspark
    for _ in it:
        yield pd.DataFrame({"file": [pyspark.__file__]})

vals = sorted(r[0] for r in spark.range(5).select(plus_one("id")).collect())
file = spark.range(1, numPartitions=1).mapInPandas(worker_pyspark, "file string").first()[0]
spark.stop()
print(json.dumps({"vals": vals, "file": file}))
"""


@pytest.mark.slow
def test_fallback_without_spark_home(tmp_path):
    """With `SPARK_HOME` unset, Spark lists the pip layout's
    `<pyspark>/python/lib/pyspark.zip`. Where that file exists, a
    different-version pyspark is put on the workers' `PYTHONPATH`, so
    the daemon must leave the path alone and workers import the zip;
    where it does not, the daemon leaves the path alone anyway."""
    import pyspark

    pip_zip = os.path.join(os.path.dirname(pyspark.__file__), "python", "lib", "pyspark.zip")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_HOME"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    if os.path.isfile(pip_zip):
        other = _site(tmp_path, "0.0.0")
        env["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.executorEnv.PYTHONPATH={other} pyspark-shell"
    out = subprocess.run(
        [sys.executable, "-c", _FALLBACK_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["vals"] == [1, 2, 3, 4, 5]
    if os.path.isfile(pip_zip):
        assert res["file"].startswith(pip_zip + os.sep)
