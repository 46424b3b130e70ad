"""Python-worker daemon that runs workers on the installed pyspark.

Spark starts its Python-worker daemon as
``python -m <spark.python.daemon.module>`` with
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` ahead of
everything else on ``sys.path``. The zip ships sources only, no
bytecode, so every daemon start compiles pyspark from source. When an
installed pyspark of the same version is importable without the zips,
this module moves the zips behind it and then runs Spark's own daemon
(`pyspark.daemon.manager`). Forked workers inherit the path and the
modules the daemon has imported, so every worker runs the same
byte-compiled pyspark as the driver. In every other case `sys.path`
stays exactly as Spark set it.

`session.get_spark` selects this module. It imports only the standard
library at module level, and the package `__init__` loads nothing
eagerly: pyspark must not be imported before `sys.path` is ordered.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def is_spark_zip(entry: str) -> bool:
    """True for Spark's zipped `pyspark.zip` and `py4j-*-src.zip` entries."""
    name = os.path.basename(entry)
    return name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def zip_version(zip_path: str) -> str | None:
    """`pyspark/version.py`'s version inside a pyspark zip, or None."""
    try:
        with zipfile.ZipFile(zip_path) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def installed_version(entry: str) -> str | None:
    """`pyspark/version.py`'s version under the `sys.path` entry `entry`."""
    try:
        with open(os.path.join(entry or ".", "pyspark", "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def installed_pyspark(path: list[str]) -> str | None:
    """The `path` entry `import pyspark` resolves to once Spark's zips
    are out of the way, or None when no other pyspark is importable."""
    for entry in path:
        if is_spark_zip(entry):
            continue
        spec = PathFinder.find_spec("pyspark", [entry])
        if spec is not None and spec.origin not in (None, "namespace"):
            return entry
    return None


def reordered(path: list[str], installed: str | None) -> list[str]:
    """`path` with Spark's zips moved right behind `installed` (the entry
    holding the installed pyspark). Unchanged unless the `pyspark.zip`
    entry is a readable zip and both copies report the same version."""
    zips = [e for e in path if is_spark_zip(e)]
    pyspark_zip = next((e for e in zips if os.path.basename(e) == "pyspark.zip"), None)
    if installed is None or pyspark_zip is None:
        return list(path)
    version = zip_version(pyspark_zip)  # None when the zip is missing
    if version is None or version != installed_version(installed):
        return list(path)
    rest = [e for e in path if not is_spark_zip(e)]
    at = rest.index(installed) + 1
    return rest[:at] + zips + rest[at:]


def main() -> None:
    sys.path[:] = reordered(sys.path, installed_pyspark(sys.path))
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
