"""PySpark worker daemon that imports pyspark and py4j from site-packages.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar on
every Python worker's path, and PySpark calls
``importlib.invalidate_caches()`` at the start of every task, which makes
each zipimporter over those archives re-read the archive's whole
directory. Run as ``spark.python.daemon.module`` (``session.get_spark``
sets it for a local master), this module drops the archives from
``sys.path`` and from ``sys.path_importer_cache`` before it starts the
stock ``pyspark.daemon``, so forked workers carry no zipimporter over
them. It does so only when the pyspark and py4j found without the
archives have the archives' versions; otherwise the path is left as is
and the daemon behaves exactly like the stock one.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_SPARK_CORE_JAR = re.compile(r"spark-core_.+\.jar")


def _version_in(source: str) -> str | None:
    m = _VERSION.search(source)
    return m and m.group(1)


def _zipped_pyspark_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version_in(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(package, path)
    for location in (spec and spec.submodule_search_locations) or ():
        try:
            with open(os.path.join(location, "version.py")) as f:
                return _version_in(f.read())
        except OSError:
            continue
    return None


def site_packages_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the pyspark and py4j found on
    the rest of it have the archives' versions; ``path`` unchanged when
    either is missing, a version differs or the archives are not there."""
    kept, wanted = [], {}
    for entry in path:
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            wanted["pyspark"] = _zipped_pyspark_version(entry)
        elif m := _PY4J_ZIP.fullmatch(name):
            wanted["py4j"] = m.group(1)
        elif not _SPARK_CORE_JAR.fullmatch(name):
            kept.append(entry)
    if set(wanted) != {"pyspark", "py4j"} or any(
        v is None or _installed_version(p, kept) != v for p, v in wanted.items()
    ):
        return path
    return kept


if __name__ == "__main__":
    kept = site_packages_path(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
