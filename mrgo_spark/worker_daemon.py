"""Python-worker daemon that loads pyspark from site-packages.

Spark starts executor Python workers with ``pyspark.zip``, the py4j zip
and the spark-core jar ahead of ``PYTHONPATH``. Every task runs
``pyspark.worker_util.setup_spark_files``, whose
``importlib.invalidate_caches()`` makes each cached ``zipimporter`` (one
per pyspark sub-package) re-read its archive's directory: about 0.2 s per
task on a 4-core host. This module removes the ``.zip``/``.jar`` entries
from ``sys.path`` and their finders from ``sys.path_importer_cache``
before anything imports pyspark (``python -m`` caches a finder for each
entry it walks to reach this module), then runs the stock
``pyspark.daemon.manager()``. Forked workers import the site-packages
pyspark with its compiled ``.pyc`` files.

Guard: ``sys.path`` stays untouched when pyspark or py4j is not
importable without the archives, or when the site-packages pyspark's
``__version__`` differs from the one in the stripped ``pyspark.zip``,
which ships with the JVM. The workers then run exactly as under
``pyspark.daemon``.

``session.get_spark`` selects this module (``spark.python.daemon.module``)
for local masters. It imports nothing from pyspark or mrgo_spark at
module level, so the decision is made before pyspark is loaded.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_VERSION_RE = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _in_archive(entry: str) -> bool:
    """True for a path entry that is, or lies inside, a .zip/.jar."""
    return re.search(r"\.(zip|jar)(/|$)", entry.replace(os.sep, "/")) is not None


def _version(src: str) -> str | None:
    m = _VERSION_RE.search(src)
    return m.group(1) if m else None


def _zip_pyspark_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None


def _site_pyspark_version(path: list[str]) -> str | None:
    find_spec = importlib.machinery.PathFinder.find_spec
    if find_spec("py4j", path) is None:
        return None
    spec = find_spec("pyspark", path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def _site_path(path: list[str]) -> list[str] | None:
    """``path`` without its archive entries, or None to keep it as is.

    None when nothing would be removed, when py4j or pyspark is not
    importable from the remaining entries, or when that pyspark's
    version differs from the one in the first removed archive that
    carries ``pyspark/version.py``. Spark-free: reads files only.
    """
    archives = [p for p in path if _in_archive(p)]
    if not archives:
        return None
    kept = [p for p in path if not _in_archive(p)]
    site = _site_pyspark_version(kept)
    if site is None:
        return None
    for archive in archives:
        shipped = _zip_pyspark_version(archive)
        if shipped is not None:
            return kept if shipped == site else None
    return None


def _drop_archives() -> None:
    kept = _site_path(sys.path)
    if kept is None:
        return
    sys.path[:] = kept
    for key in [k for k in sys.path_importer_cache if _in_archive(k)]:
        del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
