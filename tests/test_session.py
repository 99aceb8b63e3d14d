"""Session factory and the Python-worker daemon it selects.

Workers under ``get_spark`` must import the site-packages pyspark, with
no zip/jar left on their import path, and must still unpickle the
engine's closures. The daemon's guard and the conf choice are tested
without Spark."""

from __future__ import annotations

import os
import re
import zipfile

from mrgo_spark import worker_daemon
from mrgo_spark.operators import mr
from mrgo_spark.session import _session_conf

_ARCHIVE = re.compile(r"\.(zip|jar)(/|$)")


def _worker_imports(_):
    import sys

    import pyspark

    return (
        pyspark.__file__,
        [p for p in sys.path if _ARCHIVE.search(p)],
        [k for k in sys.path_importer_cache if _ARCHIVE.search(k)],
    )


def test_workers_import_site_pyspark(spark):
    got = spark.sparkContext.parallelize([0], 1).map(_worker_imports).collect()
    pyspark_file, path_archives, cached_archives = got[0]
    assert not _ARCHIVE.search(pyspark_file), pyspark_file
    assert path_archives == []
    assert cached_archives == []


def test_mrjob_closure_unpickles_in_worker(spark):
    out = mr.MRJob(mr.wc_map, mr.wc_reduce).run_kv(
        spark, [("d1", "a b a"), ("d2", "b c")]
    )
    assert {r[0]: r[1] for r in out.collect()} == {"a": "2", "b": "2", "c": "1"}


def _fake_path(tmp_path, zip_version, site_version):
    """A worker-like sys.path: the JVM's pyspark zip, a py4j zip and a
    jar, then a site-packages dir whose pyspark has ``site_version``
    (None: no pyspark there)."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    py4j_zip = lib / "py4j-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = lib / "spark-core.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "")
    site = tmp_path / "site-packages"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if site_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{site_version}'\n"
        )
    path = [str(pyspark_zip), str(py4j_zip), str(jar), str(site)]
    return path, [str(site)]


def test_site_path_strips_archives_when_versions_match(tmp_path):
    path, site_only = _fake_path(tmp_path, "4.1.2", "4.1.2")
    assert worker_daemon._site_path(path) == site_only


def test_site_path_keeps_archives_on_version_mismatch(tmp_path):
    path, _ = _fake_path(tmp_path, "4.1.2", "4.0.0")
    assert worker_daemon._site_path(path) is None


def test_site_path_keeps_archives_without_site_pyspark(tmp_path):
    path, _ = _fake_path(tmp_path, "4.1.2", None)
    assert worker_daemon._site_path(path) is None


def test_in_archive_covers_entries_inside_archives():
    for entry in ("/l/pyspark.zip", "/l/pyspark.zip/pyspark/sql", "/j/core.jar/org"):
        assert worker_daemon._in_archive(entry), entry
    for entry in ("", "/site-packages", "/l/zipfile_tools", os.path.join("a", "b.py")):
        assert not worker_daemon._in_archive(entry), entry


def test_session_conf_sets_daemon_for_local_masters_only():
    key = "spark.python.daemon.module"
    assert _session_conf("local[4]", None)[key] == "mrgo_spark.worker_daemon"
    assert _session_conf("local[4,2]", {})[key] == "mrgo_spark.worker_daemon"
    assert key not in _session_conf("yarn", None)
    assert key not in _session_conf(None, None)
    overridden = _session_conf("local[4]", {key: "pyspark.daemon", "a": "b"})
    assert overridden == {key: "pyspark.daemon", "a": "b"}
