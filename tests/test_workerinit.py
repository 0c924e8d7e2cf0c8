"""sketchlib.spark.workerinit: PySpark's per-task
``importlib.invalidate_caches()`` re-reads no archive in the Spark
install's ``python/lib`` and ``jars``, and still re-reads every other
archive (``addPyFile`` and ``--py-files`` zips above all)."""

from __future__ import annotations

import os
import zipfile

import pytest

from sketchlib.spark import workerinit

HOME = os.environ.get("SPARK_HOME")
pytestmark = pytest.mark.skipif(not HOME, reason="SPARK_HOME not set")


def _zip(path, module: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 1\n")
    return str(path)


def test_spark_install_is_matched_by_resolved_path(tmp_path):
    """Archives are matched after symlinks resolve, so the symlinked
    ``$SPARK_HOME/python/lib`` and the resolved jar path both count; a
    path that only starts with a matched directory's name does not, nor
    does the rest of the install (a standalone executor's ``work``
    directory, where ``addPyFile`` zips are fetched)."""
    root = os.path.realpath(HOME)
    assert workerinit.STATIC_DIRS == (os.path.join(root, "python", "lib", ""), os.path.join(root, "jars", ""))
    lib = os.path.join(HOME, "python", "lib", "pyspark.zip")
    assert workerinit.in_spark_install(lib)
    assert workerinit.in_spark_install(os.path.realpath(lib))
    assert workerinit.in_spark_install(os.path.join(HOME, "jars", "spark-core.jar"))
    assert not workerinit.in_spark_install(os.path.join(root, "jars-other", "x.zip"))
    assert not workerinit.in_spark_install(root + "-other/python/lib/x.zip")
    assert not workerinit.in_spark_install(os.path.join(HOME, "work", "app-x", "0", "user.zip"))
    assert not workerinit.in_spark_install(os.path.join(root, "work", "app-x", "0", "user.zip"))
    link = tmp_path / "link.zip"
    link.symlink_to(os.path.realpath(lib))
    assert workerinit.in_spark_install(str(link))
    assert not workerinit.in_spark_install(_zip(tmp_path / "user.zip", "skl_user_mod"))


def test_worker_rereads_only_archives_outside_the_spark_install(spark, tmp_path):
    """Inside a worker that has imported sketchlib,
    ``importlib.invalidate_caches()`` reads no archive under the
    resolved ``$SPARK_HOME/python/lib`` or ``$SPARK_HOME/jars``
    (pyspark.zip, py4j, the spark-core jar)
    and re-reads the zip shipped with ``sc.addPyFile``."""
    spark.sparkContext.addPyFile(_zip(tmp_path / "skl_workerinit_probe.zip", "skl_workerinit_probe"))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import sketchlib.spark  # noqa: F401
        import skl_workerinit_probe  # noqa: F401  (an importer into the added zip)

        for _ in batches:
            pass
        read = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: read.append(path) or real(path)
        try:
            importlib.invalidate_caches()
            importers = [v for v in list(sys.path_importer_cache.values()) if isinstance(v, zipimport.zipimporter)]
            for imp in importers:  # where a re-read is lazy, a lookup makes it
                imp.find_spec("skl_no_such_module")
        finally:
            zipimport._read_directory = real
        archives = sorted({imp.archive for imp in importers})
        yield pa.RecordBatch.from_pydict({"archive": archives, "reread": [a in read for a in archives]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "archive string, reread boolean").collect()
    root = os.path.realpath(HOME)
    static = tuple(os.path.join(root, *d, "") for d in (("python", "lib"), ("jars",)))
    ours = {r.archive: r.reread for r in rows if os.path.realpath(r.archive).startswith(static)}
    assert any(a.endswith("pyspark.zip") for a in ours), rows
    assert any(os.path.basename(a).startswith("spark-core") for a in ours), rows
    assert not any(ours.values()), ours
    (added,) = [r for r in rows if os.path.basename(r.archive) == "skl_workerinit_probe.zip"]
    assert added.reread
