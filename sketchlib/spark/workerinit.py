"""Per-process set-up of the Python workers that run sketchlib code.

At the start of every task PySpark's worker puts the task's
``--py-files``/``addPyFile`` archives on ``sys.path`` and calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
Under CPython 3.11 that makes every ``zipimporter`` re-read its whole
archive directory. A worker holds ~16 importers into archives of the
Spark install: ``python/lib/pyspark.zip``, the py4j zip, and the
spark-core jar that Spark also puts on the worker's path (5,359
entries). Re-reading them cost ~130 ms per task on a 4-core host,
however little the task did (``tools/task_cost.py`` measures it).

The Spark install's archives do not change while an application runs,
so they need no re-read. Importing this module (``sketchlib.spark``
does) makes ``zipimporter.invalidate_caches`` skip archives inside the
resolved ``$SPARK_HOME/python/lib`` and ``$SPARK_HOME/jars``. Every
other archive is still re-read, above all the task's own
``addPyFile``/``--py-files`` zips, wherever they are fetched to: on a
standalone cluster that is ``$SPARK_HOME/work/<app>/<executor>``,
inside the install, so the skip is limited to those two directories. A
worker's first task imports sketchlib and pays the re-read; the later
tasks of that process do not. Without ``SPARK_HOME`` nothing is
skipped.
"""

from __future__ import annotations

import functools
import os
import zipimport

_home = os.environ.get("SPARK_HOME")
# the directories' resolved paths, with a trailing separator: Spark puts
# both symlinked (``$SPARK_HOME/python/lib``) and resolved (the jar)
# paths on the worker's path
STATIC_DIRS = (
    tuple(os.path.join(os.path.realpath(_home), *d, "") for d in (("python", "lib"), ("jars",))) if _home else ()
)


@functools.lru_cache(maxsize=None)
def in_spark_install(archive: str) -> bool:
    """Whether ``archive`` resolves to a file in one of the Spark
    install's ``STATIC_DIRS`` (resolved once per archive path)."""
    return os.path.realpath(archive).startswith(STATIC_DIRS)


_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    if not in_spark_install(self.archive):
        _reread(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches
