"""Python-worker daemon of engine-built local sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task. Before CPython 3.12 that makes each zipimporter the worker holds (~16
for ``pyspark.zip``, ~1,700 entries) re-read the archive's whole central
directory, most of a 1-row task's cost; CPython 3.12 made the re-read lazy
(gh-103200). This module makes ``zipimport.zipimporter.invalidate_caches`` a
no-op and then runs PySpark's daemon (``pyspark.daemon.manager``), so every
worker it forks inherits the no-op.

That is safe because no archive on a worker's path changes under it: Spark's
own zips are fixed for the JVM's life, and ``addPyFile`` archives get unique
paths that Spark will not overwrite. Directory finders are still invalidated,
so ``.py`` files shipped later with ``SparkFiles`` still import.

The module sits outside the engine package and imports only ``zipimport`` and
``pyspark.daemon``, so the daemon and its forked workers load nothing of the
engine (``python -m`` on a package module would run the package ``__init__``
first). ``session.get_spark`` selects it for a local master only, where the
driver's copy of this file is also the workers'.
"""

from __future__ import annotations

import zipimport


def keep_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` replacement: keep the read directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = keep_zip_directory

    from pyspark import daemon

    daemon.manager()
