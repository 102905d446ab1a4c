"""PySpark's worker daemon, started with Spark's own archives off ``sys.path``.

The JVM puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar at the front of every Python worker's ``PYTHONPATH``.
Before each task reads a row, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``, and every ``zipimporter`` on the
path then re-reads its archive's directory (the jar alone has some 26,700
entries). Where pyspark and py4j are installed as packages, those archives
add nothing but that cost.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Before it imports pyspark it drops the ``.zip``/``.jar`` entries under
``$SPARK_HOME`` from ``sys.path`` and from ``sys.path_importer_cache``, then
runs ``pyspark.daemon.manager()``, so every worker it forks inherits the
short path. It strips only when both ``pyspark`` and ``py4j`` still resolve
without those archives; otherwise the path stays as the JVM gave it. Paths
are compared after resolving links, and an archive outside ``$SPARK_HOME``
(a zip the user put on ``PYTHONPATH``) is always kept.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from typing import Callable, Optional

# The packages the daemon and its workers import from the stripped archives.
REQUIRED = ("pyspark", "py4j")


def _find_origin(name: str, path: list[str]) -> Optional[str]:
    """Where ``name`` would be imported from with ``path`` as ``sys.path``."""
    saved = sys.path[:]
    sys.path[:] = path
    try:
        spec = importlib.util.find_spec(name)
    finally:
        sys.path[:] = saved
    return spec.origin if spec is not None else None


def spark_archives(
    path: list[str],
    spark_home: Optional[str],
    resolve: Callable[[str, list[str]], Optional[str]] = _find_origin,
) -> list[str]:
    """The entries of ``path`` to drop: the ``.zip``/``.jar`` archives that
    lie under ``spark_home`` (compared as real paths), or none at all when
    ``resolve(name, rest)`` finds no origin for one of ``REQUIRED`` on the
    path without them."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    drop = [
        p for p in path
        if p.endswith((".zip", ".jar"))
        and os.path.commonpath([os.path.realpath(p), home]) == home
    ]
    rest = [p for p in path if p not in drop]
    if not drop or any(resolve(name, rest) is None for name in REQUIRED):
        return []
    return drop


if __name__ == "__main__":
    # The importers go too: importlib.invalidate_caches() refreshes every
    # finder in the cache, whether or not its entry is still on the path.
    drop = spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    sys.path[:] = [p for p in sys.path if p not in drop]
    for p in drop:
        sys.path_importer_cache.pop(p, None)
    from pyspark import daemon

    daemon.manager()
