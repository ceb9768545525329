"""Python worker daemon: ``pyspark.daemon`` without Spark's archives on
the import path, and with the Arrow stack imported before it forks.

Spark starts its Python workers with ``pyspark.zip``, the py4j zip and
the ``spark-core`` jar first on ``PYTHONPATH``. Before every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
cached ``zipimporter`` (one per archive and per package directory
imported from it) re-read its archive's directory: ~220 ms of worker
CPU per task, whatever the task does. ``get_spark`` points
``spark.python.daemon.module`` here; this module drops those archives
from ``sys.path`` and from ``sys.path_importer_cache`` (``runpy`` has
already cached importers for them while it looked for this package),
then runs the stock daemon. Workers then import the installed
``pyspark`` and ``py4j`` — the driver's own copies. An archive stays
when the package it carries cannot be found anywhere else.

The daemon forks one worker per task, so whatever a task imports it
imports again in every task: an Arrow UDF's worker imported pandas
(``pa.array`` looks for it) and Spark's Arrow serializers, ~400 ms of
CPU per task. Imported here once, before the fork, they cost a task
nothing.

Run as ``python -m clickhouse_from_scratch_spark.worker_daemon``; the
package must import nothing from ``pyspark`` at package level.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _archive_package(entry: str) -> str | None:
    """The package a Spark archive on ``sys.path`` carries ("" for the
    jar, which carries none), or None when ``entry`` is no such archive."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return "" if name.endswith(".jar") else None


def drop_spark_archives() -> list[str]:
    """Remove Spark's archives from the import path and importer cache,
    keeping any archive whose package has no other importable copy.
    Returns the dropped entries."""
    archives = {p: pkg for p in sys.path
                if (pkg := _archive_package(p)) is not None}
    rest = [p for p in sys.path if p not in archives]
    dropped = [p for p, pkg in archives.items()
               if not pkg or PathFinder.find_spec(pkg, rest) is not None]
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]
    return dropped


if __name__ == "__main__":
    drop_spark_archives()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    daemon.manager()
