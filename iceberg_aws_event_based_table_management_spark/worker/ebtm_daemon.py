"""Python worker daemon: ``pyspark.daemon`` on an unzipped ``sys.path``.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar on ``PYTHONPATH``.  Every
task's ``setup_spark_files`` then calls ``importlib.invalidate_caches()``,
and on Python 3.11 each cached ``zipimporter`` re-reads its archive's
whole directory on that call: 1,328 entries for pyspark.zip, 5,359 for
the jar, which holds no Python at all.  That was 0.12-0.18 s of worker
CPU per task.

``session.get_spark`` names this module as ``spark.python.daemon.module``
and puts its directory on the workers' path.  It rewrites ``sys.path``
before anything imports pyspark, so it imports neither pyspark nor the
engine package (whose ``__init__`` imports pyspark) at module level,
and its directory holds nothing else.
"""

from __future__ import annotations

import os
import sys


def unpacked_root(spark_home: str | None) -> str | None:
    """The directory holding the unpacked ``pyspark`` package of the
    same Spark: ``$SPARK_HOME/python`` for a distribution, the parent
    of ``$SPARK_HOME`` for a pip install (where ``$SPARK_HOME`` is the
    package itself).  None when neither holds one."""
    if not spark_home:
        return None
    for root in (os.path.join(spark_home, "python"), os.path.dirname(os.path.abspath(spark_home))):
        if os.path.isfile(os.path.join(root, "pyspark", "__init__.py")):
            return root
    return None


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` with Spark's archives swapped for unpacked directories.

    ``pyspark.zip`` becomes the unpacked root of the same Spark, any
    other ``$SPARK_HOME/python/lib`` zip (py4j's) is dropped when a
    directory on the new path holds its package unpacked, and ``.jar``
    entries are dropped; a directory already on the path keeps only
    its first place.  Without an unpacked pyspark the path stays as
    Spark built it."""
    root = unpacked_root(spark_home)
    if root is None:
        return list(path)
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    dirs = [root] + [p for p in path if not p.endswith((".zip", ".jar"))]
    out = []
    for p in path:
        if p.endswith(".jar"):
            continue
        if p.endswith(".zip") and os.path.realpath(os.path.dirname(p)) == lib:
            package = os.path.basename(p)[: -len(".zip")].split("-")[0]
            if package == "pyspark":
                out.append(root)
                continue
            if any(os.path.isfile(os.path.join(d, package, "__init__.py")) for d in dirs):
                continue
        out.append(p)
    return list(dict.fromkeys(out))


def main() -> None:
    path = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    for gone in set(sys.path) - set(path):
        # finding this module already cached an importer for each archive
        sys.path_importer_cache.pop(gone, None)
    sys.path[:] = path
    # compile pyspark from source, as the zip import did, rather than
    # write bytecode caches into the Spark installation
    sys.dont_write_bytecode = True
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
