"""PySpark-native main-content extraction + chunking engine.

A from-scratch rebuild of winrar23/docling-rag's parse-and-chunk capabilities
as batch DataFrame jobs over Common-Crawl-style page tables. See SURVEY.md.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


class _FrozenZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` of an archive that never changes while the
    process lives: ``invalidate_caches`` keeps the directory it read."""

    def invalidate_caches(self):
        pass


def _freeze_spark_archives() -> None:
    """Worker hook, run once per Python worker process by the package
    import that unpickling any of our Python stages triggers (each refers
    to a package function; tests/test_worker_hook.py pins that).

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``), and since Python 3.10 every
    cached ``zipimporter`` then re-reads its archive's directory: ~0.1 s
    a task for ``pyspark.zip``'s importers, and ~0.04 s for each of the
    two importers of the ``$SPARK_HOME/jars/spark-core_*.jar`` Spark puts
    on the worker's path. The archives under ``$SPARK_HOME/python/lib``
    and that jar never change while a worker lives, so their importers
    stop re-reading. ``--py-files`` archives keep the refresh: picking
    those up is what the call is for."""
    files = sys.modules.get("pyspark.core.files")
    home = os.environ.get("SPARK_HOME")
    if (files is None or not files.SparkFiles._is_running_on_worker
            or not home):
        return
    # Spark names the jar by its resolved path: $SPARK_HOME may be a link
    lib = os.path.realpath(os.path.join(home, "python", "lib"))
    jars = os.path.realpath(os.path.join(home, "jars"))
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is not zipimport.zipimporter:
            continue
        where, name = os.path.split(finder.archive)
        where = os.path.realpath(where)
        if where == lib or (where == jars and name.startswith("spark-core_")
                            and name.endswith(".jar")):
            sys.path_importer_cache[path] = _FrozenZipImporter(path)


_freeze_spark_archives()


def ship(spark) -> None:
    """Make this package importable on executors (spark-submit --py-files analog).

    Zips the package and registers it via ``SparkContext.addPyFile`` so that
    pandas-UDF workers can ``import docling_rag_spark`` regardless of how the
    driver process was launched. Idempotent per session.
    """
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_docling_rag_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="docling_rag_spark_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._docling_rag_spark_shipped = True
