"""The package's Python-worker hook (``_freeze_spark_archives``).

pyspark calls ``importlib.invalidate_caches()`` before every Python task,
which makes every cached ``zipimporter`` re-read its archive directory. The
hook freezes the importers of the archives under ``$SPARK_HOME/python/lib``
and of the ``$SPARK_HOME/jars/spark-core_*.jar`` only. These tests pin that
imports keep working afterwards: a pyspark submodule nothing imported yet,
and a ``--py-files`` archive shipped after the first task, both still import
in a later task.
"""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

import docling_rag_spark as pkg

LIB = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
JARS = os.path.realpath(os.path.join(os.environ.get("SPARK_HOME", ""),
                                     "jars"))


def _zip(path: str, members: dict[str, str]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return path


def test_freezes_only_archives_under_spark_python_lib(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    home = tmp_path / "spark"
    lib_zip = _zip(str(home / "python" / "lib" / "pyspark.zip"),
                   {"fake_pkg/__init__.py": ""})
    user_zip = _zip(str(tmp_path / "userFiles" / "deps.zip"),
                    {"user_mod.py": ""})
    near_zip = _zip(str(home / "python" / "lib" / "sub" / "other.zip"),
                    {"other_mod.py": ""})
    core_jar = _zip(str(home / "jars" / "spark-core_2.13-9.9.9.jar"),
                    {"core_mod.py": ""})
    other_jar = _zip(str(home / "jars" / "spark-sql_2.13-9.9.9.jar"),
                     {"sql_mod.py": ""})
    entries = [lib_zip, os.path.join(lib_zip, "fake_pkg"), user_zip,
               near_zip, core_jar, other_jar]
    for p in entries:
        monkeypatch.setitem(sys.path_importer_cache, p,
                            zipimport.zipimporter(p))
    monkeypatch.setenv("SPARK_HOME", str(home))

    # on the driver the hook leaves the import system alone
    pkg._freeze_spark_archives()
    assert not any(isinstance(sys.path_importer_cache[p],
                              pkg._FrozenZipImporter) for p in entries)

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    pkg._freeze_spark_archives()
    kinds = {p: type(sys.path_importer_cache[p]) for p in entries}
    assert kinds == {lib_zip: pkg._FrozenZipImporter,
                     os.path.join(lib_zip, "fake_pkg"):
                         pkg._FrozenZipImporter,
                     user_zip: zipimport.zipimporter,
                     near_zip: zipimport.zipimporter,
                     core_jar: pkg._FrozenZipImporter,
                     other_jar: zipimport.zipimporter}
    # the per-task call is now a no-op, and the frozen importer still
    # finds what its archive holds
    frozen = sys.path_importer_cache[lib_zip]
    frozen.invalidate_caches()
    assert frozen.find_spec("fake_pkg") is not None


def _run_task(spark, fn, schema: str) -> list:
    """One Python task (a one-partition ``mapInPandas``)."""
    return spark.range(1).repartition(1).mapInPandas(fn, schema).collect()


@pytest.fixture
def frozen_workers(spark):
    if not os.path.isfile(os.path.join(LIB, "pyspark.zip")):
        pytest.skip("workers do not import pyspark from $SPARK_HOME")

    def touch(batches):
        import docling_rag_spark  # noqa: F401  (the hook's trigger)
        for b in batches:
            yield b

    # one package import in the workers a 4-task stage reaches
    spark.range(4).repartition(4).mapInPandas(touch, "id long").collect()
    return spark


def test_new_pyspark_submodule_imports_after_freeze(frozen_workers):
    candidates = ["pyspark.ml.linalg", "pyspark.mllib.linalg",
                  "pyspark.ml.param", "pyspark.testing.utils"]

    def probe(batches):
        import importlib
        import sys

        import docling_rag_spark as p
        for _ in batches:
            pass
        zips = {os.path.dirname(v.archive): type(v).__name__
                for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)}
        fresh = next(m for m in candidates if m not in sys.modules)
        # what setup_spark_files does before every task
        importlib.invalidate_caches()
        mod = importlib.import_module(fresh)
        frozen = sorted({os.path.dirname(v.archive)
                         for v in sys.path_importer_cache.values()
                         if isinstance(v, p._FrozenZipImporter)})
        yield pd.DataFrame({"module": [fresh], "file": [mod.__file__],
                            "lib_kind": [zips.get(LIB, "")],
                            "jar_kind": [zips.get(JARS, "")],
                            "frozen": [frozen]})

    row = _run_task(frozen_workers, probe,
                    "module string, file string, lib_kind string, "
                    "jar_kind string, frozen array<string>")[0]
    assert row["lib_kind"] == "_FrozenZipImporter"
    # the spark-core jar, when Spark puts it on the worker's path
    assert row["jar_kind"] in ("", "_FrozenZipImporter")
    assert row["file"].startswith(os.path.join(LIB, "pyspark.zip"))
    # the shipped package zip is not frozen
    assert LIB in row["frozen"] and set(row["frozen"]) <= {LIB, JARS}


@pytest.mark.parametrize("kind", ["zip", "py"])
def test_py_file_added_after_first_task_imports(frozen_workers, tmp_path,
                                                kind):
    name = f"late_mod_{uuid.uuid4().hex[:8]}"
    src = f"VALUE = {name!r}\n"
    if kind == "zip":
        path = _zip(str(tmp_path / f"{name}.zip"), {f"{name}.py": src})
    else:
        path = str(tmp_path / f"{name}.py")
        with open(path, "w") as f:
            f.write(src)
    frozen_workers.sparkContext.addPyFile(path)

    def probe(batches):
        import importlib
        for _ in batches:
            pass
        yield pd.DataFrame({"value": [importlib.import_module(name).VALUE]})

    assert _run_task(frozen_workers, probe, "value string")[0]["value"] == name


_STAGE_CALLS = ("mapInPandas", "applyInPandas", "mapInArrow")


def _stage_functions(tree):
    """Names of the functions a module hands to Spark as Python stages:
    ``df.mapInPandas(fn, ...)``-style calls and ``@pandas_udf`` defs."""
    import ast

    names = set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in _STAGE_CALLS and node.args
                and isinstance(node.args[0], ast.Name)):
            names.add(node.args[0].id)
        if isinstance(node, ast.FunctionDef) and any(
                "pandas_udf" in ast.unparse(d) for d in node.decorator_list):
            names.add(node.name)
    return names


def test_every_python_stage_imports_the_package():
    """Unpickling a stage function must import the package, which is what
    runs the worker hook: the function is module-level (pickled by
    reference), imports from the package, or calls a module-level
    function of the package (its own module's, or one imported from the
    package there or in an enclosing function)."""
    import ast
    import glob

    root = os.path.dirname(pkg.__file__)
    missing, seen = [], 0
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"),
                                 recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        top = {n.name for n in tree.body
               if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        top |= {a.asname or a.name for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom)
                and (n.module or "").startswith("docling_rag_spark")
                for a in n.names}
        stages = _stage_functions(tree)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.FunctionDef)
                    and node.name in stages):
                continue
            seen += 1
            ok = node in tree.body or any(
                (isinstance(n, ast.ImportFrom)
                 and (n.module or "").startswith("docling_rag_spark"))
                or (isinstance(n, ast.Name) and n.id in top)
                for n in ast.walk(node))
            if not ok:
                missing.append(f"{os.path.relpath(path, root)}:{node.name}")
    assert seen >= 10  # the scan finds the package's stages
    assert missing == []
