"""The Python-worker guard (``logparser_spark._worker``): a changed zip
archive is re-read and an unchanged one is not, a file added with
``addPyFile`` after the first task imports in a later task, and the
driver process is never patched."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from logparser_spark import _worker


def _write_zip(path, name, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", source)


def test_changed_zip_is_reread_and_unchanged_zip_is_not(tmp_path, monkeypatch):
    if not _worker.rereads_eagerly():
        pytest.skip("this Python's zipimporter does not re-read archives")
    from pyspark.core.files import SparkFiles

    # monkeypatch puts the original method, the recorded stats and the
    # worker flag back after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_worker, "_read_stat", {})
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert _worker.install()
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")

    name = f"guard_probe_{uuid.uuid4().hex}"
    archive = tmp_path / "mods.zip"
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(name).VALUE == 1
        del sys.modules[name]

        _write_zip(archive, name, "VALUE = 22  # a longer archive\n")
        importlib.invalidate_caches()
        assert importlib.import_module(name).VALUE == 22

        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read(a))
        importlib.invalidate_caches()
        assert str(archive) not in reads
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 22
    finally:
        sys.modules.pop(name, None)


def test_driver_import_leaves_zipimporter_alone(spark):
    """The session fixture's driver has imported PySpark and the package:
    its zipimporters keep CPython's own method."""
    import logparser_spark  # noqa: F401

    assert not _worker.on_worker()
    assert not _worker.install()
    method = zipimport.zipimporter.invalidate_caches
    assert not hasattr(method, "__wrapped__")
    assert (method.__module__, method.__qualname__) == (
        "zipimport", "zipimporter.invalidate_caches")


def test_add_py_file_after_first_task_imports(spark, tmp_path):
    """A task on a worker that already holds the guard still imports a
    module that ``addPyFile`` shipped after that worker's first task, as
    a zip and as a plain ``.py`` file."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    @F.arrow_udf("boolean")
    def guarded(x: pa.Array) -> pa.Array:
        import zipimport

        import logparser_spark  # noqa: F401

        on = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        return pa.array([on] * len(x), pa.bool_())

    df = spark.range(0, 8, 1, 8)
    assert all(r[0] for r in df.select(guarded("id")).collect()) == \
        _worker.rereads_eagerly()

    tag = uuid.uuid4().hex
    zipped, plain = f"late_zip_{tag}", f"late_py_{tag}"
    _write_zip(tmp_path / f"{zipped}.zip", zipped, "VALUE = 7\n")
    (tmp_path / f"{plain}.py").write_text("VALUE = 9\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{zipped}.zip"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{plain}.py"))

    @F.arrow_udf("struct<on:boolean,v:long>")
    def late(x: pa.Array) -> pa.Array:
        import importlib
        import zipimport

        on = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        v = (importlib.import_module(zipped).VALUE * 10
             + importlib.import_module(plain).VALUE)
        return pa.StructArray.from_arrays(
            [pa.array([on] * len(x)), pa.array([v] * len(x), pa.int64())],
            ["on", "v"])

    rows = df.select(late("id").alias("r")).select("r.*").collect()
    assert [r["v"] for r in rows] == [79] * 8
    if _worker.rereads_eagerly():
        assert any(r["on"] for r in rows)
