import importlib
import sys
import zipfile
import zipimport

from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from kg_obo_spark import pyworker
from kg_obo_spark.operators.extract import extract_turn_terms


def _write_zip(path, modules):
    # in place: same inode, so only size and mtime tell the rewrite apart
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_guard_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_zmod_a": "X = 1\n"})
    # registers the stdlib method for restore before install() replaces it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert pyworker.install()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for name in ("pyworker_zmod_a", "pyworker_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pyworker_zmod_a").X == 1
        importlib.invalidate_caches()  # first re-read the guard sees: CPython's
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"pyworker_zmod_a": "X = 1\n", "pyworker_zmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("pyworker_zmod_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_guard_rereads_when_stat_fails(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"pyworker_zmod_c": "Z = 3\n"})
    imp = zipimport.zipimporter(archive)
    pyworker.guarded_invalidate_caches(imp)
    assert pyworker._read_stat[archive] == pyworker._archive_stat(archive)
    (tmp_path / "gone.zip").unlink()
    pyworker.guarded_invalidate_caches(imp)  # CPython's path: the directory empties
    assert imp._files == {} and archive not in pyworker._read_stat


def test_driver_import_keeps_stdlib_invalidation():
    import kg_obo_spark  # noqa: F401

    assert not pyworker.install_if_worker()
    assert zipimport.zipimporter.invalidate_caches is pyworker._STDLIB_INVALIDATE


def test_library_workers_run_guarded_invalidation(spark, onto):
    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("text", StringType()),
    ])
    n = spark.sparkContext.defaultParallelism
    turns = spark.createDataFrame(
        [(f"c{i}", 0, "nothing to match here") for i in range(n)], schema
    ).repartition(n)
    extract_turn_terms(turns, onto).collect()

    def probe(batches):
        # a closure pickled by value that imports nothing of kg_obo_spark
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        lib = "kg_obo_spark" in sys.modules
        guard = sys.modules["kg_obo_spark.pyworker"] if lib else None
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "lib": [lib],
            "guarded": [guard is not None and fn is guard.guarded_invalidate_caches],
            "rereads": [len(guard._read_stat) if lib else 0],
        })

    rows = (
        spark.range(0, 4 * n, numPartitions=4 * n)
        .mapInArrow(probe, "pid long, lib boolean, guarded boolean, rereads long")
        .collect()
    )
    lib_rows = [r for r in rows if r.lib]
    assert lib_rows, rows
    # every worker that imported the library ran this task's set-up guarded
    assert all(r.guarded and r.rereads > 0 for r in lib_rows), rows
    assert zipimport.zipimporter.invalidate_caches is pyworker._STDLIB_INVALIDATE
