"""The Python worker daemon (``flink_dsl_spark.worker_daemon``).

The zip-cache tests run without Spark: a package is imported from a
temporary zip, ``zipimporter.invalidate_caches`` is swapped for the
daemon's version, and a spy on ``zipimport._read_directory`` counts how
often the archive's central directory is parsed.  The Spark tests check
that ``get_session`` starts workers through the daemon, and that they
still run from a working directory outside the repository.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from flink_dsl_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for name, value in modules.items():
            z.writestr(f"{pkg}/{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zipped(tmp_path, monkeypatch, request):
    """A package ``pkg`` with module ``a`` imported from ``archive``,
    the daemon's ``invalidate_caches`` installed with fresh stamps, and
    ``reads`` counting directory parses of ``archive``."""
    pkg = f"wdpkg_{request.node.name.split('[')[0]}"
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, pkg, {"a": 1, "b": 2})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{pkg}.a")
    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    yield archive, pkg, reads
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache
                 if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive):
    return [f for p, f in sys.path_importer_cache.items()
            if p.startswith(archive) and isinstance(f, zipimport.zipimporter)]


def test_unchanged_archive_is_read_once(zipped, monkeypatch):
    archive, _pkg, reads = zipped
    # the archive root and the package directory: one zipimporter each
    assert len(_importers(archive)) == 2
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1
    # CPython's own method parses once per zipimporter and call before
    # 3.13, and not at all (lazily, on the next import) from 3.13 on
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._cpython_invalidate_caches)
    importlib.invalidate_caches()
    assert len(reads) == (1 if sys.version_info >= (3, 13) else 3)


def test_rewritten_archive_is_reread_and_new_module_imports(zipped):
    archive, pkg, reads = zipped
    importlib.invalidate_caches()
    assert len(reads) == 1
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{pkg}.c")
    _write_zip(archive, pkg, {"a": 1, "b": 2, "c": 3})
    importlib.invalidate_caches()
    assert len(reads) == 2          # once for both zipimporters
    assert importlib.import_module(f"{pkg}.c").VALUE == 3
    importlib.invalidate_caches()
    assert len(reads) == 2


def _after_delete(archive, pkg, method):
    """State after deleting ``archive`` and invalidating through
    ``method``: (archive cached?, importers' files, import outcome)."""
    os.remove(archive)
    for f in _importers(archive):
        method(f)
    try:
        importlib.import_module(f"{pkg}.b")
        outcome = "imported"
    except ModuleNotFoundError:
        outcome = "not found"
    return (archive in zipimport._zip_directory_cache,
            [f._files for f in _importers(archive)], outcome)


def test_deleted_archive_behaves_as_cpython(zipped, tmp_path, monkeypatch):
    archive, pkg, _reads = zipped
    importlib.invalidate_caches()               # stamped
    ours = _after_delete(archive, pkg, worker_daemon.invalidate_caches)
    assert archive not in worker_daemon._stamps
    # the same sequence with CPython's method, on a second archive
    archive2 = str(tmp_path / "pkgs2.zip")
    pkg2 = pkg + "_cpython"
    _write_zip(archive2, pkg2, {"a": 1, "b": 2})
    monkeypatch.syspath_prepend(archive2)
    importlib.import_module(f"{pkg2}.a")
    try:
        theirs = _after_delete(archive2, pkg2,
                               worker_daemon._cpython_invalidate_caches)
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == pkg2]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache
                     if p.startswith(archive2)]:
            del sys.path_importer_cache[path]
    assert ours == theirs
    assert ours[2] == "not found"


def test_get_session_sets_daemon_module(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") \
        == "flink_dsl_spark.worker_daemon"


_OUTSIDE_SCRIPT = textwrap.dedent(r"""
    import os
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from flink_dsl_spark import get_session
    from flink_dsl_spark.streaming import count_window_agg

    spark = get_session()

    @pandas_udf("string")
    def daemon_of(s: pd.Series) -> pd.Series:
        import zipimport
        f = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return s.map(lambda _: f)

    print("UDF", sorted({r[0] for r in
                         spark.range(8).select(daemon_of("id")).collect()}))

    src = os.path.join(os.getcwd(), "src")
    schema = "o long, k string, v double"
    spark.createDataFrame([(i, "u", float(i)) for i in range(8)], schema) \
        .coalesce(1).write.parquet(src)
    out = count_window_agg(spark.readStream.schema(schema).parquet(src),
                           ["k"], [("sum", "v", "sv")], size=4,
                           order_col="o")
    q = (out.writeStream.format("memory").queryName("cw")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    print("STREAM", sorted((r["window_no"], r["sv"])
                           for r in spark.table("cw").collect()))
    spark.stop()
""")


@pytest.mark.slow
def test_workers_run_from_outside_the_repo(tmp_path):
    """A pandas UDF and a count_window_agg stream run with the working
    directory outside the repository and PYTHONPATH set to its root:
    the daemon, and the engine's code in the workers, import from
    PYTHONPATH."""
    env = dict(os.environ, PYTHONPATH=REPO_ROOT, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run([sys.executable, "-c", _OUTSIDE_SCRIPT],
                          cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    daemon = os.path.join(REPO_ROOT, "flink_dsl_spark", "worker_daemon.py")
    assert f"UDF [{daemon!r}]" in proc.stdout
    assert "STREAM [(0, 6.0), (1, 22.0)]" in proc.stdout
