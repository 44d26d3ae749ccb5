"""The worker-start import wrapper (koncorde_spark/spark/_worker_imports.py):
a zip archive's directory is re-read only when the archive changed, a new
or rewritten archive still imports, and every PySpark worker that imports
koncorde_spark runs with the wrapper."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from koncorde_spark.spark import _worker_imports

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def reads(monkeypatch):
    """Install the wrapper for one test (restored after it) and count
    zipimport's archive directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_worker_imports, "_read_keys", {})
    if not _worker_imports.install():
        pytest.skip("zipimport lacks the CPython 3.11 shape; stock behaviour kept")
    paths = []
    stock_read = zipimport._read_directory

    def counting(archive):
        paths.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return paths


@pytest.fixture
def archive(reads, tmp_path, monkeypatch):
    """A zip on sys.path holding package ``pkg``, imported through two
    zipimporters (the archive root and its ``pkg/`` prefix); ``reads``
    starts counting after the import."""
    tag = uuid.uuid4().hex[:8]
    pkg, path = f"kzpkg_{tag}", str(tmp_path / f"kz_{tag}.zip")
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "VALUE = 'a'"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.a")
    reads.clear()
    yield path, pkg
    for name in [m for m in sys.modules if m.startswith(pkg)]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == path]


def test_unchanged_archive_is_read_once(reads, archive):
    path, _ = archive
    assert len(_importers(path)) == 2
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) == 1
    shared = zipimport._zip_directory_cache[path]
    assert all(imp._files is shared for imp in _importers(path))


def test_rewritten_archive_is_reread_and_its_new_module_imports(reads, archive):
    path, pkg = archive
    importlib.invalidate_caches()
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "VALUE = 'a'",
                      f"{pkg}/b.py": "VALUE = 'b'"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").VALUE == "b"
    assert reads.count(path) == 2  # one re-read serves both importers


def test_deleted_archive_behaves_as_stock(reads, archive):
    path, pkg = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    # stock: the directory read fails, the importer forgets its files
    assert all(imp._files == {} for imp in _importers(path))
    assert path not in zipimport._zip_directory_cache
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/c.py": "VALUE = 'c'"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.c").VALUE == "c"


def test_installing_twice_leaves_one_wrapper(reads):
    wrapper = zipimport.zipimporter.invalidate_caches
    assert _worker_imports.install() and _worker_imports.installed()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert not getattr(wrapper.__wrapped__, "_stat_keyed", False)


def test_other_zipimport_shapes_keep_stock_behaviour(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    assert not _worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.parametrize("worker", [False, True])
def test_package_import_installs_only_in_a_worker(worker):
    code = (
        "from pyspark.core.files import SparkFiles\n"
        f"SparkFiles._is_running_on_worker = {worker}\n"
        "import koncorde_spark\n"
        "from koncorde_spark.spark._worker_imports import installed\n"
        "print(installed())\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True,
                         text=True, check=True).stdout
    assert out.split() == [str(worker)]


# -- in the Spark session's reused Python workers ---------------------------
# Task bodies are nested functions: cloudpickle ships them by value, since
# the workers cannot import this test module.


@pytest.mark.spark
def test_workers_run_the_wrapper(spark):
    def probe(_):
        """Import koncorde_spark as any of its closures does; report whether
        the worker runs the wrapper and how many zip archives it imports from."""
        import sys
        import zipimport

        import koncorde_spark  # noqa: F401
        from koncorde_spark.spark._worker_imports import installed

        yield installed(), len({f.archive for f in sys.path_importer_cache.values()
                                if isinstance(f, zipimport.zipimporter)})

    sc = spark.sparkContext
    for _ in range(2):  # the second pass runs on reused workers
        got = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert {ok for ok, _ in got} == {True}
    assert min(n for _, n in got) >= 1


@pytest.mark.spark
def test_task_start_rereads_only_changed_archives(spark):
    def task(_):
        import importlib
        import os
        import sys
        import tempfile
        import uuid
        import zipfile
        import zipimport

        import koncorde_spark  # noqa: F401

        # task start as setup_spark_files runs it, after this worker's
        # first task: no archive that did not change is read again
        importlib.invalidate_caches()
        tag = uuid.uuid4().hex[:8]
        path = os.path.join(tempfile.mkdtemp(), f"kz_{tag}.zip")
        reads, stock_read = [], zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), stock_read(p))[1]
        try:
            importlib.invalidate_caches()
            unchanged_reads = len(reads)
            # an archive on sys.path rewritten in place is read again
            with zipfile.ZipFile(path, "w") as z:
                z.writestr(f"kz_a_{tag}.py", "VALUE = 'a'")
            sys.path.insert(0, path)
            a = importlib.import_module(f"kz_a_{tag}").VALUE
            with zipfile.ZipFile(path, "w") as z:
                z.writestr(f"kz_a_{tag}.py", "VALUE = 'a'")
                z.writestr(f"kz_b_{tag}.py", "VALUE = 'b'")
            importlib.invalidate_caches()
            b = importlib.import_module(f"kz_b_{tag}").VALUE
        finally:
            zipimport._read_directory = stock_read
            if path in sys.path:
                sys.path.remove(path)
        yield unchanged_reads, a + b

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(task).collect()
    assert got == [(0, "ab")] * 4


@pytest.mark.spark
def test_add_py_file_after_first_task_imports_in_later_task(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).mapPartitions(lambda it: [sum(it)]).collect()
    name = f"kz_added_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}.py": "VALUE = 'fresh'"})
    sc.addPyFile(path)

    def task(_):
        import importlib

        import koncorde_spark  # noqa: F401

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(4), 4).mapPartitions(task).collect() == ["fresh"] * 4
