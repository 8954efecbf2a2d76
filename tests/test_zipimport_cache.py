"""``tectonic_spark.zipimport_cache``: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed, and a
changed or deleted archive behaves exactly as with the stdlib method. Also
pins that importing the package (and L1) does not import pyspark, and that
a real Spark executor worker, which imports pyspark from ``pyspark.zip``,
stops re-reading it once it has imported the package, and that a worker
forked by ``tectonic_spark.worker_daemon`` has the cache and a frozen heap
even when its kernel, pickled by value, never imports the package."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

import tectonic_spark  # noqa: F401 - installs the cache before 3.13

_BEFORE_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13+ zipimporter only drops its cache"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zc_alpha``; yields ``(path, reads)``
    where ``reads`` lists every ``_read_directory`` call on that archive."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zc_alpha.py": "X = 1\n"})
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive_path):
        if archive_path == str(path):
            reads.append(archive_path)
        return original(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(str(path))
    yield path, reads
    sys.path_importer_cache.pop(str(path), None)
    for name in ("zc_alpha", "zc_beta"):
        sys.modules.pop(name, None)


@_BEFORE_313
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("zc_alpha").X == 1
    importlib.invalidate_caches()  # records the stat of this read
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@_BEFORE_313
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.import_module("zc_alpha")
    importlib.invalidate_caches()
    _write_zip(path, {"zc_alpha.py": "X = 1\n", "zc_beta.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_beta").Y == 2


@_BEFORE_313
def test_deleted_archive_empties_importer(archive):
    path, reads = archive
    importlib.import_module("zc_alpha")
    importlib.invalidate_caches()
    path.unlink()
    importlib.invalidate_caches()  # the stdlib swallows the ZipImportError too
    assert sys.path_importer_cache[str(path)]._files == {}


def test_core_import_is_spark_free():
    # numpy loads only when the JSON structural index first runs
    code = (
        "import sys, zipimport\n"
        "import tectonic_spark, tectonic_spark.core, tectonic_spark.core.json_parser\n"
        "import tectonic_spark.core.csv_parser\n"
        "from tectonic_spark import zipimport_cache\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
        "assert 'numpy' not in sys.modules, 'numpy imported'\n"
        "patched = zipimport.zipimporter.invalidate_caches"
        " is zipimport_cache._invalidate_if_changed\n"
        "assert patched == (sys.version_info < (3, 13))\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True)


def _worker_state(import_package: bool):
    """A ``mapInArrow`` kernel, pickled by value (it is a closure), that
    reports the worker's zip importers, the ``_read_directory`` calls of its
    second ``importlib.invalidate_caches()``, and its gc state."""

    def kernel(batches):
        import gc
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        if import_package:
            import tectonic_spark  # noqa: F401 - installs the cache before 3.13

        for _ in batches:
            pass
        reads = []
        original = zipimport._read_directory

        def counting(archive_path):
            reads.append(archive_path)
            return original(archive_path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
            second = len(reads) - first
        finally:
            zipimport._read_directory = original
        zip_importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "zip_importers": [zip_importers],
                "second": [second],
                "frozen": [gc.get_freeze_count()],
                "tracked": [len(gc.get_objects())],
                # gc.get_objects() leaves out the frozen generation: a
                # package module it does not list was imported before the
                # daemon froze its heap and forked, whatever ran since in
                # this reused worker
                "package_frozen": [
                    "tectonic_spark" in sys.modules
                    and all(o is not sys.modules["tectonic_spark"] for o in gc.get_objects())
                ],
            }
        )

    return kernel


def _run_worker_state(spark, import_package: bool):
    return (
        spark.range(1, numPartitions=1)
        .mapInArrow(
            _worker_state(import_package),
            "zip_importers long, second long, frozen long, tracked long, package_frozen boolean",
        )
        .collect()[0]
    )


def test_executor_worker_stops_rereading_pyspark_zip(spark):
    row = _run_worker_state(spark, import_package=True)
    if row.zip_importers == 0:
        pytest.skip("executor workers do not import pyspark from a zip here")
    assert row.second == 0


def test_by_value_kernel_runs_in_a_frozen_worker(spark):
    """A kernel pickled by value that never imports the package still finds
    the zip cache installed, because the worker daemon imported the package
    before it forked; and it runs from a frozen heap: the daemon's pre-fork
    objects (~72k) sit in gc's permanent generation, so the full collection
    a reused worker runs after every task no longer walks them."""
    row = _run_worker_state(spark, import_package=False)
    assert row.package_frozen
    assert row.frozen > 0
    # a worker's own objects: a few hundred after its first task, more once
    # earlier tasks in the same worker imported operator modules
    assert row.tracked < row.frozen // 2
    if row.zip_importers == 0:
        pytest.skip("executor workers do not import pyspark from a zip here")
    assert row.second == 0
