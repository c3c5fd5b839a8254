"""The Python-worker zipimport fix in ``fluent_bit_clp_spark/__init__.py``:
inside a Spark worker, ``importlib.invalidate_caches()`` (called by
pyspark before every task) must not re-read zip archive directories
that did not change."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter already invalidates lazily",
)


def _zip_module(path, name: str, body: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)
    return str(path)


@needs_eager_zipimport
def test_lazy_invalidate_reads_no_directory(tmp_path, monkeypatch):
    import fluent_bit_clp_spark as pkg

    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    a = _zip_module(tmp_path / "a.zip", "zipcache_mod_a", "X = 1\n")
    monkeypatch.syspath_prepend(a)
    assert importlib.import_module("zipcache_mod_a").X == 1
    assert isinstance(sys.path_importer_cache[a], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert a in reads  # the stock method re-reads eagerly

    reads.clear()
    pkg._install_lazy_zip_invalidate()
    importlib.invalidate_caches()
    assert reads == []

    # a zip put on sys.path afterwards (SparkContext.addPyFile) still imports
    b = _zip_module(tmp_path / "b.zip", "zipcache_mod_b", "Y = 2\n")
    monkeypatch.syspath_prepend(b)
    assert importlib.import_module("zipcache_mod_b").Y == 2

    # an archive rewritten in place (addPyFile of the same name) is re-read
    _zip_module(tmp_path / "a.zip", "zipcache_mod_a", "X = 'rewritten'\n")
    importlib.invalidate_caches()
    assert a in reads
    sys.modules.pop("zipcache_mod_a")
    assert importlib.import_module("zipcache_mod_a").X == "rewritten"
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)


def test_package_import_does_not_load_pyspark():
    """Spark-free users of the codec pay no pyspark import."""
    probe = "import sys, fluent_bit_clp_spark; print('pyspark' in sys.modules)"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, check=True,
        capture_output=True, text=True,
    )
    assert out.stdout.strip() == "False"


@needs_eager_zipimport
def test_worker_installs_lazy_invalidate_driver_untouched(spark):
    import pyarrow as pa

    import fluent_bit_clp_spark as pkg

    def report(batches):
        for _ in batches:
            pass
        lazy = zipimport.zipimporter.invalidate_caches is pkg._invalidate_if_changed
        yield pa.RecordBatch.from_pydict({"lazy": [lazy]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(report, "lazy boolean")
        .collect()
    )
    assert [r.lazy for r in rows] == [True]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
