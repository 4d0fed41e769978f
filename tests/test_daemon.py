"""Pins for erde_spark._daemon: zip archives on sys.path are re-read by
``importlib.invalidate_caches()`` only when they have changed, in this
process (no Spark) and in every Python worker of a local session."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from erde_spark import _daemon


def _write_zip(path, value):
    with zipfile.ZipFile(path, 'w') as zf:
        zf.writestr('zd_mod.py', f'VALUE = {value!r}\n')
        zf.writestr('zd_pkg/__init__.py', '')
        zf.writestr('zd_pkg/sub.py', f'VALUE = {value!r}\n')


@pytest.fixture
def patched(monkeypatch):
    """install() in this process, undone (with the test modules) after."""
    monkeypatch.setattr(zipimport.zipimporter, 'invalidate_caches',
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_daemon, '_reads', {})
    yield
    for name in ('zd_mod', 'zd_pkg', 'zd_pkg.sub'):
        sys.modules.pop(name, None)


@pytest.fixture
def read_spy(monkeypatch):
    calls = []
    stock = zipimport._read_directory

    def spy(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, '_read_directory', spy)
    return calls


def test_unchanged_archive_is_not_reread(patched, tmp_path, monkeypatch,
                                         read_spy):
    archive = str(tmp_path / 'lib.zip')
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    import zd_mod
    assert zd_mod.VALUE == 1
    # as in the daemon: the archive's importer exists before install(),
    # which reads each archive once
    read_spy.clear()
    assert _daemon.install()
    assert read_spy == [archive]
    read_spy.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_spy == []


def test_two_importers_on_one_archive(patched, tmp_path, monkeypatch,
                                      read_spy):
    # the archive root and the zd_pkg package each get their own importer
    archive = str(tmp_path / 'lib.zip')
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    import zd_mod
    import zd_pkg.sub
    assert _daemon.install()
    importers = [imp for path, imp in sys.path_importer_cache.items()
                 if path.startswith(archive)]
    assert len(importers) == 2
    assert all(isinstance(imp, zipimport.zipimporter) for imp in importers)
    read_spy.clear()
    importlib.invalidate_caches()
    assert read_spy == []
    # after a change the first importer re-reads and the second takes
    # that read: neither is left with the old directory
    _write_zip(archive, 'changed')  # a new size, whatever the mtime
    importlib.invalidate_caches()
    assert read_spy == [archive]
    assert importlib.reload(zd_mod).VALUE == 'changed'
    assert importlib.reload(zd_pkg.sub).VALUE == 'changed'
    read_spy.clear()
    importlib.invalidate_caches()
    assert read_spy == []


def test_python_workers_skip_the_reread(spark):
    def probe(ids: pd.Series) -> pd.DataFrame:
        # runs in the Python worker; counts zipimport._read_directory
        # calls between this worker's previous probe and this one
        import zipimport
        spy = getattr(zipimport, '_probe_spy', None)
        reused = spy is not None
        if spy is None:
            stock = zipimport._read_directory

            def spy(archive):
                spy.calls += 1
                return stock(archive)

            spy.calls = 0
            zipimport._read_directory = zipimport._probe_spy = spy
        reads, spy.calls = spy.calls, 0
        return pd.DataFrame({
            'reused': reused, 'reads': reads,
            'module': zipimport.zipimporter.invalidate_caches.__module__,
            'doubled': ids * 2})

    udf = F.pandas_udf(
        probe, 'reused boolean, reads int, module string, doubled long')
    df = spark.range(0, 50, 1, 1).select('id', udf('id').alias('r'))
    reused = []
    for _ in range(12):
        rows = df.collect()
        assert [r.r.doubled for r in rows] == [2 * r.id for r in rows]
        assert {r.r.module for r in rows} == {'erde_spark._daemon'}
        reused += [r.r.reads for r in rows if r.r.reused]
        if reused:
            break
    # a worker's second probe task: no archive directory was re-read
    assert reused and set(reused) == {0}
    # the driver keeps the stdlib method
    assert zipimport.zipimporter.invalidate_caches.__module__ == 'zipimport'
