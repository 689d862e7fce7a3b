"""The stat-gated ``zipimporter.invalidate_caches`` (search_spark.zipimport_gate).

``importlib.invalidate_caches()`` must not re-read a zip archive that is
unchanged on disk, must re-read one that was rewritten in place or replaced
by a rename, and the gate must reach every Python worker that runs one of
the engine's UDFs.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from search_spark import zipimport_gate


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A one-module zip on ``sys.path``, imported once, and a spy that
    records every archive ``zipimport._read_directory`` reads."""
    archive = str(tmp_path / "gate_probe.zip")
    tag = tmp_path.name.replace("-", "_")
    first, second = f"gate_first_{tag}", f"gate_second_{tag}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(first)
    # the first invalidation after an importer is built has no stamp to
    # compare with and reads once
    importlib.invalidate_caches()
    reads = []
    original = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield archive, first, second, reads
    for name in (first, second):
        sys.modules.pop(name, None)


def test_gate_installed_once_by_package_import():
    method = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13):
        assert not zipimport_gate.installed()
        return
    assert zipimport_gate.installed()
    zipimport_gate.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert method.__wrapped__.__module__ != zipimport_gate.__name__


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, first, _, reads = zip_on_path
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert importlib.reload(sys.modules[first]).VALUE == 1


def test_archive_rewritten_in_place_is_reread(zip_on_path):
    archive, first, second, reads = zip_on_path
    ino = os.stat(archive).st_ino
    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    assert os.stat(archive).st_ino == ino
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(second).VALUE == 2


def test_archive_replaced_by_rename_is_reread(zip_on_path, tmp_path):
    archive, first, _, reads = zip_on_path
    old = os.stat(archive)
    # same size and mtime: only the inode tells the new file apart
    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, {first: "VALUE = 7\n"})
    assert os.stat(fresh).st_size == old.st_size
    os.utime(fresh, ns=(old.st_atime_ns, old.st_mtime_ns))
    os.replace(fresh, archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.reload(sys.modules[first]).VALUE == 7


def test_install_is_a_no_op_from_python_3_13(monkeypatch):
    original = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipimport_gate.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not zipimport_gate.installed()


def test_python_workers_running_engine_udfs_have_the_gate(spark):
    import pandas as pd

    from search_spark.operators.linking import hash_embed

    def probe(batches):
        import zipimport

        for pdf in batches:
            # hash_embed is pickled by reference: unpickling this function
            # imports search_spark in the worker, as every engine UDF does
            dims = [len(hash_embed(t, 4)) for t in pdf["text"]]
            method = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame(
                {
                    "gated": [
                        method.__module__ == "search_spark.zipimport_gate"
                    ]
                    * len(pdf),
                    "dims": dims,
                }
            )

    df = spark.range(40).selectExpr("cast(id as string) as text")
    rows = (
        df.repartition(4)
        .mapInPandas(probe, "gated boolean, dims int")
        .collect()
    )
    assert len(rows) == 40 and {r["dims"] for r in rows} == {4}
    expected = sys.version_info < (3, 13)
    assert {r["gated"] for r in rows} == {expected}
