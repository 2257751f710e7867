"""The package's ``zipimporter.invalidate_caches`` guard (Python < 3.12):
pyspark's worker invalidates the import caches before every task, and the
guard keeps that from re-reading an unchanged zip's central directory."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import extended_rabitq_spark as erq


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_unchanged_zip_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    """Invalidating twice over an unchanged zip never re-reads it; a
    rewritten zip is re-read (its new module imports); a deleted zip
    invalidates without error."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zguard_old.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("zguard_old").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # the importer's first re-read stamps it
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zguard_old.py": "X = 1\n", "zguard_new.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zguard_new").Y == 2

        os.remove(archive)
        importlib.invalidate_caches()  # must not raise
    finally:
        for name in ("zguard_old", "zguard_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python >= 3.12 invalidates zip caches lazily; no guard is installed",
)
def test_engine_workers_run_the_guard(spark):
    """After an engine UDF has run on 4 partitions, every worker of a
    second engine mapInArrow has the guarded invalidate_caches."""
    import pyarrow as pa

    from extended_rabitq_spark.operators import rabitq

    pairs = spark.createDataFrame(
        [(i, i, [1.0, 2.0], [0.5, 1.5]) for i in range(8)],
        "qid long, id long, qvec array<double>, vec array<double>",
    ).repartition(4)
    assert rabitq._exact_rerank(pairs, 2).count() == 8
    guard = erq._zip_invalidate_caches

    def report(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "guarded": [zipimport.zipimporter.invalidate_caches is guard],
        })

    got = pairs.mapInArrow(report, "pid long, guarded boolean").collect()
    assert len(got) == 4 and all(r.guarded for r in got), got
