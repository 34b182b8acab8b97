"""Stat-checked zip-archive invalidation (kgspark/pyworker.py): inside a
Python worker, pyspark's per-task importlib.invalidate_caches() re-reads
no unchanged archive; a changed archive is re-read; a process that is not
a worker keeps the stdlib method."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kgspark import pyworker, stages

eager_only = pytest.mark.skipif(
    not pyworker.EAGER_REREAD,
    reason="zipimporter.invalidate_caches re-reads eagerly only on 3.10-3.12",
)


def _counting_reads(monkeypatch):
    """Wrap zipimport._read_directory; returns the list of archives read."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_only
def test_worker_task_rereads_no_archive(spark):
    docs = spark.createDataFrame(
        [(f"u{i}", f"Sentence {i}. Another one.") for i in range(8)],
        "url string, text string",
    ).repartition(4)
    assert stages.chunk(docs).count() == 8

    def probe(batches):
        # `pyworker` is a module global of this test, so unpickling the
        # closure imports kgspark in the worker even on a fresh one
        patched = zipimport.zipimporter.invalidate_caches
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        reads = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({
            "reads": [reads[0]], "n_zip": [n_zip],
            "patched": [patched is pyworker.invalidate_if_changed],
        })

    rows = (spark.range(0, 4, 1, 4)
            .mapInPandas(probe, "reads long, n_zip long, patched boolean")
            .collect())
    assert len(rows) == 4
    assert all(r["patched"] for r in rows)
    assert all(r["n_zip"] > 0 for r in rows)  # pyspark.zip at least
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_changed_archive_is_reread_unchanged_is_not(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"kgpw_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "kgpw_mod_a", raising=False)
    monkeypatch.delitem(sys.modules, "kgpw_mod_b", raising=False)
    assert importlib.import_module("kgpw_mod_a").A == 1
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_if_changed)

    _write_zip(archive, {"kgpw_mod_a": "A = 1\n", "kgpw_mod_b": "B = 2\n"})
    reads = _counting_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("kgpw_mod_b").B == 2

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@eager_only
def test_install_baselines_existing_importers(tmp_path, monkeypatch):
    """install() takes each existing importer's current stat as what it
    last read, so the next invalidation reads nothing; a later rewrite
    is still seen."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"kgpw_mod_c": "C = 3\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "kgpw_mod_c", raising=False)
    monkeypatch.delitem(sys.modules, "kgpw_mod_d", raising=False)
    importlib.import_module("kgpw_mod_c")
    # restored at teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    pyworker.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_if_changed

    reads = _counting_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []
    _write_zip(archive, {"kgpw_mod_c": "C = 3\n", "kgpw_mod_d": "D = 4\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("kgpw_mod_d").D == 4


def test_non_worker_process_keeps_stdlib_invalidation(spark):
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    # a fresh process (no task running) with pyspark's task context imported first
    code = (
        "import pyspark.taskcontext, zipimport, kgspark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert out == ["zipimport"]
