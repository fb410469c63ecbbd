"""The zip-directory guard: importers skip re-reading unchanged archives.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; before Python 3.12 each cached zipimporter then re-parses its whole
archive. Importing the engine package installs ``zipguard``, which re-reads
an archive only when its size or mtime changed.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import stac_populator_spark  # noqa: F401  (installs the guard)

PKG = "zipguard_probe_pkg"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        for name in modules:
            z.writestr(f"{PKG}/{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["a"])
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module(f"{PKG}.a")
        # one importer on the archive, one on the package directory inside it
        importers = [p for p in sys.path_importer_cache if p.startswith(archive)]
        assert sorted(importers) == [archive, os.path.join(archive, PKG)]

        reads = []
        read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        # the importers read the archive before any stat was taken: the
        # first invalidation reads it once for both, later ones not at all
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert importlib.import_module(f"{PKG}.b").NAME == "b"
    finally:
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    from stac_populator_spark import zipguard

    before = zipimport.zipimporter.invalidate_caches
    zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is before


WORKER_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from stac_populator_spark.session import get_spark

spark = get_spark(app_name="zipguard", master="local[2]", shuffle_partitions=2)


def kernel(batches):
    import os, zipimport
    import pyarrow as pa
    import stac_populator_spark  # what unpickling any engine function does

    if not hasattr(zipimport, "probe_reads"):
        zipimport.probe_reads = [0]
        read = zipimport._read_directory

        def counted(archive):
            zipimport.probe_reads[0] += 1
            return read(archive)

        zipimport._read_directory = counted
    for b in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {{"pid": [os.getpid()], "reads": [zipimport.probe_reads[0]]}}
    )


rows = (
    spark.range(0, 48, 1, 16)
    .mapInArrow(kernel, "pid long, reads long")
    .collect()
)
print("RESULT=" + json.dumps([[r.pid, r.reads] for r in rows]), flush=True)
spark.stop()
"""


def test_worker_reads_no_zip_directory_after_its_first_task():
    # 16 tasks on 2 cores: at least 4 waves, so each reused worker runs
    # several tasks; every task reports its worker's _read_directory count
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", WORKER_SCRIPT.format(repo=repo)],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT=")]
    assert lines, r.stderr[-3000:]
    by_worker: dict = {}
    for pid, reads in json.loads(lines[-1][len("RESULT="):]):
        by_worker.setdefault(pid, []).append(reads)
    assert max(len(v) for v in by_worker.values()) >= 4, by_worker
    # counts only grow, so a worker whose count never rose read nothing
    # after the task that installed its counter
    assert all(min(v) == max(v) for v in by_worker.values()), by_worker
