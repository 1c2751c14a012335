"""engine.compat: zip archive directories are re-read only when the archive
changed. Counted, not timed: the calls of zipimport._read_directory that
importlib.invalidate_caches() makes."""

import importlib
import sys
import zipfile

import pyarrow as pa

import engine  # installs the shim on the driver
from engine.query import member_frame


def _reads_probe():
    """A member_frame row function, built here so that a task ships it by
    value: (pid, zip directory reads during one
    importlib.invalidate_caches(), cached zipimporters) of the process it
    runs in. Like every engine row function it refers to an engine name,
    so unpickling it imports engine on the worker."""
    def probe(_i):
        import importlib
        import os
        import sys
        import zipimport
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return [{"engine": engine.__name__, "pid": os.getpid(),
                 "reads": len(reads),
                 "zips": sum(isinstance(f, zipimport.zipimporter)
                             for f in sys.path_importer_cache.values())}]
    return probe


def _reads() -> int:
    return _reads_probe()(0)[0]["reads"]


def test_reused_worker_reads_no_zip_directory(spark):
    """Every engine task imports engine on its worker, so from the
    worker's second task on, the per-task invalidate_caches() re-reads no
    zip directory. The worker imports pyspark from a zip, so there are
    zipimporters to skip."""
    schema = pa.schema([("engine", pa.string()), ("pid", pa.int64()),
                        ("reads", pa.int64()), ("zips", pa.int64())])
    probe = _reads_probe()

    seen = set()
    for _ in range(8):
        (r,) = member_frame(spark, 1, probe, schema).collect()
        if r["pid"] in seen:
            assert r["zips"] > 0, r
            assert r["reads"] == 0, r
            return
        seen.add(r["pid"])
    raise AssertionError(f"no Python worker was reused: {seen}")


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    """On the driver: an unchanged archive is not re-read, and a rewritten
    one is — its new module imports after invalidate_caches()."""
    z = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("compat_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(z)
    try:
        assert importlib.import_module("compat_probe_a").X == 1
        importlib.invalidate_caches()
        assert _reads() == 0
        with zipfile.ZipFile(z, "w") as f:
            f.writestr("compat_probe_a.py", "X = 1\n")
            f.writestr("compat_probe_b.py", "Y = 2\n")
        assert _reads() >= 1
        assert importlib.import_module("compat_probe_b").Y == 2
    finally:
        for m in ("compat_probe_a", "compat_probe_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(z, None)
