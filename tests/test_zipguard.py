"""The worker-side zipimport guard (duckdb_geography_spark._zipguard).

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; the guard must keep that from re-reading unchanged zip archives
while still picking up an archive that changed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

from duckdb_geography_spark import _zipguard


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_guard_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "zg_pkg.zip")
    _write_zip(archive, ["zg_mod_a"])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_mod_a", "zg_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zg_mod_a").NAME == "zg_mod_a"

    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is _zipguard.invalidate_caches

    calls = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: calls.append(a) or read(a)
    )
    importlib.invalidate_caches()
    assert calls == []

    _write_zip(archive, ["zg_mod_a", "zg_mod_b"])
    importlib.invalidate_caches()
    assert calls == [archive]
    assert importlib.import_module("zg_mod_b").NAME == "zg_mod_b"


def test_install_is_a_no_op_outside_a_worker(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_worker_tasks_skip_directory_rereads(spark):
    """After one warm-up query, a pandas UDF over 8 partitions reports
    from inside each worker that the guard is installed and that no
    zip directory was re-read, neither between tasks nor on an explicit
    ``importlib.invalidate_caches()``."""
    import pandas as pd
    from pyspark.sql import functions as F

    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import os
        import sys
        import zipimport

        from duckdb_geography_spark import _zipguard as g

        importers = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        files = sorted(
            f"{f.archive}:{f.prefix}:{id(f._files)}" for f in importers
        )
        read = zipimport._read_directory
        calls = []
        zipimport._read_directory = lambda a: calls.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        installed = zipimport.zipimporter.invalidate_caches is g.invalidate_caches
        row = f"{os.getpid()}|{installed}|{len(importers)}|{len(calls)}|{','.join(files)}"
        return pd.Series([row] * len(s))

    probe_udf = F.pandas_udf(probe, "string")

    def run():
        df = spark.range(0, 64, numPartitions=8).select(probe_udf("id").alias("r"))
        return [r["r"] for r in df.distinct().collect()]

    run()  # warm-up: every worker imports the package and installs the guard
    reports = [r.split("|") for r in run()]
    by_pid: dict = {}
    for pid, installed, n_importers, n_reads, files in reports:
        assert installed == "True", reports
        assert int(n_importers) > 0, reports
        assert n_reads == "0", reports
        by_pid.setdefault(pid, set()).add(files)
    # a re-read replaces an importer's directory dict, so every task a
    # worker ran must have seen the same dicts
    for pid, seen in by_pid.items():
        assert len(seen) == 1, (pid, seen)

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
