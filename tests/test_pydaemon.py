"""The Python worker daemon: every task runs with the zip re-read fix, the
driver's own ``zipimport`` is untouched, the fix re-reads an archive only
when it changed, and workers find the daemon from any driver cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa
import pytest

from kinesis_vcr_spark import pydaemon

ROOT = Path(__file__).resolve().parents[1]
PATCHED = sys.version_info < (3, 12)


def test_every_worker_task_runs_with_the_fix(spark):
    # defined here so it pickles by value: workers cannot import tests/
    def _report(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(_report, "module string")
        .collect()
    )
    assert len(rows) == 4
    want = "kinesis_vcr_spark.pydaemon" if PATCHED else "zipimport"
    assert {r["module"] for r in rows} == {want}
    # the driver imported the module (get_spark) but never installed it
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.12 re-reads lazily")
def test_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    name = "vcr_zipmod"

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}.py", body)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(pydaemon, "_stamps", {})
    # undone at teardown: the install is scoped to this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    try:
        assert importlib.import_module(name).VALUE == 1
        pydaemon.install()
        reads: list[str] = []
        read = zipimport._read_directory

        def counted(path):
            if path == str(archive):
                reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        write("VALUE = 22222\n")  # a different size
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 22222
        assert len(reads) == 1
    finally:
        sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_workers_start_the_daemon_from_any_cwd(tmp_path):
    """A driver that finds the package only through ``sys.path`` (no
    ``PYTHONPATH``) and runs from another directory still gets its Python
    tasks through: ``get_spark`` puts the package on the workers' path."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import pyarrow as pa
        from kinesis_vcr_spark.session import get_spark

        def one(batches):
            n = sum(b.num_rows for b in batches)
            yield pa.RecordBatch.from_pydict({{"n": [n]}})

        spark = get_spark("pydaemon-cwd", master="local[1]",
                          extra_conf={{"spark.driver.memory": "512m"}})
        rows = spark.range(0, 5, numPartitions=1).mapInArrow(one, "n long").collect()
        print("ROWS", [r["n"] for r in rows])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [5]" in done.stdout, done.stderr[-3000:]
