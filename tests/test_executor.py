"""Worker-side zip-directory invalidation (`executor._install_zip_invalidation`).

Each check runs in a fresh interpreter: the installer patches
`zipimport.zipimporter` for the whole process, and the pytest process's
own importers must stay untouched.
"""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# The installer patches zipimport only where `invalidate_caches` re-reads
# the archive; checks of the patched behaviour need such an interpreter.
PATCHED = (3, 10) <= sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHED, reason="installer is a no-op outside CPython 3.10-3.12")

# Counts `_read_directory` calls per archive. The original
# `invalidate_caches` looks the function up as a module global at call
# time, so patching the attribute sees every central-directory read.
PRELUDE = """
import importlib, os, sys, zipfile, zipimport
from maggy_spark.executor import _install_zip_invalidation

reads = []
_read_directory = zipimport._read_directory

def _counting_read(archive):
    reads.append(archive)
    return _read_directory(archive)

zipimport._read_directory = _counting_read

def write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)

def sweep_reads(archive):
    n = len(reads)
    importlib.invalidate_caches()
    return reads[n:].count(archive)
"""


def _run(tmp_path, body: str, timeout: int = 120) -> None:
    script = tmp_path / "probe.py"
    script.write_text(PRELUDE + f"ARC = {str(tmp_path / 'lib.zip')!r}\n" + textwrap.dedent(body))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=timeout
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


@needs_patch
def test_unchanged_archive_is_not_reread(tmp_path):
    _run(tmp_path, """
        write_zip(ARC, {"mod_a.py": "X = 1\\n"})
        sys.path.insert(0, ARC)
        import mod_a
        _install_zip_invalidation()
        assert sweep_reads(ARC) == 1  # the first sweep stamps the archive
        assert sweep_reads(ARC) == 0
        assert reads.count(ARC) == 2  # the importer's own read + the stamping one
    """)


@needs_patch
def test_importers_over_one_archive_share_one_read(tmp_path):
    _run(tmp_path, """
        write_zip(ARC, {"pkg/__init__.py": "", "pkg/sub.py": "Z = 3\\n"})
        sys.path.insert(0, ARC)
        import pkg.sub
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter) and f.archive == ARC]
        assert len(zips) == 2, zips  # the archive root and pkg/ inside it
        _install_zip_invalidation()
        assert sweep_reads(ARC) == 1
        shared = zipimport._zip_directory_cache[ARC]
        assert all(z._files is shared for z in zips)
    """)


@needs_patch
def test_rewritten_archive_is_reread(tmp_path):
    _run(tmp_path, """
        write_zip(ARC, {"mod_a.py": "X = 1\\n"})
        sys.path.insert(0, ARC)
        import mod_a
        _install_zip_invalidation()
        sweep_reads(ARC)
        mtime = os.stat(ARC).st_mtime_ns
        write_zip(ARC, {"mod_a.py": "X = 1\\n", "mod_b.py": "Y = 2\\n"})
        os.utime(ARC, ns=(mtime + 10**9, mtime + 10**9))
        assert sweep_reads(ARC) == 1
        import mod_b
        assert mod_b.Y == 2
        assert sweep_reads(ARC) == 0
    """)


@needs_patch
def test_same_size_rewrite_is_reread_on_mtime_change(tmp_path):
    _run(tmp_path, """
        write_zip(ARC, {"mod_a.py": "X = 1\\n"})
        sys.path.insert(0, ARC)
        import mod_a
        _install_zip_invalidation()
        sweep_reads(ARC)
        st = os.stat(ARC)
        write_zip(ARC, {"mod_a.py": "X = 2\\n"})
        assert os.stat(ARC).st_size == st.st_size
        os.utime(ARC, ns=(st.st_mtime_ns + 10**9, st.st_mtime_ns + 10**9))
        assert sweep_reads(ARC) == 1
        del sys.modules["mod_a"]
        import mod_a
        assert mod_a.X == 2
    """)


@needs_patch
def test_missing_archive_falls_through_to_original(tmp_path):
    _run(tmp_path, """
        write_zip(ARC, {"mod_a.py": "X = 1\\n"})
        sys.path.insert(0, ARC)
        import mod_a
        _install_zip_invalidation()
        sweep_reads(ARC)
        os.remove(ARC)
        assert sweep_reads(ARC) == 1  # stat fails: the original re-read runs
        assert ARC not in zipimport._zip_directory_cache
        (z,) = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter) and f.archive == ARC]
        assert z._files == {}
    """)


def test_second_install_is_a_noop(tmp_path):
    _run(tmp_path, """
        original = getattr(zipimport.zipimporter, "invalidate_caches", None)
        _install_zip_invalidation()
        installed = getattr(zipimport.zipimporter, "invalidate_caches", None)
        _install_zip_invalidation()
        assert getattr(zipimport.zipimporter, "invalidate_caches", None) is installed
        assert (installed is not original) == ((3, 10) <= sys.version_info < (3, 13))
    """)


@pytest.mark.parametrize("version", [(3, 9, 18), (3, 13, 0)])
def test_other_pythons_leave_zipimport_alone(tmp_path, version):
    _run(tmp_path, f"""
        original = getattr(zipimport.zipimporter, "invalidate_caches", None)
        sys.version_info = {version!r} + ("final", 0)
        _install_zip_invalidation()
        assert getattr(zipimport.zipimporter, "invalidate_caches", None) is original
    """)


def test_trial_task_installs_invalidation_on_its_worker(tmp_path):
    """Pins the wiring from `run_one`: after one trial on `local[1]`, a
    plain follow-up job on the same reused Python worker sees the
    stat-gated `invalidate_caches` (a no-op outside CPython 3.10-3.12)."""
    _run(tmp_path, """
        from pyspark.sql import SparkSession
        from maggy_spark.executor import run_trial_wave

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            def train(x):
                print(os.getpid())
                return x

            (row,) = run_trial_wave(spark, [{"trial_id": "t0", "params": {"x": 1.0}}], train)
            assert row["error"] is None and row["final_metric"] == 1.0, row
            trial_pid = int(row["logs"][0])

            def probe(_):
                import os, zipimport
                gated = getattr(getattr(zipimport.zipimporter, "invalidate_caches", None), "_stat_gated", False)
                return os.getpid(), gated

            ((pid, installed),) = spark.sparkContext.parallelize([0], 1).map(probe).collect()
            assert pid == trial_pid, (pid, trial_pid)
            assert installed == ((3, 10) <= sys.version_info < (3, 13))
        finally:
            spark.stop()
    """, timeout=300)
