"""Worker-side task set-up: zip-directory invalidation
(`executor._install_zip_invalidation`) and the delayed-ACK flush
(`executor._flush_delayed_ack`).

Each check runs in a fresh interpreter: the installer patches
`zipimport.zipimporter` for the whole process, the flush touches every
socket the process holds, and the pytest process's own importers and
sockets must stay untouched.
"""

import os
import socket
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


def _run(tmp_path, body: str, timeout: int = 120, prelude: str = PRELUDE) -> None:
    script = tmp_path / "probe.py"
    script.write_text(prelude + f"ARC = {str(tmp_path / 'lib.zip')!r}\n" + textwrap.dedent(body))
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


# `TCP_QUICKACK` reads back 0 while the socket is in delayed-ACK
# (ping-pong) mode; setting it to 0 puts the socket there, so a later
# read of 1 shows the flush reached that socket.
ACK_PRELUDE = """
import os, socket
from maggy_spark.executor import _flush_delayed_ack

QUICKACK = getattr(socket, "TCP_QUICKACK", None)

def open_fds():
    return len(os.listdir("/proc/self/fd"))

def tcp_pair(family=socket.AF_INET, host="127.0.0.1"):
    srv = socket.socket(family, socket.SOCK_STREAM)
    srv.bind((host, 0))
    srv.listen(1)
    client = socket.create_connection(srv.getsockname()[:2])
    conn, _ = srv.accept()
    return srv, client, conn

def delay_acks(sock):
    sock.setsockopt(socket.IPPROTO_TCP, QUICKACK, 0)
    assert sock.getsockopt(socket.IPPROTO_TCP, QUICKACK) == 0

def carries_data(a, b):
    a.sendall(b"ping")
    assert b.recv(4) == b"ping"
    b.sendall(b"pong")
    assert a.recv(4) == b"pong"
"""
needs_quickack = pytest.mark.skipif(
    not (hasattr(socket, "TCP_QUICKACK") and os.path.isdir("/proc/self/fd")),
    reason="needs TCP_QUICKACK and /proc",
)


@needs_quickack
def test_flush_reaches_loopback_tcp_and_keeps_it_open(tmp_path):
    _run(tmp_path, """
        pairs = [tcp_pair()]
        if socket.has_ipv6:
            try:
                pairs.append(tcp_pair(socket.AF_INET6, "::1"))
            except OSError:
                pass  # no IPv6 loopback here
        for _, client, conn in pairs:
            delay_acks(client)
            delay_acks(conn)
        before = open_fds()
        _flush_delayed_ack()
        assert open_fds() == before
        for _, client, conn in pairs:
            assert client.getsockopt(socket.IPPROTO_TCP, QUICKACK) == 1
            assert conn.getsockopt(socket.IPPROTO_TCP, QUICKACK) == 1
            carries_data(client, conn)
    """, prelude=ACK_PRELUDE)


@needs_quickack
def test_flush_leaves_unix_sockets_and_other_fds_alone(tmp_path):
    _run(tmp_path, """
        a, b = socket.socketpair(socket.AF_UNIX, socket.SOCK_STREAM)
        r, w = os.pipe()
        fh = open(__file__)
        srv, client, conn = tcp_pair()  # a listening socket has no peer
        before = open_fds()
        _flush_delayed_ack()
        assert open_fds() == before
        carries_data(a, b)
        os.write(w, b"x")
        assert os.read(r, 1) == b"x"
        assert "_flush_delayed_ack" in fh.read()
        assert srv.getsockname()[1] > 0

        # a failure inside the helper is swallowed, whatever it is
        real_listdir = os.listdir
        for exc in (FileNotFoundError("/proc"), RuntimeError("boom")):
            def broken(path, exc=exc):
                raise exc
            os.listdir = broken
            _flush_delayed_ack()
        os.listdir = real_listdir
        assert open_fds() == before
    """, prelude=ACK_PRELUDE)


@needs_quickack
def test_flush_is_a_noop_without_tcp_quickack(tmp_path):
    _run(tmp_path, """
        srv, client, conn = tcp_pair()
        delay_acks(client)
        del socket.TCP_QUICKACK
        before = open_fds()
        _flush_delayed_ack()
        assert open_fds() == before
        assert client.getsockopt(socket.IPPROTO_TCP, QUICKACK) == 0
        carries_data(client, conn)
    """, prelude=ACK_PRELUDE)


@needs_quickack
def test_flush_keeps_blocking_mode_under_a_default_timeout(tmp_path):
    """A default timeout makes `socket(fileno=...)` set O_NONBLOCK on
    the fd, and a dup shares that flag with the worker's own socket."""
    _run(tmp_path, """
        srv, client, conn = tcp_pair()
        _, nb_client, nb_conn = tcp_pair()
        nb_client.setblocking(False)
        socket.setdefaulttimeout(5)
        for sock in (client, conn, nb_client):
            delay_acks(sock)
        _flush_delayed_ack()
        assert os.get_blocking(client.fileno()) and os.get_blocking(conn.fileno())
        assert os.get_blocking(nb_conn.fileno())
        assert not os.get_blocking(nb_client.fileno())
        for sock in (client, conn, nb_client):
            assert sock.getsockopt(socket.IPPROTO_TCP, QUICKACK) == 1
        carries_data(client, conn)
        nb_conn.sendall(b"ping")
        assert nb_client.recv(4) == b"ping"  # already queued on loopback
    """, prelude=ACK_PRELUDE)


def test_run_partition_flushes_before_pulling_its_row(tmp_path):
    """The flush must precede the first pull of the partition: by the
    time a row arrives it has already waited out the delayed ACK."""
    _run(tmp_path, """
        from maggy_spark import executor

        events = []
        executor._flush_delayed_ack = lambda: events.append("flush")

        def partition(rows):
            events.append("pull")
            yield from rows

        class Rdd:
            def __init__(self, parts):
                self.parts = parts
            def mapPartitions(self, f):
                return Rdd([list(f(partition(p))) for p in self.parts])
            def collect(self):
                return [x for p in self.parts for x in p]

        class Context:
            def parallelize(self, rows, n):
                assert n == len(rows)
                return Rdd([[r] for r in rows])

        class Spark:
            sparkContext = Context()

        def train(x):
            return x + 1

        pending = [{"trial_id": f"t{i}", "params": {"x": float(i)}} for i in range(2)]
        rows = executor.run_trial_wave(Spark(), pending, train)
        assert [r["final_metric"] for r in rows] == [1.0, 2.0], rows
        assert events == ["flush", "pull"] * 2, events
    """, prelude=ACK_PRELUDE)


def test_trial_tasks_flush_acks_on_one_reused_worker(tmp_path):
    """Pins the call from `run_partition`: on `local[1]`, the first trial
    swaps a counting wrapper into its worker's `executor` module; each
    later trial task, which looks the helper up at call time, then counts
    one call before its trial runs. One pid throughout shows the worker,
    and so its socket to the JVM, outlived every flush."""
    _run(tmp_path, """
        from pyspark.sql import SparkSession
        from maggy_spark.executor import run_trial_wave

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            def train(x):
                from maggy_spark import executor
                if not hasattr(executor._flush_delayed_ack, "calls"):
                    original = executor._flush_delayed_ack
                    def counting():
                        counting.calls += 1
                        original()
                    counting.calls = 0
                    executor._flush_delayed_ack = counting
                print(os.getpid(), executor._flush_delayed_ack.calls)
                return x * 2

            rows = [run_trial_wave(spark, [{"trial_id": f"t{i}", "params": {"x": float(i)}}], train)[0]
                    for i in range(4)]
            assert [r["trial_id"] for r in rows] == ["t0", "t1", "t2", "t3"]
            assert [r["final_metric"] for r in rows] == [0.0, 2.0, 4.0, 6.0], rows
            assert all(r["error"] is None and len(r) == 8 for r in rows), rows
            pids, calls = zip(*(map(int, r["logs"][0].split()) for r in rows))
            assert len(set(pids)) == 1, pids
            assert calls == (0, 1, 2, 3), calls
        finally:
            spark.stop()
    """, timeout=300, prelude=ACK_PRELUDE)


@needs_patch
def test_first_trial_stamps_its_workers_archives(tmp_path):
    """`run_one` runs the stamping sweep in a worker's first trial, so
    the sweep before its second trial re-reads no archive. The trial
    itself sweeps once more and counts the reads."""
    _run(tmp_path, """
        from pyspark.sql import SparkSession
        from maggy_spark.executor import run_trial_wave

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            def train(x):
                import importlib, zipimport
                read = zipimport._read_directory
                seen = []
                zipimport._read_directory = lambda archive: seen.append(archive) or read(archive)
                try:
                    importlib.invalidate_caches()
                finally:
                    zipimport._read_directory = read
                zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
                print(len(seen), len(zips))
                return x

            (row,) = run_trial_wave(spark, [{"trial_id": "t0", "params": {"x": 1.0}}], train)
            assert row["error"] is None, row
            n_reads, n_zips = map(int, row["logs"][0].split())
            assert n_zips > 0 and n_reads == 0, (n_reads, n_zips)
        finally:
            spark.stop()
    """, timeout=300)
