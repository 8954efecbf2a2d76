"""``session.get_spark``'s Python-worker confs: Unix domain sockets are on
only when Spark's socket path under ``tempfile.gettempdir()`` fits AF_UNIX's
107 bytes, and a session whose temp directory is too long still runs Python
tasks, over TCP.

The session confs are static, so each case starts its own SparkSession in
a SUBPROCESS with its own ``TMPDIR``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

from tectonic_spark import session

_CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
from tectonic_spark import get_spark

spark = get_spark(app_name="tectonic-socket-test", cpus=1)


def doubled(batches):
    import pyarrow.compute as pc

    for b in batches:
        yield b.set_column(0, "id", pc.multiply(b.column(0), 2))


rows = spark.range(6, numPartitions=2).mapInArrow(doubled, "id long").collect()
print("SOCKSIG " + json.dumps({{
    "enabled": spark.conf.get("spark.python.unix.domain.socket.enabled"),
    "dir": spark.conf.get("spark.python.unix.domain.socket.dir"),
    "ids": sorted(r.id for r in rows),
}}))
spark.stop()
"""


def _run_child(tmpdir: str) -> dict:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
        env={**os.environ, "TMPDIR": tmpdir, "TECTONIC_DRIVER_MEM": "1g"},
    )
    assert child.returncode == 0, child.stderr[-3000:]
    line = next(ln for ln in child.stdout.splitlines() if ln.startswith("SOCKSIG "))
    return json.loads(line.removeprefix("SOCKSIG "))


def _dir_of_length(base, n: int) -> str:
    """A new directory under ``base`` whose path is ``n`` bytes long."""
    pad = n - len(os.fsencode(str(base))) - 1
    assert pad > 0, f"{base} is already {n} bytes or longer"
    path = os.path.join(base, "d" * pad)
    os.mkdir(path)
    return path


def test_socket_dir_limit(tmp_path, monkeypatch):
    # "<dir>/.<uuid4>.sock" is the directory plus 43 bytes
    limit = session._SUN_PATH_MAX - session._SOCKET_NAME_BYTES
    assert limit == 64
    if len(os.fsencode(str(tmp_path))) + 2 > limit:
        pytest.skip(f"no room for a {limit}-byte directory under {tmp_path}")
    for n, enabled in ((limit, "true"), (limit + 1, "false")):
        path = _dir_of_length(tmp_path, n)
        monkeypatch.setattr(tempfile, "tempdir", path)
        conf = session.python_worker_conf()
        assert conf["spark.python.unix.domain.socket.enabled"] == enabled
        assert conf["spark.python.unix.domain.socket.dir"] == path
        assert conf["spark.python.daemon.module"] == "tectonic_spark.worker_daemon"


def test_long_tmpdir_runs_python_tasks_over_tcp(tmp_path):
    long_dir = _dir_of_length(tmp_path, 100)
    got = _run_child(long_dir)
    assert got == {"enabled": "false", "dir": long_dir, "ids": [0, 2, 4, 6, 8, 10]}


def test_short_tmpdir_turns_unix_sockets_on(tmp_path):
    short_dir = str(tmp_path)
    if len(os.fsencode(short_dir)) + session._SOCKET_NAME_BYTES > session._SUN_PATH_MAX:
        pytest.skip(f"no temp directory short enough for a socket path: {short_dir}")
    got = _run_child(short_dir)
    assert got == {"enabled": "true", "dir": short_dir, "ids": [0, 2, 4, 6, 8, 10]}
