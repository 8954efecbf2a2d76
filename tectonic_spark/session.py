"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is what we would set cluster-side, minus ``master``:

* AQE on (runtime re-planning, skew-join handling, partition coalescing).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  1000-executor cluster this would be 2-3x total cores (AQE coalesces down).
* Arrow enabled so Pandas-UDF exchange is vectorized, not pickled rows.
* UTC session timezone so timestamp semantics match the DuckDB oracle.
* Python workers fork from :mod:`tectonic_spark.worker_daemon`, which
  freezes the daemon's heap before it forks, and reach the JVM over Unix
  domain sockets where the socket path fits (:func:`python_worker_conf`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Spark names each socket "<dir>/.<uuid4>.sock", and an AF_UNIX path holds
# at most 107 bytes
_SOCKET_NAME_BYTES = len("/.") + 36 + len(".sock")
_SUN_PATH_MAX = 107
# Spark rejects a spark.python.unix.domain.socket.dir longer than 61 Java
# chars (UTF-16 code units), and then every Python task fails
_SOCKET_DIR_CHARS_MAX = 61


def _socket_dir_fits(sock_dir: str) -> bool:
    """Whether Spark accepts ``sock_dir`` for its Python worker sockets
    and the socket path fits AF_UNIX's ``sun_path``."""
    return (
        len(sock_dir.encode("utf-16-le", "surrogatepass")) // 2
        <= _SOCKET_DIR_CHARS_MAX
        and len(os.fsencode(sock_dir)) + _SOCKET_NAME_BYTES <= _SUN_PATH_MAX
    )


def python_worker_conf() -> dict[str, str]:
    """The confs that start Python workers from the frozen daemon and put
    their sockets in ``tempfile.gettempdir()``.

    Spark sets no ``TCP_NODELAY`` on its Python sockets, so over TCP a
    task's first Arrow read can wait out the 40 ms delayed-ACK minimum; a
    Unix socket has no such wait. Unix sockets are turned on only when
    Spark accepts the temp directory and it is short enough for the socket
    path (``_socket_dir_fits``); otherwise workers use TCP as before.
    """
    sock_dir = tempfile.gettempdir()
    return {
        "spark.python.daemon.module": "tectonic_spark.worker_daemon",
        "spark.python.unix.domain.socket.dir": sock_dir,
        "spark.python.unix.domain.socket.enabled": str(
            _socket_dir_fits(sock_dir)
        ).lower(),
    }


def get_spark(
    app_name: str = "tectonic-spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used by tests, bench, and the driver.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (falls back to ``*``);
    ``extra_conf`` overrides any conf set here.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_shuffle = os.environ.get("TECTONIC_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("TECTONIC_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let Catalyst hand filters to our Python DataSources (static conf;
        # TECTONIC_FILTER_PUSHDOWN=false replicates sessions built without
        # it — e.g. the correctness driver's — for local gate runs)
        .config(
            "spark.sql.python.filterPushdown.enabled",
            os.environ.get("TECTONIC_FILTER_PUSHDOWN", "true"),
        )
    )
    for k, v in {**python_worker_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
