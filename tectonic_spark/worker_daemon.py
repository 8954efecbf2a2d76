"""PySpark's worker daemon, started from a frozen heap.

:func:`tectonic_spark.get_spark` names this module in
``spark.python.daemon.module``, so Spark launches the daemon that forks its
executor Python workers as ``python -m tectonic_spark.worker_daemon
pyspark.worker``. (Spark's data-source planner workers keep
``pyspark.daemon``.) A reused worker runs a full ``gc.collect()`` after
every task; over the ~73k objects that pyspark, pyarrow and pandas leave in
a worker's heap that took 43-56 ms on a 4-vCPU VM, and the next task in
that worker waited for it. :func:`main` imports what every worker needs
before the daemon forks: the package (so the zip cache of
:mod:`tectonic_spark.zipimport_cache` is installed even in workers that
only run kernels pickled by value), ``pyspark.daemon`` with its worker
module and, for executor workers, pyarrow and pandas. It then moves that
heap into gc's permanent generation with ``gc.freeze()``, so the
per-task collection of a forked worker walks only the worker's own
objects.

Every executor must be able to import this module, as it must to unpickle
a tectonic reader: if the import fails, every Python task fails at launch.
"""

import gc
import sys

import tectonic_spark  # noqa: F401 - installs the zip cache before 3.13


def main() -> None:
    from pyspark import daemon  # imports the worker module named in argv[1]

    if sys.argv[1:2] == ["pyspark.worker"]:
        # the first pa.RecordBatch.from_pylist of a task imports pandas anyway
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
