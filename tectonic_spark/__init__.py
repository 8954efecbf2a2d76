"""tectonic_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of precog/tectonic (columnar JSON/CSV parsing
with Mison-style pushdown), the relational surface delegated to Spark
SQL/Catalyst, plus LLM-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) designed for 100 TB scale.

Layering (see SURVEY.md §7):
  L1  ``tectonic_spark.core``       — pure-Python columnar parser core
                                      (no Spark imports)
  L2  ``tectonic_spark.sources``    — Spark Python DataSource binding
                                      (projection/filter pushdown → L1 skips)
  L3  ``tectonic_spark.operators``  — Spark-delegated relational surface +
                                      LLM-pipeline extensions
      ``tectonic_spark.streaming``  — Structured Streaming operators

Importing the package does not import pyspark: :func:`get_spark` is loaded
on first use, so L1 stays Spark-free. On Python < 3.13 it installs
:mod:`tectonic_spark.zipimport_cache`. Sessions built by :func:`get_spark`
start their Python workers from :mod:`tectonic_spark.worker_daemon`, which
imports the package before it forks, so every worker picks the cache up,
whatever kernel it runs.
"""

import sys

if sys.version_info < (3, 13):
    from tectonic_spark import zipimport_cache

    zipimport_cache.install()

__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "get_spark":
        from tectonic_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def read_json(spark, path: str, schema=None, **options):
    """``spark.read.format("tectonic-json")`` with registration handled.

    Options (see :mod:`tectonic_spark.sources.json_source`): ``mode``
    (lines|values|array|single), ``parseMode``, ``columnNameOfCorruptRecord``,
    ``splitSizeBytes``, ``samplingRows``, ``batchRows``.
    """
    from tectonic_spark.sources import register_tectonic_sources

    register_tectonic_sources(spark)
    reader = spark.read.format("tectonic-json")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_csv(spark, path: str, schema=None, **options):
    """``spark.read.format("tectonic-csv")`` with registration handled.

    Options (see :mod:`tectonic_spark.sources.csv_source`): ``header``,
    ``sep``, ``quote``, ``escape``, ``lineSep``, ``multiLine``,
    ``splitSizeBytes``, ``batchRows``. All columns are strings (reference
    CSV model); cast downstream.
    """
    from tectonic_spark.sources import register_tectonic_sources

    register_tectonic_sources(spark)
    reader = spark.read.format("tectonic-csv")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


__all__ = ["get_spark", "read_csv", "read_json", "__version__"]
