"""Register the tectonic DataSources on a SparkSession.

Filter pushdown into Python data sources is gated by
``spark.sql.python.filterPushdown.enabled`` — a **static** conf (set at
session build; :func:`tectonic_spark.get_spark` turns it on, Spark's default
is off). PySpark's planning worker *rejects* any reader class that overrides
``pushFilters`` while the conf is off, and the worker that instantiates the
reader cannot see the conf — so the decision is made here, driver-side, with
the session in hand: probe the conf once and register the Pushdown variant
of each source only when pushdown is actually on. Either variant serves the
same format names; without pushdown Catalyst simply applies filters above
the scan (identical results, only the byte-skip I/O savings are lost).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _filter_pushdown_on(spark: SparkSession) -> bool:
    # the lookup has a default, so no error is expected: a failing session
    # surfaces here instead of silently losing pushdown
    v = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    return str(v).lower() == "true"


def register_tectonic_sources(spark: SparkSession) -> SparkSession:
    if _filter_pushdown_on(spark):
        from tectonic_spark.sources.csv_source import TectonicCsvPushdownDataSource
        from tectonic_spark.sources.json_source import TectonicJsonPushdownDataSource

        spark.dataSource.register(TectonicJsonPushdownDataSource)
        spark.dataSource.register(TectonicCsvPushdownDataSource)
    else:
        from tectonic_spark.sources.csv_source import TectonicCsvDataSource
        from tectonic_spark.sources.json_source import TectonicJsonDataSource

        spark.dataSource.register(TectonicJsonDataSource)
        spark.dataSource.register(TectonicCsvDataSource)
    return spark
