"""Loaders for the driver-generated TESTDATA parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. All reads go through ``spark.read.parquet`` so
Catalyst gets native predicate pushdown / column pruning on the scans.

Spark infers a parquet schema with a job of its own on every read
(``ParquetFileFormat.inferSchema``), even for one file: 80-140 ms a read on
a 4-vCPU VM, against 8-27 ms with the schema given. :func:`table` therefore
keeps the inferred schema of each path on the driver and passes it back on
the next read, for as long as no file under the path has changed its
``(st_mtime_ns, st_size, st_ino)`` and the confs that change inference keep
their values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# the confs whose values change the schema Spark infers from the same files
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)

# absolute path -> (key it was inferred under, inferred schema); a changed
# key replaces the entry, so there is one entry per path ever read. Threads
# that race on a path each store a schema inferred under the key stored
# with it, so no lock is needed.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _file_stats(path: str) -> tuple:
    """``(path, st_mtime_ns, st_size, st_ino)`` of every file under
    ``path``, sorted; empty if ``path`` or anything under it cannot be
    stat'ed or listed."""

    def stat(p: str) -> tuple:
        st = os.stat(p)
        return (p, st.st_mtime_ns, st.st_size, st.st_ino)

    def fail(err: OSError) -> None:
        raise err

    try:
        if not os.path.isdir(path):
            return (stat(path),)
        return tuple(
            sorted(
                stat(os.path.join(root, f))
                for root, _dirs, files in os.walk(path, onerror=fail)
                for f in files
            )
        )
    except OSError:
        return ()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred by the last
    read of ``path`` passed in when its key still holds. A path with no
    files to stat (missing, empty, unreadable, or not a local path such as
    a URI) is read plainly, so Spark infers or raises its own error. The
    stat comes before the read: a file rewritten in between leaves the
    older stat in the key, and the next read infers again."""
    full = os.path.abspath(path)
    files = _file_stats(full)
    if not files:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _schemas.get(full)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[full] = (key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA table as a DataFrame.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read it as long (nanosAsLong) and convert
    to a micros timestamp with integer division (the data has no
    sub-microsecond components, and double division would lose precision at
    ~1e18 nanos).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return _read_parquet(spark, path)


def spread_small_scan(
    df: DataFrame, spark: SparkSession, *key: str, frac: float = 1.0
) -> DataFrame:
    """Repartition a scan ONLY when it arrives in fewer splits than cores.

    CPU-heavy kernels (shingling, PQ encoding) downstream of a tiny file
    scan would serialize onto the scan's one-or-two input splits; spreading
    by key fixes that locally. But at 100 TB the scan already yields
    thousands of splits, and an unconditional ``repartition`` there is a
    full shuffle of the raw corpus for nothing (VERDICT r5 item 2). The
    split count comes from the file listing — no job is executed.

    ``frac`` tightens the trigger for CHEAP downstream work (r13): a plain
    aggregation only gains from the extra shuffle when the scan is truly
    serial (a single-row-group file), not when it is merely a little under
    core count — measured on b05 at sf1, spreading a 27-split scan to 32
    cost more than it saved (1.43s -> 1.62s) while at sf0.1 the 1-effective-
    split scan gained 25% (1.45s -> 1.1s). CPU-heavy callers keep the
    default trigger (any deficit vs cores is worth fixing there).
    """
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1.0, parallelism * frac):
        return df
    return df.repartition(parallelism, *key)


def map_documents(
    spark: SparkSession,
    sf_dir: str,
    m: int,
    r: int,
    schema: StructType,
    fn,
    *cols: str,
    batch: bool = False,
) -> DataFrame:
    """The one per-document kernel of the decode and census queries.

    Selects ``doc_id`` and ``cols`` from ``documents`` where
    ``doc_id % m == r``, spreads the scan with :func:`spread_small_scan`
    (the kernels are CPU-heavy and the scan is tiny at small scale), and
    maps each Arrow batch in ``mapInPandas``. ``fn(doc_id, *values)``
    returns one output row per document; with ``batch=True``,
    ``fn(doc_ids, *value_lists)`` returns the rows of the whole batch, for
    decoders that work on many payloads at once. ``doc_id`` arrives as a
    Python int, rows are tuples in the field order of ``schema``.
    """
    from pyspark.sql import functions as F

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", *cols)
        .where(F.col("doc_id") % m == r)
    )
    docs = spread_small_scan(docs, spark, "doc_id")
    names = schema.fieldNames()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            args = [[int(d) for d in pdf["doc_id"]], *(list(pdf[c]) for c in cols)]
            rows = fn(*args) if batch else [fn(*a) for a in zip(*args)]
            yield pd.DataFrame(rows, columns=names)

    return docs.mapInPandas(kernel, schema)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
