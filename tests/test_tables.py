"""The driver-side parquet schema cache in ``tectonic_spark.tables``: a
repeated read of an unchanged table starts no Spark job, and anything that
changes what Spark would infer (a rewritten file, an inference conf) infers
again."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tectonic_spark import tables
from tectonic_spark.tables import table


def _settle(sc) -> None:
    """Wait until the status tracker has seen every job started so far: it
    is fed from the listener bus, in order, so a job run after them that
    has become visible means they all have."""
    group = f"settle-{uuid.uuid4()}"
    sc.setJobGroup(group, "settle")
    sc.parallelize([0], 1).count()
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "status tracker never saw the job"
        time.sleep(0.05)


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4()}"
    sc.setJobGroup(group, "table read")
    try:
        fn()
        _settle(sc)
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_second_read_starts_no_job(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=[0, 1], r_name=["A", "B"])
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "region")) == 1
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "region")) == 0
    df = table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert _rows(df) == [(0, "A"), (1, "B")]


def test_rewritten_file_gives_new_schema_and_rows(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, n_nationkey=[0, 1])
    assert _rows(table(spark, str(tmp_path), "nation")) == [(0,), (1,)]
    _write(path, n_nationkey=[2, 3], n_name=["X", "Y"])
    df = table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert _rows(df) == [(2, "X"), (3, "Y")]


def test_inference_conf_change_infers_again(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    _write(tmp_path / "part.parquet", p_blob=pa.array([b"ab", b"cd"], pa.binary()))
    assert dict(table(spark, str(tmp_path), "part").dtypes) == {"p_blob": "binary"}
    spark.conf.set(conf, "true")
    try:
        df = table(spark, str(tmp_path), "part")
        assert dict(df.dtypes) == {"p_blob": "string"}
        assert _rows(df) == [("ab",), ("cd",)]
    finally:
        spark.conf.unset(conf)
    assert dict(table(spark, str(tmp_path), "part").dtypes) == {"p_blob": "binary"}


def test_partitioned_directory_matches_plain_read(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    for k in (1, 2):
        os.makedirs(path / f"k={k}")
        _write(path / f"k={k}" / "part-0.parquet", o_orderkey=[10 * k, 10 * k + 1])
    plain = spark.read.parquet(str(path))
    for _ in range(2):  # the first read infers, the second passes the schema in
        df = table(spark, str(tmp_path), "orders")
        assert df.schema == plain.schema
        assert _rows(df) == _rows(plain) == [(10, 1), (11, 1), (20, 2), (21, 2)]


def test_missing_path_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        table(spark, str(tmp_path / "absent"), "region")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert not any(p.startswith(str(tmp_path)) for p in tables._schemas)


def test_one_entry_per_path_after_rewrites(spark, tmp_path):
    path = tmp_path / "supplier.parquet"
    before = len(tables._schemas)
    for i in range(3):
        _write(path, **{f"c{j}": [j] for j in range(i + 1)})
        assert len(table(spark, str(tmp_path), "supplier").columns) == i + 1
    assert len(tables._schemas) == before + 1
    assert str(path) in tables._schemas
