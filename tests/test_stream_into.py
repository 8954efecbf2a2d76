"""``parser_ops._stream_into``: the one sink helper every registered
streaming query runs through. It counts only the micro-batches that read
rows, so a watermark's trailing no-data batch cannot satisfy a query that
needs its input spread over several batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tectonic_spark.operators import parser_ops

_HOUR_US = 3600 * 1_000_000


@pytest.fixture
def one_file_stream(spark, tmp_path, monkeypatch):
    """A JSONL directory holding ONE file of events at 0 h, 1 h and 5 h, a
    fixture root under ``tmp_path``, and every ``_run_stream`` result."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "in-0.jsonl").write_text(
        "".join(json.dumps({"ts_us": h * _HOUR_US}) + "\n" for h in (0, 1, 5))
    )
    monkeypatch.setattr(parser_ops, "_FIXTURE_ROOT", str(tmp_path / "fixtures"))
    runs: list[list] = []
    run_stream = parser_ops._run_stream
    monkeypatch.setattr(
        parser_ops, "_run_stream", lambda q: runs.append(run_stream(q)) or runs[-1]
    )
    stream = spark.readStream.schema("ts_us long").json(str(src))
    return stream, str(tmp_path), runs


def test_stateful_stream_over_one_file_is_one_batch(one_file_stream):
    stream, sf_dir, runs = one_file_stream
    counts = (
        stream.select(F.timestamp_micros("ts_us").alias("ts"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    sink, n_batches = parser_ops._stream_into(counts, sf_dir, "t")
    # the watermark (4.5 h) closes the 0 h and 1 h windows in a no-data batch
    assert [p["numInputRows"] for p in runs[0]] == [3, 0]
    assert n_batches == 1
    assert sorted(r["count"] for r in sink.collect()) == [1, 1]

    with pytest.raises(RuntimeError, match="t: only 1 micro-batches read rows"):
        parser_ops._stream_into(counts, sf_dir, "t", min_batches=2)
    assert [p["numInputRows"] for p in runs[1]] == [3, 0]  # a fresh run


def test_foreach_stream_has_no_sink(one_file_stream):
    stream, sf_dir, _runs = one_file_stream
    seen = []
    sink, n_batches = parser_ops._stream_into(
        stream, sf_dir, "t", foreach=lambda df, batch_id: seen.append(df.count())
    )
    assert (sink, n_batches, seen) == (None, 1, [3])
