"""Structured Streaming surface (SURVEY.md §7.8).

The reference's incremental ``absorb/continue/finish`` protocol
(BaseParser.scala:78-122) is inherently a streaming design; here it binds
to Spark Structured Streaming:

* :mod:`json_stream` — ``spark.readStream.format("tectonic-json")``:
  micro-batch file tailing with executor-side parsing (full
  DataSourceStreamReader: offsets are directory snapshots, partitions are
  the same byte-range FileSplits as the batch path).
* :mod:`ops` — watermarked windows, streaming dedup, and a custom
  stateful operator built on ``applyInPandasWithState``.
"""

from tectonic_spark.streaming.ops import (
    sessionize_with_state,
    stream_dedup,
    stream_tumbling_counts,
)

__all__ = [
    "sessionize_with_state",
    "stream_dedup",
    "stream_tumbling_counts",
]
