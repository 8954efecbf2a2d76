"""Streaming flavor of the tectonic sources (SURVEY.md §7.8).

The reference's fs2 layer turns the incremental parser into
``Stream[F, Byte] → Pipe → Stream[F, B]`` (fs2/StreamParser.scala:29-82);
the Spark-idiomatic equivalent is a micro-batch file source:

* **Offsets** are directory snapshots ``{"files": {path: size}}`` — files
  are assumed immutable once visible (the standard Spark file-source
  contract). An offset range's work is exactly the newly-appeared files.
* **partitions(start, end)** plans the same byte-range :class:`FileSplit`
  units as the batch reader, so a micro-batch containing a huge file still
  fans out across executors — parsing never serializes onto the driver.
* **read(partition)** runs on executors and reuses the batch reader's
  block parser (projection pushdown included via the scan schema), emitting
  its Arrow record batches as they are.

One generic reader serves both formats: the JSON and CSV DataSources pass
their batch reader (which owns format config and the ``read(FileSplit)``
loop) plus a splittability flag.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql.datasource import DataSourceStreamReader
from pyspark.sql.types import StructType

from tectonic_spark.sources.json_source import (
    _DEFAULT_SPLIT,
    FileSplit,
    list_input_files,
    plan_splits,
)

if TYPE_CHECKING:
    from pyarrow import RecordBatch


class TectonicFileStreamReader(DataSourceStreamReader):
    """Micro-batch tail of a directory through any tectonic batch reader."""

    def __init__(self, batch_reader, options: dict, splittable: bool) -> None:
        self._batch_reader = batch_reader
        self.options = options
        self.splittable = splittable
        # maxFilesPerTrigger: rate-limit each micro-batch to N new files
        # (Spark file-source parity). latestOffset advances by at most N
        # files per call, so a directory of M files drains over ⌈M/N⌉
        # micro-batches — offset continuation exercised for real, not just
        # one availableNow snapshot.
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        # maxBytesPerTrigger: byte-based admission (Delta/file-source
        # parity). New files are admitted in sorted order until their
        # cumulative size would exceed the cap; always ≥1 file per call so
        # a single over-cap file still makes progress. Composes with
        # maxFilesPerTrigger (both caps apply).
        mbt = options.get("maxbytespertrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        # monotonic high-water mark of files already surfaced in an offset.
        # Driver-side state: after a restart it resets, so the first
        # rate-limited latestOffset may REGRESS below the committed offset
        # — and once that regressed offset is logged as a batch end, it
        # becomes the next batch's start and previously-processed files
        # would re-enter as "new" (observed: duplicate sink rows). The
        # engine never hands a fresh reader the committed offset before
        # calling latestOffset (the runner protocol is exactly
        # initial/latest/partitions/commit), so the reader self-heals from
        # what it does see: every file in a ``partitions()`` START offset
        # was the end of an earlier logged batch (write-ahead: a logged
        # batch always executes or replays), i.e. already planned —
        # ``_processed`` pins those so they are never planned again, and
        # they rejoin ``_known`` so latestOffset stops regressing.
        self._known: dict[str, int] = {}
        self._processed: set[str] = set()

    # ---------------------------------------------------------------- offsets

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"files": {}}

    def latestOffset(self) -> dict:  # noqa: N802 (Spark API name)
        try:
            files = list_input_files(self.options["path"])
        except FileNotFoundError:
            files = []
        sizes = {f: os.path.getsize(f) for f in files}
        if self.max_files is None and self.max_bytes is None:
            return {"files": sizes}
        new = sorted(f for f in sizes if f not in self._known)
        if self.max_files is not None:
            new = new[: self.max_files]
        if self.max_bytes is not None:
            admitted: list[str] = []
            total = 0
            for f in new:
                if admitted and total + sizes[f] > self.max_bytes:
                    break
                admitted.append(f)
                total += sizes[f]
            new = admitted
        snap = dict(self._known)
        snap.update({f: sizes[f] for f in new})
        self._known = snap
        return {"files": dict(snap)}

    def partitions(self, start: dict, end: dict) -> list[FileSplit]:
        start_files = start.get("files", {})
        seen = set(start_files)
        end_files = end.get("files", {})
        # exclude _processed as well: after a restart, a regressed offset in
        # the log can make an already-processed file reappear in end-start
        # (see __init__ docstring) — replaying it would duplicate sink rows
        new_files = [
            f for f in sorted(end_files) if f not in seen and f not in self._processed
        ]
        # start==end is an engine-generated no-op planning call (seen first
        # thing after a restart, covering the last logged batch): it plans
        # nothing and proves nothing about commits — in particular its
        # files may include the uncommitted batch about to be REPLAYED, so
        # marking them processed here would skip the replay (observed:
        # missing sink rows). Only a strict start⊂end advance marks its
        # start as processed.
        if set(start_files) != set(end_files):
            self._processed.update(start_files)
        for f, sz in start_files.items():
            self._known.setdefault(f, sz)
        for f, sz in end_files.items():
            self._known.setdefault(f, sz)
        split_bytes = int(self.options.get("splitsizebytes", _DEFAULT_SPLIT))
        # plan from the sizes snapshotted in the END offset, not the live
        # filesystem: replaying a committed micro-batch after failure must
        # read the exact same byte ranges even if a file grew since
        splits = plan_splits(
            new_files,
            split_bytes,
            splittable=self.splittable,
            sizes={f: end_files[f] for f in new_files},
        )
        # Spark requires ≥1 partition per micro-batch; use an empty marker
        return splits or [FileSplit("", 0, 0, 0)]

    # ------------------------------------------------------------------ read

    def read(self, partition: FileSplit) -> Iterator[RecordBatch]:
        if not partition.file:
            return
        yield from self._batch_reader.read(partition)

    def commit(self, end: dict) -> None:
        return None


def TectonicJsonStreamReader(schema: StructType, options: dict, mode: str) -> TectonicFileStreamReader:
    from tectonic_spark.sources.json_source import TectonicJsonReader

    return TectonicFileStreamReader(
        TectonicJsonReader(schema, options, mode),
        options,
        splittable=(mode == "lines"),
    )
