"""Structured Streaming tests (SURVEY.md §7.8): the tectonic-json stream
source (offset tracking, incremental micro-batches, executor-side splits)
and the watermark/window/dedup/stateful recipes, each checked against its
batch equivalent on the same data."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from tectonic_spark.streaming import (
    stream_dedup,
    stream_tumbling_counts,
)

pytestmark = pytest.mark.filterwarnings("ignore")


def _write_events(path, lo, hi, fname):
    with open(path / fname, "w") as f:
        for i in range(lo, hi):
            f.write(
                json.dumps(
                    {
                        "event_id": i,
                        "ts": f"2024-01-01 {i % 24:02d}:{i % 60:02d}:00",
                        "user_id": i % 7,
                        "event_type": ["click", "view", "buy"][i % 3],
                        "value": round(i * 0.5, 2),
                    }
                )
                + "\n"
            )


def _typed(df):
    return df.withColumn("ts", F.to_timestamp("ts"))


def _run_available_now(stream_df, name, checkpoint):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestJsonStreamSource:
    def test_stream_reads_files_and_tracks_offsets(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 50, "a.json")

        schema = "event_id long, ts string, user_id long, event_type string, value double"
        stream = (
            spark.readStream.format("tectonic-json").schema(schema).load(str(data))
        )
        assert stream.isStreaming
        out_dir = tmp_path / "out"

        def run_once():
            q = (
                stream.writeStream.format("parquet")
                .option("path", str(out_dir))
                .option("checkpointLocation", str(tmp_path / "ck1"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        assert spark.read.parquet(str(out_dir)).count() == 50

        # second run, same checkpoint: only the NEW file is processed —
        # if a.json were re-read, its ids would appear twice in the sink
        _write_events(data, 50, 80, "b.json")
        run_once()
        ids = [r.event_id for r in spark.read.parquet(str(out_dir)).collect()]
        assert sorted(ids) == list(range(80))

    def test_csv_stream_source(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        (data / "a.csv").write_text("k,v\n1,x\n2,y\n")
        stream = (
            spark.readStream.format("tectonic-csv")
            .schema("k string, v string")
            .option("lineSep", "\n")
            .load(str(data))
        )
        q = _run_available_now(stream, "csv_s", tmp_path / "ck_csv")
        got = sorted((r.k, r.v) for r in spark.sql("SELECT * FROM csv_s").collect())
        assert got == [("1", "x"), ("2", "y")]

    def test_max_files_per_trigger_rate_limits_offsets(self, tmp_path):
        # unit: latestOffset advances by ≤N new files per call, monotonic
        from tectonic_spark.streaming.json_stream import TectonicFileStreamReader

        data = tmp_path / "in"
        data.mkdir()
        for i in range(5):
            (data / f"f{i}.jsonl").write_text('{"a": %d}\n' % i)
        reader = TectonicFileStreamReader(
            batch_reader=None,
            options={"path": str(data), "maxfilespertrigger": "2"},
            splittable=True,
        )
        seen = []
        prev = reader.initialOffset()
        for _ in range(4):
            cur = reader.latestOffset()
            new = sorted(set(cur["files"]) - set(prev["files"]))
            seen.append(len(new))
            assert set(prev["files"]) <= set(cur["files"])  # monotonic
            prev = cur
        assert seen == [2, 2, 1, 0]
        assert len(prev["files"]) == 5

    def test_read_yields_the_batch_readers_arrow_batches(self, tmp_path):
        import pyarrow as pa
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from tectonic_spark.sources.json_source import FileSplit, TectonicJsonReader
        from tectonic_spark.streaming.json_stream import TectonicJsonStreamReader

        p = tmp_path / "f.jsonl"
        p.write_bytes(b'{"a": 1, "s": "x"}\n{"a": 2}\n{"s": "y", "z": 0}\n')
        size = p.stat().st_size
        schema = StructType([StructField("a", LongType()), StructField("s", StringType())])
        split = FileSplit(str(p), 0, size, size)
        opts = {"path": str(tmp_path)}
        got = list(TectonicJsonStreamReader(schema, opts, "lines").read(split))
        want = list(TectonicJsonReader(schema, opts, "lines").read(split))
        assert got and all(isinstance(b, pa.RecordBatch) for b in got)
        assert [b.to_pylist() for b in got] == [b.to_pylist() for b in want]
        assert got[0].schema.names == ["a", "s"]
        assert list(TectonicJsonStreamReader(schema, opts, "lines").read(FileSplit("", 0, 0, 0))) == []

    def test_max_files_per_trigger_multibatch_end_to_end(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 30, "a.json")
        _write_events(data, 30, 60, "b.json")
        _write_events(data, 60, 90, "c.json")
        schema = "event_id long, ts string"
        stream = (
            spark.readStream.format("tectonic-json")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(str(data))
        )
        out = tmp_path / "out"
        ck = tmp_path / "ck_mft"
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 90:
                        break
                except Exception:
                    pass
                time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(60)
        ids = sorted(r.event_id for r in spark.read.parquet(str(out)).collect())
        assert ids == list(range(90))
        commits = [f for f in (ck / "commits").iterdir() if not f.name.startswith(".")]
        assert len(commits) >= 3  # one data batch per file, rate-limited

    @pytest.mark.parametrize("fmt", ["tectonic-json", "tectonic-csv"])
    def test_checkpoint_restart_exactly_once(self, spark, tmp_path, fmt):
        """Stop a rate-limited stream mid-way, restart from the same
        checkpoint: the sink must hold every row exactly once. Exercises
        the shared reader's restart contract for BOTH formats — the fresh
        reader's high-water mark trails the committed offset, and planning
        from committed offsets must neither skip nor replay files into the
        sink."""
        data = tmp_path / "in"
        data.mkdir()
        if fmt == "tectonic-json":
            for i, name in enumerate(("a.json", "b.json", "c.json", "d.json")):
                _write_events(data, i * 20, (i + 1) * 20, name)
        else:
            for i, name in enumerate(("a.csv", "b.csv", "c.csv", "d.csv")):
                rows = "".join(
                    f"{e},t{e}\n" for e in range(i * 20, (i + 1) * 20)
                )
                (data / name).write_text("event_id,ts\n" + rows)
        # the CSV surface is string-typed (reference parity): read ids as
        # strings there and compare as ints below
        schema = (
            "event_id long, ts string"
            if fmt == "tectonic-json"
            else "event_id string, ts string"
        )
        out = tmp_path / "out_restart"
        ck = tmp_path / "ck_restart"

        def start():
            reader = (
                spark.readStream.format(fmt)
                .schema(schema)
                .option("maxFilesPerTrigger", "1")
            )
            if fmt == "tectonic-csv":
                reader = reader.option("lineSep", "\n")
            return (
                reader.load(str(data))
                .writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(ck))
                .outputMode("append")
                .trigger(processingTime="50 milliseconds")
                .start()
            )

        q = start()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 20:
                        break
                except Exception:
                    pass
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        partial = spark.read.parquet(str(out)).count()
        assert partial >= 20  # at least one committed batch before the stop

        q = start()  # fresh reader instance, same checkpoint
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 80:
                        break
                except Exception:
                    pass
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        ids = sorted(
            int(r.event_id) for r in spark.read.parquet(str(out)).collect()
        )
        assert ids == list(range(80))  # every row exactly once, no replay

    def test_stream_empty_dir_then_data(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        schema = "event_id long, ts string"
        stream = (
            spark.readStream.format("tectonic-json").schema(schema).load(str(data))
        )
        q = _run_available_now(stream, "s_empty", tmp_path / "ck_e")
        assert spark.sql("SELECT count(*) c FROM s_empty").collect()[0].c == 0


class TestStreamingOps:
    def test_tumbling_counts_match_batch(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 200, "a.json")
        schema = "event_id long, ts string, user_id long, event_type string, value double"

        stream = _typed(
            spark.readStream.format("tectonic-json").schema(schema).load(str(data))
        )
        out = stream_tumbling_counts(stream, window="1 hour", watermark="10 hours")
        # append mode only emits windows the watermark has passed, which
        # needs a follow-up micro-batch; complete mode shows every window
        # and is the honest single-batch comparison against the batch plan
        q = (
            out.writeStream.format("memory")
            .queryName("tumble")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.w_start, r.event_type): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM tumble").collect()
        }

        batch = _typed(
            spark.read.format("tectonic-json").schema(schema).load(str(data))
        )
        want = {
            (r.w_start, r.event_type): (r.n, r.sum_value)
            for r in (
                batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(27,6)"))
                    .cast("double")
                    .alias("sum_value"),
                )
                .select(
                    F.col("w.start").alias("w_start"),
                    "event_type",
                    "n",
                    "sum_value",
                )
            ).collect()
        }
        assert got == want
        assert len(got) > 5

    def test_stream_dedup_within_watermark(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        # duplicate event_ids across two files
        _write_events(data, 0, 60, "a.json")
        _write_events(data, 0, 60, "b.json")
        schema = "event_id long, ts string, user_id long, event_type string, value double"
        stream = _typed(
            spark.readStream.format("tectonic-json").schema(schema).load(str(data))
        )
        out = stream_dedup(stream, ["event_id"], watermark="10 hours")
        _run_available_now(out, "dedup", tmp_path / "ck3")
        rows = spark.sql("SELECT event_id FROM dedup").collect()
        assert sorted(r.event_id for r in rows) == list(range(60))

    def test_sessionize_with_state_emits_on_timeout(self, spark, tmp_path):
        from tectonic_spark.streaming import sessionize_with_state

        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 70, "a.json")
        schema = "event_id long, ts string, user_id long, event_type string, value double"
        stream = _typed(
            spark.readStream.format("tectonic-json").schema(schema).load(str(data))
        )
        out = sessionize_with_state(stream, timeout_ms=2_000)
        # processing-time timeouts need a live query: idle micro-batches
        # after the data batch let the 2 s timeout fire per user
        q = (
            out.writeStream.format("memory")
            .queryName("sess")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck4"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.time() + 90
            want_users = set(range(7))
            while time.time() < deadline:
                got = {r.user_id for r in spark.sql("SELECT user_id FROM sess").collect()}
                if got == want_users:
                    break
                time.sleep(2)
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT user_id, n, sum_value, closed_by FROM sess"
        ).collect()
        by_user = {r.user_id: r for r in rows}
        assert set(by_user) == set(range(7))
        assert all(r.closed_by == "timeout" for r in rows)
        assert by_user[0].n == 10  # 70 events, user_id = i % 7


class TestStreamFaults:
    """Byte-based admission + fault injection (VERDICT r3 item 7): the
    exactly-once story the restart fix started, completed — a crash in the
    window between the sink writing batch N and the engine logging
    ``commits/N`` must replay N without duplicating sink rows."""

    def test_max_bytes_per_trigger_rate_limits_offsets(self, tmp_path):
        from tectonic_spark.streaming.json_stream import TectonicFileStreamReader

        data = tmp_path / "in"
        data.mkdir()
        # 5 files × ~120 bytes each; cap at 250 bytes → 2 files per call
        for i in range(5):
            (data / f"f{i}.jsonl").write_text(
                '{"a": %d, "pad": "%s"}\n' % (i, "x" * 100)
            )
        size = (data / "f0.jsonl").stat().st_size
        reader = TectonicFileStreamReader(
            batch_reader=None,
            options={"path": str(data), "maxbytespertrigger": str(2 * size)},
            splittable=True,
        )
        seen = []
        prev = reader.initialOffset()
        for _ in range(4):
            cur = reader.latestOffset()
            seen.append(len(set(cur["files"]) - set(prev["files"])))
            assert set(prev["files"]) <= set(cur["files"])
            prev = cur
        assert seen == [2, 2, 1, 0]

    def test_max_bytes_always_admits_one_oversized_file(self, tmp_path):
        from tectonic_spark.streaming.json_stream import TectonicFileStreamReader

        data = tmp_path / "in"
        data.mkdir()
        (data / "big.jsonl").write_text('{"a": 1, "pad": "%s"}\n' % ("y" * 4096))
        reader = TectonicFileStreamReader(
            batch_reader=None,
            options={"path": str(data), "maxbytespertrigger": "10"},
            splittable=True,
        )
        cur = reader.latestOffset()
        assert len(cur["files"]) == 1  # progress despite cap < file size

    def test_max_bytes_end_to_end_multibatch(self, spark, tmp_path):
        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 30, "a.json")
        _write_events(data, 30, 60, "b.json")
        _write_events(data, 60, 90, "c.json")
        per_file = (data / "a.json").stat().st_size
        out = tmp_path / "out"
        ck = tmp_path / "ck_mbt"
        q = (
            spark.readStream.format("tectonic-json")
            .schema("event_id long, ts string")
            .option("maxBytesPerTrigger", str(per_file))  # one file per batch
            .load(str(data))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 90:
                        break
                except Exception:
                    pass
                time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(60)
        ids = sorted(r.event_id for r in spark.read.parquet(str(out)).collect())
        assert ids == list(range(90))
        commits = [f for f in (ck / "commits").iterdir() if not f.name.startswith(".")]
        assert len(commits) >= 3  # byte cap forced ≥3 data batches

    def test_crash_between_sink_write_and_commit_log(self, spark, tmp_path):
        """Inject the worst-case fault: after the stream stops, delete the
        newest ``commits/N`` entry — exactly the state a process kill leaves
        when the sink already wrote batch N but the engine died before
        logging the commit. On restart the engine replays batch N; the
        file-sink transaction log + our reader's replay contract must yield
        every row exactly once."""
        import os

        data = tmp_path / "in"
        data.mkdir()
        for i, name in enumerate(("a.json", "b.json", "c.json", "d.json")):
            _write_events(data, i * 20, (i + 1) * 20, name)
        out = tmp_path / "out_crash"
        ck = tmp_path / "ck_crash"

        def start():
            return (
                spark.readStream.format("tectonic-json")
                .schema("event_id long, ts string")
                .option("maxFilesPerTrigger", "1")
                .load(str(data))
                .writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(ck))
                .outputMode("append")
                .trigger(processingTime="50 milliseconds")
                .start()
            )

        q = start()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 40:
                        break
                except Exception:
                    pass
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        # the engine holds a per-output-path lock until the query fully
        # deregisters; starting the "restarted process" before that raises
        # multiStreamingQueriesUsingPathConcurrently
        deadline = time.time() + 60
        while q.isActive and time.time() < deadline:
            time.sleep(0.1)
        assert not q.isActive
        assert spark.read.parquet(str(out)).count() >= 40

        commits = sorted(
            (f for f in (ck / "commits").iterdir() if not f.name.startswith(".")),
            key=lambda p: int(p.name),
        )
        assert commits, "no committed batches before fault injection"
        # the kill window: sink wrote, commit log lost. A real kill leaves
        # NO trace of commits/N — including the ChecksumFs .N.crc sidecar
        # (leaving it makes the replay's rename fail as "concurrent query")
        os.unlink(commits[-1])
        crc = commits[-1].parent / f".{commits[-1].name}.crc"
        if crc.exists():
            os.unlink(crc)

        q = start()
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(str(out)).count() >= 80:
                        break
                except Exception:
                    pass
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        ids = sorted(r.event_id for r in spark.read.parquet(str(out)).collect())
        assert ids == list(range(80)), (
            f"exactly-once violated: {len(ids)} rows, "
            f"dups={len(ids) - len(set(ids))}"
        )


def test_dedup_state_survives_restart(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must recover from the
    checkpoint: a duplicate of a pre-restart row arriving in a
    post-restart micro-batch can only be dropped if the state store was
    restored, not rebuilt empty. Files carry the previous file's last 5
    rows as cross-batch duplicates; the final sink must hold every id
    exactly once."""
    import json as _json

    data = tmp_path / "in_dd"
    data.mkdir()
    prev_tail = []
    for i, name in enumerate(("a.json", "b.json", "c.json", "d.json")):
        rows = [
            {
                "event_id": e,
                "ts": f"2024-01-01 {e % 24:02d}:{e % 60:02d}:00",
            }
            for e in range(i * 20, (i + 1) * 20)
        ]
        body = prev_tail + rows
        prev_tail = rows[-5:]
        (data / name).write_text(
            "\n".join(_json.dumps(r) for r in body) + "\n"
        )
    out = tmp_path / "out_dd"
    ck = tmp_path / "ck_dd"

    from pyspark.sql import functions as F

    def start():
        return (
            spark.readStream.format("tectonic-json")
            .schema("event_id long, ts string")
            .option("maxFilesPerTrigger", "1")
            .load(str(data))
            .select("event_id", F.to_timestamp("ts").alias("ts"))
            .withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    def wait_rows(n):
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(str(out)).count() >= n:
                    return
            except Exception:
                pass
            time.sleep(0.2)

    q = start()
    try:
        wait_rows(20)  # first batch committed
    finally:
        q.stop()
        q.awaitTermination(60)
    assert spark.read.parquet(str(out)).count() >= 20

    q = start()  # fresh query, same checkpoint -> state restore
    try:
        wait_rows(80)
    finally:
        q.stop()
        q.awaitTermination(60)
    ids = sorted(r.event_id for r in spark.read.parquet(str(out)).collect())
    assert ids == list(range(80))  # every id once: dups dropped ACROSS restart


class TestRollupMaintenanceReplay:
    def test_replayed_batch_folds_exactly_once(self, spark, tmp_path):
        """Crash-replay fault for the foreachBatch rollup: delete the
        newest commits/N after the stream finishes (the state a kill
        between sink commit and checkpoint commit leaves), restart — the
        engine replays batch N and the last-applied-batch-id guard must
        skip it, leaving the maintained totals unchanged."""
        import json as _json
        import os as _os

        from tectonic_spark.operators.parser_ops import (
            rollup_merger,
            rollup_state_path,
        )

        data = tmp_path / "in"
        data.mkdir()
        for part in range(3):
            lines = "\n".join(
                _json.dumps(
                    {
                        "event_id": part * 50 + i,
                        "event_type": f"t{i % 3}",
                        "value": float(i),
                    }
                )
                for i in range(50)
            )
            (data / f"in-{part}.json").write_text(lines + "\n")
        state = tmp_path / "state"
        state.mkdir()
        ck = tmp_path / "ck"

        def start():
            return (
                spark.readStream.format("tectonic-json")
                .schema("event_id long, event_type string, value double")
                .option("maxFilesPerTrigger", "1")
                .load(str(data))
                .writeStream.foreachBatch(rollup_merger(str(state)))
                .option("checkpointLocation", str(ck))
                .trigger(processingTime="50 milliseconds")
                .start()
            )

        def total():
            try:
                cur = rollup_state_path(str(state))
                if cur is None:
                    return 0
                return (
                    spark.read.parquet(cur)
                    .agg(F.sum("n_events"))
                    .first()[0]
                    or 0
                )
            except Exception:
                return 0

        q = start()
        try:
            deadline = time.time() + 120
            while time.time() < deadline and total() < 150:
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(30)
        assert total() == 150
        commits = sorted(
            f
            for f in _os.listdir(ck / "commits")
            if not f.startswith(".")
        )
        # crash injection: newest commit vanishes -> batch replays
        # (drop the hadoop .crc sibling too, or the re-commit rename fails)
        _os.unlink(ck / "commits" / commits[-1])
        crc = ck / "commits" / f".{commits[-1]}.crc"
        if crc.exists():
            _os.unlink(crc)
        q = start()
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                done = sorted(
                    f
                    for f in _os.listdir(ck / "commits")
                    if not f.startswith(".")
                )
                if len(done) >= len(commits):
                    break
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(30)
        assert total() == 150  # replayed batch did NOT double-count


class TestRollupMergerProperty:
    def test_sequential_batches_equal_direct_aggregate(self, spark, tmp_path):
        """Drive the PRODUCTION merge closure with K batches directly (no
        stream): the maintained state must equal the direct aggregate of
        all rows, and replaying ANY prefix of batch ids afterwards must
        change nothing (idempotence without a crash harness)."""
        import random

        from tectonic_spark.operators.parser_ops import (
            rollup_merger,
            rollup_state_path,
        )

        rng = random.Random(7)
        state = tmp_path / "state"
        state.mkdir()
        merge = rollup_merger(str(state))
        all_rows = []
        for batch_id in range(5):
            rows = [
                (
                    rng.choice(["a", "b", "c"]),
                    round(rng.uniform(-100, 100), 2),
                )
                for _ in range(rng.randint(1, 40))
            ]
            all_rows.extend(rows)
            df = spark.createDataFrame(rows, "event_type string, value double")
            merge(df, batch_id)
        # replay a shuffled subset of already-applied ids — all no-ops
        for bid in rng.sample(range(5), 3):
            df = spark.createDataFrame(
                [("poison", 1e9)], "event_type string, value double"
            )
            merge(df, bid)
        got = {
            r["event_type"]: (r["n_events"], float(r["sum_value"]))
            for r in spark.read.parquet(rollup_state_path(str(state))).collect()
        }
        direct = spark.createDataFrame(
            all_rows, "event_type string, value double"
        ).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
        )
        want = {
            r["event_type"]: (r["n"], float(r["s"]))
            for r in direct.collect()
        }
        assert got == want


class TestRunStream:
    def test_crashed_stream_raises_its_own_cause(self, spark, tmp_path):
        """A stream that dies fails ``_run_stream`` at once with the
        stream's own exception, not after a deadline with a row count."""
        from pyspark.errors import StreamingQueryException

        from tectonic_spark.operators.parser_ops import _run_stream

        data = tmp_path / "in"
        data.mkdir()
        _write_events(data, 0, 10, "a.json")

        @F.udf("long")
        def reject(event_id):
            raise ValueError(f"run-stream probe rejected event {event_id}")

        q = (
            spark.readStream.format("tectonic-json")
            .schema("event_id long")
            .load(str(data))
            .select(reject("event_id").alias("x"))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        t0 = time.monotonic()
        with pytest.raises(StreamingQueryException, match="run-stream probe rejected"):
            _run_stream(q)
        assert time.monotonic() - t0 < 60
        assert not q.isActive
