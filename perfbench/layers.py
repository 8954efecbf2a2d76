"""Traced-run replays of the ``core``, ``sources`` and ``writers`` layers.

Each replay calls a layer's public functions in this process, on one core,
over seeded inputs: the JSON and CSV parsers' ``absorb``/``finish``, a
DataSource's ``schema()``, its reader's ``partitions()`` and ``read(split)``,
and a writer's ``write()``. Counts (bytes skipped, splits, rows, batches,
files) are exact for a given seed; rates are single-thread MB/s.
"""

from __future__ import annotations

import os
import shutil
import time

from spans import Tracer


def _drain(parser, res) -> int:
    """Rows produced by one absorb/finish result, following BREAK_BATCH."""
    from tectonic_spark.core.result import Failure, Partial

    n = 0
    while True:
        if isinstance(res, Failure):
            raise res.error
        n += len(res.value) if isinstance(res.value, list) else int(res.value or 0)
        if not isinstance(res, Partial):
            return n
        res = parser.resume()


def _parse(make_parser, data: bytes, reps: int = 3) -> tuple[float, int, object]:
    """Median seconds of ``reps`` whole parses, rows out, last parser."""
    times, rows, parser = [], 0, None
    for _ in range(reps):
        t0 = time.perf_counter()
        parser = make_parser()
        rows = _drain(parser, parser.absorb(data))
        rows += _drain(parser, parser.finish())
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2], rows, parser


def core(tr: Tracer, json_data: bytes, csv_data: bytes, schema) -> dict:
    """Full (direct-value) parse, SKIP_COLUMN projection and SKIP_ROW filter
    of the wide JSON probe, and a counting CSV parse.

    ``skip_ratio`` is projection MB/s over the direct full parse, the path a
    full-fidelity scan takes; not over the event walk."""
    from pyspark.sql.datasource import EqualTo

    import gen
    from tectonic_spark.core.csv_parser import CsvParser
    from tectonic_spark.core.json_parser import JsonParser, Mode
    from tectonic_spark.core.plate import RowCountPlate
    from tectonic_spark.sources.csv_source import csv_config_from_options
    from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters

    mb = len(json_data) / 1e6
    tests = compile_filters([EqualTo(("cat",), gen.WIDE_FILTER_CAT)], schema)
    with tr.span("core.json.full"):
        t_full, n_full, _ = _parse(
            lambda: JsonParser(PushdownPlate(), Mode.VALUE_STREAM), json_data
        )
    with tr.span("core.json.project"):
        t_proj, _, p = _parse(
            lambda: JsonParser(PushdownPlate(required={"i05"}), Mode.VALUE_STREAM), json_data
        )
    with tr.span("core.json.filter"):
        t_filt, _, _ = _parse(
            lambda: JsonParser(PushdownPlate(tests=tests), Mode.VALUE_STREAM), json_data
        )
    cfg = csv_config_from_options({})
    with tr.span("core.csv.count"):
        t_csv, _, _ = _parse(lambda: CsvParser(RowCountPlate(), cfg), csv_data)
    if n_full != json_data.count(b"\n"):
        raise RuntimeError(f"core full parse produced {n_full} rows")
    return {
        "core.json.full_mb_s": mb / t_full,
        "core.json.project_mb_s": mb / t_proj,
        "core.json.filter_mb_s": mb / t_filt,
        "core.json.skip_ratio": t_full / t_proj,
        "core.json.skipped_bytes_frac": p.skipped_bytes_total / len(json_data),
        "core.csv.mb_s": len(csv_data) / 1e6 / t_csv,
    }


def _read_all(tr: Tracer, reader, name: str) -> tuple[float, int, int, int]:
    """(seconds, bytes, rows, batches) reading every split in turn."""
    rows = batches = nbytes = 0
    t = 0.0
    for split in reader.partitions():
        nbytes += split.end - split.start
        with tr.span(f"{name}.read"):
            t0 = time.perf_counter()
            for b in reader.read(split):
                rows += b.num_rows
                batches += 1
            t += time.perf_counter() - t0
    return t, nbytes, rows, batches


def sources(tr: Tracer, spec: dict, csv_path: str, csv_rows: int) -> tuple[dict, list]:
    """Replay one JSON scan of the workload (same file, options, pushed
    filters) and a plain CSV scan; returns metrics and the CSV batches."""
    from pyspark.sql.types import StructType

    from tectonic_spark.sources.csv_source import TectonicCsvPushdownDataSource
    from tectonic_spark.sources.json_source import TectonicJsonPushdownDataSource

    opts = {"path": spec["path"], **spec["options"]}
    ds = TectonicJsonPushdownDataSource(options=opts)
    with tr.span("sources.schema"):
        t0 = time.perf_counter()
        inferred = ds.schema()
        schema_s = time.perf_counter() - t0
    schema = StructType.fromDDL(spec["ddl"]) if spec.get("ddl") else inferred
    reader = ds.reader(schema)
    if spec.get("filters"):
        reader.pushFilters(spec["filters"])
    with tr.span("sources.partitions"):
        splits = len(reader.partitions())
    t_json, nbytes, rows, batches = _read_all(tr, reader, "sources.json")

    cds = TectonicCsvPushdownDataSource(options={"path": csv_path})
    creader = cds.reader(cds.schema())
    t0 = time.perf_counter()
    csv_batches = []
    with tr.span("sources.csv.read"):
        for split in creader.partitions():
            csv_batches.extend(creader.read(split))
    t_csv = time.perf_counter() - t0
    if sum(b.num_rows for b in csv_batches) != csv_rows:
        raise RuntimeError("CSV replay lost rows")
    return {
        "sources.schema_s": schema_s,
        "sources.splits": splits,
        "sources.read_mb_s_core": nbytes / 1e6 / t_json,
        "sources.csv.read_mb_s_core": os.path.getsize(csv_path) / 1e6 / t_csv,
        "sources.rows_out_frac": rows / spec["rows"],
        "sources.batches": batches,
    }, csv_batches


def writers(tr: Tracer, batches: list, in_bytes: int, out_dir: str, columns: list) -> dict:
    """Both writers' ``write()`` over the CSV replay's batches."""
    from tectonic_spark.sources.writers import TectonicCsvWriter, TectonicJsonWriter

    t = 0.0
    out_bytes = files = 0
    for kind, make in (
        ("json", lambda o: TectonicJsonWriter(o, True)),
        ("csv", lambda o: TectonicCsvWriter(o, True, columns)),
    ):
        path = os.path.join(out_dir, f"replay-{kind}")
        shutil.rmtree(path, ignore_errors=True)
        w = make({"path": path})
        with tr.span(f"writers.{kind}.write"):
            t0 = time.perf_counter()
            msg = w.write(iter(batches))
            t += time.perf_counter() - t0
        w.commit([msg])
        parts = [f for f in os.listdir(path) if f.startswith("part-")]
        files += len(parts)
        out_bytes += sum(os.path.getsize(os.path.join(path, f)) for f in parts)
    return {
        "writers.write_mb_s_core": 2 * in_bytes / 1e6 / t,
        "writers.bytes_out_per_in": out_bytes / (2 * in_bytes),
        "writers.files": files,
    }
