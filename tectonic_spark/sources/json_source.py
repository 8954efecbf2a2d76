"""``spark.read.format("tectonic-json")`` — Python DataSourceV2 over the L1
JSON parser core (SURVEY.md §7.5-7.6; reference S1, json/Parser.scala:95-920).

Framing modes (json/Parser.scala:922-936) map to the ``mode`` option:

* ``lines`` (default) — newline-delimited values (VALUE_STREAM framing with
  an NDJSON layout guarantee). **Splittable**: files are planned as byte
  ranges of ``splitSizeBytes`` aligned to newlines, so a 100 TB directory
  fans out across every executor — same split model as Spark's native JSON.
* ``values`` — whitespace-separated top-level values, no layout guarantee;
  one partition per file, constant-memory incremental absorb.
* ``array`` — top-level ``[...]``, each element a row (UnwrapArray).
* ``single`` — whole file is one value, one row (SingleValue).

Pushdown:

* **Projection** — the scan schema's top-level fields (user ``.schema()``
  or the option ``columns``) become the parser's required set; any other
  key is byte-skipped via SKIP_COLUMN (a3 parity).
* **Filters** — Spark calls ``pushFilters`` (needs
  ``spark.sql.python.filterPushdown.enabled=true``, set by
  :func:`tectonic_spark.get_spark`); supported predicates compile into
  SKIP_ROW byte-skips. All filters are reported back as unhandled so
  Catalyst re-applies them — skips are pure I/O savings, provably safe.

Malformed input (a6; ParseException parity, reference exceptions.scala:24):
``parseMode`` = PERMISSIVE (default; bad *lines* in ``lines`` mode become
all-null rows, captured raw in ``columnNameOfCorruptRecord`` if configured)
| DROPMALFORMED | FAILFAST. Non-line modes cannot resync after an error and
are always FAILFAST, like the reference parser itself.

One grammar: what is malformed does not depend on ``fastPath``. The C
decode sites (per-line, whole-document and ``values`` decoding, schema
sampling) all use the core's strict decoder (``json_parser.json_loads``:
strict UTF-8, no ``NaN``/``Infinity``, no lone surrogate ``\\u`` escape),
and a pyarrow block whose strings are not valid UTF-8 or which holds
``NaN``/``Infinity`` goes to the per-line route. A line or document that
C decoding rejects is then decided by the event parser, which skips
values outside the read schema unchecked: ``{"a": 1.0, "zz": NaN}`` read
with schema ``a`` is a good row on both routes.

``maxValueBytes`` (default 1 GiB) bounds one value's buffered bytes in the
stream modes and one line in ``lines`` mode: a longer line raises
ParseException in every ``parseMode``, once the reader holds a read past
the bound of it (a line's reads are joined once, at its newline).
"""

from __future__ import annotations

import os
from codecs import BOM_UTF8
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import chain
from typing import Any

from pyspark.errors import PySparkTypeError
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from tectonic_spark.core.json_parser import (
    JsonParser,
    Mode,
    json_loads,
    json_raw_decode,
    window_loads,
)
from tectonic_spark.core.result import Failure, ParseException, Partial
from tectonic_spark.core.value_builder import ValueBuilderPlate
from tectonic_spark.sources.arrow_batch import DEFAULT_BATCH_ROWS, rows_to_batches
from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters
from tectonic_spark.sources.schema_infer import infer_spark_schema, normalize_row

_MODES = {
    "lines": Mode.VALUE_STREAM,
    "values": Mode.VALUE_STREAM,
    "array": Mode.UNWRAP_ARRAY,
    "single": Mode.SINGLE_VALUE,
}
_DEFAULT_SPLIT = 128 * 1024 * 1024
_CHUNK = 4 * 1024 * 1024
_DEFAULT_MAX_VALUE_BYTES = 1 << 30  # one value or line: bound, don't OOM
_SAMPLE_BYTES = 8 * 1024 * 1024


def list_input_files(path: str, suffix: str | None = None) -> list[str]:
    """Expand a file / directory / glob into a sorted file list."""
    import glob as _glob

    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                if suffix is None or f.endswith(suffix):
                    out.append(os.path.join(root, f))
        return sorted(out)
    hits = sorted(p for p in _glob.glob(path) if os.path.isfile(p))
    if not hits:
        raise FileNotFoundError(f"no input files match {path!r}")
    return hits


_COMPRESSED_EXTS = (".gz", ".bz2", ".xz", ".br")


def open_input(path: str):
    """Binary handle; ``.gz``/``.bz2``/``.xz``/``.br`` transparently
    decompress (none are block-splittable, so compressed files always
    plan as ONE whole-file split and the read paths treat their end
    bound as EOF). ``.br`` decodes through libbrotlidec when present
    (the ~30x fast path) and the vendored RFC 7932 decoder
    (operators/brotli.py) otherwise — the two are differential-tested;
    an undecodable stream is a loud task error here, not a census: a
    file that cannot be decoded cannot be scanned."""
    low = path.lower()
    if low.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    if low.endswith(".bz2"):
        import bz2

        return bz2.open(path, "rb")
    if low.endswith(".xz"):
        import lzma

        return lzma.open(path, "rb")
    if low.endswith(".br"):
        import io

        from tectonic_spark.operators.brotli import (
            decompress,
            native_decompress,
        )

        with open(path, "rb") as f:
            blob = f.read()
        out = native_decompress(blob)
        if out is None:
            out = decompress(blob)
        return io.BytesIO(out)
    return open(path, "rb")


@dataclass
class FileSplit(InputPartition):
    """One planned byte range. ``start``>0 ⇒ skip to the first newline;
    readers always finish the value that straddles ``end`` (standard
    Hadoop text-split semantics, so every byte belongs to exactly one
    split)."""

    file: str
    start: int
    end: int
    file_size: int


def plan_splits(
    files: list[str],
    split_bytes: int,
    splittable: bool,
    sizes: dict[str, int] | None = None,
) -> list[FileSplit]:
    """Byte-range splits. ``sizes`` pins each file's length (streaming
    replay plans from offset-snapshot sizes, not the live filesystem)."""
    out: list[FileSplit] = []
    for f in files:
        size = sizes[f] if sizes is not None else os.path.getsize(f)
        if not splittable or f.lower().endswith(_COMPRESSED_EXTS) or size <= split_bytes:
            out.append(FileSplit(f, 0, size, size))
        else:
            start = 0
            while start < size:
                end = min(start + split_bytes, size)
                out.append(FileSplit(f, start, end, size))
                start = end
    return out


def _aligned_start(fh, split: FileSplit, chunk_bytes: int) -> int:
    """Seek ``fh`` to this split's first owned byte (start of a line). The
    rest of a line that straddles the split's start is skipped in reads of
    at most ``chunk_bytes``: the split that owns it reads (and bounds) it."""
    if split.start == 0:
        fh.seek(0)
        return 0
    fh.seek(split.start - 1)
    pos = split.start
    piece = fh.read(1)
    while piece and not piece.endswith(b"\n"):
        piece = fh.readline(chunk_bytes)
        pos += len(piece)
    return pos


def _owned_reads(fh, split: FileSplit, pos: int, chunk_bytes: int) -> Iterator[bytes]:
    """Raw reads of at most ``chunk_bytes`` covering the bytes of the lines
    ``split`` owns: from its first line start ``pos`` to its end, then on
    to the end of the line that straddles it. A compressed file is one
    whole-file split over the DECOMPRESSED stream (its byte bounds are
    compressed-size bookkeeping only), read to EOF."""
    if split.file.lower().endswith(_COMPRESSED_EXTS):
        while chunk := fh.read(chunk_bytes):
            yield chunk
        return
    chunk = b"\n"
    while pos < split.end:
        chunk = fh.read(min(chunk_bytes, split.end - pos))
        if not chunk:
            return
        pos += len(chunk)
        if pos >= split.end and not chunk.endswith(b"\n"):
            chunk += fh.readline(chunk_bytes)  # finish the straddling line
        yield chunk
    while not chunk.endswith(b"\n"):  # ... when it is longer than one read
        chunk = fh.readline(chunk_bytes)
        if not chunk:
            return
        yield chunk


def read_split_chunks(
    split: FileSplit,
    chunk_bytes: int = _CHUNK,
    max_line_bytes: int | None = None,
) -> Iterator[bytes]:
    """Yield ~chunk_bytes **newline-aligned** blocks covering exactly the
    lines this split owns (the bulk-absorb fast path — one absorb per block,
    not per line). Alignment means every block is a run of complete lines,
    so a parse failure's blast radius is one block and the parser holds no
    cross-block state. A line longer than ``max_line_bytes`` raises
    ParseException, at most one read after its held bytes pass the bound;
    the reads of a line in progress are joined once, at its newline."""
    for _at, block in read_split_blocks(split, chunk_bytes, max_line_bytes):
        yield block


def read_split_blocks(
    split: FileSplit,
    chunk_bytes: int = _CHUNK,
    max_line_bytes: int | None = None,
) -> Iterator[tuple[int, bytes]]:
    """:func:`read_split_chunks`, each block with its byte offset in the
    (decompressed) file."""
    with open_input(split.file) as fh:
        compressed = split.file.lower().endswith(_COMPRESSED_EXTS)
        # the held line's offset
        at = 0 if compressed else _aligned_start(fh, split, chunk_bytes)
        held: list[bytes] = []  # reads of the line in progress
        n_held = 0
        for chunk in _owned_reads(fh, split, at, chunk_bytes):
            cut = chunk.rfind(b"\n") + 1
            if cut:
                block = b"".join(held + [chunk[:cut]]) if held else chunk[:cut]
                if max_line_bytes is not None:
                    _check_lines(split, block, at, max_line_bytes)
                yield at, block
                at += len(block)
                held, n_held = [], 0
            if cut < len(chunk):
                held.append(chunk[cut:])
                n_held += len(chunk) - cut
                if max_line_bytes is not None and n_held > max_line_bytes:
                    raise _line_too_long(split, at, n_held, max_line_bytes)
        tail = b"".join(held)
        if tail:
            if max_line_bytes is not None:
                _check_lines(split, tail, at, max_line_bytes)
            yield at, tail  # final line without trailing newline


def _check_lines(split: FileSplit, block: bytes, at: int, max_line_bytes: int) -> None:
    """Raise if a line of ``block`` (at byte ``at`` of the file) is longer
    than ``max_line_bytes``: one ``rfind`` per ``max_line_bytes`` of
    input, each to the last newline in reach."""
    pos, n = 0, len(block)
    while n - pos > max_line_bytes:
        nl = block.rfind(b"\n", pos, pos + max_line_bytes + 1)
        if nl < 0:
            end = block.find(b"\n", pos)
            n_line = (n if end < 0 else end) - pos
            raise _line_too_long(split, at + pos, n_line, max_line_bytes)
        pos = nl + 1


def _file_line(path: str, at: int) -> int:
    """The line number of byte ``at`` of the (decompressed) file, counted
    from the file start: error paths only, it reads the file again."""
    line, left = 1, at
    with open_input(path) as fh:
        while left > 0 and (chunk := fh.read(min(_CHUNK, left))):
            line += chunk.count(b"\n")
            left -= len(chunk)
    return line


def _line_too_long(split: FileSplit, at: int, n: int, max_line_bytes: int) -> ParseException:
    """The error for a line of at least ``n`` bytes at byte ``at`` of the
    (decompressed) file."""
    return ParseException(
        f"line of {n}+ bytes exceeds maxValueBytes={max_line_bytes}; "
        "raise the option or split the input",
        at,
        _file_line(split.file, at),
        1,
    )


def _in_file(split: FileSplit, e: ParseException, at: int) -> ParseException:
    """``e``, raised by a parser fed the lines from byte ``at`` of the
    split's file, naming the file and placed in it."""
    return ParseException(
        f"failed to parse {split.file}: {e.message}",
        at + e.index,
        _file_line(split.file, at) + e.line - 1,
        e.col,
    )


def _pieces(data: bytes, at: int) -> Iterator[bytes]:
    """``data[at:]`` in pieces of at most ``_CHUNK`` bytes."""
    return (data[k : k + _CHUNK] for k in range(at, len(data), _CHUNK))


def _shifted(e: ParseException, data: bytes, at: int) -> ParseException:
    """``e``, raised by a parser fed ``data[at:]``, placed in ``data``."""
    line_start = data.rfind(b"\n", 0, at) + 1
    return ParseException(
        e.message,
        e.index + at,
        e.line + data.count(b"\n", 0, at),
        e.col + (at - line_start if e.line == 1 else 0),
    )


class TectonicJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tectonic-json"

    def _mode(self) -> str:
        m = self.options.get("mode", "lines")
        if m not in _MODES:
            raise ValueError(f"mode must be one of {sorted(_MODES)}, got {m!r}")
        return m

    def schema(self) -> StructType:
        """Driver-side sampling inference, spread across the whole file
        list: ``samplingRows`` total rows are divided over an evenly-spaced
        deterministic subset of up to ``samplingFiles`` files (default: all
        of them), reading at most ``samplingBytes`` from each. A field that
        first appears in a late shard is therefore seen (the round-1
        ``files[:4]`` prefix silently dropped it — unsampled keys don't
        reach the schema and ``from_pylist`` ignores them at read time)."""
        files = list_input_files(self.options["path"])
        mode = self._mode()
        sample_rows = int(self.options.get("samplingrows", 1000))
        sample_bytes = int(self.options.get("samplingbytes", _SAMPLE_BYTES))
        n_opt = self.options.get("samplingfiles")
        rows: list[Any] = []
        if files:
            n_files = len(files) if n_opt is None else max(1, min(int(n_opt), len(files)))
            # even spread anchored at BOTH ends — first and last shard are
            # always sampled (a late-only field usually lives at the tail)
            if n_files == 1:
                idxs = [0]
            else:
                last = len(files) - 1
                idxs = sorted({(i * last) // (n_files - 1) for i in range(n_files)})
            sampled = [files[i] for i in idxs]
            per_file = max(1, sample_rows // len(sampled))
            for f in sampled:
                want = min(per_file, sample_rows - len(rows))
                rows.extend(_parse_file_prefix(f, mode, want, sample_bytes))
                if len(rows) >= sample_rows:
                    break
        if not rows:
            return StructType([StructField("value", StringType(), True)])
        schema = infer_spark_schema(rows)
        corrupt = self.options.get("columnnameofcorruptrecord")
        if corrupt and corrupt not in schema.fieldNames():
            schema = StructType(
                list(schema.fields) + [StructField(corrupt, StringType(), True)]
            )
        return schema

    # Whether readers expose ``pushFilters``. PySpark 4 *rejects* a reader
    # that implements pushFilters when the static conf
    # ``spark.sql.python.filterPushdown.enabled`` is false (the default), and
    # the conf is not visible from the worker that instantiates the reader —
    # so the choice is made driver-side: ``register_tectonic_sources`` probes
    # the active session and registers the Pushdown subclass only when the
    # conf is on. The per-read option ``filterPushdown`` overrides either way.
    pushdown_default = False

    def _pushdown_enabled(self) -> bool:
        opt = self.options.get("filterpushdown")
        if opt is None:
            return self.pushdown_default
        return str(opt).lower() == "true"

    def reader(self, schema: StructType) -> "TectonicJsonReader":
        cls = TectonicJsonPushdownReader if self._pushdown_enabled() else TectonicJsonReader
        return cls(schema, dict(self.options), self._mode())

    def streamReader(self, schema: StructType):  # noqa: N802 (Spark API name)
        from tectonic_spark.streaming.json_stream import TectonicJsonStreamReader

        return TectonicJsonStreamReader(schema, dict(self.options), self._mode())

    def writer(self, schema: StructType, overwrite: bool):
        from tectonic_spark.sources.writers import TectonicJsonWriter

        return TectonicJsonWriter(dict(self.options), overwrite)


def _parse_file_prefix(
    path: str, mode: str, max_rows: int, max_bytes: int = _SAMPLE_BYTES
) -> list[Any]:
    """Parse up to ``max_rows`` rows from the head of one file."""
    if max_rows <= 0:
        return []
    if mode == "lines":
        # per-line sampling via the C json parser: malformed lines don't
        # abort inference
        rows: list[Any] = []
        with open_input(path) as fh:
            read = 0
            for line in fh:
                read += len(line)
                if line.strip():
                    try:
                        rows.append(json_loads(line.removeprefix(BOM_UTF8)))
                    except ValueError:
                        pass
                if len(rows) >= max_rows or read >= max_bytes:
                    break
        return rows[:max_rows]
    plate = ValueBuilderPlate()
    parser = JsonParser(plate, _MODES[mode])
    rows: list[Any] = []
    with open_input(path) as fh:
        while len(rows) < max_rows:
            chunk = fh.read(_CHUNK)
            at_eof = not chunk
            res = parser.finish() if at_eof else parser.absorb(chunk)
            if isinstance(res, Failure):
                # sampling is best-effort; a bad tail line doesn't block
                break
            rows.extend(res.value)
            while isinstance(res, Partial) and len(rows) < max_rows:
                res = parser.resume()
                if isinstance(res, Failure):
                    break
                rows.extend(res.value)
            if at_eof:
                break
    return rows[:max_rows]


def _float_in_long_checker(schema):
    """Build row -> bool detecting a float value anywhere an integer
    (Long/Decimal) cell lives in ``schema``; only the top-level fields that
    can contain such cells are walked. Returns None when the schema has no
    integer paths (no check needed)."""
    from pyspark.sql.types import ArrayType, DecimalType, LongType, StructType

    def walk(v, t):
        if v is None:
            return False
        if isinstance(t, (LongType, DecimalType)):
            return isinstance(v, float)
        if isinstance(t, StructType):
            return isinstance(v, dict) and any(
                walk(v.get(f.name), f.dataType) for f in t.fields
            )
        if isinstance(t, ArrayType):
            return isinstance(v, list) and any(walk(x, t.elementType) for x in v)
        return False

    def has_long(t):
        if isinstance(t, (LongType, DecimalType)):
            return True
        if isinstance(t, StructType):
            return any(has_long(f.dataType) for f in t.fields)
        if isinstance(t, ArrayType):
            return has_long(t.elementType)
        return False

    fields = [(f.name, f.dataType) for f in schema.fields if has_long(f.dataType)]
    if not fields:
        return None

    def check(row) -> bool:
        if not isinstance(row, dict):
            return False
        return any(walk(row.get(n), t) for n, t in fields)

    return check


def _schema_paths(
    data_schema: StructType, names: set, cols_opt: str | None
) -> set[tuple[str, ...]] | None:
    """Required key paths for nested projection pushdown, or None when the
    scan is flat (no struct columns, no dotted ``columns`` entries) — the
    flat top-level ``required`` set then carries the whole projection.

    Paths derive from the read schema: a struct column lists one path per
    (recursive) leaf field, so a user schema ``meta struct<lang:string>``
    byte-skips every other key inside ``meta``. Dotted ``columns`` entries
    (``meta.lang``) refine further and win over the schema-derived subtree
    for their head column. Arrays are transparent (a path applies to each
    element); map-typed columns are leaves (their keys are data)."""
    from pyspark.sql.types import ArrayType, MapType

    def walk(t, prefix: tuple, out: set) -> None:
        if isinstance(t, StructType) and t.fields:
            for f in t.fields:
                walk(f.dataType, prefix + (f.name,), out)
        elif isinstance(t, ArrayType):
            walk(t.elementType, prefix, out)
        elif isinstance(t, MapType):
            out.add(prefix)
        else:
            out.add(prefix)

    dotted: dict[str, set[tuple[str, ...]]] = {}
    if cols_opt:
        for c in cols_opt.split(","):
            parts = tuple(p.strip() for p in c.strip().split("."))
            if len(parts) > 1:
                dotted.setdefault(parts[0], set()).add(parts)
    has_struct = any(
        isinstance(f.dataType, StructType)
        or (
            isinstance(f.dataType, ArrayType)
            and isinstance(f.dataType.elementType, StructType)
        )
        for f in data_schema.fields
    )
    if not dotted and not has_struct:
        return None
    paths: set[tuple[str, ...]] = set()
    for f in data_schema.fields:
        if f.name not in names:
            continue
        if f.name in dotted:
            paths |= dotted[f.name]
        else:
            sub: set[tuple[str, ...]] = set()
            walk(f.dataType, (f.name,), sub)
            paths |= sub
    return paths


def _nonfinite_floats(table) -> bool:
    """Whether a float cell of ``table``, at any depth, is NaN or infinite.
    From ``pyarrow.json`` that means a ``NaN`` or ``Infinity`` literal: it
    rejects numbers outside the double range."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def walk(arr) -> bool:
        t = arr.type
        if pa.types.is_floating(t):
            return bool(pc.any(pc.invert(pc.is_finite(arr))).as_py())
        if pa.types.is_struct(t):
            return any(walk(pc.struct_field(arr, [i])) for i in range(t.num_fields))
        if pa.types.is_list(t):
            return walk(pc.list_flatten(arr))
        return False

    return any(walk(col) for col in table.columns)


class TectonicJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict, mode: str) -> None:
        self.schema = schema
        self.options = options
        self.mode = mode
        self.parse_mode = options.get("parsemode", "PERMISSIVE").upper()
        self.corrupt_col = options.get("columnnameofcorruptrecord")
        self.batch_rows = int(options.get("batchrows", DEFAULT_BATCH_ROWS))
        # lines-mode fast path: complete NDJSON rows parse through the
        # C-accelerated json module (~20x the Python event loop); the event
        # parser stays the semantics/pushdown engine (values/array/single
        # modes, skipped-bytes metrics, golden event tests) and is forced
        # with fastPath=false
        self.fast_path = str(options.get("fastpath", "true")).lower() != "false"
        mvb = options.get("maxvaluebytes")
        self.max_value_bytes = int(mvb) if mvb is not None else _DEFAULT_MAX_VALUE_BYTES
        self._tests: dict | None = None
        self._raw_filters: list | None = None
        # data schema = scan schema minus the corrupt-record column
        self.data_schema = StructType(
            [f for f in schema.fields if f.name != self.corrupt_col]
        )
        cols_opt = options.get("columns")
        names = set(self.data_schema.fieldNames())
        if cols_opt:
            names &= {c.strip().split(".", 1)[0] for c in cols_opt.split(",")}
        # single value-column scans have no top-level keys to prune
        self.required = None if names == {"value"} else names
        # nested projection pushdown: when the read schema narrows a struct
        # column (user schema or dotted ``columns`` entries), the parser
        # byte-skips unneeded subtrees at any depth instead of parse-then-
        # drop (the post-parse _coerce keeps output identical either way).
        # Value-column scans (non-object rows) have no keys to prune.
        self.required_paths = (
            None
            if self.required is None
            else _schema_paths(self.data_schema, names, cols_opt)
        )

    def partitions(self) -> list[FileSplit]:
        files = list_input_files(self.options["path"])
        split_bytes = int(self.options.get("splitsizebytes", _DEFAULT_SPLIT))
        return plan_splits(files, split_bytes, splittable=(self.mode == "lines"))

    # ------------------------------------------------------------------ read

    def read(self, partition: FileSplit):
        if self.mode == "lines":
            yield from self._read_lines(partition)
        else:
            yield from self._read_stream(partition)

    def _new_plate(self) -> PushdownPlate:
        # single-value-column scans carry their tests as ``value_col`` so
        # top-level scalar rows are captured as the 'value' cell (not treated
        # as an absent column and over-dropped)
        value_col = "value" if self.data_schema.fieldNames() == ["value"] else None
        return PushdownPlate(
            required=self.required,
            tests=self._tests,
            value_col=value_col,
            required_paths=self.required_paths,
        )

    # files up to this size take the whole-document C parse in array/single
    # modes; larger ones stream through the incremental event parser
    _FAST_WHOLE_DOC_MAX = 256 * 1024 * 1024

    def _read_stream(self, split: FileSplit):
        """values/array/single: incremental absorb of the whole file,
        batches streaming out per chunk (constant memory — the parser's
        sliding-window buffer compaction keeps the live buffer bounded).
        Fast path, for files under 256 MB: C decoding of the whole document
        (array/single) or of each document (values). What C decoding
        rejects, from that document on, goes to the event parser, which
        decides it (it skips values outside the read schema unchecked);
        the event parser keeps huge files and fastPath=false."""
        if not self.fast_path or split.file_size > self._FAST_WHOLE_DOC_MAX:
            with open_input(split.file) as fh:
                yield from self._stream_batches(iter(lambda: fh.read(_CHUNK), b""))
            return
        if self.mode == "values":
            yield from self._read_values_fast(split)
            return
        with open_input(split.file) as fh:
            data = fh.read()
        try:
            doc = json_loads(data.removeprefix(BOM_UTF8))
        except (ValueError, RecursionError):
            yield from self._stream_batches(_pieces(data, 0))
            return
        del data  # held only for the event parser
        if self.mode == "array":
            if not isinstance(doc, list):
                raise ValueError(
                    f"array mode expects a top-level JSON array in {split.file!r}"
                )
            rows = doc
        else:
            rows = [doc]
        yield from self._to_batches(
            [self._maybe_prune(r) for r in rows if self._row_passes(r)]
        )

    def _read_values_fast(self, split: FileSplit):
        """values mode: a C ``raw_decode`` per whitespace-separated
        document of the whole file, then the event parser from the first
        document C decoding rejects (or from the start, when the file is
        not valid UTF-8)."""
        with open_input(split.file) as fh:
            data = fh.read()
        bom = len(BOM_UTF8) if data.startswith(BOM_UTF8) else 0
        try:
            text = data[bom:].decode("utf-8")
        except UnicodeDecodeError:
            yield from self._stream_batches(_pieces(data, 0))
            return
        del data  # only the text is held while documents decode
        rows: list[Any] = []
        i, n_len = 0, len(text)
        while True:
            while i < n_len and text[i] in " \t\r\n":
                i += 1
            if i >= n_len:
                break
            try:
                doc, end = json_raw_decode(text, i)
            except (ValueError, RecursionError):
                break
            i = end
            if self._row_passes(doc):
                rows.append(self._maybe_prune(doc))
            if len(rows) >= self.batch_rows:
                yield from self._to_batches(rows)
                rows = []
        yield from self._to_batches(rows)
        if i < n_len:
            at = bom + (i if text.isascii() else len(text[:i].encode("utf-8")))
            del text
            with open_input(split.file) as fh:
                data = fh.read()
            try:
                yield from self._stream_batches(_pieces(data, at))
            except ParseException as e:
                raise _shifted(e, data, at) from None

    def _stream_batches(self, chunks: Iterator[bytes]):
        """Event-parse one whole input, absorbed chunk by chunk, into
        batches per chunk. Incremental absorb keeps memory ~one pending
        value on the direct path and ~one token on the event path; a
        pending value or token larger than maxValueBytes (default 1 GiB —
        executor-memory scale) fails with a clean ParseException instead
        of growing until OOM."""
        parser = JsonParser(
            self._new_plate(),
            _MODES[self.mode],
            max_value_bytes=self.max_value_bytes,
        )
        for chunk in chain(chunks, [b""]):  # b"": finish
            res = parser.absorb(chunk) if chunk else parser.finish()
            rows: list[Any] = []
            while not isinstance(res, Failure):
                rows.extend(res.value)
                if not isinstance(res, Partial):
                    break
                res = parser.resume()
            if isinstance(res, Failure):
                raise res.error
            yield from self._to_batches(rows)

    def _read_lines(self, split: FileSplit):
        """lines mode: each newline-aligned block (a run of complete lines,
        NDJSON contract) parses with its own parser; a block that fails
        anywhere — including at finish, when a malformed value's extent
        swallows the rest of the block — is re-parsed line-by-line
        (PERMISSIVE / DROPMALFORMED blast radius of a single line).
        Batches stream out per block — a split never buffers more than one
        block of rows."""
        if self.fast_path:
            yield from self._read_lines_fast(split)
            return
        for at, block in read_split_blocks(split, max_line_bytes=self.max_value_bytes):
            corrupt: list[str | None] | None = None
            rows, error = self._parse_block(block)
            if error is not None:
                if self.parse_mode == "FAILFAST":
                    raise _in_file(split, error, at)
                rows, corrupt = self._reparse_block(block)
            yield from self._to_batches(rows, corrupt)

    @property
    def _prune_keys(self) -> set | None:
        """Non-None when the required set is narrower than the scan schema
        (the ``columns`` option): fast-path rows must drop the other keys
        to match the event path's SKIP_COLUMN semantics."""
        if self.required is None:
            return None
        if self.required == set(self.data_schema.fieldNames()):
            return None
        return self.required

    def _maybe_prune(self, row: Any) -> Any:
        keys = self._prune_keys
        if keys is None or not isinstance(row, dict):
            return row
        return {k: v for k, v in row.items() if k in keys}

    def _row_passes(self, row: Any) -> bool:
        """Compiled pushdown tests on a raw parsed row — same three-valued
        semantics as the event path's capture, applied pre-Arrow."""
        tests = self._tests
        if not tests:
            return True
        from tectonic_spark.sources.pushdown import _CONTAINER

        if self.data_schema.fieldNames() == ["value"]:
            # value-column scan: the whole row IS the 'value' cell
            # (containers are undecidable → kept)
            v = _CONTAINER if isinstance(row, (dict, list)) else row
            return all(t(v) for t in tests.get("value", ()))
        if not isinstance(row, dict):
            return True
        for col, ts in tests.items():
            v = row.get(col)
            if isinstance(v, (dict, list)):
                v = _CONTAINER
            for t in ts:
                if not t(v):
                    return False
        return True

    def _build_line_probe(self):
        """Byte-level pre-filter for the fast lines path (the Mison key-hint
        idea, reference README.md:7,101, applied pre-``json.loads``): from
        the pushed filters, derive byte patterns a MATCHING line must
        contain — the filter column's ``"key"`` bytes when a null cell
        definitively fails the filter, plus the encoded needle for string
        equality / IN / contains / prefix / suffix. A line missing a
        required pattern is dropped without parsing.

        Soundness is absolute, not heuristic: the probe only reasons about
        lines containing **no backslash** (no escapes possible, so encoded
        bytes are literal); any line with a backslash bypasses the probe
        and parses normally. Probe-dropped lines are exactly lines whose
        cell is absent/mismatched (→ null-or-failing under the compiled
        test → Spark's re-applied filter drops the row) or malformed (→
        all-null row → same null-failing test drops it; disabled entirely
        when a corrupt-record column must capture malformed lines, and
        under FAILFAST, where a malformed line must raise — not be
        silently probe-dropped). ``lineProbe=false`` opts out."""
        if (
            not self._tests
            or not self._raw_filters
            or self.corrupt_col
            or self.parse_mode == "FAILFAST"
            or str(self.options.get("lineprobe", "true")).lower() == "false"
            or self.data_schema.fieldNames() == ["value"]  # scalars: no key bytes
        ):
            return None
        import json as _json

        from pyspark.sql.datasource import (
            EqualTo,
            In,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        def enc(s: str) -> bytes | None:
            b = _json.dumps(s, ensure_ascii=False).encode()
            return None if b"\\" in b else b  # needle needs escaping → no probe

        # conjunction of any-of alternative sets; value needles are checked
        # before key probes (a key like "source" appears on every line —
        # the selective needle should short-circuit the conjunction)
        pats: list[list[bytes]] = []
        key_pats: list[list[bytes]] = []
        for f in self._raw_filters:
            attr = getattr(f, "attribute", None)
            if not (isinstance(attr, tuple) and len(attr) == 1):
                continue
            col = attr[0]
            ts = self._tests.get(col)
            # the key probe (and malformed-line dropping) is sound only when
            # a null cell definitively fails this column's conjuncts
            if not ts or all(t(None) for t in ts):
                continue
            key_pat = enc(col)
            if key_pat is not None:
                key_pats.append([key_pat])
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                vp = enc(f.value)
                if vp is not None:
                    pats.append([vp])
            elif isinstance(f, In) and all(isinstance(v, str) for v in f.value):
                vps = [enc(v) for v in f.value]
                if vps and all(v is not None for v in vps):
                    pats.append(vps)
            elif isinstance(f, StringContains) and isinstance(f.value, str):
                vp = enc(f.value)
                if vp is not None:
                    pats.append([vp[1:-1]])
            elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
                vp = enc(f.value)
                if vp is not None:
                    pats.append([vp[:-1]])
            elif isinstance(f, StringEndsWith) and isinstance(f.value, str):
                vp = enc(f.value)
                if vp is not None:
                    pats.append([vp[1:]])
        pats += key_pats
        if not pats:
            return None

        def probe(line: bytes) -> bool:
            if b"\\" in line:
                return True  # escapes possible — raw bytes prove nothing
            return all(any(a in line for a in alts) for alts in pats)

        return probe

    def _arrow_block_schema(self):
        """Arrow schema for whole-block C++ parsing (pyarrow.json), or None
        when the scan can't take that route: corrupt-record capture needs
        per-line control, value-column scans have non-object rows, the
        ``columns`` option must null (not fill) unprojected cells, and only
        types pyarrow.json can parse qualify. Type mismatches at parse time
        raise ArrowInvalid, which routes that block to the per-line path —
        so semantics are identical either way."""
        if (
            (self.corrupt_col and self.corrupt_col in self.schema.fieldNames())
            or self._prune_keys is not None
            or self.data_schema.fieldNames() == ["value"]
            or not self.schema.fields
        ):
            return None
        import pyarrow as pa

        def ok(t) -> bool:
            if pa.types.is_struct(t):
                return all(ok(f.type) for f in t)
            if pa.types.is_list(t):
                return ok(t.value_type)
            return (
                pa.types.is_int64(t)
                or pa.types.is_float64(t)
                or pa.types.is_boolean(t)
                or pa.types.is_string(t)
            )

        from tectonic_spark.sources.arrow_batch import arrow_schema_for

        try:
            arrow_schema = arrow_schema_for(self.schema)
        except PySparkTypeError:  # no Arrow type (e.g. intervals) → python path
            return None
        return arrow_schema if all(ok(f.type) for f in arrow_schema) else None

    def _read_lines_fast(self, split: FileSplit):
        """Fast lines path. Clean NDJSON blocks parse whole through
        pyarrow.json (C++, ~4x the per-line json.loads rate) against the
        explicit scan schema; any block pyarrow rejects (malformed line,
        type surprise) falls back to the per-line path below, which
        preserves PERMISSIVE/DROPMALFORMED/FAILFAST semantics exactly. A
        byte-level probe drops definitively non-matching lines before
        either parse."""
        has_corrupt = bool(self.corrupt_col) and self.corrupt_col in self.schema.fieldNames()
        probe = self._build_line_probe()
        arrow_schema = self._arrow_block_schema()
        if arrow_schema is not None:
            import pyarrow as pa
            import pyarrow.json as paj

            parse_opts = paj.ParseOptions(
                explicit_schema=arrow_schema, unexpected_field_behavior="ignore"
            )
            # tasks already saturate the executor's cores; nested arrow
            # threads would oversubscribe
            read_opts = paj.ReadOptions(use_threads=False)

        for at, block in read_split_blocks(split, max_line_bytes=self.max_value_bytes):
            if arrow_schema is not None and block.strip():
                # NO probe here: C++ whole-block parse (~250 MB/s/core)
                # beats Python line-splitting + probe even at high filter
                # selectivity — measured 246 vs 166 MB/s at 5% match rate.
                # The probe pays off only where per-line Python runs anyway.
                try:
                    table = paj.read_json(
                        pa.BufferReader(block),
                        parse_options=parse_opts,
                        read_options=read_opts,
                    )
                    # one grammar: pyarrow leaves string bytes unchecked and
                    # reads NaN and Infinity, which the event parser rejects
                    if not block.isascii():
                        table.validate(full=True)
                    took = not _nonfinite_floats(table)
                except pa.ArrowInvalid:
                    took = False  # malformed / type surprise → per-line semantics
                if took:
                    for lo in range(0, table.num_rows, self.batch_rows):
                        chunk = table.slice(lo, self.batch_rows).combine_chunks()
                        yield from chunk.to_batches()
                    continue
            yield from self._python_lines_block(split, at, block, probe, has_corrupt)

    def _python_lines_block(
        self, split: FileSplit, at: int, block: bytes, probe, has_corrupt: bool
    ):
        """Per-line parse of the block at byte ``at`` of the split's file:
        full malformed-row semantics and pre-Arrow pushdown test
        application."""
        loads = window_loads(block)
        rows: list[Any] = []
        corrupt: list[str | None] = []
        lines = block.split(b"\n")
        for k, line in enumerate(lines):
            if not line.strip():
                continue
            if probe is not None and not probe(line):
                continue
            try:
                # a BOM opens a line, as the event path's per-line reparse allows
                row = loads(line.removeprefix(BOM_UTF8))
            except ValueError:
                # one grammar: C decoding checks the whole line, the event
                # parser skips values outside the read schema unchecked
                line_rows, error = self._parse_line(line)
                if line_rows is not None:
                    rows.extend(line_rows)
                    corrupt.extend([None] * len(line_rows))
                    continue
                if self.parse_mode == "FAILFAST":
                    start = sum(map(len, lines[:k])) + k
                    raise _in_file(split, error, at + start) from None
                if self.parse_mode == "PERMISSIVE":
                    rows.append(None)
                    corrupt.append(line.decode("utf-8", errors="replace"))
                continue  # DROPMALFORMED swallows the line
            if self._row_passes(row):
                rows.append(self._maybe_prune(row))
                corrupt.append(None)
        yield from self._to_batches(rows, corrupt if has_corrupt else None)

    def _parse_block(self, block: bytes):
        """Parse one self-contained block: absorb + finish, draining any
        BREAK_BATCH partials. Returns (rows, None) or (None, error)."""
        parser = JsonParser(self._new_plate(), Mode.VALUE_STREAM)
        rows: list[Any] = []

        def phases():
            yield parser.absorb(block)  # generator: finish() stays lazy
            yield parser.finish()

        for res in phases():
            while True:
                if isinstance(res, Failure):
                    return None, res.error
                rows.extend(res.value)
                if not isinstance(res, Partial):
                    break
                res = parser.resume()
        return rows, None

    def _reparse_block(self, block: bytes):
        """Error-isolating slow path, only for blocks with malformed rows:
        one parser per line (a6 parity — the reference can only FAILFAST,
        exceptions.scala:24; per-line recovery is the Spark-reader model)."""
        rows: list[Any] = []
        corrupt: list[str | None] = []
        for line in block.split(b"\n"):
            if not line.strip():
                continue
            line_rows, _error = self._parse_line(line)
            if line_rows is not None:
                rows.extend(line_rows)
                corrupt.extend([None] * len(line_rows))
            elif self.parse_mode == "PERMISSIVE":
                rows.append(None)  # all-null data columns
                corrupt.append(line.decode("utf-8", errors="replace"))
            # DROPMALFORMED: swallow the line
        return rows, corrupt

    def _parse_line(self, line: bytes) -> tuple[list[Any] | None, ParseException | None]:
        """The event parser's rows for one line, or its error if the line
        is malformed."""
        parser = JsonParser(self._new_plate(), Mode.VALUE_STREAM)
        rows: list[Any] = []
        res = parser.parse_complete(line)
        while not isinstance(res, Failure):
            rows.extend(res.value)
            if not isinstance(res, Partial):
                return rows, None
            res = parser.resume()
        return None, res.error

    def _to_batches(self, rows: list[Any], corrupt_raw: list[str | None] | None = None):
        data_schema = self.data_schema
        has_corrupt = self.corrupt_col and self.corrupt_col in self.schema.fieldNames()

        if not has_corrupt and data_schema.fieldNames() != ["value"]:
            # fast path: raw dicts straight into Arrow (from_pylist matches
            # by name, fills missing keys with null, ignores extras) — the
            # normalization pass costs as much as the parse itself. Type
            # surprises (unsampled conflict, >int64, container in a scalar
            # column) raise and that batch falls back to the exact
            # normalizing path — EXCEPT float-in-integer, which pyarrow
            # silently truncates (1.5 -> 1) where normalization yields
            # null; those cells are detected explicitly first.
            import pyarrow as pa

            from tectonic_spark.sources.arrow_batch import arrow_schema_for

            arrow_schema = arrow_schema_for(self.schema)
            if len(arrow_schema) == 0:
                from tectonic_spark.sources.arrow_batch import empty_schema_batch

                for lo in range(0, len(rows), self.batch_rows):
                    yield empty_schema_batch(len(rows[lo : lo + self.batch_rows]))
                return
            float_check = _float_in_long_checker(data_schema)
            for lo in range(0, len(rows), self.batch_rows):
                chunk = rows[lo : lo + self.batch_rows]
                try:
                    if float_check is not None and any(map(float_check, chunk)):
                        raise TypeError("float in integer column")
                    yield pa.RecordBatch.from_pylist(
                        [r if isinstance(r, dict) else {} for r in chunk],
                        schema=arrow_schema,
                    )
                except (pa.ArrowException, OverflowError, TypeError, ValueError):
                    yield from rows_to_batches(
                        (normalize_row(r, data_schema) for r in chunk),
                        self.schema,
                        self.batch_rows,
                    )
            return

        def norm() -> Iterator[dict]:
            for i, r in enumerate(rows):
                d = normalize_row(r, data_schema)
                if has_corrupt:
                    d[self.corrupt_col] = corrupt_raw[i] if corrupt_raw else None
                yield d

        yield from rows_to_batches(norm(), self.schema, self.batch_rows)


class TectonicJsonPushdownReader(TectonicJsonReader):
    """Reader variant that participates in Catalyst filter pushdown.

    Kept as a *subclass* (not a method on the base): PySpark's planning
    worker refuses any reader whose class overrides ``pushFilters`` when
    ``spark.sql.python.filterPushdown.enabled`` is false, so the base reader
    must not carry the attribute at all."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        self._raw_filters = list(filters)
        self._tests = compile_filters(self._raw_filters, self.data_schema)
        # report everything unhandled: Spark re-applies, our skips stay safe
        return filters


class TectonicJsonPushdownDataSource(TectonicJsonDataSource):
    """Same format name; registered instead of the base class when the
    session was built with filter pushdown enabled (see registration.py)."""

    pushdown_default = True
