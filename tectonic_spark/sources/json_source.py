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
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.errors import PySparkTypeError
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from tectonic_spark.core.json_parser import JsonParser, Mode
from tectonic_spark.core.result import Failure, Partial
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
_DEFAULT_MAX_VALUE_BYTES = 1 << 30  # streaming event path: bound, don't OOM
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


def _aligned_start(fh, split: FileSplit) -> int:
    """Seek ``fh`` to this split's first owned byte (start of a line)."""
    if split.start == 0:
        fh.seek(0)
        return 0
    fh.seek(split.start - 1)
    if fh.read(1) == b"\n":
        return split.start
    return split.start + len(fh.readline())


def read_split_chunks(split: FileSplit, chunk_bytes: int = _CHUNK) -> Iterator[bytes]:
    """Yield ~chunk_bytes **newline-aligned** blocks covering exactly the
    lines this split owns (the bulk-absorb fast path — one absorb per block,
    not per line). Alignment means every block is a run of complete lines,
    so a parse failure's blast radius is one block and the parser holds no
    cross-block state."""
    if split.file.lower().endswith(_COMPRESSED_EXTS):
        # whole-file split over the DECOMPRESSED stream: the split's byte
        # bounds are compressed-size bookkeeping only, so read to EOF
        with open_input(split.file) as fh:
            carry = b""
            while True:
                chunk = fh.read(chunk_bytes)
                if not chunk:
                    break
                chunk = carry + chunk
                cut = chunk.rfind(b"\n")
                if cut < 0:
                    carry = chunk
                    continue
                carry = chunk[cut + 1 :]
                yield chunk[: cut + 1]
            if carry:
                yield carry
        return
    with open(split.file, "rb") as fh:
        pos = _aligned_start(fh, split)
        carry = b""
        while pos < split.end:
            take = min(chunk_bytes, split.end - pos)
            chunk = fh.read(take)
            if not chunk:
                break
            pos += len(chunk)
            if pos >= split.end and not chunk.endswith(b"\n"):
                tail = fh.readline()  # finish the straddling line
                if tail:
                    chunk += tail
                    pos += len(tail)
            chunk = carry + chunk
            cut = chunk.rfind(b"\n")
            if cut < 0:
                carry = chunk
                continue
            carry = chunk[cut + 1 :]
            yield chunk[: cut + 1]
        if carry:
            yield carry  # final line without trailing newline


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
        import json as _json

        rows: list[Any] = []
        with open_input(path) as fh:
            read = 0
            for line in fh:
                read += len(line)
                if line.strip():
                    try:
                        rows.append(_json.loads(line))
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
        self.max_value_bytes = int(mvb) if mvb is not None else None
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
        array/single fast path: files under 256 MB parse as one C
        json.loads call (the event parser keeps huge files, the values
        mode's multi-document framing, and fastPath=false)."""
        if (
            self.fast_path
            and self.mode == "values"
            and split.file_size <= self._FAST_WHOLE_DOC_MAX
        ):
            # whitespace-separated documents via C-backed raw_decode loop
            import json as _json

            decoder = _json.JSONDecoder()
            with open_input(split.file) as fh:
                text = fh.read().decode("utf-8").lstrip("\ufeff")
            rows: list[Any] = []
            i, n_len = 0, len(text)
            while i < n_len:
                while i < n_len and text[i] in " \t\r\n":
                    i += 1
                if i >= n_len:
                    break
                doc, i = decoder.raw_decode(text, i)  # ValueError on malformed
                if self._row_passes(doc):
                    rows.append(self._maybe_prune(doc))
                if len(rows) >= self.batch_rows:
                    yield from self._to_batches(rows)
                    rows = []
            yield from self._to_batches(rows)
            return
        if (
            self.fast_path
            and self.mode in ("array", "single")
            and split.file_size <= self._FAST_WHOLE_DOC_MAX
        ):
            import json as _json

            with open_input(split.file) as fh:
                try:
                    doc = _json.loads(fh.read())
                except ValueError as e:
                    raise ValueError(
                        f"failed to parse JSON document {split.file!r}: {e}"
                    ) from e
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
            return
        # incremental absorb keeps memory ~one pending value on the direct
        # path and ~one token on the event path; a pending value or token
        # larger than maxValueBytes (default 1 GiB — executor-memory scale)
        # fails with a clean ParseException instead of growing until OOM
        parser = JsonParser(
            self._new_plate(),
            _MODES[self.mode],
            max_value_bytes=(
                self.max_value_bytes
                if self.max_value_bytes is not None
                else _DEFAULT_MAX_VALUE_BYTES
            ),
        )
        with open_input(split.file) as fh:
            while True:
                chunk = fh.read(_CHUNK)
                res = parser.finish() if not chunk else parser.absorb(chunk)
                rows: list[Any] = []
                while not isinstance(res, Failure):
                    rows.extend(res.value)
                    if not isinstance(res, Partial):
                        break
                    res = parser.resume()
                if isinstance(res, Failure):
                    raise res.error
                yield from self._to_batches(rows)
                if not chunk:
                    break

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
        for block in read_split_chunks(split):
            corrupt: list[str | None] | None = None
            rows, error = self._parse_block(block)
            if error is not None:
                if self.parse_mode == "FAILFAST":
                    raise error
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

        for block in read_split_chunks(split):
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
                except pa.ArrowInvalid:
                    pass  # malformed / type surprise → per-line semantics
                else:
                    for lo in range(0, table.num_rows, self.batch_rows):
                        chunk = table.slice(lo, self.batch_rows).combine_chunks()
                        yield from chunk.to_batches()
                    continue
            yield from self._python_lines_block(block, probe, has_corrupt)

    def _python_lines_block(self, block: bytes, probe, has_corrupt: bool):
        """Per-line parse of one block: full malformed-row semantics and
        pre-Arrow pushdown test application."""
        import json as _json

        rows: list[Any] = []
        corrupt: list[str | None] = []
        for line in block.split(b"\n"):
            if not line.strip():
                continue
            if probe is not None and not probe(line):
                continue
            try:
                row = _json.loads(line)
            except ValueError as e:
                if self.parse_mode == "FAILFAST":
                    raise ValueError(
                        f"failed to parse JSON line ({e}): {line[:120]!r}"
                    ) from e
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
            parser = JsonParser(self._new_plate(), Mode.VALUE_STREAM)
            line_rows: list[Any] = []
            res = parser.parse_complete(line)
            while not isinstance(res, Failure):
                line_rows.extend(res.value)
                if not isinstance(res, Partial):
                    break
                res = parser.resume()
            if not isinstance(res, Failure):
                rows.extend(line_rows)
                corrupt.extend([None] * len(line_rows))
            elif self.parse_mode == "PERMISSIVE":
                rows.append(None)  # all-null data columns
                corrupt.append(line.decode("utf-8", errors="replace"))
            # DROPMALFORMED: swallow the line
        return rows, corrupt

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
