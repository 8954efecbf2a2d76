"""Incremental CSV parser driving a Plate — behavioral parity with the
reference (``core/src/main/scala/tectonic/csv/Parser.scala:30-459``),
reimplemented around CPython's fast byte scanning (``bytes.find``/regex)
instead of the reference's per-char @tailrec machine.

Semantics (csv/ParserSpecs.scala:30-227):

* Each cell emits ``nest_map(header)/str(cell)/unnest`` — CSV rows look
  like flat JSON objects of strings; row delimiters emit ``finish_row``.
* Fully configurable delimiters: record sep, 1-2 byte row delimiter
  (``row2=b"" `` for single-byte), open/close quote, escape. Defaults are
  Excel-style with Windows newlines (Config parity,
  csv/Parser.scala:469-477).
* ``header=True``: first row provides column names (empty header cell is
  an error). ``header=False``: Excel-style inferred names A..Z, AA..AZ…
  (big-endian base-26, csv/Parser.scala:439-454).
* A lone ``row1`` byte inside an unquoted cell is data when ``row2`` is set
  ("allow \\r in values"); quoted cells may contain record and row
  delimiters; ``escape+closeQuote`` is a literal quote.
* EOF edges (csv/Parser.scala:76-108): EOF acts as an implicit row
  terminator; a missing trailing cell at end-of-row becomes ``""``; a row
  that ends early (not at the last column) fails with "missing records";
  EOF mid-header and unclosed quotes are errors. Headerless (inferring)
  inputs are always lenient at EOF.
* CSV ignores Signal returns entirely, like the reference
  (csv/Parser.scala:291-293 discards them) — pushdown for CSV happens at
  the DataSource layer by column subsetting instead.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Generic, TypeVar

from tectonic_spark.core.plate import Plate
from tectonic_spark.core.result import Complete, Failure, ParseException, Partial
A = TypeVar("A")


@dataclass(frozen=True)
class CsvConfig:
    header: bool = True
    record: bytes = b","
    row1: bytes = b"\r"
    row2: bytes = b"\n"  # set to b"" when the row delimiter is one byte
    open_quote: bytes = b'"'
    close_quote: bytes = b'"'
    escape: bytes = b'"'

    @staticmethod
    def unix(header: bool = True) -> "CsvConfig":
        return CsvConfig(header=header, row1=b"\n", row2=b"")


def as_header(column: int) -> str:
    """Excel-style column name: 0→A … 25→Z, 26→AA … (big-endian base-26
    with A=1 in the most-significant digit; csv/Parser.scala:439-454)."""
    digits = []
    cur = column
    while True:
        digits.append(chr(cur % 26 + 65))
        cur //= 26
        if cur == 0:
            break
    if len(digits) > 1:
        digits[-1] = chr(ord(digits[-1]) - 1)
    return "".join(reversed(digits))


class _Incomplete(Exception):
    pass


# parser states
_RECORD = 0  # awaiting a cell (column = index of that cell)
_END = 1  # awaiting a delimiter after a completed cell

_NO_SPLIT = (-1, [], 0, -1)


class CsvParser(Generic[A]):
    def __init__(
        self,
        plate: Plate[A],
        config: CsvConfig | None = None,
        projection: set[str] | None = None,
        headers: list[str] | None = None,
        max_value_bytes: int | None = None,
    ):
        """``projection``: when set, cells whose column name is not in the
        set are not delivered to the plate (a ``skipped(n)`` metric is
        emitted instead) — the CSV analog of the JSON parser's SkipColumn
        pushdown. The reference's CSV parser discards signals entirely; we
        extend pushdown to CSV at the parser level (SURVEY §2.B a2/a3).

        ``headers``: preset column names, bypassing header-row parsing and
        Excel inference — used by the DataSource for mid-file byte-range
        splits, where the header row lives in a different split."""
        self.plate = plate
        self.config = config or CsvConfig()
        self.projection = projection
        # bound on one pending (suspended) row's buffered bytes — a
        # pathological multi-GB quoted cell fails clean instead of OOM
        # (same contract as JsonParser.max_value_bytes)
        self.max_value_bytes = max_value_bytes
        self._skipped_bytes_total = 0
        c = self.config
        # grows in place: an absorb copies only its own bytes, not the
        # pending row it extends
        self._buf = bytearray()
        self._pos = 0
        self._base = 0
        self._nl_before = 0
        self._last_nl_abs = -1
        self._done = False
        self._bom_done = False
        self._failed: ParseException | None = None
        self._state = _RECORD
        self._column = 0
        self._in_header = c.header
        self._inferring = not c.header
        self._headers: list[str] = []
        self._header_cells: list[str] = []
        self._header_max = -1  # index of last column (header mode)
        if headers is not None:
            self._in_header = False
            self._inferring = False
            self._headers = list(headers)
            self._header_max = len(headers) - 1
        # scan regex: stop at record sep, row1, or open quote (cell start only)
        self._cell_stop = re.compile(
            b"[" + re.escape(c.record + c.row1) + b"]"
        )
        self._row_delim = c.row1 + c.row2
        # bulk fast path control: retry after each slow-path row, but stop
        # attempting after 3 consecutive zero-consumption tries, so a file
        # of all-dirty rows does not pay a retry per row
        self._try_fast = False
        self._fast_misses = 0
        # so that each absorb scans only what it adds: the pending cell's
        # scan state (see _hold), and the fast path's last split as
        # (absolute offset of rows[i], rows, i, absolute end)
        self._split = _NO_SPLIT
        self._held: tuple | None = None

    # ------------------------------------------------------------------ API

    _BOM = b"\xef\xbb\xbf"

    @property
    def header_names(self) -> list[str] | None:
        """The header row's cells once that row is complete; None while it
        is pending, and for a headerless config."""
        if self._in_header or not self.config.header:
            return None
        return list(self._headers)

    def absorb(self, data: bytes | str) -> Complete[A] | Partial[A] | Failure:
        if self._failed is not None:
            return Failure(self._failed)
        if isinstance(data, str):
            data = data.encode("utf-8")
        self._buf += data
        # strip a UTF-8 BOM once at stream start (BaseParser.scala:78-91
        # does this for every reference parser; wait on a partial BOM)
        if self._base == 0 and self._pos == 0 and not self._bom_done:
            if len(self._buf) < 3 and self._buf == self._BOM[: len(self._buf)]:
                return Complete(self.plate.finish_batch(False))
            if self._buf.startswith(self._BOM):
                del self._buf[:3]
            self._bom_done = True
        return self._churn_result(False)

    def finish(self) -> Complete[A] | Partial[A] | Failure:
        if self._failed is not None:
            return Failure(self._failed)
        self._done = True
        return self._churn_result(True)

    def parse_complete(self, data: bytes | str) -> Complete[A] | Partial[A] | Failure:
        if isinstance(data, str):
            data = data.encode("utf-8")
        self._buf += data
        if not self._bom_done and self._buf.startswith(self._BOM):
            del self._buf[:3]
        self._bom_done = True
        self._done = True
        return self._churn_result(True)

    # ------------------------------------------------------------ churn

    def _churn_result(self, terminal: bool) -> Complete[A] | Partial[A] | Failure:
        try:
            self._churn()
        except ParseException as e:
            self._failed = e
            return Failure(e)
        self._drop_consumed()
        return Complete(self.plate.finish_batch(terminal))

    def _churn(self) -> None:
        try:
            self._fast_rows()
            self._parse_loop()
        except _Incomplete:
            if self._done:
                self._handle_eof()  # completes the final row or raises
                return
            pending = len(self._buf) - self._pos
            if self.max_value_bytes is not None and pending > self.max_value_bytes:
                raise self._exc(
                    "buffered row exceeds maxValueBytes="
                    f"{self.max_value_bytes} ({pending} bytes pending); "
                    "raise the option or split the input",
                    self._pos,
                )
            return

    def _fast_rows(self) -> None:
        """Bulk fast path over the COMPLETE rows currently buffered (the
        CSV analog of the JSON parser's C ``raw_decode`` trick, VERDICT r3
        item 9): split the region on the row delimiter at C level and
        accept a row only when it is provably clean —

        * fully quoted: ``"c1","c2",...,"cN"`` with exactly the header's
          column count and NO quote/escape byte inside any split cell
          (catches doubling, stray quotes, and the fragments a quoted
          embedded newline produces — those fail validation and fall back);
        * fully unquoted: no open-quote byte anywhere in the row (split on
          the record separator IS the grammar then).

        On the first row that fails validation, stop with ``_pos`` at that
        row's start — the suspendable event loop continues from there with
        byte-identical semantics (including error positions). Events
        emitted per cell are identical to :meth:`_emit_cell`.
        """
        if self._in_header or self._state != _RECORD or self._column != 0:
            return
        if self._fast_misses >= 3:
            return
        buf = self._buf
        pos = self._pos
        if self._held is not None and self._held[0] == self._base + pos:
            return  # the event loop resumes this row's pending first cell
        rd = self._row_delim
        rd_len = len(rd)
        end = buf.rfind(rd, pos)
        if end < 0:
            return
        # split once per absorb, not once per slow row: skip the rows the
        # event loop took since the last split
        stop = self._base + end + rd_len
        at, rows, i, until = self._split
        while until == stop and at < self._base + pos and i < len(rows) - 1:
            at += len(rows[i]) + rd_len
            i += 1
        if at != self._base + pos or until != stop:
            rows, i = bytes(memoryview(buf)[pos : end + rd_len]).split(rd), 0
        last = len(rows) - 1  # the piece after the final delimiter
        cfg = self.config
        oq, cq, rec, esc = cfg.open_quote, cfg.close_quote, cfg.record, cfg.escape
        sep = cq + rec + oq
        inferring = self._inferring
        width = self._header_max + 1
        # oq==cq==esc (the default Excel-doubling dialect): a clean fully
        # quoted row has EXACTLY 2·(ncells-1) quote bytes between the outer
        # pair — one cq+oq per separator; any doubling/stray/escape adds
        # more. One C-level count replaces a per-cell scan.
        simple = oq == cq == esc
        consumed = 0
        while i < last:
            row = rows[i]
            if row[:1] == oq and row[-1:] == cq and len(row) >= 2:
                interior = row[1:-1]
                cells = interior.split(sep)
                if (inferring or len(cells) == width) and (
                    interior.count(cq) == 2 * (len(cells) - 1)
                    if simple
                    else not any(oq in c or cq in c or esc in c for c in cells)
                ):
                    self._emit_fast_row(cells)
                    consumed += len(row) + rd_len
                    i += 1
                    continue
            elif oq not in row:
                cells = row.split(rec)
                if inferring or len(cells) == width:
                    self._emit_fast_row(cells)
                    consumed += len(row) + rd_len
                    i += 1
                    continue
            break  # this row needs the event machinery
        self._fast_misses = self._fast_misses + 1 if consumed == 0 else 0
        self._pos = pos + consumed
        self._split = (self._base + self._pos, rows, i, stop) if i < last else _NO_SPLIT

    def _emit_fast_row(self, cells: list[bytes]) -> None:
        """Per-cell events exactly as _emit_cell + _end_row produce them."""
        if self._inferring:
            while len(self._headers) < len(cells):
                self._headers.append(as_header(len(self._headers)))
        headers = self._headers
        proj = self.projection
        plate = self.plate
        for i, cb in enumerate(cells):
            text = cb.decode("utf-8")
            if proj is not None and headers[i] not in proj:
                n = len(text)
                self._skipped_bytes_total += n
                plate.skipped(n)
                continue
            plate.nest_map(headers[i])
            plate.str(text)
            plate.unnest()
        plate.finish_row()

    def _parse_loop(self) -> None:
        buf = self._buf
        cfg = self.config
        rec = cfg.record[0]
        oq = cfg.open_quote[0]
        row_delim = self._row_delim
        rd_len = len(row_delim)
        r1 = cfg.row1[0]

        while True:
            if self._try_fast:
                # a row just completed (header or slow-path fallback row):
                # give the bulk path another shot at the remaining buffer
                self._try_fast = False
                self._fast_rows()
            pos = self._pos
            n = len(buf)
            if pos >= n:
                raise _Incomplete
            if self._state == _END:
                # after a quoted cell: only a delimiter may follow
                c = buf[pos]
                if c == rec:
                    self._pos = pos + 1
                    self._column += 1
                    self._state = _RECORD
                    continue
                if c == r1:
                    if pos + rd_len > n:
                        raise _Incomplete
                    if buf[pos : pos + rd_len] == row_delim:
                        self._pos = pos + rd_len
                        self._end_row()
                        continue
                raise self._exc(
                    "unexpected character found at record boundary", pos
                )

            # _RECORD: parse one cell starting at pos
            if buf[pos] == oq:
                text, endpos = self._parse_quoted(pos)
                self._emit_cell(text, pos)
                self._pos = endpos
                self._state = _END
                continue
            # unquoted cell: scan for record sep or row delimiter
            j = self._resume(pos, pos, pos, None)[0]
            while True:
                m = self._cell_stop.search(buf, j)
                if m is None:
                    if self._done:
                        # EOF terminates the cell
                        self._emit_cell(buf[pos:n].decode("utf-8"), pos)
                        self._pos = n
                        self._state = _END
                        raise _Incomplete  # defer to EOF handling
                    self._hold(pos, n, pos, None)
                    raise _Incomplete
                k = m.start()
                c = buf[k]
                if c == rec:
                    self._emit_cell(buf[pos:k].decode("utf-8"), pos)
                    self._pos = k + 1
                    self._column += 1
                    break
                # row1 byte: only a delimiter if the full sequence matches
                if k + rd_len > n:
                    if self._done:
                        if rd_len == 1:
                            pass  # impossible: k+1 <= n
                        # lone row1 at EOF inside the cell is data
                        self._emit_cell(buf[pos:n].decode("utf-8"), pos)
                        self._pos = n
                        self._state = _END
                        raise _Incomplete
                    self._hold(pos, k, pos, None)
                    raise _Incomplete
                if buf[k : k + rd_len] == row_delim:
                    self._emit_cell(buf[pos:k].decode("utf-8"), pos)
                    self._pos = k + rd_len
                    self._end_row()
                    break
                j = k + 1  # row1 without row2: part of the value

    def _parse_quoted(self, pos: int) -> tuple[str, int]:
        """Parse the quoted cell opening at pos; returns (text, pos after
        closing quote). Escape rules: escape byte followed by close quote is
        a literal quote (escape==closeQuote → Excel doubling)."""
        buf = self._buf
        cq = self.config.close_quote[0]
        esc = self.config.escape[0]
        n = len(buf)
        j, seg, out = self._resume(pos, pos + 1, pos + 1, [])
        while True:
            k = buf.find(self.config.close_quote, j)
            if k < 0:
                if self._done:
                    raise self._exc(
                        "unexpected end of file: unclosed quoted record", pos
                    )
                self._hold(pos, n, seg, out)
                raise _Incomplete
            if esc != cq and k > seg - 1 and buf[k - 1] == esc:
                # escape precedes close quote → literal quote
                out.append(buf[seg : k - 1].decode("utf-8"))
                out.append(chr(cq))
                j = k + 1
                seg = j
                continue
            if esc == cq:
                # doubling: "" inside the cell is a literal quote
                if k + 1 < n and buf[k + 1] == cq:
                    out.append(buf[seg : k + 1].decode("utf-8"))
                    j = k + 2
                    seg = j
                    continue
                if k + 1 >= n and not self._done:
                    self._hold(pos, k, seg, out)
                    raise _Incomplete  # can't tell close vs escaped yet
            out.append(buf[seg:k].decode("utf-8"))
            return "".join(out), k + 1

    def _hold(self, pos: int, j: int, seg: int, out: list[str] | None) -> None:
        """Keep the scan state of the pending cell at ``pos`` for the next
        absorb: where to search next (``j``), where the undecoded part
        starts (``seg``) and the parts decoded so far (``out``)."""
        self._held = (self._base + pos, j - pos, seg - pos, out)

    def _resume(self, pos: int, j: int, seg: int, out: list[str] | None) -> tuple:
        """The held scan state of the cell at ``pos`` as ``(j, seg, out)``,
        or the given start state when that cell was not held."""
        held, self._held = self._held, None
        if held is not None and held[0] == self._base + pos:
            return pos + held[1], pos + held[2], held[3]
        return j, seg, out

    # ------------------------------------------------------------ rows/cells

    def _emit_cell(self, text: str, errpos: int) -> None:
        if self._in_header:
            if text == "":
                raise self._exc("empty header cell", errpos)
            self._header_cells.append(text)
            return
        col = self._column
        plate = self.plate
        if self._inferring:
            while len(self._headers) <= col:
                self._headers.append(as_header(len(self._headers)))
        elif col > self._header_max:
            raise self._exc("row wider than header", errpos)
        name = self._headers[col]
        if self.projection is not None and name not in self.projection:
            n = len(text)
            self._skipped_bytes_total += n
            plate.skipped(n)
            return
        plate.nest_map(name)
        plate.str(text)
        plate.unnest()

    def _end_row(self) -> None:
        if self._in_header:
            self._headers = list(self._header_cells)
            self._header_max = len(self._headers) - 1
            self._in_header = False
        else:
            self.plate.finish_row()
        self._column = 0
        self._state = _RECORD
        self._try_fast = True
        # NOTE: no compaction here — _parse_loop holds a local buffer ref;
        # compaction happens once per absorb in _churn_result.

    # ------------------------------------------------------------ EOF logic

    def _handle_eof(self) -> None:
        """Classify EOF per the reference churn handler
        (csv/Parser.scala:76-108): complete the final row when it ends at
        the last column (or when inferring), else raise."""
        if self._in_header:
            if self._header_cells or self._state == _END:
                raise ParseException(
                    "unexpected end of file in header row",
                    self._base + self._pos, -1, -1,
                )
            # empty input: no header ever started → zero rows (lenient;
            # the reference errors here, but empty splits are routine for
            # a file-based DataSource)
            return
        at_end = self._column == self._header_max or self._inferring
        if self._state == _RECORD:
            if self._column == 0:
                return  # clean boundary: complete rows only
            if at_end:
                # missing trailing cell becomes ""
                self._emit_cell("", self._pos)
                self.plate.finish_row()
                return
            raise ParseException(
                "unexpected end of file: missing records",
                self._base + self._pos, -1, -1,
            )
        # _END: EOF is an implicit row terminator
        if at_end:
            self.plate.finish_row()
            return
        raise ParseException(
            "unexpected end of file: missing records",
            self._base + self._pos, -1, -1,
        )

    # ------------------------------------------------------------ positions

    def _drop_consumed(self) -> None:
        pos = self._pos
        if pos == 0:
            return
        buf = self._buf
        nl = buf.count(b"\n", 0, pos)
        if nl:
            self._nl_before += nl
            self._last_nl_abs = self._base + buf.rfind(b"\n", 0, pos)
        self._base += pos
        del buf[:pos]
        self._pos = 0

    def _exc(self, message: str, i: int) -> ParseException:
        buf = self._buf
        abs_idx = self._base + i
        line = self._nl_before + buf.count(b"\n", 0, i) + 1
        r = buf.rfind(b"\n", 0, i)
        if r >= 0:
            col = i - r
        elif self._last_nl_abs >= 0:
            col = abs_idx - self._last_nl_abs
        else:
            col = abs_idx + 1
        return ParseException(message, abs_idx, line, col)
