"""Work counts for the CSV parser's scans: a cell or row that spans many
absorbs is searched once in total, not once per absorb.

The parser's buffer and its cell-stop pattern are swapped for counting
twins. They add up the bytes every search (``find``, ``rfind``, the
cell-stop regex) passes over, and apart from those the bytes that line
numbering counts newlines in. A count is exact for a given input, so the
bounds do not depend on the host's speed."""

from __future__ import annotations

import pytest

from tectonic_spark.core.csv_parser import CsvConfig, CsvParser
from tectonic_spark.core.plate import NullPlate
from tectonic_spark.core.result import Failure
from tectonic_spark.sources import csv_source

MIB = 1 << 20


def _bounds(size: int, start: int = 0, end: int | None = None) -> tuple[int, int]:
    end = size if end is None else min(end, size)
    return min(start, end), end


class _CountedBuffer(bytearray):
    searched = 0
    counted = 0

    def find(self, sub, *args):
        k = super().find(sub, *args)
        start, end = _bounds(len(self), *args)
        _CountedBuffer.searched += (k + len(sub) if k >= 0 else end) - start
        return k

    def rfind(self, sub, *args):
        k = super().rfind(sub, *args)
        start, end = _bounds(len(self), *args)
        _CountedBuffer.searched += end - (k if k >= 0 else start)
        return k

    def count(self, sub, *args):
        start, end = _bounds(len(self), *args)
        _CountedBuffer.counted += end - start
        return super().count(sub, *args)


class _CountedPattern:
    def __init__(self, pattern):
        self.pattern = pattern

    def search(self, buf, pos=0):
        m = self.pattern.search(buf, pos)
        _CountedBuffer.searched += (m.end() if m else len(buf)) - pos
        return m


class _CountedParser(CsvParser):
    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._buf = _CountedBuffer()
        self._cell_stop = _CountedPattern(self._cell_stop)


@pytest.fixture(autouse=True)
def _reset_count():
    _CountedBuffer.searched = _CountedBuffer.counted = 0


@pytest.mark.parametrize("quoted", [False, True], ids=["unquoted", "quoted"])
def test_long_cell_is_scanned_once(quoted):
    """A 64 MiB cell fed in 4 MiB absorbs: the searches together pass over
    at most twice the input, and line numbering reads each byte once."""
    chunk = b"x" * (4 * MIB)
    p = _CountedParser(NullPlate(), CsvConfig())
    pieces = [b'a,b\r\n"' if quoted else b"a,b\r\n"] + [chunk] * 16
    pieces.append(b'",1\r\n' if quoted else b",1\r\n")
    for piece in pieces:
        assert not isinstance(p.absorb(piece), Failure)
    assert not isinstance(p.finish(), Failure)
    total = sum(map(len, pieces))
    assert _CountedBuffer.searched <= 2 * total
    assert _CountedBuffer.counted <= total


@pytest.mark.parametrize("quoted", [False, True], ids=["unquoted", "quoted"])
def test_long_header_row_is_scanned_once(tmp_path, monkeypatch, quoted):
    """``read_csv_header`` reads in 64 KiB pieces, and still searches an
    8 MiB header cell at most twice over."""
    name = "h" * (8 * MIB)
    path = tmp_path / "wide.csv"
    path.write_bytes((f'"{name}"' if quoted else name).encode() + b",b\r\n1,2\r\n")
    monkeypatch.setattr(csv_source, "CsvParser", _CountedParser)
    assert csv_source.read_csv_header(str(path), CsvConfig()) == [name, "b"]
    assert _CountedBuffer.searched <= 2 * path.stat().st_size
    assert _CountedBuffer.counted <= path.stat().st_size
