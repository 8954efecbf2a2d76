"""Constant-memory mid-value resume of the suspendable event walker
(``json_parser._emit_value``) — the analog of the reference's 1 MiB sliding
window (BaseParser.scala:159-171).

Contract under test:
* event streams are identical for every framing mode and chunking,
  ``skipped`` counts included: each skipped region is one count, however
  the input is cut;
* memory stays bounded by one chunk + one scalar token even when a single
  value is arbitrarily large, with no option set;
* raw-skipped subtrees (pushdown) buffer ~nothing regardless of size;
* malformed inputs fail with the same message and position.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tectonic_spark.core import DelegatingPlate, ReifiedPlate, Signal
from tectonic_spark.core.json_parser import JsonParser, Mode
from tectonic_spark.core.result import Complete, Failure


def _run(data: bytes, mode, chunks, plate_wrap=None):
    rp = ReifiedPlate()
    plate = plate_wrap(rp) if plate_wrap else rp
    p = JsonParser(plate, mode, direct_values=False)
    events: list = []
    maxbuf = 0
    for ch in chunks:
        r = p.absorb(ch)
        maxbuf = max(maxbuf, len(p._buf))
        if isinstance(r, Failure):
            return events, r, maxbuf, p.skipped_bytes_total
        events.extend(r.value)
    r = p.finish()
    if isinstance(r, Complete):
        events.extend(r.value)
    return events, r, maxbuf, p.skipped_bytes_total


def _chunked(b: bytes, size: int) -> list[bytes]:
    return [b[i : i + size] for i in range(0, len(b), size)]


BIG = {
    "nums": [1, -2.5, 1e10, 0.001] * 300,
    "strs": {f"k{i}": "v" * (i % 37) for i in range(200)},
    "esc": 'a"b\\c' * 150,
    "uni": "héllo wörld ünïcode " * 60,
    "mixed": [True, False, None, {}, [], [[1], [2, [3]]]],
}


@pytest.mark.parametrize("mode,payload", [
    (Mode.VALUE_STREAM, json.dumps(BIG) + " 42 \"tail\" null"),
    (Mode.UNWRAP_ARRAY, "[" + ",".join([json.dumps(BIG)] * 2) + ", 7]"),
    (Mode.SINGLE_VALUE, json.dumps(BIG)),
])
@pytest.mark.parametrize("csize,first", [(1, 1), (13, 64), (211, 1), (4096, 256)])
def test_event_parity_all_modes(mode, payload, csize, first):
    # ``first`` is the size of the first chunk: it shifts where the cuts land
    data = payload.encode()
    base_ev, base_r, _, _ = _run(data, mode, [data])
    assert isinstance(base_r, Complete)
    chunks = [data[:first]] + _chunked(data[first:], csize)
    ev, r, _, _ = _run(data, mode, chunks)
    assert isinstance(r, Complete), r
    assert ev == base_ev


_BIG_VALUE = {"a": [[i, str(i)] for i in range(120_000)], "t": "x" * 500}


def test_memory_bounded_by_window_plus_token():
    # one 2.3 MB value fed in 8 KiB chunks, with no option set: the buffer
    # must stay ~one chunk + the largest token (the 502-byte "t" string),
    # nowhere near the value size
    from tectonic_spark.sources.pushdown import PushdownPlate

    data = json.dumps(_BIG_VALUE).encode()
    assert len(data) > 2_000_000
    bound = 8192 + 502 + 1024
    ev, r, maxbuf, _ = _run(data, Mode.SINGLE_VALUE, _chunked(data, 8192))
    assert isinstance(r, Complete)
    assert maxbuf < bound, maxbuf
    base_ev, _, _, _ = _run(data, Mode.SINGLE_VALUE, [data])
    assert ev == base_ev
    # the same through a projecting PushdownPlate, as a reader scan builds it
    p = JsonParser(PushdownPlate(required={"a"}), Mode.SINGLE_VALUE)
    rows, maxbuf = [], 0
    for ch in _chunked(data, 8192):
        r = p.absorb(ch)
        assert isinstance(r, Complete), r
        rows += r.value
        maxbuf = max(maxbuf, len(p._buf))
    rows += p.finish().value
    assert rows == [{"a": _BIG_VALUE["a"]}]
    assert maxbuf < bound, maxbuf


class _SkipKeys(DelegatingPlate):
    def __init__(self, delegate, keys):
        super().__init__(delegate)
        self._keys = keys

    def nest_map(self, key):
        if key in self._keys:
            return Signal.SKIP_COLUMN
        return super().nest_map(key)


def test_skipped_subtree_buffers_nothing():
    giant = {
        "keep": 1,
        "drop": {"blob": ["y" * 40] * 4000, "s": 'q"\\"' * 500},
        "keep2": "end",
    }
    data = json.dumps(giant).encode()
    assert len(data) > 150_000
    wrap = lambda rp: _SkipKeys(rp, {"drop"})
    base_ev, base_r, _, base_sk = _run(data, Mode.VALUE_STREAM, [data], wrap)
    assert isinstance(base_r, Complete)
    for csize in (7, 997):
        ev, r, maxbuf, sk = _run(data, Mode.VALUE_STREAM, _chunked(data, csize), wrap)
        assert isinstance(r, Complete)
        assert ev == base_ev  # one skipped(n) per region, whatever the cuts
        assert sk == base_sk
        assert maxbuf < 4096, maxbuf  # the 150 KB subtree never buffered


def test_huge_skipped_string_buffers_nothing():
    """A >1 MB projected-away string of escaped quotes and even backslash
    runs. Its 12-byte encoded unit is coprime to the 997-byte chunks, so
    the cuts land at every offset: inside a plain run, between the two
    bytes of an escape, inside an even backslash run and before an escaped
    quote. A second feed also cuts inside the even run that ends the
    string, and just before its closing quote."""
    unit = 'q"\\"\\\\r'  # encodes as q, \", \\\", \\\\, r
    assert len(json.dumps(unit)) - 2 == 12
    text = unit * 100_000 + "\\\\"
    row = {"keep": 1, "drop": text, "tail": "t"}
    data = (json.dumps(row) + "\n" + json.dumps({"keep": 2})).encode()
    assert len(data) > 1_000_000
    wrap = lambda rp: _SkipKeys(rp, {"drop"})
    base_ev, base_r, _, base_sk = _run(data, Mode.VALUE_STREAM, [data], wrap)
    assert isinstance(base_r, Complete)
    assert ("str", "t") in base_ev and ("num", "2", -1, -1) in base_ev
    close = data.index(b'", "tail"')  # the closing quote of the string
    for cuts in (
        _chunked(data, 997),
        [data[: close - 2], data[close - 2 : close]] + _chunked(data[close:], 997),
    ):
        ev, r, maxbuf, sk = _run(data, Mode.VALUE_STREAM, cuts, wrap)
        assert isinstance(r, Complete), r
        assert ev == base_ev
        assert sk == base_sk
        assert maxbuf < 4096, maxbuf


class _Recorder(DelegatingPlate):
    """Logs every event the parser sends, with the signal it got back."""

    def __init__(self, delegate):
        super().__init__(delegate)
        self.log: list = []


def _logged(name):
    def method(self, *args):
        sig = getattr(self.delegate, name)(*args)
        self.log.append((name, *args, sig))
        return sig

    return method


for _name in (
    "nul", "fls", "tru", "map", "arr", "num", "str", "nest_map", "nest_arr",
    "unnest", "finish_row", "skipped",
):
    setattr(_Recorder, _name, _logged(_name))


def _wide_rows(n: int) -> bytes:
    import random

    rng = random.Random(5)
    rows = []
    for i in range(n):
        row = {"id": i, "cat": f"k{rng.randrange(4)}"}
        row.update({f"s{k}": 'a"b\\' * rng.randrange(1, 6) + "]}" for k in range(4)})
        row["n"] = rng.randrange(100)
        row["flag"] = rng.random() < 0.5
        row["opt"] = None if rng.random() < 0.3 else [rng.random(), {"q": "[{"}]
        row["meta"] = {"a": [1, {"b": "x" * rng.randrange(40)}], "c": None}
        rows.append(row)
    return "\n".join(json.dumps(r) for r in rows).encode()


@pytest.mark.parametrize("filters,required", [
    ([("EqualTo", "cat", "k1")], None),  # str
    ([("GreaterThan", "n", 70)], None),  # num
    ([("EqualTo", "flag", True)], None),  # tru / fls
    ([("IsNotNull", "opt")], {"id", "meta"}),  # nul, with projection skips
])
@pytest.mark.parametrize("csize", [7, 64, 997])
def test_filter_skip_row_walk_equals_whole_value(filters, required, csize):
    """Scalar SKIP_ROW from a filtering PushdownPlate: a chunked parse
    matches the one-chunk parse event for event."""
    import pyspark.sql.datasource as ds
    from pyspark.sql.types import (
        ArrayType, BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters

    schema = StructType([
        StructField("cat", StringType()), StructField("n", LongType()),
        StructField("flag", BooleanType()),
        StructField("opt", ArrayType(DoubleType())),
    ])
    tests = compile_filters(
        [getattr(ds, f)((col,), *args) for f, col, *args in filters], schema
    )
    data = _wide_rows(60)

    def run(chunks):
        plate = PushdownPlate(required=required, tests=tests)
        rec = _Recorder(plate)
        p = JsonParser(rec, Mode.VALUE_STREAM, direct_values=False)
        rows = []
        for ch in chunks:
            r = p.absorb(ch)
            assert isinstance(r, Complete), r
            rows += r.value
        r = p.finish()
        assert isinstance(r, Complete), r
        rows += r.value
        return rows, rec.log, p.skipped_bytes_total, plate.rows_skipped_total

    base_rows, base_log, base_sk, base_rs = run([data])
    assert 0 < base_rs < 60
    assert any(e[-1] is Signal.SKIP_ROW for e in base_log)
    rows, log, sk, rs = run(_chunked(data, csize))
    assert rows == base_rows
    assert log == base_log
    assert (sk, rs) == (base_sk, base_rs)


@pytest.mark.parametrize("bad", [
    b'{"a": 01}',
    b'{"a": 1..2}',
    b'{"a": tru}',
    b'{"a" 1}',
    b"[1, }",
    b'{"a": "unterminated',
])
def test_malformed_same_outcome(bad):
    _, r0, _, _ = _run(bad, Mode.VALUE_STREAM, [bad])
    _, r1, _, _ = _run(bad, Mode.VALUE_STREAM, _chunked(bad, 1))
    assert isinstance(r0, Failure) and isinstance(r1, Failure)
    assert r1.error.args == r0.error.args


_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(10**12), 10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=8),
)
_values = st.recursive(
    _scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(max_size=5), inner, max_size=4),
    ),
    max_leaves=25,
)


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(_values, min_size=1, max_size=4),
    csize=st.integers(1, 40),
)
def test_property_walk_equals_extent_path(vals, csize):
    """Chunked input walks to the same events as one chunk."""
    data = " ".join(json.dumps(v) for v in vals).encode()
    base_ev, base_r, _, _ = _run(data, Mode.VALUE_STREAM, [data])
    assert isinstance(base_r, Complete)
    ev, r, _, _ = _run(data, Mode.VALUE_STREAM, _chunked(data, csize))
    assert isinstance(r, Complete), r
    assert ev == base_ev


def test_reader_end_to_end_resume_window(tmp_path, spark):
    """values-framing scan through the event walker (fastPath=false)
    returns the same rows as the default path."""
    from tectonic_spark.sources.registration import register_tectonic_sources

    register_tectonic_sources(spark)
    rows = [{"i": i, "deep": {"pad": "z" * 200, "keep": i * 2}} for i in range(50)]
    f = tmp_path / "vals.json"
    f.write_text(" ".join(json.dumps(r) for r in rows))
    schema = "i long, deep struct<keep:long>"
    base = (
        spark.read.format("tectonic-json")
        .schema(schema)
        .option("mode", "values")
        .load(str(f))
        .selectExpr("i", "deep.keep AS keep")
        .collect()
    )
    walked = (
        spark.read.format("tectonic-json")
        .schema(schema)
        .option("mode", "values")
        .option("fastPath", "false")
        .load(str(f))
        .selectExpr("i", "deep.keep AS keep")
        .collect()
    )
    assert sorted(map(tuple, walked)) == sorted(map(tuple, base))
    assert len(base) == 50
