"""Constant-memory mid-value resume (json_parser._walk_step) — the analog
of the reference's 1 MiB sliding window (BaseParser.scala:159-171).

Contract under test:
* event streams are identical to the non-resumable path for every framing
  mode, chunking, and window size (including ``skipped`` totals — only the
  per-chunk split of skip counts may differ, documented);
* memory stays bounded by window + one scalar token even when a single
  value is arbitrarily large;
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


def _run(data: bytes, mode, chunks, window, plate_wrap=None):
    rp = ReifiedPlate()
    plate = plate_wrap(rp) if plate_wrap else rp
    p = JsonParser(plate, mode, direct_values=False, resume_window_bytes=window)
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


def _no_skips(events):
    return [e for e in events if e[0] != "skipped"]


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
@pytest.mark.parametrize("csize,window", [(1, 1), (13, 64), (211, 1), (4096, 256)])
def test_event_parity_all_modes(mode, payload, csize, window):
    data = payload.encode()
    base_ev, base_r, _, _ = _run(data, mode, [data], None)
    assert isinstance(base_r, Complete)
    ev, r, _, _ = _run(data, mode, _chunked(data, csize), window)
    assert isinstance(r, Complete), r
    assert ev == base_ev


def test_memory_bounded_by_window_plus_token():
    # one 4 MB value fed in 8 KiB chunks through a 16 KiB window: buffer
    # must stay ~window + largest token, nowhere near the value size
    big = {"a": [[i, str(i)] for i in range(120_000)], "t": "x" * 500}
    data = json.dumps(big).encode()
    assert len(data) > 2_000_000
    ev, r, maxbuf, _ = _run(data, Mode.SINGLE_VALUE, _chunked(data, 8192), 16384)
    assert isinstance(r, Complete)
    assert maxbuf < 16384 + 8192 + 600, maxbuf
    base_ev, _, base_maxbuf, _ = _run(
        data, Mode.SINGLE_VALUE, _chunked(data, 8192), None
    )
    assert ev == base_ev
    # same chunking without the walk: the whole value accumulated
    assert base_maxbuf >= len(data) - 8192


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
    base_ev, base_r, _, base_sk = _run(data, Mode.VALUE_STREAM, [data], None, wrap)
    assert isinstance(base_r, Complete)
    for csize in (7, 997):
        ev, r, maxbuf, sk = _run(
            data, Mode.VALUE_STREAM, _chunked(data, csize), 64, wrap
        )
        assert isinstance(r, Complete)
        assert _no_skips(ev) == _no_skips(base_ev)
        assert sk == base_sk  # totals equal; per-chunk splits may differ
        assert maxbuf < 4096, maxbuf  # the 150 KB subtree never buffered


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


def _merge_skips(log):
    """Sum runs of adjacent ``skipped`` events (the walk splits a count at
    chunk boundaries; the total per run is the same)."""
    out: list = []
    for e in log:
        if e[0] == "skipped" and out and out[-1][0] == "skipped":
            out[-1] = ("skipped", out[-1][1] + e[1], None)
        else:
            out.append(e)
    return out


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
    """Scalar SKIP_ROW from a filtering PushdownPlate: the suspendable walk
    (tiny resume window) matches the whole-value parse event for event."""
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

    def run(chunks, window):
        plate = PushdownPlate(required=required, tests=tests)
        rec = _Recorder(plate)
        p = JsonParser(rec, Mode.VALUE_STREAM, direct_values=False,
                       resume_window_bytes=window)
        rows = []
        for ch in chunks:
            r = p.absorb(ch)
            assert isinstance(r, Complete), r
            rows += r.value
        r = p.finish()
        assert isinstance(r, Complete), r
        rows += r.value
        return rows, rec.log, p.skipped_bytes_total, plate.rows_skipped_total

    base_rows, base_log, base_sk, base_rs = run([data], None)
    assert 0 < base_rs < 60
    assert any(e[-1] is Signal.SKIP_ROW for e in base_log)
    rows, log, sk, rs = run(_chunked(data, csize), 16)
    assert rows == base_rows
    assert _merge_skips(log) == _merge_skips(base_log)
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
    _, r0, _, _ = _run(bad, Mode.VALUE_STREAM, [bad], None)
    _, r1, _, _ = _run(bad, Mode.VALUE_STREAM, _chunked(bad, 1), 1)
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
    window=st.sampled_from([1, 8, 64]),
)
def test_property_walk_equals_extent_path(vals, csize, window):
    data = " ".join(json.dumps(v) for v in vals).encode()
    base_ev, base_r, _, _ = _run(data, Mode.VALUE_STREAM, [data], None)
    assert isinstance(base_r, Complete)
    ev, r, _, _ = _run(data, Mode.VALUE_STREAM, _chunked(data, csize), window)
    assert isinstance(r, Complete), r
    assert ev == base_ev


def test_reader_end_to_end_resume_window(tmp_path, spark):
    """values-framing scan with a tiny resume window returns the same rows
    as the default path (source-level plumbing of resumeWindowBytes)."""
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
        .option("resumeWindowBytes", "16")
        .option("fastPath", "false")
        .load(str(f))
        .selectExpr("i", "deep.keep AS keep")
        .collect()
    )
    assert sorted(map(tuple, walked)) == sorted(map(tuple, base))
    assert len(base) == 50
