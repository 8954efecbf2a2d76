"""Property-based reader equivalence: for random nested NDJSON documents,
the C fast path and the event-parser path of TectonicJsonReader must emit
identical Arrow output (same schema, same cells) — including heterogeneous
rows that exercise normalization fallbacks (float-in-long, containers in
scalar columns, >int64 ints)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tectonic_spark.core.result import ParseException

from tectonic_spark.sources.json_source import FileSplit, TectonicJsonReader
from tectonic_spark.sources.schema_infer import infer_spark_schema

scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**70), max_value=2**70),  # includes >int64
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(alphabet="abz ", max_size=5),
)
value = st.recursive(
    scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from("pqr"), children, max_size=2),
    ),
    max_leaves=4,
)
row_st = st.dictionaries(st.sampled_from(["a", "b", "c"]), value, max_size=3)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(row_st, min_size=1, max_size=10),
    st.integers(min_value=4, max_value=200),
    st.booleans(),
)
def test_split_invariance(rows, split_bytes, fast):
    """Byte-range splits partition the rows exactly once for ANY split
    size, on both paths (Hadoop text-split semantics)."""
    from tectonic_spark.sources.json_source import plan_splits

    schema = infer_spark_schema(rows)
    if schema.fieldNames() == ["value"]:
        return
    data = ("\n".join(json.dumps(r) for r in rows) + "\n").encode()
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        opts = {"path": p, "fastpath": "true" if fast else "false"}
        whole = TectonicJsonReader(schema, opts, "lines")
        base = [
            row
            for b in whole.read(FileSplit(p, 0, len(data), len(data)))
            for row in b.to_pylist()
        ]
        split_rows = []
        for s in plan_splits([p], split_bytes, splittable=True):
            r = TectonicJsonReader(schema, opts, "lines")
            split_rows += [row for b in r.read(s) for row in b.to_pylist()]
        key = lambda r: json.dumps(r, sort_keys=True, default=str)  # noqa: E731
        assert sorted(map(key, split_rows)) == sorted(map(key, base))
        assert len(base) == len(rows)
    finally:
        os.unlink(p)


@settings(max_examples=60, deadline=None)
@given(st.lists(row_st, min_size=1, max_size=8))
def test_fast_path_equals_event_path(rows):
    schema = infer_spark_schema(rows)
    if schema.fieldNames() == ["value"]:
        return  # degenerate all-empty shape
    data = ("\n".join(json.dumps(r) for r in rows) + "\n").encode()
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        f.write(data)
        p = f.name
    try:
        split = FileSplit(p, 0, len(data), len(data))
        out = {}
        for fp in ("true", "false"):
            r = TectonicJsonReader(schema, {"path": p, "fastpath": fp}, "lines")
            out[fp] = [row for b in r.read(split) for row in b.to_pylist()]
        assert out["true"] == out["false"]
        assert len(out["true"]) == len(rows)
    finally:
        os.unlink(p)


# ---------------------------------------------------------------- one grammar
# Lines the event parser rejects; the fast routes (pyarrow whole-block and
# per-line C decode) must reject them too: NaN/Infinity literals, raw
# invalid UTF-8 (in a top-level and in a nested string), CESU-8 surrogate
# bytes, and \u escapes that leave a lone surrogate.
_MALFORMED_LINES = [
    b'{"a": NaN, "s": "x"}',
    b'{"a": Infinity}',
    b'{"t": {"u": "k", "f": -Infinity}}',
    b'{"s": "\xff"}',
    b'{"t": {"u": "a\xffb"}}',
    b'{"s": "\xed\xa0\x80"}',
    b'{"s": "\\ud800"}',
    b'{"t": {"u": "a\\uDC00"}}',
    b'{"s": "\\ud800\\u0041"}',
]
_GOOD_LINES = [
    b'{"a": 1.5, "s": "ok", "t": {"u": "\\ud83d\\ude00", "f": 2.0}}',
    b'{"a": 2.5, "s": "\xc3\xa9\\uD83D\\uDE00"}',
]


def _grammar_schema(corrupt: bool):
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    fields = [
        StructField("a", DoubleType()),
        StructField("s", StringType()),
        StructField(
            "t",
            StructType([StructField("u", StringType()), StructField("f", DoubleType())]),
        ),
    ]
    if corrupt:
        fields.append(StructField("_corrupt", StringType()))
    return StructType(fields)


def _read_lines(tmp_path, data: bytes, schema, **opts):
    p = tmp_path / "in.json"
    p.write_bytes(data)
    r = TectonicJsonReader(schema, {"path": str(p), **opts}, "lines")
    batches = list(r.read(FileSplit(str(p), 0, len(data), len(data))))
    for b in batches:
        b.validate(full=True)
    return [row for b in batches for row in b.to_pylist()]




@pytest.mark.parametrize("corrupt", [True, False])
@pytest.mark.parametrize("bad", _MALFORMED_LINES)
def test_fast_routes_share_the_event_grammar(tmp_path, bad, corrupt):
    """PERMISSIVE: with a corrupt column the fast path takes the per-line
    C route, without one the pyarrow route; either way the malformed line
    is the same all-null row (and raw cell) as on the event path, and every
    batch validates."""
    data = b"\n".join([_GOOD_LINES[0], bad, _GOOD_LINES[1]]) + b"\n"
    schema = _grammar_schema(corrupt)
    opts = {"columnnameofcorruptrecord": "_corrupt"} if corrupt else {}
    out = {
        fp: _read_lines(tmp_path, data, schema, fastpath=fp, **opts)
        for fp in ("true", "false")
    }
    assert out["true"] == out["false"]
    rows = out["true"]
    assert len(rows) == 3
    assert rows[0]["t"]["u"] == "\U0001f600"
    assert rows[2]["s"] == "\xe9\U0001f600"
    assert (rows[1]["a"], rows[1]["s"], rows[1]["t"]) == (None, None, None)
    if corrupt:
        assert rows[1]["_corrupt"] == bad.decode("utf-8", errors="replace")


@pytest.mark.parametrize("bad", _MALFORMED_LINES)
def test_fast_routes_drop_and_fail_like_the_event_path(tmp_path, bad):
    data = b"\n".join([_GOOD_LINES[0], bad, _GOOD_LINES[1]]) + b"\n"
    schema = _grammar_schema(False)
    for fp in ("true", "false"):
        rows = _read_lines(tmp_path, data, schema, fastpath=fp, parsemode="DROPMALFORMED")
        assert len(rows) == 2, fp
        with pytest.raises((ValueError, ParseException)):
            _read_lines(tmp_path, data, schema, fastpath=fp, parsemode="FAILFAST")


@pytest.mark.parametrize("mode", ["values", "array", "single"])
def test_whole_document_fast_path_rejects_what_the_parser_rejects(tmp_path, mode):
    from tectonic_spark.sources.json_source import TectonicJsonReader as R

    docs = {
        "values": b'{"a": 1.0}\n{"s": "\\ud800"}\n',
        "array": b'[{"a": 1.0}, {"a": NaN}]',
        "single": b'{"s": "\xed\xa0\x80"}',
    }
    data = docs[mode]
    p = tmp_path / "in.json"
    p.write_bytes(data)
    for fp in ("true", "false"):
        r = R(_grammar_schema(False), {"path": str(p), "fastpath": fp}, mode)
        with pytest.raises((ValueError, ParseException)) as ei:
            list(r.read(FileSplit(str(p), 0, len(data), len(data))))
        # rejected at decode, not crashing at the Arrow conversion
        assert not isinstance(ei.value, UnicodeEncodeError), fp


# Values outside the read schema: the event parser skips them unchecked, so
# a line or document C decoding rejects only there is a good row on both
# routes, in every parse mode.
_UNREAD_BAD_LINES = [
    b'{"a": 1.0, "zz": NaN}',
    b'{"a": 1.0, "zz": "\\ud800"}',
    b'{"a": 1.0, "zz": "\xed\xa0\x80"}',
    b'{"a": 1.0, "zz": "\xff"}',
    b'{"a": 1.0, "zz": [1,,2]}',
    b'{"a": 1.0, "t": {"u": "k", "g": -Infinity}}',
]


def _narrow_schema(corrupt: bool):
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    fields = [
        StructField("a", DoubleType()),
        StructField("t", StructType([StructField("u", StringType())])),
    ]
    if corrupt:
        fields.append(StructField("_corrupt", StringType()))
    return StructType(fields)


@pytest.mark.parametrize("parse_mode", ["PERMISSIVE", "FAILFAST"])
@pytest.mark.parametrize("corrupt", [True, False])
@pytest.mark.parametrize("line", _UNREAD_BAD_LINES)
def test_fast_routes_skip_unread_values_like_the_event_path(
    tmp_path, line, corrupt, parse_mode
):
    data = b"\n".join([b'{"a": 0.5}', line]) + b"\n"
    opts = {"columnnameofcorruptrecord": "_corrupt"} if corrupt else {}
    out = {
        fp: _read_lines(
            tmp_path, data, _narrow_schema(corrupt), fastpath=fp, parsemode=parse_mode, **opts
        )
        for fp in ("true", "false")
    }
    assert out["true"] == out["false"]
    assert [r["a"] for r in out["true"]] == [0.5, 1.0]
    if corrupt:
        assert [r["_corrupt"] for r in out["true"]] == [None, None]


@pytest.mark.parametrize(
    "mode,data,want",
    [
        ("values", b'{"a": 0.5}\n{"a": 1.0, "zz": NaN}\n{"a": 2.0}\n', [0.5, 1.0, 2.0]),
        ("values", b'{"a": 0.5}\n{"a": 1.0, "zz": "\xff"}\n', [0.5, 1.0]),
        ("array", b'[{"a": 0.5}, {"a": 1.0, "zz": "\\udc00"}]', [0.5, 1.0]),
        ("single", b'{"a": 1.0, "zz": "\xed\xa0\x80"}', [1.0]),
    ],
)
def test_whole_document_fast_path_skips_unread_values(tmp_path, mode, data, want):
    from tectonic_spark.sources.json_source import TectonicJsonReader as R

    p = tmp_path / "in.json"
    p.write_bytes(data)
    out = {}
    for fp in ("true", "false"):
        r = R(_narrow_schema(False), {"path": str(p), "fastpath": fp}, mode)
        out[fp] = [
            row for b in r.read(FileSplit(str(p), 0, len(data), len(data))) for row in b.to_pylist()
        ]
    assert out["true"] == out["false"]
    assert [r["a"] for r in out["true"]] == want


@pytest.mark.parametrize(
    "data,line_col",
    [
        (b'\xef\xbb\xbf{"a": 0.5}\n{"a": 1.0, "zz": "\xc3\xa9"}\n  {"a": NaN}\n', (3, 9)),
        (b'\xef\xbb\xbf{"a": 0.5} {"zz": "\xc3\xa9"}  {"a": NaN}', (1, 35)),
    ],
)
def test_values_fast_path_reports_the_event_parser_position(tmp_path, data, line_col):
    from tectonic_spark.sources.json_source import TectonicJsonReader as R

    # C decoding takes the first documents, the event parser the rest: its
    # error is placed in the whole file (BOM and multi-byte text before it)
    p = tmp_path / "in.json"
    p.write_bytes(data)
    errs = {}
    for fp in ("true", "false"):
        r = R(_narrow_schema(False), {"path": str(p), "fastpath": fp}, "values")
        with pytest.raises(ParseException) as ei:
            list(r.read(FileSplit(str(p), 0, len(data), len(data))))
        errs[fp] = (ei.value.message, ei.value.index, ei.value.line, ei.value.col)
    assert errs["true"] == errs["false"]
    assert errs["true"][1:] == (data.index(b"NaN"), *line_col)
