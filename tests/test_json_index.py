"""The JSON parser's structural index against the event walker.

``PushdownPlate`` offers the parser an index plan; ``_WalkerPlate`` is the
same plate with that capability withheld, so every row takes the event
walker. On any input, chunking and pushdown, both sides must give the same
rows (compared by ``repr``, so ``1``, ``1.0`` and ``True`` differ), the same
``skipped_bytes_total`` and ``rows_skipped_total``, and the same error:
``ParseException`` message, offset, line and column, or any other
exception's type and text.
"""

from __future__ import annotations

import json
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import datasource as ds
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tectonic_spark.core import json_parser
from tectonic_spark.core.json_parser import JsonParser, Mode
from tectonic_spark.core.result import Failure, ParseException
from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters


class _WalkerPlate(PushdownPlate):
    def index_plan(self):
        return None


@pytest.fixture(autouse=True, scope="module")
def _index_small_inputs():
    """Index buffers of any size here, not only those that pay off."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(json_parser, "_INDEX_MIN_BYTES", 0)
        yield


SCHEMA = StructType([
    StructField("a", LongType()),
    StructField("b", StringType()),
    StructField("c", DoubleType()),
    StructField("d", BooleanType()),
    StructField("meta", StringType()),
])
KEYS = ["a", "b", "c", "d", "meta", "x", "y", 'q"t', "k\\", "é"]


def _run(cls, chunks: list[bytes], **kw):
    plate = cls(**kw)
    parser = JsonParser(plate, Mode.VALUE_STREAM)
    rows: list = []
    err = None
    try:
        for chunk in chunks:
            res = parser.absorb(chunk)
            if isinstance(res, Failure):
                break
            rows += res.value
        else:
            res = parser.finish()
            if not isinstance(res, Failure):
                rows += res.value
        if isinstance(res, Failure):
            err = res.error
    except Exception as e:  # noqa: BLE001 - any error must be the walker's too
        err = e
    if isinstance(err, ParseException):
        sig = ("ParseException", err.message, err.index, err.line, err.col)
    else:
        sig = None if err is None else (type(err).__name__, str(err))
    out = (repr(rows), parser.skipped_bytes_total, plate.rows_skipped_total, sig)
    return out, parser


def _same(data: bytes, cuts: list[int], **kw):
    """Both sides on ``data`` cut at ``cuts``; returns the index parser."""
    bounds = [0, *sorted(set(c for c in cuts if 0 < c < len(data))), len(data)]
    chunks = [data[a:b] for a, b in zip(bounds, bounds[1:])]
    want, _ = _run(_WalkerPlate, chunks, **kw)
    got, parser = _run(PushdownPlate, chunks, **kw)
    assert got == want
    return parser


# ---------------------------------------------------------------- generators

_CHARS = ['a', 'b', ' ', '"', '\\', 'é', '\u2028', '\U0001f600', '\n', ':', ',', '{', ']']


def _enc_str(s: str, rnd: random.Random) -> str:
    out = []
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ord(ch) > 0xFFFF:
            out.append(json.dumps(ch)[1:-1])  # a surrogate pair of \u escapes
        elif rnd.random() < 0.15:
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return '"' + "".join(out) + '"'


def _ws(rnd: random.Random) -> str:
    return rnd.choice(["", "", "", "", " ", "\n ", "\t", "\r\n"])


def _value(rnd: random.Random, depth: int = 0) -> str:
    kind = rnd.randrange(10 if depth < 2 else 7)
    if kind == 0:
        return str(rnd.randint(-5, 5))
    if kind == 1:
        return rnd.choice(["1.5", "-0.25", "2e3", "1E-2", "0", "-0", "7"])
    if kind == 2:
        return rnd.choice(["null", "true", "false"])
    if kind in (3, 4, 5):
        n = rnd.randint(0, 4)
        return _enc_str("".join(rnd.choice(_CHARS) for _ in range(n)), rnd)
    if kind == 6:
        return rnd.choice(["{}", "[]", "[ ]"])
    if kind == 7:
        items = [_value(rnd, depth + 1) for _ in range(rnd.randint(0, 3))]
        return "[" + ",".join(_ws(rnd) + v + _ws(rnd) for v in items) + "]"
    n = rnd.randint(0, 3)
    members = [
        _ws(rnd) + _enc_str(rnd.choice(["a", "b", "leaf", "z"]), rnd) + _ws(rnd) + ":"
        + _ws(rnd) + _value(rnd, depth + 1) + _ws(rnd)
        for _ in range(n)
    ]
    return "{" + ",".join(members) + "}"


def _row(rnd: random.Random, order: list[str]) -> str:
    if rnd.random() < 0.05:  # a non-object row
        return rnd.choice(["[1,2]", "5", '"s"', "null", "[{\"a\":1}]", "-3.5"])
    keys = list(order)
    r = rnd.random()
    if r < 0.1:
        rnd.shuffle(keys)
    elif r < 0.15 and keys:
        keys.remove(rnd.choice(keys))
    elif r < 0.2 and keys:
        keys.insert(rnd.randrange(len(keys) + 1), rnd.choice(keys))  # duplicate
    members = []
    for k in keys:
        v = _value(rnd)
        if k == "meta" and rnd.random() < 0.6:
            v = '{"a":{"b":{"c":{"leaf":%d,"s":"x"}},"w":[1]},"z":1}' % rnd.randint(0, 9)
        members.append(
            _ws(rnd) + _enc_str(k, rnd) + _ws(rnd) + ":" + _ws(rnd) + v + _ws(rnd)
        )
    return "{" + ",".join(members) + "}"


def _mutate(doc: str, rnd: random.Random) -> str:
    data = list(doc)
    for _ in range(rnd.randint(1, 2)):
        if not data:
            break
        i = rnd.randrange(len(data))
        op = rnd.randrange(3)
        if op == 0:
            del data[i]
        elif op == 1:
            data.insert(i, rnd.choice([":", ",", "{", "}", "]", '"', "\\", "x", " ", "1"]))
        else:
            data[i] = rnd.choice([":", ",", "x", '"', "}"])
    return "".join(data)


def _doc(seed: int, n_rows: int, mutate: bool, misspeculate: bool) -> bytes:
    rnd = random.Random(seed)
    order = rnd.sample(KEYS, rnd.randint(2, 7))
    rows = [_row(rnd, order) for _ in range(n_rows)]
    if misspeculate and rows:
        first = list(order)
        rnd.shuffle(first)
        rows[0] = "{" + ",".join(_enc_str(k, rnd) + ":" + _value(rnd) for k in first) + "}"
    sep = rnd.choice(["\n", "\n", " ", "", "\r\n", "\n\n"])
    doc = sep.join(rows) + rnd.choice(["\n", "", " "])
    if mutate:
        doc = _mutate(doc, rnd)
    return doc.encode("utf-8", "surrogatepass")


_FILTERS = {
    "eq": lambda c, v: ds.EqualTo((c,), v),
    "ens": lambda c, v: ds.EqualNullSafe((c,), v),
    "gt": lambda c, v: ds.GreaterThan((c,), v),
    "ge": lambda c, v: ds.GreaterThanOrEqual((c,), v),
    "lt": lambda c, v: ds.LessThan((c,), v),
    "le": lambda c, v: ds.LessThanOrEqual((c,), v),
    "in": lambda c, v: ds.In((c,), (v, 1, "a")),
    "nn": lambda c, v: ds.IsNotNull((c,)),
    "nu": lambda c, v: ds.IsNull((c,)),
    "sw": lambda c, v: ds.StringStartsWith((c,), "a"),
    "ew": lambda c, v: ds.StringEndsWith((c,), "b"),
    "ct": lambda c, v: ds.StringContains((c,), "a"),
}

_PATHS = [("a",), ("b",), ("c",), ("d",), ("meta",), ("meta", "a", "b", "c", "leaf"), ("x",)]

plans = st.fixed_dictionaries({
    "filters": st.lists(
        st.tuples(
            st.sampled_from(sorted(_FILTERS)),
            st.sampled_from(["a", "b", "c", "d"]),
            st.sampled_from([0, 2, -1, 1.5, "a", "ab", True, None]),
        ),
        max_size=2,
    ),
    "required": st.one_of(
        st.none(), st.sets(st.sampled_from(["a", "b", "c", "d", "meta", "x"]), max_size=3)
    ),
    "paths": st.one_of(st.none(), st.sets(st.sampled_from(_PATHS), min_size=1, max_size=3)),
})


def _plate_kw(plan: dict) -> dict:
    filters = [_FILTERS[k](c, v) for k, c, v in plan["filters"] if not (k == "in" and v is None)]
    tests = compile_filters(filters, SCHEMA)
    kw: dict = {"tests": tests}
    if plan["paths"] is not None:
        kw["required_paths"] = set(plan["paths"])
    else:
        kw["required"] = plan["required"]
    return kw


@settings(max_examples=400, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(0, 2**32),
    st.integers(0, 12),
    st.booleans(),
    st.booleans(),
    plans,
    st.lists(st.integers(0, 4000), max_size=4),
)
def test_index_equals_walker(seed, n_rows, mutate, misspeculate, plan, cuts):
    data = _doc(seed, n_rows, mutate, misspeculate)
    _same(data, cuts, **_plate_kw(plan))


@settings(max_examples=150, deadline=None)
@given(st.integers(0, 2**32), plans, st.lists(st.integers(0, 60000), max_size=3))
@example(  # rows that pass must still be read whole when a filter column is absent
    seed=893668475,
    plan={"filters": [("ct", "a", 0), ("ct", "c", 0)], "required": None, "paths": None},
    cuts=[],
)
def test_index_equals_walker_on_long_streams(seed, plan, cuts):
    """Many rows of one key order, so most rows are index-decided."""
    data = _doc(seed, 300, False, seed % 3 == 0)
    _same(data, cuts, **_plate_kw(plan))


# ------------------------------------------------------------- hand-picked


@pytest.mark.parametrize("doc", [
    b'{"a":1,"b":"x\\\\"}\n{"a":2,"b":"\\\\\\"q"}\n{"a":3,"b":"\\"}"}\n',
    b'{"a":1}\n{"a":\\"x"}\n{"a":3}\n',  # a backslash outside a string
    b'{"a":1}}\n{"a":2}\n',  # a closer at depth 0
    b'{"b":"k", "a":5}{"a":6,"b":"k"} 7 "s" {"a":8,"b":"k"}\n',
    b'{"a":1,"b":"k",}\n',
    b'{"a":1 "b":"k"}\n',
    b'{"a":1,"b":"k"]\n',
    b'{"a":01,"b":"k"}\n',
    b'{"a":1,"b":"k" "x"}\n',
    b'{"a":1,"b":[1,2}\n',
    b'{"a":1,"b":"\xff"}\n',
    b'{"\xff":1,"b":"k"}\n',
    b'{"a":1,"a":2,"b":"k"}\n',
    b'{"a":1,"b":"k","c":2}\n{"a":1,"b":"k","b":"z"}\n{"a":1,"b":"k","a":{"b":"z"}}\n',
    b'{"x":,"a":1,"b":"k"}\n{"x": ab ,"a":1,"b":"k"}\n{"x": a b,"a":1,"b":"k"}\n',
    b'{"a":NaN,"b":"k"}\n',
    b'{"a":1,"b":"k"}\n{"a":1,"b":"k"',
    b'{"a":1,"b":"k","c":2}\n{"a":2,"b" x :"k","c":2}\n{"a":2,"b":"k" ,"c" ;:2}\n',
    # regions longer than 64 bytes: whitespace, atoms, gaps between rows
    b'{"x":1,"a":1,"b":"k"}' + b" " * 70 + b'\n{"x":' + b"9" * 70 + b',"a":' + b" " * 80
    + b'1,"b":"k"}\n{"x":' + b"1" * 40 + b" " + b"2" * 40 + b',"a":1,"b":"k"}\n',
    b'{"x":1,"a":1,"b":"k"}\n{"x":' + b" " * 30 + b"7" * 50 + b" " * 30 + b',"a":1,"b":"k"}'
    + b"\n" * 70 + b'{"x":1,"a"' + b" " * 66 + b':1,"b":"k"}\n{"x":1,"a"' + b" " * 66 + b'x:1,"b":"k"}',
])
@pytest.mark.parametrize("kw", [
    {"required": {"a"}},
    {"required": {"b"}},
    {"required": {"a", "b"}, "tests": compile_filters([ds.GreaterThan(("a",), 0)], SCHEMA)},
    {"tests": compile_filters([ds.EqualTo(("b",), "k")], SCHEMA)},
    {"required": set()},
])
def test_index_equals_walker_on_edge_cases(doc, kw):
    for cuts in ([], [len(doc) // 2], list(range(1, len(doc), 7))):
        _same(doc, cuts, **kw)


def test_misspeculated_first_row_is_recovered():
    """Row 1's key order differs from every other row: the index learns a
    second order and still decides every row."""
    rows = [{"b": "k", "a": 0, "c": 1.5}] + [{"a": i, "b": "k", "c": 0.5} for i in range(1, 200)]
    data = "".join(json.dumps(r) + "\n" for r in rows).encode()
    tests = compile_filters([ds.GreaterThan(("a",), 100)], SCHEMA)
    parser = _same(data, [], required={"a"}, tests=tests)
    assert parser.rows_walked == 0
    assert parser.rows_indexed == 200


def _wide_rows(n: int) -> tuple[bytes, list[dict]]:
    """NDJSON shaped like the benchmark's wide corpus (perfbench/gen.py),
    and its rows."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    rnd = random.Random(11)
    rows = [gen._wide_row(rnd, i) for i in range(n)]
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode(), rows


def test_wide_projection_with_filter_is_all_indexed():
    data, rows = _wide_rows(2000)
    schema = StructType([StructField("i05", LongType())])
    tests = compile_filters([ds.GreaterThan(("i05",), 900_000)], schema)
    parser = _same(data, [], required={"i05"}, tests=tests)
    assert (parser.rows_indexed, parser.rows_walked) == (len(rows), 0)
    # a chunk cut inside a row leaves that one row to the walker
    parser = _same(data, [len(data) // 3], required={"i05"}, tests=tests)
    assert (parser.rows_indexed, parser.rows_walked) == (len(rows) - 1, 1)


def test_wide_nested_leaf_walks_only_the_survivors():
    data, rows = _wide_rows(2000)
    schema = StructType([StructField("cat", StringType())])
    tests = compile_filters([ds.EqualTo(("cat",), "k03")], schema)
    paths = {("cat",), ("meta", "a", "b", "c", "leaf")}
    parser = _same(data, [], tests=tests, required_paths=paths)
    survivors = sum(r["cat"] == "k03" for r in rows)
    assert 0 < survivors < len(rows) // 20
    # every dropped row is index-decided; a kept row needs the nested path
    assert parser.rows_walked == survivors
    assert parser.rows_indexed == len(rows) - survivors
