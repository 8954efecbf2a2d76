"""Raw-skip kernels of the JSON parser (``_scan_close`` / ``_string_end``).

The regex kernels must agree exactly with the per-string loops they
replaced, kept below as the oracle: same end index, or ``_Incomplete`` in
the same cases, for any byte string cut at any point. Skipping one huge
projected-away value must take linear time and bounded memory.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

from hypothesis import example, given, settings
from hypothesis import strategies as st

from tectonic_spark.core import ReifiedPlate
from tectonic_spark.core.json_parser import JsonParser, _Incomplete


def _oracle_string_end(buf: bytes, i: int) -> int:
    j = i + 1
    while True:
        k = buf.find(b'"', j)
        if k < 0:
            raise _Incomplete
        n = 0
        b = k - 1
        while buf[b] == 0x5C:
            n += 1
            b -= 1
        if n % 2 == 0:
            return k + 1
        j = k + 1


_STRUCT_RE = re.compile(rb'["{}\[\]]')


def _oracle_scan_close(buf: bytes, j: int, depth: int) -> int:
    while depth:
        m = _STRUCT_RE.search(buf, j)
        if m is None:
            raise _Incomplete
        k = m.start()
        b = buf[k]
        if b == 0x22:
            j = _oracle_string_end(buf, k)
        elif b in (0x7B, 0x5B):
            depth += 1
            j = k + 1
        else:
            depth -= 1
            j = k + 1
    return j


def _outcome(fn, *args):
    try:
        return fn(*args)
    except _Incomplete:
        return "incomplete"


def _parser(buf: bytes) -> JsonParser:
    p = JsonParser(ReifiedPlate())
    p._buf = buf
    return p


_bytes = st.lists(st.sampled_from(list(b'" \\{}[]a,:\n')), max_size=60).map(bytes)


@settings(max_examples=400, deadline=None)
@given(data=_bytes, cut=st.integers(0, 60))
@example(data=b'"a\\\\\\"b"', cut=60)  # backslash run before the closing quote
@example(data=b'"a\\"', cut=4)  # escaped quote at the end of the chunk
@example(data=b'{"}]"]', cut=60)  # brackets inside a string
@example(data=b'["a, {', cut=60)  # unterminated string
@example(data=b'"\\\\"}', cut=60)  # even backslash run closes the string
def test_kernels_match_oracle(data, cut):
    buf = data[:cut]
    p = _parser(buf)
    for i, c in enumerate(buf):
        if c == 0x22:
            assert _outcome(p._string_end, i) == _outcome(_oracle_string_end, buf, i)
    for j in range(len(buf) + 1):
        for depth in (1, 2, 3):
            assert _outcome(p._scan_close, j, depth) == _outcome(
                _oracle_scan_close, buf, j, depth
            ), (buf, j, depth)


_SKIP_SCRIPT = textwrap.dedent(
    """
    import json, resource, sys, time
    from tectonic_spark.core.json_parser import JsonParser, Mode
    from tectonic_spark.sources.pushdown import PushdownPlate

    def row(mb):
        # one long string, then objects whose strings hold escaped quotes,
        # even backslash runs and brackets
        text = 'lorem \\"ipsum]{ dolor\\\\ sit [amet} ' * 5
        item = json.dumps({"w": text, "n": [1, 2.5, "[["]})
        n = mb * 1_000_000 // (len(item) + len(json.dumps(text)))
        value = "[%s, %s]" % (json.dumps(text * n), ", ".join([item] * n))
        return ('{"keep": 1, "drop": %s, "tail": "t"}\\n' % value).encode()

    def skip(data, chunk=None):
        p = JsonParser(PushdownPlate(required={"keep", "tail"}), Mode.VALUE_STREAM)
        chunk = chunk or len(data)
        t0 = time.perf_counter()
        out = []
        for i in range(0, len(data), chunk):
            out += p.absorb(data[i : i + chunk]).value
        out += p.finish().value
        dt = time.perf_counter() - t0
        assert out == [{"keep": 1, "tail": "t"}], out
        return dt, p.skipped_bytes_total

    def rss_mb():
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    small, big = row(8), row(32)
    t_small = min(skip(small)[0] for _ in range(2))
    rss0 = rss_mb()
    t_big, skipped = skip(big)
    rss1 = rss_mb()
    # the same row fed in 4 MiB chunks: the skip scans on across each cut
    t_chunked, skipped_chunked = skip(big, 4 << 20)
    rss2 = rss_mb()
    print(json.dumps({
        "bytes": len(big), "skipped": skipped, "t_small": t_small,
        "t_big": t_big, "rss_growth_mb": rss1 - rss0,
        "t_chunked": t_chunked, "skipped_chunked": skipped_chunked,
        "rss_growth_chunked_mb": rss2 - rss0,
    }))
    """
)


def test_skip_huge_value_linear_time_bounded_memory():
    """One ~32 MB projected-away value is skipped in linear time, and the
    skip allocates no memory in proportion to it (a backtracking regex
    needs gigabytes here), whether it arrives whole or in 4 MiB chunks.
    Runs in a child so peak RSS is its own."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _SKIP_SCRIPT],
        capture_output=True, text=True, timeout=280,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert res.returncode == 0, res.stderr[-3000:]
    r = json.loads(res.stdout)
    assert r["bytes"] > 31_000_000
    assert r["skipped"] > r["bytes"] - 100
    # 4x the bytes: linear is ~4x the time, quadratic 16x
    assert r["t_big"] < 8 * r["t_small"] + 0.5, r
    assert r["rss_growth_mb"] < 64, r
    assert r["skipped_chunked"] == r["skipped"]
    assert r["t_chunked"] < 8 * r["t_small"] + 0.5, r
    assert r["rss_growth_chunked_mb"] < 64, r
