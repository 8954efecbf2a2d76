"""Registry contract tests: every declared query analyzes cleanly, aliases
are consistent, and the driver entry points work."""

from __future__ import annotations

import pytest

import tectonic_spark.operators as ops


def test_registry_nonempty():
    assert len(ops.REGISTRY) >= 30


def test_oracle_coverage():
    # the vast majority of queries must carry a DuckDB oracle
    with_oracle = [q for q in ops.REGISTRY.values() if q.oracle is not None]
    assert len(with_oracle) >= 0.8 * len(ops.REGISTRY)


def test_driver_contract_shape():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert set(sqls) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in sqls.values())


@pytest.mark.parametrize("name", sorted(ops.REGISTRY))
def test_query_analyzes(spark, sf_dir, name):
    """Each builder returns a DataFrame with a resolved, non-empty schema.
    Building is not free: many builders generate their fixtures first, and
    the 19 streaming builders (s01-s19) run their whole stream at sf0.001
    before they return the sink."""
    df = ops.REGISTRY[name].builder(spark, sf_dir)
    assert len(df.schema.fields) > 0


def test_entry_runs(spark):
    import __spark_entry__ as entrymod

    rows = entrymod.entry(spark).collect()
    assert len(rows) >= 0


def _window_tool():
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "oracle_window.py"
    spec = importlib.util.spec_from_file_location("oracle_window", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool, tool.Package(), tool.builders(ops.REGISTRY)


def test_priority_is_the_head_of_the_registry():
    from tectonic_spark.operators.registry import PRIORITY

    assert list(ops.REGISTRY)[: len(PRIORITY)] == list(PRIORITY)
    assert len(set(PRIORITY)) == len(PRIORITY) <= 50
    assert set(PRIORITY) <= set(ops.REGISTRY)


def test_window_tool_reads_the_registration_order():
    """``registered()`` in a fresh interpreter lists every query, and the
    driver's registry (a fresh import) keeps that order after PRIORITY."""
    import json
    import pathlib
    import subprocess
    import sys

    from tectonic_spark.operators.registry import PRIORITY

    tools = pathlib.Path(__file__).resolve().parents[1] / "tools"
    codes = [
        f"import sys; sys.path.insert(0, {str(tools)!r}); import json, oracle_window as w; "
        "print(json.dumps(list(w.registered())))",
        "import json, tectonic_spark.operators as o; print(json.dumps(list(o.REGISTRY)))",
    ]
    order, driver = (
        json.loads(subprocess.check_output([sys.executable, "-c", c], text=True, cwd=tools.parent))
        for c in codes
    )
    assert sorted(order) == sorted(driver) == sorted(ops.REGISTRY)
    assert [n for n in order if n not in PRIORITY] == driver[len(PRIORITY) :]


def test_window_leads_with_the_queries_a_change_reaches():
    tool, pkg, builders = _window_tool()
    order = list(builders)
    green = {n: 14 for n in order}

    streams = {n for n in order if n[0] == "s" and n[1:3].isdigit()}
    touched = pkg.touched(builders, {("tectonic_spark.operators.parser_ops", "_stream_into")})
    assert len(streams) == 19 and touched == streams
    assert set(tool.window(order, touched, green)[:19]) == streams

    per_doc = pkg.touched(builders, {("tectonic_spark.tables", "map_documents")})
    assert len(per_doc) == 34 and {n[:3] for n in per_doc} >= {"m09", "m40", "c03"}
    assert set(tool.window(order, per_doc, green)[:34]) == per_doc

    assert pkg.touched(builders, {("tectonic_spark.operators.registry", "PRIORITY")}) == set()


def test_window_ranks_a_query_with_no_green_row_oldest():
    tool, _, builders = _window_tool()
    order = list(builders)
    a, b, c = order[0], order[1], order[-1]
    green = {n: 14 for n in order if n != c} | {b: 3}
    assert tool.window(order, {a, b, c}, green)[:3] == [c, b, a]
    assert tool.window(order, {a}, green, size=3) == [a, c, b]
    assert tool.window(order, set(), green, size=3) == [c, b, a]
    rows = tool.last_green()
    assert rows and all(isinstance(r, int) and r >= 1 for r in rows.values())


def test_window_tool_maps_diff_hunks_to_top_level_names():
    _, pkg, _ = _window_tool()
    ops_mod, reg_mod = "tectonic_spark.operators.parser_ops", "tectonic_spark.operators.registry"
    (stream_into,) = pkg.defs[ops_mod]["_stream_into"]
    (priority,) = pkg.defs[reg_mod]["PRIORITY"]
    diff = (
        "+++ b/tectonic_spark/operators/parser_ops.py\n"
        f"@@ -1,0 +{stream_into.lineno + 2},1 @@\n"
        "+++ b/tectonic_spark/operators/registry.py\n"
        f"@@ -5,3 +{priority.end_lineno},0 @@\n"
        "+++ b/README.md\n"
        "@@ -1 +1 @@\n"
    )
    assert pkg.changed(diff) == {(ops_mod, "_stream_into"), (reg_mod, "PRIORITY")}


def _poll_loop_problems(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that wait by ``time.sleep`` or start a stream
    writer whose query never reaches ``_run_stream``. A started query
    reaches it when the ``.start()`` call is its argument, or is assigned
    to a name that the same function passes to it."""
    import ast

    tree = ast.parse(source, filename)
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}

    def is_run_stream(n) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "_run_stream"
        )

    def on_stream_writer(n) -> bool:
        while isinstance(n, (ast.Call, ast.Attribute)):
            if isinstance(n, ast.Attribute) and n.attr == "writeStream":
                return True
            n = n.func if isinstance(n, ast.Call) else n.value
        return False

    problems = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "time":
            if any(a.name == "sleep" for a in node.names):
                problems.append(f"{filename}:{node.lineno}: imports time.sleep")
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        fn = node.func
        if fn.attr == "sleep" and isinstance(fn.value, ast.Name) and fn.value.id == "time":
            problems.append(f"{filename}:{node.lineno}: time.sleep")
        if fn.attr != "start" or not on_stream_writer(fn.value):
            continue
        parent = parents[node]
        if is_run_stream(parent):
            continue
        scope = parent
        while not isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
            scope = parents[scope]
        if (
            isinstance(parent, ast.Assign)
            and len(parent.targets) == 1
            and isinstance(parent.targets[0], ast.Name)
            and any(
                is_run_stream(c)
                and any(isinstance(a, ast.Name) and a.id == parent.targets[0].id for a in c.args)
                for c in ast.walk(scope)
            )
        ):
            continue
        problems.append(f"{filename}:{node.lineno}: stream started outside _run_stream")
    return problems


def test_poll_loop_scan_flags_a_hand_written_loop():
    bad = (
        "import time\n"
        "def s(df, out):\n"
        "    q = df.writeStream.format('parquet').start(out)\n"
        "    while q.isActive:\n"
        "        time.sleep(0.5)\n"
        "    df.writeStream.foreachBatch(print).start()\n"
    )
    good = (
        "def s(df, out):\n"
        "    q = df.writeStream.format('parquet').start(out)\n"
        "    _run_stream(q)\n"
        "    _run_stream(df.writeStream.foreachBatch(print).start())\n"
        "    return re.match('a', out).start()\n"
    )
    assert sorted(_poll_loop_problems(bad, "bad.py")) == [
        "bad.py:3: stream started outside _run_stream",
        "bad.py:5: time.sleep",
        "bad.py:6: stream started outside _run_stream",
    ]
    assert _poll_loop_problems(good, "good.py") == []


def test_operators_run_streams_only_through_run_stream():
    """Every streaming builder drives its query through the one
    run-to-completion helper; hand-written poll loops stay gone."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _poll_loop_problems(path.read_text(), path.name)
    assert problems == []


def _stream_sink_problems(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that set up a stream's sink, by ``writeStream``
    or a ``"checkpointLocation"`` option, outside ``_stream_into``."""
    import ast

    problems = []

    def visit(node, inside: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, inside or child.name == "_stream_into")
                continue
            if not inside and (
                (isinstance(child, ast.Attribute) and child.attr == "writeStream")
                or (isinstance(child, ast.Constant) and child.value == "checkpointLocation")
            ):
                problems.append(f"{filename}:{child.lineno}: stream sink outside _stream_into")
            visit(child, inside)

    visit(ast.parse(source, filename), False)
    return problems


def test_stream_sink_scan_flags_a_copy():
    bad = (
        "def s(stream, ck):\n"
        "    q = (stream.writeStream.format('parquet')\n"
        "         .option('checkpointLocation', ck).start())\n"
        "    _run_stream(q)\n"
    )
    good = (
        "def _stream_into(stream, sf_dir, name):\n"
        "    def fresh(d):\n"
        "        return d\n"
        "    w = stream.writeStream.option('checkpointLocation', fresh(name))\n"
        "    return _run_stream(w.start())\n"
        "def s(spark, sf_dir):\n"
        "    return _stream_into(spark.readStream.load(sf_dir), sf_dir, 's')\n"
    )
    assert _stream_sink_problems(bad, "bad.py") == [
        "bad.py:2: stream sink outside _stream_into",
        "bad.py:3: stream sink outside _stream_into",
    ]
    assert _stream_sink_problems(good, "good.py") == []


def test_operators_sink_streams_only_through_stream_into():
    """Every streaming builder gets its checkpoint, trigger and sink from
    the one helper."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _stream_sink_problems(path.read_text(), path.name)
    assert problems == []


# calls that only build a path from their arguments; any other call (such
# as parser_ops' ``_fixture_dir(sf_dir)``) names a directory of its own
_PATH_BUILDERS = {"join", "format", "str", "fspath", "abspath", "Path"}


def _uncached_table_reads(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that call ``<...>.read<...>.parquet(path)`` with a
    path built from ``sf_dir``, directly or through local names, instead of
    loading the table through ``tables.table`` (whose schema cache such a
    read would bypass)."""
    import ast

    tree = ast.parse(source, filename)
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}

    def on_reader(n) -> bool:
        while isinstance(n, (ast.Call, ast.Attribute)):
            if isinstance(n, ast.Attribute) and n.attr == "read":
                return True
            n = n.func if isinstance(n, ast.Call) else n.value
        return False

    def from_sf_dir(n, assigned: dict, seen: frozenset = frozenset()) -> bool:
        if isinstance(n, ast.Name):
            if n.id == "sf_dir":
                return True
            if n.id in seen:
                return False
            return any(
                from_sf_dir(v, assigned, seen | {n.id}) for v in assigned.get(n.id, ())
            )
        if isinstance(n, ast.Call):
            fn = n.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name not in _PATH_BUILDERS:
                return False
        return any(from_sf_dir(c, assigned, seen) for c in ast.iter_child_nodes(n))

    problems = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and on_reader(node.func.value)
        ):
            continue
        # names assigned in the enclosing functions (closures see them too)
        assigned: dict[str, list] = {}
        scope = parents.get(node)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(scope):
                    if isinstance(n, ast.Assign):
                        for t in n.targets:
                            if isinstance(t, ast.Name):
                                assigned.setdefault(t.id, []).append(n.value)
            scope = parents.get(scope)
        if any(from_sf_dir(a, assigned) for a in node.args):
            problems.append(f"{filename}:{node.lineno}: parquet read of sf_dir")
    return problems


def test_table_read_scan_flags_a_bypassing_read():
    bad = (
        "def a(spark, sf_dir):\n"
        "    return spark.read.parquet(os.path.join(sf_dir, 'orders.parquet'))\n"
        "def b(spark, sf_dir):\n"
        "    path = f'{sf_dir}/lineitem.parquet'\n"
        "    p = path\n"
        "    return spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "def c(spark, sf_dir):\n"
        "    base = sf_dir\n"
        "    def inner(df):\n"
        "        return df.sparkSession.read.schema(s).parquet(base + '/part.parquet')\n"
        "    return inner\n"
    )
    good = (
        "def g(spark, sf_dir, df):\n"
        "    out = os.path.join(_fixture_dir(sf_dir), 'sink')\n"
        "    df.write.parquet(os.path.join(sf_dir, 'copy'))\n"
        "    return spark.read.parquet(out)\n"
        "def h(spark, sf_dir):\n"
        "    return table(spark, sf_dir, 'orders')\n"
        "def k(spark, sf_dir):\n"
        "    path = os.path.join(sf_dir, 'orders.parquet')\n"
        "    return duckdb.sql(f\"SELECT * FROM '{path}'\")\n"
        "def m(spark, out):\n"
        "    path = out\n"
        "    return spark.read.parquet(path)\n"
    )
    assert _uncached_table_reads(bad, "bad.py") == [
        "bad.py:2: parquet read of sf_dir",
        "bad.py:6: parquet read of sf_dir",
        "bad.py:10: parquet read of sf_dir",
    ]
    assert _uncached_table_reads(good, "good.py") == []


def test_operators_read_tables_only_through_table():
    """Every test table loads through ``tables.table``, so its schema comes
    from the driver-side cache; parser_ops still reads back the sinks it
    just wrote."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _uncached_table_reads(path.read_text(), path.name)
    assert problems == []


# the ranged-read primitives of the zipnum format; operators read an index
# or its members through cdxj.py's helpers (read_blocks, index_lines,
# candidate_blocks, shard_records), never by calling these directly
_ZIPNUM_PRIMITIVES = {"fetch_member", "zipnum_block_range", "multi_zipnum_blocks"}


def _zipnum_primitive_calls(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that call a zipnum ranged-read primitive, by bare
    name or as an attribute, at any nesting depth (closures included)."""
    import ast

    problems = []
    for node in ast.walk(ast.parse(source, filename)):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name in _ZIPNUM_PRIMITIVES:
            problems.append((node.lineno, f"{filename}:{node.lineno}: {name}"))
    return [p for _line, p in sorted(problems)]


def test_zipnum_primitive_scan_flags_a_direct_call():
    bad = (
        "def q(spark, idx):\n"
        "    def fetch_blocks(batches):\n"
        "        from tectonic_spark.operators.cdxj import fetch_member\n"
        "        for pdf in batches:\n"
        "            yield fetch_member(f, 0, 10)\n"
        "    lo, hi = cdxj.zipnum_block_range(keys, 'k')\n"
        "    return multi_zipnum_blocks(by_file, 'k')\n"
    )
    good = (
        "from tectonic_spark.operators.cdxj import fetch_member\n"
        "def q(spark, idx):\n"
        "    def fetch_blocks(batches):\n"
        "        from tectonic_spark.operators.cdxj import read_blocks\n"
        "        for pdf in batches:\n"
        "            yield read_blocks(idx, pdf.itertuples(index=False))\n"
        "    return candidate_blocks(by_file, ['fetch_member'])\n"
    )
    assert _zipnum_primitive_calls(bad, "bad.py") == [
        "bad.py:5: fetch_member",
        "bad.py:6: zipnum_block_range",
        "bad.py:7: multi_zipnum_blocks",
    ]
    assert _zipnum_primitive_calls(good, "good.py") == []


def test_operators_read_zipnum_only_through_cdxj():
    """One ZipNum read path: outside cdxj.py no operator module ranged-reads
    an index block or WARC member, or runs the block ladder, itself."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        if path.name != "cdxj.py":
            problems += _zipnum_primitive_calls(path.read_text(), path.name)
    assert problems == []


# the one WARC member fetch: only cdxj.shard_records ranged-reads members
# (through shard_members) and parses them; every member fetch goes through
# it or through parser_ops._fetched_docs, which verifies what it returns
_MEMBER_FETCH_HELPERS = {"shard_records"}


def _shard_member_calls(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that call ``shard_members`` outside the
    record-level fetch helper, by bare name or as an attribute, at any
    nesting depth (closures included)."""
    import ast

    tree = ast.parse(source, filename)
    inside = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name in _MEMBER_FETCH_HELPERS
        for n in ast.walk(f)
    }
    problems = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in inside:
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "shard_members":
            problems.append((node.lineno, f"{filename}:{node.lineno}: shard_members"))
    return [p for _line, p in sorted(problems)]


def test_member_fetch_scan_flags_a_copy():
    bad = (
        "def q(spark, src):\n"
        "    def fetch_docs(batches):\n"
        "        from tectonic_spark.operators.cdxj import shard_members\n"
        "        for pdf in batches:\n"
        "            for r, member in shard_members(pdf.itertuples(), path):\n"
        "                (rec,) = parse_warc(member)\n"
        "    return cdxj.shard_members(rows, path)\n"
    )
    good = (
        "def shard_records(rows, shard_path):\n"
        "    for r, member in shard_members(rows, shard_path):\n"
        "        yield r, parse_warc(member)[0]\n"
        "def q(spark, src):\n"
        "    fetch_docs = _member_kernel(_fetched_docs, path, _member_row, cols)\n"
        "    return 'shard_members'\n"
    )
    assert _shard_member_calls(bad, "bad.py") == [
        "bad.py:5: shard_members",
        "bad.py:7: shard_members",
    ]
    assert _shard_member_calls(good, "good.py") == []


def test_operators_fetch_members_only_through_shard_records():
    """One WARC member fetch: no operator module ranged-reads a member and
    parses it by hand; every fetch goes through ``cdxj.shard_records``."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _shard_member_calls(path.read_text(), path.name)
    assert problems == []


_DOC_KERNEL_HELPERS = {"map_documents"}


def _doc_kernel_copies(source: str, filename: str) -> list[str]:
    """Functions of ``source`` that copy the per-document kernel by hand:
    each selects ``documents`` by ``doc_id %``, spreads the scan with
    ``spread_small_scan`` and runs ``mapInPandas`` itself, instead of
    calling ``tables.map_documents``. One line per outermost such function,
    at any nesting depth."""
    import ast

    def calls(node: ast.AST, name: str) -> bool:
        fn = getattr(node, "func", None)
        got = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        return isinstance(node, ast.Call) and got == name

    def doc_id_mod(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Mod)
            and any(
                isinstance(c, ast.Constant) and c.value == "doc_id"
                for c in ast.walk(node.left)
            )
        )

    tree = ast.parse(source, filename)
    inside: set[int] = set()
    problems = []
    for f in ast.walk(tree):
        if not isinstance(f, ast.FunctionDef) or id(f) in inside:
            continue
        if f.name in _DOC_KERNEL_HELPERS:
            continue
        nodes = list(ast.walk(f))
        if (
            any(doc_id_mod(n) for n in nodes)
            and any(calls(n, "spread_small_scan") for n in nodes)
            and any(calls(n, "mapInPandas") for n in nodes)
        ):
            inside.update(id(n) for n in nodes)
            problems.append((f.lineno, f"{filename}:{f.lineno}: {f.name}"))
    return [p for _line, p in sorted(problems)]


def test_doc_kernel_scan_flags_a_copy():
    # m19_tiff_decode as it was before map_documents, fixture builder elided
    bad = (
        "def m19_tiff_decode(spark, sf_dir: str) -> DataFrame:\n"
        "    import numpy as np\n"
        "\n"
        "    docs = (\n"
        "        table(spark, sf_dir, 'documents')\n"
        "        .select('doc_id')\n"
        "        .where(F.col('doc_id') % 47 == 17)\n"
        "    )\n"
        "    docs = spread_small_scan(docs, spark, 'doc_id')\n"
        "    schema = StructType([StructField('doc_id', LongType(), True)])\n"
        "\n"
        "    def walk(batches):\n"
        "        from tectonic_spark.operators.tiff import decode_tiff\n"
        "\n"
        "        rows = []\n"
        "        for pdf in batches:\n"
        "            for doc_id in pdf['doc_id']:\n"
        "                d = int(doc_id)\n"
        "                px = decode_tiff(tiff_payload(d))\n"
        "                rows.append((d,))\n"
        "        yield pd.DataFrame(rows, columns=['doc_id'])\n"
        "\n"
        "    return docs.mapInPandas(walk, schema)\n"
    )
    good = (
        "def map_documents(spark, sf_dir, m, r, schema, fn, *cols):\n"
        "    docs = table(spark, sf_dir, 'documents').where(F.col('doc_id') % m == r)\n"
        "    docs = spread_small_scan(docs, spark, 'doc_id')\n"
        "    return docs.mapInPandas(kernel, schema)\n"
        "def m19_tiff_decode(spark, sf_dir):\n"
        "    def walk(d):\n"
        "        return (d,)\n"
        "    return map_documents(spark, sf_dir, 47, 17, schema, walk)\n"
        "def m08_jpeg_decode(spark, sf_dir):\n"
        "    docs = table(spark, sf_dir, 'documents').where(F.col('doc_id') % 3 == 0)\n"
        "    return m08_decode_kernel(spread_small_scan(docs, spark, 'doc_id'))\n"
    )
    assert _doc_kernel_copies(bad, "bad.py") == ["bad.py:1: m19_tiff_decode"]
    assert _doc_kernel_copies(good, "good.py") == []


def test_per_document_kernels_go_through_map_documents():
    """One per-document kernel: no operator selects ``documents`` by
    ``doc_id %`` and spreads and maps the scan by hand; every such query
    calls ``tables.map_documents``."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _doc_kernel_copies(path.read_text(), path.name)
    assert problems == []


def _session_builders(source: str, filename: str) -> list[str]:
    """Lines of ``source`` that reach ``SparkSession.builder``, directly, as
    ``pyspark.sql.SparkSession.builder`` or through an imported alias."""
    import ast

    tree = ast.parse(source, filename)
    names = {"SparkSession"} | {
        a.asname
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.name == "SparkSession" and a.asname
    }
    problems = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "builder":
            v = node.value
            name = v.attr if isinstance(v, ast.Attribute) else getattr(v, "id", None)
            if name in names:
                problems.append((node.lineno, f"{filename}:{node.lineno}: {name}.builder"))
    return [p for _line, p in sorted(problems)]


def test_session_builder_scan_flags_a_direct_builder():
    bad = (
        "from pyspark.sql import SparkSession\n"
        "from pyspark.sql import SparkSession as SS\n"
        "import pyspark\n"
        "def main():\n"
        "    spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "    b = SS.builder\n"
        "    return pyspark.sql.SparkSession.builder.getOrCreate()\n"
    )
    good = (
        "from tectonic_spark import get_spark\n"
        "def main(spark):\n"
        "    df = REGISTRY['b01_project_compute'].builder(spark, sf_dir)\n"
        "    return get_spark(app_name='x', extra_conf={'k': 'v'})\n"
    )
    assert _session_builders(bad, "bad.py") == [
        "bad.py:5: SparkSession.builder",
        "bad.py:6: SS.builder",
        "bad.py:7: SparkSession.builder",
    ]
    assert _session_builders(good, "good.py") == []


def test_sessions_start_only_through_get_spark():
    """Every session the package, its tools and bench.py start comes from
    ``session.get_spark``, so each one gets the frozen worker daemon and the
    Unix-socket conf."""
    import pathlib

    root = pathlib.Path(ops.__file__).parents[2]
    paths = [
        *(root / "tectonic_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
        root / "bench.py",
    ]
    problems = []
    for path in sorted(paths):
        if path != root / "tectonic_spark" / "session.py":
            problems += _session_builders(path.read_text(), str(path.relative_to(root)))
    assert problems == []


def _fixture_publish_problems(
    source: str, filename: str, renames: bool = True
) -> list[str]:
    """Lines of ``source`` that hand-code the fixture publish protocol
    outside ``_published``: a ``"_DONE"`` literal, an f-string naming a
    ``.tmp-`` directory, or (when ``renames``) an ``os.rename`` whose
    destination is not a file named inside a directory
    (``os.path.join(dir, name)``), as publishing a directory is."""
    import ast

    tree = ast.parse(source, filename)
    helper = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == "_published"
        for n in ast.walk(f)
    }

    def is_join(n) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "join"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "path"
        )

    problems = []
    for node in ast.walk(tree):
        if id(node) in helper:
            continue
        what = None
        if isinstance(node, ast.Constant) and node.value == "_DONE":
            what = '"_DONE" literal'
        elif isinstance(node, ast.JoinedStr) and any(
            isinstance(v, ast.Constant) and ".tmp-" in str(v.value) for v in node.values
        ):
            what = "f-string .tmp- directory"
        elif (
            renames
            and isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "rename"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id.lstrip("_") == "os"
            and not (len(node.args) == 2 and is_join(node.args[1]))
        ):
            what = "os.rename of a directory"
        if what:
            problems.append((node.lineno, f"{filename}:{node.lineno}: {what}"))
    return [p for _line, p in sorted(problems)]


def test_fixture_publish_scan_flags_a_hand_written_protocol():
    bad = (
        "def _a_src(sf_dir):\n"
        "    src = os.path.join(_fixture_dir(sf_dir), 'a_src')\n"
        "    done = os.path.join(src, '_DONE')\n"
        "    tmp = f'{src}.tmp-{os.getpid()}'\n"
        "    _os.rename(tmp, src)\n"
        "    os.rename(tmp, os.path.join(base, 'a_src') + '/')\n"
        "    return src\n"
    )
    good = (
        "def _published(src, build):\n"
        "    done = os.path.join(src, '_DONE')\n"
        "    tmp = f'{src}.tmp-{os.getpid()}'\n"
        "    os.rename(tmp, src)\n"
        "def _a_src(sf_dir):\n"
        "    def build(tmp):\n"
        "        os.rename(sidecar, os.path.join(tmp, f'run{n:03d}.gz'))\n"
        "        os.replace(part, os.path.join(tmp, 'part-0.json'))\n"
        "    return _published(os.path.join(_fixture_dir(sf_dir), 'a_src'), build)\n"
    )
    assert _fixture_publish_problems(bad, "bad.py") == [
        'bad.py:3: "_DONE" literal',
        "bad.py:4: f-string .tmp- directory",
        "bad.py:5: os.rename of a directory",
        "bad.py:6: os.rename of a directory",
    ]
    assert _fixture_publish_problems(good, "good.py") == []
    # cdxj.py's index writer renames its own files into place
    cdxj = "os.rename(tmp, delta_path)\n"
    assert _fixture_publish_problems(cdxj, "cdxj.py", renames=False) == []


def test_operators_publish_fixtures_only_through_published():
    """One fixture publisher: no operator module checks ``_DONE``, names a
    ``.tmp-`` directory or renames a directory into place by hand; every
    fixture goes through ``parser_ops._published``."""
    import pathlib

    problems = []
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        problems += _fixture_publish_problems(
            path.read_text(), path.name, renames=path.name != "cdxj.py"
        )
    assert problems == []
