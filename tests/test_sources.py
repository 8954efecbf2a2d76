"""DataSource layer tests (SURVEY.md §7.5-7.6): schema inference, Arrow
batching, split planning/invariance, pushdown, malformed-row modes, CSV
config parity — verified against json module / DuckDB ground truth."""

from __future__ import annotations

import json
import os

import duckdb
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNull, StringStartsWith

from tectonic_spark.core.json_parser import JsonParser, Mode
from tectonic_spark.sources.json_source import (
    FileSplit,
    plan_splits,
    read_split_chunks,
)
from tectonic_spark.sources.pushdown import PushdownPlate, compile_filters
from tectonic_spark.sources.schema_infer import (
    infer_spark_schema,
    merge_types,
    normalize_row,
)


# ---------------------------------------------------------------- inference


class TestSchemaInference:
    def test_flat_object(self):
        s = infer_spark_schema([{"a": 1, "b": "x", "c": 1.5, "d": True, "e": None}])
        assert s.simpleString() == "struct<a:bigint,b:string,c:double,d:boolean,e:string>"

    def test_numeric_widening(self):
        s = infer_spark_schema([{"a": 1}, {"a": 2.5}])
        assert s["a"].dataType.simpleString() == "double"

    def test_bigint_to_decimal(self):
        s = infer_spark_schema([{"a": 2**70}])
        assert s["a"].dataType.simpleString() == "decimal(38,0)"

    def test_conflict_falls_back_to_string(self):
        s = infer_spark_schema([{"a": 1}, {"a": [2]}])
        assert s["a"].dataType.simpleString() == "string"

    def test_struct_merge_keeps_order(self):
        s = infer_spark_schema([{"a": {"x": 1}}, {"a": {"y": 2}}, {"b": 0}])
        assert s.simpleString() == "struct<a:struct<x:bigint,y:bigint>,b:bigint>"

    def test_arrays_merge_elementwise(self):
        s = infer_spark_schema([{"a": [1, 2]}, {"a": [2.5]}])
        assert s["a"].dataType.simpleString() == "array<double>"

    def test_empty_containers_are_scalars(self):
        # {} / [] (reference map()/arr() events) merge with richer siblings
        s = infer_spark_schema([{"a": {}, "b": []}, {"a": {"x": 1}, "b": [2]}])
        assert s.simpleString() == "struct<a:struct<x:bigint>,b:array<bigint>>"

    def test_top_level_scalars_get_value_column(self):
        s = infer_spark_schema([1, 2.5, None])
        assert s.simpleString() == "struct<value:double>"

    def test_mixed_object_scalar_degrades_to_value_string(self):
        s = infer_spark_schema([{"a": 1}, 42])
        assert s.simpleString() == "struct<value:string>"

    def test_normalize_mismatch_to_null(self):
        s = infer_spark_schema([{"a": 1}])
        assert normalize_row({"a": "oops"}, s) == {"a": None}
        assert normalize_row({"a": 3}, s) == {"a": 3}

    def test_normalize_container_to_string_canonical(self):
        s = infer_spark_schema([{"a": "x"}])
        assert normalize_row({"a": {"k": [1, True]}}, s) == {"a": '{"k":[1,true]}'}

    def test_merge_is_commutative_on_samples(self):
        import itertools

        samples = [
            {"a": 1}, {"a": 2.5}, {"a": "s"}, {"a": [1]}, {"a": {"b": 1}},
            {"a": None}, {"a": True},
        ]
        for x, y in itertools.combinations(samples, 2):
            sx = infer_spark_schema([x, y])
            sy = infer_spark_schema([y, x])
            assert {f.name: f.dataType for f in sx} == {f.name: f.dataType for f in sy}


# ------------------------------------------------------------------- splits


class TestSplits:
    def test_plan_splits_covers_file(self, tmp_path):
        f = tmp_path / "x.json"
        f.write_bytes(b"x" * 1000)
        splits = plan_splits([str(f)], 300, splittable=True)
        assert [(s.start, s.end) for s in splits] == [(0, 300), (300, 600), (600, 900), (900, 1000)]

    def test_split_chunks_partition_lines_exactly_once(self, tmp_path):
        lines = [json.dumps({"i": i, "pad": "p" * (i % 37)}).encode() for i in range(500)]
        data = b"\n".join(lines) + b"\n"
        f = tmp_path / "x.json"
        f.write_bytes(data)
        for split_bytes in (64, 256, 999, 10**6):
            splits = plan_splits([str(f)], split_bytes, splittable=True)
            got = b"".join(b"".join(read_split_chunks(s)) for s in splits)
            assert got == data, f"split_bytes={split_bytes}"

    def test_split_chunks_no_trailing_newline(self, tmp_path):
        data = b'{"a":1}\n{"a":2}'
        f = tmp_path / "x.json"
        f.write_bytes(data)
        splits = plan_splits([str(f)], 9, splittable=True)
        got = b"".join(b"".join(read_split_chunks(s)) for s in splits)
        assert got == data


# ----------------------------------------------------------------- pushdown


def _run_pushdown(data: bytes, required, tests):
    plate = PushdownPlate(required=required, tests=tests)
    p = JsonParser(plate, Mode.VALUE_STREAM)
    rows = list(p.absorb(data).value)
    rows += p.finish().value
    return rows, p.skipped_bytes_total, plate


class TestPushdownPlate:
    DATA = b"\n".join(
        json.dumps({"a": i, "b": f"s{i}", "huge": "Z" * 200, "n": {"x": i}}).encode()
        for i in range(10)
    )

    def test_projection_skips_bytes(self):
        rows, skipped, _ = _run_pushdown(self.DATA, {"a", "b"}, None)
        assert rows == [{"a": i, "b": f"s{i}"} for i in range(10)]
        assert skipped > 2000  # "huge" + "n" values byte-skipped

    def test_filter_skip_row(self):
        schema = infer_spark_schema([{"a": 1, "b": "s"}])
        tests = compile_filters([GreaterThan(("a",), 6)], schema)
        rows, _, plate = _run_pushdown(self.DATA, {"a", "b"}, tests)
        assert [r["a"] for r in rows] == [7, 8, 9]
        assert plate.rows_skipped_total == 7

    def test_filter_on_missing_column_drops_row(self):
        schema = infer_spark_schema([{"a": 1, "c": 1}])
        tests = compile_filters([EqualTo(("c",), 5)], schema)
        rows, _, _ = _run_pushdown(self.DATA, {"a"}, tests)
        assert rows == []  # no row has c → null ≠ 5

    def test_is_null_keeps_mismatch(self):
        # "a" is long in schema; a string cell normalizes to null → IS NULL true
        data = b'{"a": 1}\n{"a": "oops"}\n{"a": null}'
        schema = infer_spark_schema([{"a": 1}])
        tests = compile_filters([IsNull(("a",))], schema)
        rows, _, _ = _run_pushdown(data, {"a"}, tests)
        assert rows == [{"a": "oops"}, {"a": None}]  # raw values; Spark normalizes

    def test_string_filters(self):
        schema = infer_spark_schema([{"b": "s"}])
        tests = compile_filters([StringStartsWith(("b",), "s")], schema)
        rows, _, _ = _run_pushdown(self.DATA, {"b"}, tests)
        assert len(rows) == 10

    def test_unsupported_filter_ignored(self):
        schema = infer_spark_schema([{"n": {"x": 1}}])
        assert compile_filters([EqualTo(("n", "x"), 1)], schema) is None

    def test_in_with_unhashable_values_stays_spark_side(self):
        schema = infer_spark_schema([{"a": [1], "b": 1}])
        assert compile_filters([In(("a",), ([1], [2]))], schema) is None
        tests = compile_filters([In(("a",), ([1],)), In(("b",), (1, 2))], schema)
        assert list(tests) == ["b"]

    def test_unrelated_filter_error_surfaces(self):
        class _Values:
            def __iter__(self):
                raise RuntimeError("bad literal")

        schema = infer_spark_schema([{"a": 1}])
        with pytest.raises(RuntimeError, match="bad literal"):
            compile_filters([In(("a",), _Values())], schema)


def _run_nested(data: bytes, paths, tests=None, required=None):
    plate = PushdownPlate(required=required, tests=tests, required_paths=paths)
    p = JsonParser(plate, Mode.VALUE_STREAM)
    rows = list(p.absorb(data).value)
    rows += p.finish().value
    return rows, p.skipped_bytes_total, plate


class TestNestedProjectionPushdown:
    """Required *paths* byte-skip unneeded subtrees below top level
    (reference semantics json/Parser.scala:764-794; its demo plate is
    top-level-only — this is the depth generalization)."""

    DATA = b"\n".join(
        json.dumps(
            {
                "a": i,
                "meta": {
                    "lang": "en",
                    "pad": "Z" * 300,
                    "src": {"host": f"h{i}", "junk": "J" * 200},
                },
                "huge": "Y" * 250,
            }
        ).encode()
        for i in range(10)
    )

    def test_nested_paths_skip_bytes(self):
        rows, skipped, _ = _run_nested(
            self.DATA, {("a",), ("meta", "lang"), ("meta", "src", "host")}
        )
        assert rows == [
            {"a": i, "meta": {"lang": "en", "src": {"host": f"h{i}"}}}
            for i in range(10)
        ]
        # pad (300B) + junk (200B) + huge (250B) per row
        assert skipped > 10 * 700

    def test_whole_subtree_leaf(self):
        rows, skipped, _ = _run_nested(self.DATA, {("meta",)})
        assert rows[0]["meta"]["pad"] == "Z" * 300  # take-all below leaf
        assert "huge" not in rows[0] and "a" not in rows[0]
        assert skipped > 10 * 250  # only top-level a/huge skipped

    def test_paths_transparent_through_arrays(self):
        data = b"\n".join(
            json.dumps(
                {"id": i, "xs": [{"k": j, "drop": "D" * 100} for j in range(3)]}
            ).encode()
            for i in range(5)
        )
        rows, skipped, _ = _run_nested(data, {("id",), ("xs", "k")})
        assert rows == [
            {"id": i, "xs": [{"k": 0}, {"k": 1}, {"k": 2}]} for i in range(5)
        ]
        assert skipped > 5 * 3 * 100

    def test_filter_column_force_included_whole(self):
        schema = infer_spark_schema([{"a": 1}])
        tests = compile_filters([GreaterThan(("a",), 6)], schema)
        rows, _, plate = _run_nested(self.DATA, {("meta", "lang")}, tests=tests)
        assert [r["a"] for r in rows] == [7, 8, 9]
        assert plate.rows_skipped_total == 7
        assert all(set(r["meta"]) == {"lang"} for r in rows)

    def test_fast_and_event_paths_agree(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        p = tmp_path / "n.jsonl"
        p.write_bytes(self.DATA)
        schema = StructType(
            [
                StructField("a", LongType()),
                StructField(
                    "meta",
                    StructType(
                        [
                            StructField("lang", StringType()),
                            StructField(
                                "src",
                                StructType([StructField("host", StringType())]),
                            ),
                        ]
                    ),
                ),
            ]
        )
        fast = (
            spark.read.format("tectonic-json").schema(schema).load(str(p)).collect()
        )
        event = (
            spark.read.format("tectonic-json")
            .schema(schema)
            .option("fastPath", "false")
            .load(str(p))
            .collect()
        )
        assert sorted(map(str, fast)) == sorted(map(str, event))
        assert fast[0].meta.src.host == "h0"


# ------------------------------------------------------- spark end-to-end


@pytest.fixture(scope="module")
def json_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("jsonl")
    with open(d / "a.json", "w") as f:
        for i in range(300):
            f.write(
                json.dumps(
                    {"id": i, "name": f"n{i}", "score": i * 0.25, "tags": [i % 3, i % 5]}
                )
                + "\n"
            )
    with open(d / "b.json", "w") as f:
        for i in range(300, 500):
            f.write(json.dumps({"id": i, "name": f"n{i}", "score": None}) + "\n")
    return str(d)


class TestJsonDataSource:
    def test_roundtrip_vs_duckdb(self, spark, json_dir):
        df = spark.read.format("tectonic-json").load(json_dir)
        got = sorted(
            [(r.id, r.name, r.score) for r in df.select("id", "name", "score").collect()]
        )
        want = duckdb.sql(
            f"SELECT id, name, score FROM read_json_auto('{json_dir}/*.json') ORDER BY id"
        ).fetchall()
        assert got == [tuple(w) for w in want]

    def test_split_invariance(self, spark, json_dir):
        base = spark.read.format("tectonic-json").load(json_dir)
        tiny = (
            spark.read.format("tectonic-json")
            .option("splitSizeBytes", 512)
            .load(json_dir)
        )
        assert tiny.rdd.getNumPartitions() > base.rdd.getNumPartitions()
        assert sorted(base.select("id").rdd.map(tuple).collect()) == sorted(
            tiny.select("id").rdd.map(tuple).collect()
        )

    def test_columns_option_prunes(self, spark, json_dir):
        df = (
            spark.read.format("tectonic-json")
            .option("columns", "id,score")
            .load(json_dir)
        )
        # full inferred schema is visible; the option narrows what the
        # parser materializes — other cells come back null
        rows = df.filter("id = 10").collect()
        assert rows[0].name is None and rows[0].id == 10

    def test_user_schema_prunes(self, spark, json_dir):
        df = (
            spark.read.format("tectonic-json")
            .schema("id long, name string")
            .load(json_dir)
        )
        assert df.columns == ["id", "name"]
        assert df.count() == 500

    def test_filter_results_correct(self, spark, json_dir):
        df = spark.read.format("tectonic-json").load(json_dir)
        got = df.filter("id >= 495").select("id", "name").orderBy("id").collect()
        assert [(r.id, r.name) for r in got] == [(i, f"n{i}") for i in range(495, 500)]

    def test_fast_path_equals_event_parser(self, spark, json_dir):
        fast = spark.read.format("tectonic-json").load(json_dir)
        slow = (
            spark.read.format("tectonic-json")
            .option("fastPath", "false")
            .load(json_dir)
        )
        assert fast.schema == slow.schema
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))

    def test_fast_path_equality_with_filters_and_corrupt(self, spark, tmp_path):
        p = tmp_path / "mix.json"
        p.write_text('{"a": 1, "b": "x"}\n{"a": oops}\n{"a": 3}\n{"b": "y"}\n')
        frames = []
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-json")
                .option("fastPath", fp)
                .option("columnNameOfCorruptRecord", "_c")
                .load(str(p))
            )
            frames.append(
                sorted(map(tuple, df.filter("a > 0 OR a IS NULL").collect()), key=repr)
            )
        assert frames[0] == frames[1]

    def test_json_bom_both_paths(self, spark, tmp_path):
        p = tmp_path / "bom.json"
        p.write_bytes(b'\xef\xbb\xbf{"a": 1}\n{"a": 2}\n')
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-json")
                .option("fastPath", fp)
                .load(str(p))
            )
            assert sorted(r.a for r in df.collect()) == [1, 2], fp

    def test_array_mode(self, spark, tmp_path):
        p = tmp_path / "arr.json"
        p.write_text(json.dumps([{"a": 1}, {"a": 2}, {"a": 3}]))
        df = spark.read.format("tectonic-json").option("mode", "array").load(str(p))
        assert sorted(r.a for r in df.collect()) == [1, 2, 3]

    def test_single_mode(self, spark, tmp_path):
        p = tmp_path / "one.json"
        p.write_text(json.dumps({"a": 42, "b": [1, 2]}))
        df = spark.read.format("tectonic-json").option("mode", "single").load(str(p))
        rows = df.collect()
        assert len(rows) == 1 and rows[0].a == 42

    def test_array_mode_fast_equals_event(self, spark, tmp_path):
        p = tmp_path / "arr2.json"
        p.write_text(json.dumps([{"a": i, "b": {"c": [i, i + 1]}} for i in range(50)]))
        got = {}
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-json")
                .option("mode", "array")
                .option("fastPath", fp)
                .load(str(p))
            )
            got[fp] = sorted(map(tuple, df.collect()), key=repr)
        assert got["true"] == got["false"] and len(got["true"]) == 50

    def test_values_mode_pretty_printed(self, spark, tmp_path):
        p = tmp_path / "vals.json"
        p.write_text('{"a":\n 1}\n  {"a":\n2}')  # values straddle lines
        for fp in ("true", "false"):  # raw_decode fast path and event parser
            df = (
                spark.read.format("tectonic-json")
                .option("mode", "values")
                .option("fastPath", fp)
                .load(str(p))
            )
            assert sorted(r.a for r in df.collect()) == [1, 2], fp

    def test_permissive_corrupt_column(self, spark, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text('{"a": 1}\n{"a": oops}\n{"a": 3}\n')
        df = (
            spark.read.format("tectonic-json")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .load(str(p))
        )
        rows = sorted(df.collect(), key=lambda r: (r.a is None, r.a))
        assert [r.a for r in rows] == [1, 3, None]
        assert rows[2]._corrupt == '{"a": oops}'

    def test_dropmalformed(self, spark, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text('{"a": 1}\n{"a": oops}\n{"a": 3}\n')
        df = (
            spark.read.format("tectonic-json")
            .option("parseMode", "DROPMALFORMED")
            .load(str(p))
        )
        assert sorted(r.a for r in df.collect()) == [1, 3]

    def test_failfast(self, spark, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text('{"a": 1}\n{"a": oops}\n')
        df = (
            spark.read.format("tectonic-json")
            .option("parseMode", "FAILFAST")
            .load(str(p))
        )
        with pytest.raises(Exception, match="(?i)expected|parse"):
            df.collect()

    @pytest.mark.parametrize("fast_path", ["true", "false"])
    def test_failfast_names_the_file_and_its_line(self, tmp_path, fast_path):
        from tectonic_spark.core.result import ParseException
        from tectonic_spark.sources.json_source import FileSplit, TectonicJsonDataSource

        lines = [b'{"a": %d, "b": "x%d"}' % (i, i) for i in range(1, 101)]
        lines[70] = b'{"a": BROKEN}'
        p = tmp_path / "bad.json"
        p.write_bytes(b"\n".join(lines) + b"\n")
        ds = TectonicJsonDataSource(
            options={"path": str(p), "parsemode": "FAILFAST", "fastpath": fast_path}
        )
        reader = ds.reader(ds.schema())
        size = p.stat().st_size
        splits = [FileSplit(str(p), 0, size // 2, size), FileSplit(str(p), size // 2, size, size)]
        with pytest.raises(ParseException, match="(?i)expected|parse") as err:
            for split in splits:
                for _ in reader.read(split):
                    pass
        e = err.value
        assert str(p) in e.message
        assert (e.line, e.col) == (71, 7)
        assert e.index == len(b"\n".join(lines[:70])) + 1 + 6


class TestCsvDataSource:
    def test_roundtrip_unix(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text("x,y\n1,a\n2,b\n3,c\n")
        df = (
            spark.read.format("tectonic-csv")
            .option("lineSep", "\n")
            .load(str(p))
        )
        assert sorted((r.x, r.y) for r in df.collect()) == [("1", "a"), ("2", "b"), ("3", "c")]

    def test_headerless_excel_names(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text("1,a\n2,b\n")
        df = (
            spark.read.format("tectonic-csv")
            .option("header", "false")
            .option("lineSep", "\n")
            .load(str(p))
        )
        assert df.columns == ["A", "B"]

    def test_quoted_cells(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text('x,y\n"a,b","c""d"\n')
        df = spark.read.format("tectonic-csv").option("lineSep", "\n").load(str(p))
        r = df.collect()[0]
        assert (r.x, r.y) == ("a,b", 'c"d')

    @pytest.mark.parametrize("fast_path", ["true", "false"])
    def test_cell_over_stdlib_field_limit(self, spark, tmp_path, fast_path):
        # pyarrow rejects the block; the stdlib fallback must read the
        # 3 MB cell as the event path does (csv's default limit is 128 KiB)
        p = tmp_path / "t.csv"
        p.write_text("a,b\n1,x\n2," + "y" * 3_000_000 + "\n3,z\n")
        df = (
            spark.read.format("tectonic-csv")
            .option("lineSep", "\n")
            .option("fastPath", fast_path)
            .load(str(p))
        )
        rows = sorted((r.a, len(r.b)) for r in df.collect())
        assert rows == [("1", 1), ("2", 3_000_000), ("3", 1)]

    def test_header_read_stops_at_the_header_row(self, tmp_path, monkeypatch):
        from tectonic_spark.core.csv_parser import CsvConfig
        from tectonic_spark.sources import csv_source

        p = tmp_path / "t.csv"
        p.write_bytes(b"a,b\n1," + b"y" * (8 << 20) + b"\n")
        reads = []
        real_open = csv_source.open_input

        class Counting:
            def __init__(self, fh):
                self._fh = fh

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                self._fh.close()

            def read(self, n=-1):
                reads.append(len(b := self._fh.read(n)))
                return b

        monkeypatch.setattr(csv_source, "open_input", lambda path: Counting(real_open(path)))
        assert csv_source.read_csv_header(str(p), CsvConfig.unix()) == ["a", "b"]
        assert reads == [64 * 1024]
        reads.clear()
        names = csv_source.read_csv_header(str(p), CsvConfig.unix(header=False))
        assert names == ["A", "B"]

    def test_split_invariance_with_header(self, spark, tmp_path):
        p = tmp_path / "big.csv"
        with open(p, "w") as f:
            f.write("k,v\n")
            for i in range(400):
                f.write(f"{i},val{i}\n")
        base = spark.read.format("tectonic-csv").option("lineSep", "\n").load(str(p))
        tiny = (
            spark.read.format("tectonic-csv")
            .option("lineSep", "\n")
            .option("splitSizeBytes", 256)
            .load(str(p))
        )
        assert tiny.rdd.getNumPartitions() > 1
        assert sorted(base.rdd.map(tuple).collect()) == sorted(tiny.rdd.map(tuple).collect())
        # the header row must not appear as data in any split
        assert tiny.filter("k = 'k'").count() == 0

    def test_narrowed_schema_on_split_file_maps_positionally(self, spark, tmp_path):
        # user selects 2 of 4 columns; mid-file splits must still map cells
        # by the FULL header positions, not the narrowed schema
        p = tmp_path / "wide.csv"
        with open(p, "w") as f:
            f.write("a,b,c,d\n")
            for i in range(300):
                f.write(f"{i},bee{i},cee{i},dee{i}\n")
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-csv")
                .schema("b string, d string")
                .option("lineSep", "\n")
                .option("splitSizeBytes", 256)
                .option("fastPath", fp)
                .load(str(p))
            )
            rows = sorted((r.b, r.d) for r in df.collect())
            assert rows == sorted((f"bee{i}", f"dee{i}") for i in range(300)), fp

    def test_fast_path_equals_event_parser(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text('x,y\n"a,1",plain\n"q""q",2\n,\n')
        got = {}
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-csv")
                .option("lineSep", "\n")
                .option("fastPath", fp)
                .load(str(p))
            )
            got[fp] = sorted(map(tuple, df.collect()), key=repr)
        assert got["true"] == got["false"]

    def test_bom_stripped_both_paths(self, spark, tmp_path):
        # BaseParser strips a UTF-8 BOM at stream start (reference parity);
        # neither path may fold it into the first header name
        p = tmp_path / "bom.csv"
        p.write_bytes(b"\xef\xbb\xbfx,y\n1,a\n")
        for fp in ("true", "false"):
            df = (
                spark.read.format("tectonic-csv")
                .option("lineSep", "\n")
                .option("fastPath", fp)
                .load(str(p))
            )
            assert df.columns == ["x", "y"], fp
            assert [(r.x, r.y) for r in df.collect()] == [("1", "a")], fp

    def test_multiline_quoted_newlines(self, spark, tmp_path):
        # quoted cells may contain row delimiters (reference semantics);
        # multiLine=true must route to the event parser, never the
        # block-split fast path
        p = tmp_path / "ml.csv"
        p.write_text('x,y\n"line1\nline2",a\n"single",b\n')
        df = (
            spark.read.format("tectonic-csv")
            .option("lineSep", "\n")
            .option("multiLine", "true")
            .load(str(p))
        )
        rows = sorted((r.x, r.y) for r in df.collect())
        assert rows == [("line1\nline2", "a"), ("single", "b")]

    def test_crlf_default(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_bytes(b"x,y\r\n1,a\r\n2,b\r\n")
        df = spark.read.format("tectonic-csv").load(str(p))
        assert sorted((r.x, r.y) for r in df.collect()) == [("1", "a"), ("2", "b")]


class TestCsvFilterPushdownFastPath:
    """Pushed Catalyst filters become a vectorized pyarrow.compute mask on
    the CSV block fast path (a14): rows are dropped before they cross into
    Spark — pure savings, Spark re-applies every filter above the scan."""

    def _reader(self, path, filters):
        from pyspark.sql.datasource import EqualTo  # noqa: F401 (import check)

        from tectonic_spark.sources.csv_source import (
            TectonicCsvPushdownDataSource,
        )

        ds = TectonicCsvPushdownDataSource(
            options={"path": str(path), "linesep": "\n"}
        )
        schema = ds.schema()
        reader = ds.reader(schema)
        reader.pushFilters(filters)
        return reader

    def _collect(self, reader):
        rows = []
        for part in reader.partitions():
            for batch in reader.read(part):
                rows.extend(batch.to_pylist())
        return rows

    def _fixture(self, tmp_path, n=200):
        p = tmp_path / "docs.csv"
        with open(p, "w") as f:
            f.write("id,lang,src\n")
            for i in range(n):
                f.write(f"{i},{'en' if i % 4 == 0 else 'de'},s{i % 3}\n")
        return p

    def test_arrow_mask_skips_rows(self, tmp_path):
        from pyspark.sql.datasource import EqualTo

        p = self._fixture(tmp_path)
        reader = self._reader(p, [EqualTo(("lang",), "en")])
        rows = self._collect(reader)
        assert len(rows) == 50
        assert all(r["lang"] == "en" for r in rows)
        assert reader.rows_skipped_fast == 150

    def test_conjunction_and_in(self, tmp_path):
        from pyspark.sql.datasource import EqualTo, In

        p = self._fixture(tmp_path)
        reader = self._reader(
            p, [EqualTo(("lang",), "en"), In(("src",), ("s0", "s1"))]
        )
        rows = self._collect(reader)
        expect = [
            i for i in range(200) if i % 4 == 0 and i % 3 in (0, 1)
        ]
        assert sorted(int(r["id"]) for r in rows) == expect
        assert reader.rows_skipped_fast == 200 - len(expect)

    def test_string_ops_and_untranslatable_kept(self, tmp_path):
        from pyspark.sql.datasource import EqualTo, StringStartsWith

        p = self._fixture(tmp_path)
        # EqualTo with a non-string value is untranslatable on string
        # cells → ignored (kept rows); starts_with acts
        reader = self._reader(
            p, [StringStartsWith(("src",), "s1"), EqualTo(("id",), 7)]
        )
        rows = self._collect(reader)
        assert all(r["src"].startswith("s1") for r in rows)
        assert len(rows) == len([i for i in range(200) if i % 3 == 1])

    def test_end_to_end_matches_unfiltered_semantics(self, spark, tmp_path):
        # the pytest session registers the Pushdown sources, so this runs
        # the arrow-mask path end-to-end under Spark's re-applied filters
        p = self._fixture(tmp_path)
        df = (
            spark.read.format("tectonic-csv")
            .option("lineSep", "\n")
            .load(str(p))
        )
        got = sorted(
            int(r.id) for r in df.filter("lang = 'en' and src = 's0'").collect()
        )
        assert got == [i for i in range(200) if i % 4 == 0 and i % 3 == 0]


# ----------------------------------------------- pushdown gating (round 2)


class TestPushdownGating:
    """PySpark's planning worker rejects any reader whose class overrides
    pushFilters when spark.sql.python.filterPushdown.enabled (a static
    conf, off by default — the correctness driver's session) is false. The
    reader class is therefore chosen driver-side; these tests pin the exact
    invariant the worker checks (plan_data_source_read.py)."""

    def _implements_pushdown(self, reader) -> bool:
        from pyspark.sql.datasource import DataSourceReader

        return (
            getattr(reader.pushFilters, "__func__", None)
            is not DataSourceReader.pushFilters
        )

    def test_json_base_reader_is_worker_safe(self, tmp_path):
        from tectonic_spark.sources.json_source import (
            TectonicJsonDataSource,
            TectonicJsonPushdownDataSource,
            TectonicJsonPushdownReader,
        )

        p = tmp_path / "x.jsonl"
        p.write_text('{"a": 1}\n')
        schema = infer_spark_schema([{"a": 1}])
        base = TectonicJsonDataSource(options={"path": str(p)})
        assert not self._implements_pushdown(base.reader(schema))
        pd = TectonicJsonPushdownDataSource(options={"path": str(p)})
        r = pd.reader(schema)
        assert isinstance(r, TectonicJsonPushdownReader)
        assert self._implements_pushdown(r)
        # per-read option overrides the registered default either way
        forced_off = TectonicJsonPushdownDataSource(
            options={"path": str(p), "filterpushdown": "false"}
        )
        assert not self._implements_pushdown(forced_off.reader(schema))
        forced_on = TectonicJsonDataSource(
            options={"path": str(p), "filterpushdown": "true"}
        )
        assert self._implements_pushdown(forced_on.reader(schema))

    def test_csv_base_reader_is_worker_safe(self, tmp_path):
        from tectonic_spark.sources.csv_source import (
            TectonicCsvDataSource,
            TectonicCsvPushdownDataSource,
            TectonicCsvPushdownReader,
        )

        p = tmp_path / "x.csv"
        p.write_text("a,b\n1,x\n")
        base = TectonicCsvDataSource(options={"path": str(p), "linesep": "\n"})
        schema = base.schema()
        assert not self._implements_pushdown(base.reader(schema))
        pd = TectonicCsvPushdownDataSource(options={"path": str(p), "linesep": "\n"})
        r = pd.reader(schema)
        assert isinstance(r, TectonicCsvPushdownReader)
        assert self._implements_pushdown(r)

    def test_registration_matches_session_conf(self, spark):
        # the pytest session is built with filterPushdown=true, so
        # registration must pick the Pushdown variants
        from tectonic_spark.sources.registration import _filter_pushdown_on

        assert _filter_pushdown_on(spark) is True

    def test_registration_surfaces_conf_errors(self):
        from tectonic_spark.sources.registration import register_tectonic_sources

        class _BrokenConf:
            def get(self, key, default=None):
                raise RuntimeError("session is gone")

        class _Spark:
            conf = _BrokenConf()

        with pytest.raises(RuntimeError, match="session is gone"):
            register_tectonic_sources(_Spark())

    def test_reads_work_with_pushdown_option_off(self, spark, tmp_path):
        # a reader without pushFilters must produce identical results —
        # Catalyst just applies the filters above the scan
        p = tmp_path / "d.jsonl"
        p.write_text("\n".join(json.dumps({"a": i, "b": f"s{i}"}) for i in range(20)))
        base = (
            spark.read.format("tectonic-json")
            .option("filterPushdown", "false")
            .load(str(p))
        )
        got = sorted(r.a for r in base.filter("a >= 15 and b is not null").collect())
        assert got == [15, 16, 17, 18, 19]


class TestArrowBlockSchema:
    """The pyarrow fast path is declined only for schemas with no Arrow
    type; any other error from the conversion surfaces."""

    def _reader(self, tmp_path, schema):
        from tectonic_spark.sources.json_source import TectonicJsonDataSource

        p = tmp_path / "x.jsonl"
        p.write_text('{"a": 1}\n')
        return TectonicJsonDataSource(options={"path": str(p)}).reader(schema)

    def test_unconvertible_type_takes_python_path(self, tmp_path):
        from pyspark.sql.types import LongType, StructField, StructType, YearMonthIntervalType

        plain = StructType([StructField("a", LongType())])
        assert self._reader(tmp_path, plain)._arrow_block_schema() is not None
        interval = StructType(plain.fields + [StructField("i", YearMonthIntervalType())])
        assert self._reader(tmp_path, interval)._arrow_block_schema() is None

    def test_unrelated_error_surfaces(self, tmp_path, monkeypatch):
        from pyspark.sql.types import LongType, StructField, StructType

        from tectonic_spark.sources import arrow_batch

        def broken(schema):
            raise RuntimeError("arrow is broken")

        monkeypatch.setattr(arrow_batch, "arrow_schema_for", broken)
        reader = self._reader(tmp_path, StructType([StructField("a", LongType())]))
        with pytest.raises(RuntimeError, match="arrow is broken"):
            reader._arrow_block_schema()


class TestValueColumnPushdown:
    """Top-level scalar rows ARE the 'value' cell: filters on a
    single-value-column scan must test the scalar itself, never treat the
    column as absent (which over-dropped every row)."""

    def test_plate_captures_top_level_scalars(self):
        schema = infer_spark_schema([5])
        assert schema.fieldNames() == ["value"]
        from pyspark.sql.datasource import IsNotNull

        tests = compile_filters([IsNotNull(("value",))], schema)
        plate = PushdownPlate(required=None, tests=tests, value_col="value")
        p = JsonParser(plate, Mode.VALUE_STREAM)
        rows = list(p.absorb(b"5\n6\n7\n").value)
        rows += p.finish().value
        assert rows == [5, 6, 7]

    def test_plate_skips_failing_scalars(self):
        schema = infer_spark_schema([5])
        tests = compile_filters([GreaterThan(("value",), 5)], schema)
        plate = PushdownPlate(required=None, tests=tests, value_col="value")
        p = JsonParser(plate, Mode.VALUE_STREAM)
        rows = list(p.absorb(b"5\n6\n7\nnull\n").value)
        rows += p.finish().value
        assert rows == [6, 7]
        assert plate.rows_skipped_total == 2

    def test_plate_keeps_container_values(self):
        # containers are undecidable → kept (Spark re-filters above)
        schema = infer_spark_schema([5])
        tests = compile_filters([GreaterThan(("value",), 5)], schema)
        plate = PushdownPlate(required=None, tests=tests, value_col="value")
        p = JsonParser(plate, Mode.VALUE_STREAM)
        rows = list(p.absorb(b'[1,2]\n{"x":1}\n3\n99\n').value)
        rows += p.finish().value
        assert rows == [[1, 2], {"x": 1}, 99]

    def test_end_to_end_scalar_ndjson_filter(self, spark, tmp_path):
        p = tmp_path / "scalars.jsonl"
        p.write_text("5\n6\n7\n")
        # event path (fastPath=false) — the exact ADVICE repro
        df = (
            spark.read.format("tectonic-json")
            .option("fastPath", "false")
            .load(str(p))
        )
        got = sorted(r.value for r in df.filter("value is not null").collect())
        assert got == [5, 6, 7]
        # fast path too
        df2 = spark.read.format("tectonic-json").load(str(p))
        assert sorted(r.value for r in df2.filter("value > 5").collect()) == [6, 7]


class TestLineProbe:
    """Byte-level pre-parse filter on the fast lines path: results must be
    identical probe-on vs probe-off for every supported shape, including
    escape-bearing lines (which bypass the probe entirely)."""

    def _reader(self, path, filters, **opts):
        from pyspark.sql.datasource import DataSourceReader  # noqa: F401
        from tectonic_spark.sources.json_source import (
            TectonicJsonPushdownDataSource,
        )

        ds = TectonicJsonPushdownDataSource(options={"path": str(path), **opts})
        r = ds.reader(ds.schema())
        r.pushFilters(filters)
        return r

    def _rows(self, reader):
        out = []
        for split in reader.partitions():
            for batch in reader.read(split):
                out.extend(batch.to_pylist())
        return out

    def test_probe_equivalence_and_skips(self, tmp_path):
        from pyspark.sql.datasource import EqualTo

        p = tmp_path / "d.jsonl"
        rows = [
            {"a": i, "lang": "en" if i % 7 == 0 else "de", "t": f"text {i}"}
            for i in range(200)
        ]
        # a row where 'en' appears in ANOTHER column (probe keeps, test drops)
        rows.append({"a": 999, "lang": "fr", "t": 'note: "en" inside'})
        # escape-bearing line: must bypass the probe and still match
        rows.append({"a": 1000, "lang": "en", "t": "tab\there"})
        p.write_text("\n".join(json.dumps(r) for r in rows))
        f = [EqualTo(("lang",), "en")]
        r_on = self._reader(p, f)
        on = self._rows(r_on)
        off = self._rows(self._reader(p, f, lineprobe="false"))
        # the reader may return a superset (Spark re-applies all filters);
        # after the Spark-equivalent filter both paths are identical, and
        # the probe never drops a matching row
        on_f = [r for r in on if r_on._row_passes(r)]
        off_f = [r for r in off if r_on._row_passes(r)]
        assert on_f == off_f
        assert {r["a"] for r in on_f} == {i for i in range(200) if i % 7 == 0} | {1000}

    def test_probe_key_presence_isnotnull(self, tmp_path):
        from pyspark.sql.datasource import IsNotNull

        p = tmp_path / "d.jsonl"
        p.write_text(
            '{"a": 1, "opt": "x"}\n{"a": 2}\n{"a": 3, "opt": null}\n'
        )
        r = self._reader(p, [IsNotNull(("opt",))])
        probe = r._build_line_probe()
        assert probe is not None
        rows = [x for x in self._rows(r) if r._row_passes(x)]
        # row 2 (no key) probe-dropped pre-parse; row 3 has the key (null)
        # — probe keeps it, the (re-applied) filter drops it
        assert [x["a"] for x in rows] == [1]

    def test_probe_disabled_under_failfast(self, tmp_path):
        """FAILFAST + pushed string filters must still raise on a malformed
        line — the probe may not silently drop it pre-parse (a malformed
        line lacking the needle bytes would otherwise vanish instead of
        erroring, changing error semantics)."""
        import pytest
        from pyspark.sql.datasource import EqualTo

        p = tmp_path / "d.jsonl"
        p.write_text('{"a": 1, "lang": "en"}\nBROKEN LINE\n')
        r = self._reader(p, [EqualTo(("lang",), "en")], parsemode="FAILFAST")
        assert r._build_line_probe() is None
        with pytest.raises(Exception, match="(?i)malformed|failfast|parse"):
            self._rows(r)

    def test_probe_disabled_with_corrupt_col(self, tmp_path):
        from pyspark.sql.datasource import IsNotNull

        p = tmp_path / "d.jsonl"
        p.write_text('{"a": 1}\nBROKEN\n')
        r = self._reader(p, [IsNotNull(("a",))], columnnameofcorruptrecord="_c")
        assert r._build_line_probe() is None

    def test_probe_string_shapes(self, tmp_path):
        from pyspark.sql.datasource import In, StringContains, StringStartsWith

        p = tmp_path / "d.jsonl"
        data = [
            {"i": 0, "s": "alpha"},
            {"i": 1, "s": "beta"},
            {"i": 2, "s": "alphabet"},
            {"i": 3, "s": "gamma"},
            {"i": 4},
        ]
        p.write_text("\n".join(json.dumps(r) for r in data))
        for filters, expect in [
            ([In(("s",), ("alpha", "gamma"))], {0, 3}),
            ([StringStartsWith(("s",), "alph")], {0, 2}),
            ([StringContains(("s",), "et")], {1, 2}),  # "beta", "alphabet"
        ]:
            r_on = self._reader(p, filters)
            on = [r for r in self._rows(r_on) if r_on._row_passes(r)]
            off = [
                r
                for r in self._rows(self._reader(p, filters, lineprobe="false"))
                if r_on._row_passes(r)
            ]
            assert on == off, filters
            assert {r["i"] for r in on} == expect, filters


class TestInferenceSpread:
    """Sampling must cover the whole file list, not a files[:4] prefix:
    a field first appearing in a late shard has to reach the schema."""

    def _write_parts(self, tmp_path, n=6, late_at=4):
        paths = []
        for p in range(n):
            f = tmp_path / f"part-{p:04d}.jsonl"
            rows = []
            for i in range(50):
                row = {"doc_id": p * 100 + i, "lang": "en"}
                if p >= late_at:
                    row["late"] = f"L{p}-{i}"
                rows.append(json.dumps(row))
            f.write_text("\n".join(rows) + "\n")
            paths.append(f)
        return paths

    def test_late_field_reaches_schema(self, tmp_path):
        from tectonic_spark.sources.json_source import TectonicJsonDataSource

        self._write_parts(tmp_path)
        ds = TectonicJsonDataSource(options={"path": str(tmp_path)})
        names = ds.schema().fieldNames()
        assert "late" in names, names

    def test_sampling_files_option_caps_spread(self, tmp_path):
        from tectonic_spark.sources.json_source import TectonicJsonDataSource

        self._write_parts(tmp_path)
        # an even 2-file spread over 6 files still reaches the back half
        ds = TectonicJsonDataSource(
            options={"path": str(tmp_path), "samplingfiles": "2"}
        )
        assert "late" in ds.schema().fieldNames()

    def test_end_to_end_late_field(self, spark, tmp_path):
        self._write_parts(tmp_path)
        df = spark.read.format("tectonic-json").load(str(tmp_path))
        assert "late" in df.columns
        assert df.filter("late is not null").count() == 100


class TestHeterotypeWidening:
    """a15: same field changes type across files (long→double→string).

    The registered oracle recomputes expected text from the documents view;
    this test is the independent cross-check VERDICT r3 item 10 asked for —
    DuckDB's own read_json_auto widening over the actual fixture bytes."""

    def test_val_widens_to_string(self, spark, sf_dir):
        from tectonic_spark.operators.parser_ops import documents_heterotype_dir

        d = documents_heterotype_dir(sf_dir)
        df = spark.read.format("tectonic-json").load(d)
        assert dict(df.dtypes)["val"] == "string"

    def test_matches_duckdb_read_json_auto(self, spark, sf_dir):
        import duckdb

        from tectonic_spark.operators.parser_ops import documents_heterotype_dir

        d = documents_heterotype_dir(sf_dir)
        sdf = (
            spark.read.format("tectonic-json")
            .load(d)
            .select("doc_id", "val")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        odf = duckdb.sql(
            f"SELECT doc_id, val->>'$' AS val "
            f"FROM read_json_auto('{d}/part-*.jsonl', union_by_name=true) "
            "ORDER BY doc_id"
        ).fetchdf()
        assert sdf["doc_id"].tolist() == odf["doc_id"].tolist()
        assert sdf["val"].tolist() == odf["val"].tolist()


class TestGzipInput:
    """.gz ingestion: transparent stream-decompression, whole-file splits."""

    def _write_docs(self, tmp_path, gz: bool):
        import gzip as _gz
        import json as _json

        lines = "\n".join(
            _json.dumps({"a": i, "b": f"x{i}"}) for i in range(500)
        ) + "\n"
        if gz:
            p = tmp_path / "d.jsonl.gz"
            p.write_bytes(_gz.compress(lines.encode()))
        else:
            p = tmp_path / "d.jsonl"
            p.write_bytes(lines.encode())
        return str(p)

    def test_gz_rows_equal_plain(self, spark, tmp_path):
        (tmp_path / "p").mkdir()
        (tmp_path / "g").mkdir()
        plain = self._write_docs(tmp_path / "p", False)
        gz = self._write_docs(tmp_path / "g", True)
        schema = "a long, b string"
        a = spark.read.format("tectonic-json").schema(schema).load(plain)
        b = spark.read.format("tectonic-json").schema(schema).load(gz)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        assert b.count() == 500

    def test_gz_plans_whole_file_split(self, tmp_path):
        from tectonic_spark.sources.json_source import plan_splits

        import gzip as _gz

        p = tmp_path / "big.jsonl.gz"
        p.write_bytes(_gz.compress(b"x" * 100_000))
        splits = plan_splits([str(p)], split_bytes=1024, splittable=True)
        assert len(splits) == 1
        assert splits[0].start == 0 and splits[0].end == splits[0].file_size

    def test_gz_filter_pushdown_still_correct(self, spark, tmp_path):
        gz = self._write_docs(tmp_path, True)
        df = (
            spark.read.format("tectonic-json")
            .schema("a long, b string")
            .option("filterPushdown", "true")
            .load(gz)
            .where("a >= 490")
        )
        assert df.count() == 10

    def test_gz_csv_roundtrip(self, spark, tmp_path):
        import gzip as _gz

        body = "a,b\r\n" + "".join(f"{i},v{i}\r\n" for i in range(100))
        p = tmp_path / "t.csv.gz"
        p.write_bytes(_gz.compress(body.encode()))
        df = spark.read.format("tectonic-csv").load(str(p))
        assert df.count() == 100
        assert sorted(r["a"] for r in df.collect()) == sorted(
            str(i) for i in range(100)
        )

    def test_gz_schema_inference(self, spark, tmp_path):
        gz = self._write_docs(tmp_path, True)
        df = spark.read.format("tectonic-json").load(gz)  # infer
        assert set(df.columns) == {"a", "b"}
        assert df.count() == 500

    def test_bz2_and_xz_rows_equal_plain(self, spark, tmp_path):
        import bz2 as _bz2
        import json as _json
        import lzma as _lzma

        lines = ("\n".join(
            _json.dumps({"a": i, "b": f"x{i}"}) for i in range(200)
        ) + "\n").encode()
        (tmp_path / "d.jsonl.bz2").write_bytes(_bz2.compress(lines))
        (tmp_path / "e.jsonl.xz").write_bytes(_lzma.compress(lines))
        schema = "a long, b string"
        for f in ("d.jsonl.bz2", "e.jsonl.xz"):
            df = (
                spark.read.format("tectonic-json")
                .schema(schema)
                .load(str(tmp_path / f))
            )
            assert df.count() == 200

    def test_streaming_ingests_gz(self, spark, tmp_path):
        import gzip as _gz
        import json as _json
        import time as _time

        src = tmp_path / "src"
        src.mkdir()
        for part in range(2):
            body = ("\n".join(
                _json.dumps({"a": part * 100 + i}) for i in range(100)
            ) + "\n").encode()
            (src / f"in-{part}.jsonl.gz").write_bytes(_gz.compress(body))
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            spark.readStream.format("tectonic-json")
            .schema("a long")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            n = 0
            while _time.time() < deadline and n < 200:
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = 0
                _time.sleep(0.5)
        finally:
            q.stop()
            q.awaitTermination(30)
        assert n == 200

    def test_uppercase_gz_extension_decompresses(self, spark, tmp_path):
        """Review regression: .GZ from external tooling must decompress,
        not parse as raw bytes (case-insensitive extension detection)."""
        import gzip as _gz
        import json as _json

        from tectonic_spark.sources.json_source import plan_splits

        lines = ("\n".join(
            _json.dumps({"a": i}) for i in range(100)
        ) + "\n").encode()
        p = tmp_path / "d.jsonl.GZ"
        p.write_bytes(_gz.compress(lines))
        splits = plan_splits([str(p)], split_bytes=64, splittable=True)
        assert len(splits) == 1  # non-splittable despite tiny split size
        df = (
            spark.read.format("tectonic-json").schema("a long").load(str(p))
        )
        assert df.count() == 100
