"""The benchmark's two workloads: their inputs, queries and output checks.

A workload is a list of :class:`Op`. Each op builds a DataFrame through the
program's public API (``build``), drives it to a result (``sink``), and
checks that result against truth computed without the program (``check``).
Timing covers build + sink; checks run outside the timed window.
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import gen

WIDE_ROWS = 3_000
CSV_ROWS = 20_000
MIX_ORDERS = 5_000
SPLITS_PER_FILE = 4  # two splits per task thread on local[2]
PROBE_BYTES = 400_000  # head of a corpus the core-layer replay parses

WIDE_DDL = (
    "id bigint, cat string, "
    + ", ".join(f"i{k:02d} bigint" for k in range(1, 16)) + ", "
    + ", ".join(f"f{k:02d} double" for k in range(1, 11)) + ", "
    + ", ".join(f"s{k:02d} string" for k in range(1, 11)) + ", "
    "meta struct<a:struct<b:struct<c:struct<leaf:bigint,s:string,x:double>,"
    "n:array<bigint>>,w:string>,z:struct<q:boolean,r:string>>, "
    "flag boolean, note string"
)
LEAF_DDL = "cat string, meta struct<a:struct<b:struct<c:struct<leaf:bigint>>>>"


@dataclass
class Op:
    name: str
    build: Callable[[Any], Any]  # spark -> DataFrame
    sink: Callable[[Any], Any]  # DataFrame -> result
    check: Callable[[Any], bool]  # result -> correct?


@dataclass
class Workload:
    ops: list[Op]
    bytes_per_cycle: int  # input bytes one pass over ``ops`` reads
    scan: dict  # the JSON scan the traced run replays against ``sources``
    clear_cache: bool = False  # clear Spark's cache before every query


@dataclass
class Replay:
    """Inputs of the traced run's in-process replays (see layers.py)."""

    scan: dict
    json_probe: bytes
    json_schema: Any  # StructType of the wide corpus
    csv_path: str
    csv_rows: int
    csv_probe: bytes
    csv_columns: list[str]


def _split_bytes(path: str) -> str:
    return str(-(-os.path.getsize(path) // SPLITS_PER_FILE))


def _first_row(df) -> list:
    return [int(v) if v is not None else None for v in df.collect()[0]]


def _equals(truth: list) -> Callable[[list], bool]:
    return lambda got: list(got) == list(truth)


def _probe(path: str) -> bytes:
    """The first whole lines of a file, about ``PROBE_BYTES`` long."""
    with open(path, "rb") as fh:
        head = fh.read(PROBE_BYTES)
    return head[: head.rindex(b"\n") + 1]


# -------------------------------------------------------------- pushdown_json


def _leaf_scan(path: str, rows: int) -> dict:
    from pyspark.sql.datasource import EqualTo

    return {
        "path": path,
        "options": {"fastpath": "false", "splitsizebytes": _split_bytes(path)},
        "ddl": LEAF_DDL,
        "filters": [EqualTo(("cat",), gen.WIDE_FILTER_CAT)],
        "rows": rows,
    }


def pushdown_json(cache: str, seed: int) -> Workload:
    from pyspark.sql import functions as F

    c = gen.wide_corpus(cache, seed, WIDE_ROWS)
    t, path = c["truth"], c["file"]
    split = _split_bytes(path)

    def read(spark, ddl, **opts):
        r = spark.read.format("tectonic-json").schema(ddl).option("splitSizeBytes", split)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(path)

    def project(spark):
        df = read(spark, "i05 bigint", fastPath="false")
        df = df.filter(F.col("i05") > gen.WIDE_INT_THRESHOLD)
        return df.agg(F.count(F.lit(1)), F.sum("i05"))

    def nested_leaf(spark):
        df = read(spark, LEAF_DDL, fastPath="false")
        df = df.filter(F.col("cat") == gen.WIDE_FILTER_CAT)
        return df.agg(F.count(F.lit(1)), F.sum("meta.a.b.c.leaf"))

    def columns(spark):
        df = read(spark, WIDE_DDL, columns="cat,i07,s03")
        df = df.filter(F.col("cat") == gen.WIDE_COLUMNS_CAT)
        return df.agg(F.count(F.lit(1)), F.sum("i07"), F.sum(F.length("s03")))

    return Workload(
        ops=[
            Op("project", project, _first_row, _equals(t["project"])),
            Op("nested_leaf", nested_leaf, _first_row, _equals(t["leaf"])),
            Op("columns", columns, _first_row, _equals(t["columns"])),
        ],
        bytes_per_cycle=3 * t["bytes"],
        scan=_leaf_scan(path, t["rows"]),
    )


# ------------------------------------------------------------------ query_mix

MIX_QUERIES = [
    "b05_pricing_summary",
    "q03_shipping_priority",
    "b07_topn_per_group",
    "c03_token_stats",
    "c04_repetition",
]
MIX_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]


def _canon(pdf) -> list[tuple]:
    """Order-insensitive exact rendering of a result (column names sorted)."""

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        return repr(v) if isinstance(v, float) else str(v)

    cols = sorted(pdf.columns)
    rows = [tuple(norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return [tuple(cols)] + sorted(rows)


def _tables_read(sql: str) -> list[str]:
    return [t for t in MIX_TABLES if re.search(rf"\b{t}\b", sql)]


def oracle_results(sf_dir: str) -> dict[str, list[tuple]]:
    """Each query's DuckDB oracle over the same parquet files."""
    import duckdb

    from tectonic_spark.operators import REGISTRY

    con = duckdb.connect()
    try:
        for name in MIX_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: _canon(con.execute(REGISTRY[q].oracle).df()) for q in MIX_QUERIES}
    finally:
        con.close()


def query_mix(cache: str, seed: int) -> Workload:
    from tectonic_spark.operators import REGISTRY

    m = gen.mix_tables(cache, seed, MIX_ORDERS)
    sf_dir = m["dir"]
    expect = oracle_results(sf_dir)
    sizes = m["truth"]["tables"]

    def op(q: str) -> Op:
        return Op(
            q,
            lambda spark: REGISTRY[q].builder(spark, sf_dir),
            lambda df: _canon(df.toPandas()),
            lambda got: got == expect[q],
        )

    from pyspark.sql.datasource import EqualTo

    w = gen.wide_corpus(cache, seed, WIDE_ROWS)
    return Workload(
        ops=[op(q) for q in MIX_QUERIES],
        # parquet bytes of every table each query's oracle names
        bytes_per_cycle=sum(
            sizes[t][1] for q in MIX_QUERIES for t in _tables_read(REGISTRY[q].oracle)
        ),
        # no JSON here: the replay takes the default (pyarrow block) path over
        # the wide corpus, the path pushdown_json's fastPath=false bypasses
        scan={
            "path": w["file"],
            "options": {"splitsizebytes": _split_bytes(w["file"])},
            "ddl": None,
            "filters": [EqualTo(("cat",), gen.WIDE_FILTER_CAT)],
            "rows": w["truth"]["rows"],
        },
        clear_cache=True,
    )


WORKLOADS = {
    "pushdown_json": pushdown_json,
    "query_mix": query_mix,
}


def replay(cache: str, seed: int, scan: dict) -> Replay:
    """Inputs for the traced run's replays: the workload's own JSON scan,
    the head of the wide corpus for the parsers, and the CSV corpus."""
    from pyspark.sql.types import StructType

    w = gen.wide_corpus(cache, seed, WIDE_ROWS)
    c = gen.csv_corpus(cache, seed, CSV_ROWS)
    return Replay(
        scan=scan,
        json_probe=_probe(w["file"]),
        json_schema=StructType.fromDDL(WIDE_DDL),
        csv_path=c["file"],
        csv_rows=c["truth"]["rows"],
        csv_probe=_probe(c["file"]),
        csv_columns=list(gen.CSV_HEADER),
    )
