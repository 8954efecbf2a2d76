"""Reference-parity parser operators as registered queries (SURVEY.md §2.B
a1-a6): the tectonic-json / tectonic-csv DataSources exercised end-to-end
under the driver's DuckDB-oracle gate.

Input fixtures are derived *deterministically* from the sf_dir's
``documents`` parquet (sorted by doc_id, fixed formatting), so the oracle
can be phrased against the pre-registered ``documents`` view. Fixtures are
cached under ``$TMPDIR/tectonic_fixtures`` keyed by sf_dir. Every fixture
directory is published through ``_published``: it is built in a private
temporary directory and renamed into place once complete, so readers never
see a partial fixture and concurrent builders converge on identical bytes.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from tectonic_spark.operators.registry import register
from tectonic_spark.sources.registration import register_tectonic_sources

_FIXTURE_ROOT = os.path.join(tempfile.gettempdir(), "tectonic_fixtures")

_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _run_stream(q) -> list[dict]:
    """Run a started streaming query to completion, stop it, and return
    its ``recentProgress`` (one dict per micro-batch, oldest first; a
    watermarked query's trailing no-data batch is one of them, with
    ``numInputRows == 0``). Registered queries reach it through
    ``_stream_into``.

    ``processAllAvailable()`` blocks until every offset the sources
    report has been processed and committed, including the trailing
    no-data batch that advances the watermark, and re-raises the
    stream's own ``StreamingQueryException`` as soon as it dies. It
    serves processingTime and availableNow triggers alike, but a
    rate-limited tectonic source needs processingTime: a Python
    ``DataSourceStreamReader`` has no admission-control hook, so
    availableNow stops at the first capped ``latestOffset``.

    With a Python micro-batch source the ``stop()`` interrupt can land
    in an await that Spark reports as a stream failure. After a full
    drain no batch is in flight, so that exception is logged at WARNING
    instead of raised."""
    from pyspark.errors import StreamingQueryException

    try:
        q.processAllAvailable()
    except BaseException:
        q.stop()
        raise
    try:
        q.stop()
        q.awaitTermination()
    except StreamingQueryException as exc:
        import logging

        logging.getLogger(__name__).warning(
            "stream %s raised at stop() after a full drain: %s", q.id, exc
        )
    return q.recentProgress


def _stream_into(
    stream: DataFrame,
    sf_dir: str,
    name: str,
    *,
    foreach: Callable[[DataFrame, int], None] | None = None,
    min_batches: int = 1,
) -> tuple[DataFrame | None, int]:
    """Run ``stream`` to completion and return ``(sink, n_batches)``.

    Each call is a fresh run: the checkpoint ``<name>_ck`` under the
    fixture directory is removed first. Without ``foreach`` the rows go
    to a fresh append-mode parquet sink ``<name>_sink``, and ``sink`` is
    that directory read back; with ``foreach`` each micro-batch goes to
    ``foreach(batch_df, batch_id)`` and ``sink`` is None. Every stream
    uses one 50 ms processingTime trigger (see ``_run_stream``).

    ``n_batches`` counts the micro-batches that read rows: a watermark's
    trailing no-data batch is not one. Raises unless it is at least
    ``min_batches``."""
    import shutil

    base = _fixture_dir(sf_dir)
    ck = os.path.join(base, f"{name}_ck")
    out = None if foreach else os.path.join(base, f"{name}_sink")
    for d in (ck, out):
        if d:
            shutil.rmtree(d, ignore_errors=True)
    writer = stream.writeStream.option("checkpointLocation", ck).trigger(
        processingTime="50 milliseconds"
    )
    if foreach:
        writer = writer.foreachBatch(foreach)
    else:
        writer = writer.format("parquet").option("path", out).outputMode("append")
    progress = _run_stream(writer.start())
    n_batches = sum(1 for p in progress if p["numInputRows"] > 0)
    if n_batches < min_batches:
        raise RuntimeError(
            f"{name}: only {n_batches} micro-batches read rows, "
            f"the query needs {min_batches}"
        )
    sink = None if foreach else stream.sparkSession.read.parquet(out)
    return sink, n_batches


def _fixture_dir(sf_dir: str) -> str:
    """Per-dataset fixture cache dir, keyed by sf_dir path PLUS a content
    fingerprint of documents.parquet (size + mtime_ns): regenerating the
    dataset at the same path invalidates the cache instead of silently
    reusing stale fixtures, and two users' differing datasets at the same
    path never collide under the shared /tmp root (ADVICE r4)."""
    tag = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        tag += f"_{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        pass  # no documents.parquet (synthetic dirs) — path key alone
    d = os.path.join(_FIXTURE_ROOT, tag)
    os.makedirs(d, exist_ok=True)
    return d


def _docs_rows(sf_dir: str) -> list[tuple]:
    import duckdb

    path = os.path.join(sf_dir, "documents.parquet")
    return duckdb.sql(
        f"SELECT doc_id, text, lang, source, n_chars FROM '{path}' ORDER BY doc_id"
    ).fetchall()


def _write_atomic(path: str, data: bytes) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _published(src: str, build: Callable[[str], None]) -> str:
    """Publish the fixture directory ``src`` once and return it.

    A ``src`` holding ``_DONE`` is returned at once. Otherwise
    ``build(tmp)`` writes the fixture's files into a fresh private
    ``src.tmp-<pid>``, which gets ``_DONE`` and is renamed to ``src``.
    The temporary directory is removed on every exit, a failed build
    included. A failed rename is accepted only when ``src/_DONE`` now
    exists (a concurrent builder won). A ``src`` without ``_DONE`` is
    left from an interrupted build: it is moved aside and the rename
    retried once. Any other error propagates."""
    import shutil

    done = os.path.join(src, "_DONE")
    if os.path.exists(done):
        return src
    tmp = f"{src}.tmp-{os.getpid()}"
    stale = f"{tmp}-stale"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        _write_atomic(os.path.join(tmp, "_DONE"), b"ok")
        for attempt in range(2):
            try:
                os.rename(tmp, src)
                break
            except OSError:
                if os.path.exists(done):
                    break  # a concurrent builder won
                if attempt or not os.path.isdir(src):
                    raise
                with contextlib.suppress(FileNotFoundError):
                    os.rename(src, stale)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)
    return src


def documents_jsonl(sf_dir: str, corrupt_every: int = 0) -> str:
    """documents as JSONL; ``corrupt_every``>0 replaces rows whose
    doc_id %% corrupt_every == 0 with a malformed line (a6 fixture)."""
    name = f"documents_corrupt{corrupt_every}.jsonl" if corrupt_every else "documents.jsonl"
    out = os.path.join(_fixture_dir(sf_dir), name)
    if not os.path.exists(out):
        lines = []
        for doc_id, text, lang, source, n_chars in _docs_rows(sf_dir):
            if corrupt_every and doc_id % corrupt_every == 0:
                lines.append('{"doc_id": %d, broken' % doc_id)
            else:
                lines.append(
                    json.dumps(
                        {
                            "doc_id": doc_id,
                            "text": text,
                            "lang": lang,
                            "source": source,
                            "n_chars": n_chars,
                        },
                        ensure_ascii=False,
                    )
                )
        _write_atomic(out, ("\n".join(lines) + "\n").encode())
    return out


def documents_mixed_jsonl(sf_dir: str) -> str:
    """a5 fixture: heterogeneous shapes the inference pass must reconcile —
    ``score`` double only on doc_id%%3==0 rows; ``tags`` array only on
    doc_id%%4==0 rows; n_chars stays long."""
    out = os.path.join(_fixture_dir(sf_dir), "documents_mixed.jsonl")
    if not os.path.exists(out):
        lines = []
        for doc_id, _text, lang, _source, n_chars in _docs_rows(sf_dir):
            row = {"doc_id": doc_id, "lang": lang, "n_chars": n_chars}
            if doc_id % 3 == 0:
                row["score"] = n_chars + 0.5
            if doc_id % 4 == 0:
                row["tags"] = [lang, str(doc_id % 7)]
            lines.append(json.dumps(row, ensure_ascii=False))
        _write_atomic(out, ("\n".join(lines) + "\n").encode())
    return out


def documents_heterotype_dir(sf_dir: str) -> str:
    """a15 fixture: the SAME field changes type ACROSS FILES — ``val`` is
    long in part-0, double in part-1, string in part-2 (rows assigned by
    doc_id %% 3). Inference must sample beyond the first file (the spread
    sampler always includes first + last) and widen long→double→string to
    STRING, then coerce every file's cells to canonical JSON text."""

    def build(tmp: str) -> None:
        parts: list[list[str]] = [[], [], []]
        for doc_id, _text, lang, _source, n_chars in _docs_rows(sf_dir):
            k = doc_id % 3
            if k == 0:
                val = n_chars  # long
            elif k == 1:
                val = n_chars + 0.25  # double
            else:
                val = f"v{doc_id}"  # string
            parts[k].append(
                json.dumps(
                    {"doc_id": doc_id, "lang": lang, "val": val},
                    ensure_ascii=False,
                )
            )
        for k, lines in enumerate(parts):
            _write_atomic(
                os.path.join(tmp, f"part-{k}.jsonl"),
                ("\n".join(lines) + "\n").encode(),
            )

    return _published(os.path.join(_fixture_dir(sf_dir), "documents_heterotype"), build)


def documents_wide_jsonl(sf_dir: str, n_extra: int = 19) -> str:
    """Skip-benchmark fixture (ugh10k scenario, README.md:263-272): wide
    rows — doc_id first, then ``n_extra`` filler fields — projecting one
    column exercises the rskip byte-skip path per remaining field."""
    out = os.path.join(_fixture_dir(sf_dir), f"documents_wide{n_extra}.jsonl")
    if not os.path.exists(out):
        lines = []
        for doc_id, text, lang, source, n_chars in _docs_rows(sf_dir):
            row = {"doc_id": doc_id}
            words = text.split(" ")
            for k in range(n_extra):
                row[f"f{k:02d}"] = " ".join(
                    words[(doc_id + k) % max(1, len(words) - 3) : (doc_id + k) % max(1, len(words) - 3) + 3]
                )
            lines.append(json.dumps(row, ensure_ascii=False))
        _write_atomic(out, ("\n".join(lines) + "\n").encode())
    return out


def documents_wide_jsonl_x(sf_dir: str, repeat: int = 8) -> str:
    """The wide fixture repeated ``repeat`` times (parallel-scan benchmark
    needs enough bytes to amortize per-task overhead)."""
    base = documents_wide_jsonl(sf_dir)
    out = os.path.join(_fixture_dir(sf_dir), f"documents_wide_x{repeat}.jsonl")
    if not os.path.exists(out):
        data = open(base, "rb").read()
        _write_atomic(out, data * repeat)
    return out


def documents_csv(sf_dir: str) -> str:
    """documents as RFC-4180-ish CSV (quoted cells, \\n rows)."""
    out = os.path.join(_fixture_dir(sf_dir), "documents.csv")
    if not os.path.exists(out):

        def q(v) -> str:
            s = str(v)
            return '"' + s.replace('"', '""') + '"'

        lines = [",".join(_DOC_COLS)]
        for row in _docs_rows(sf_dir):
            lines.append(",".join(q(v) for v in row))
        _write_atomic(out, ("\n".join(lines) + "\n").encode())
    return out


def _json_reader(spark: SparkSession):
    register_tectonic_sources(spark)
    return spark.read.format("tectonic-json")


# ------------------------------------------------------------------ queries


@register(
    "a01_json_scan",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc="Full-fidelity JSONL scan through the tectonic-json DataSource "
    "(S1 parity: json/Parser.scala:95-920, lines framing = ValueStream).",
)
def a01_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_jsonl(sf_dir)
    return _json_reader(spark).load(path).select(*_DOC_COLS)


@register(
    "a02_csv_scan",
    oracle=(
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source, "
        "CAST(n_chars AS VARCHAR) AS n_chars FROM documents"
    ),
    doc="CSV scan through tectonic-csv (S2 parity: csv/Parser.scala:30-459; "
    "all cells strings per README.md:89, quote/escape handling).",
)
def a02_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_csv(sf_dir)
    register_tectonic_sources(spark)
    return (
        spark.read.format("tectonic-csv")
        .option("lineSep", "\n")
        .load(path)
        .select(*_DOC_COLS)
    )


@register(
    "a03_projection_pushdown",
    oracle="SELECT doc_id, lang FROM documents",
    doc="Projection pushdown into the parse: user schema narrows the scan; "
    "other top-level keys are byte-skipped via SKIP_COLUMN (rskip parity, "
    "json/Parser.scala:821-879).",
)
def a03_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_jsonl(sf_dir)
    return (
        _json_reader(spark)
        .schema("doc_id long, lang string")
        # exercise the event parser's SKIP_COLUMN byte-skips (the default
        # lines fast path would dict-prune instead)
        .option("fastPath", "false")
        .load(path)
        .select("doc_id", "lang")
    )


def documents_nested_jsonl(sf_dir: str) -> str:
    """Nested-pushdown fixture: doc fields folded into a deep ``meta``
    object with fat sibling keys, so projecting one nested leaf leaves
    most of each row's bytes skippable."""
    out = os.path.join(_fixture_dir(sf_dir), "documents_nested.jsonl")
    if not os.path.exists(out):
        lines = []
        for doc_id, text, lang, source, n_chars in _docs_rows(sf_dir):
            row = {
                "doc_id": doc_id,
                "meta": {
                    "lang": lang,
                    "pad": text,
                    "src": {"host": source, "raw": text[::-1]},
                },
                "body": text,
            }
            lines.append(json.dumps(row, ensure_ascii=False))
        _write_atomic(out, ("\n".join(lines) + "\n").encode())
    return out


@register(
    "a13_nested_pushdown",
    oracle="SELECT doc_id, lang, source AS host FROM documents",
    doc="NESTED projection pushdown (depth generalization of a03; the "
    "reference parser honors SkipColumn at any depth, "
    "json/Parser.scala:764-794): the user schema narrows struct columns, "
    "so the parser byte-skips unneeded subtrees (meta.pad, meta.src.raw, "
    "body) without parsing them — required paths {doc_id, meta.lang, "
    "meta.src.host} derive from the read schema.",
)
def a13_nested_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = documents_nested_jsonl(sf_dir)
    schema = (
        "doc_id long, meta struct<lang: string, src: struct<host: string>>"
    )
    return (
        _json_reader(spark)
        .schema(schema)
        # event parser so the SKIP_COLUMN byte-skips actually execute
        # (the lines fast path dict-prunes post-parse instead)
        .option("fastPath", "false")
        .load(path)
        .select(
            "doc_id",
            F.col("meta.lang").alias("lang"),
            F.col("meta.src.host").alias("host"),
        )
    )


@register(
    "a04_filter_pushdown",
    oracle=(
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE n_chars >= 200 AND lang = 'en'"
    ),
    doc="Filter pushdown: Catalyst filters reach the parser as SKIP_ROW "
    "byte-skips (Signal.scala:26 — declared in the reference, implemented "
    "here); Spark re-applies above, skips are pure I/O savings.",
)
def a04_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_jsonl(sf_dir)
    # event parser so Catalyst filters land as SKIP_ROW byte-skips
    df = _json_reader(spark).option("fastPath", "false").load(path)
    return df.filter((df.n_chars >= 200) & (df.lang == "en")).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "a14_csv_filter_pushdown",
    oracle=(
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, source "
        "FROM documents WHERE lang = 'en' AND source IN ('src1', 'src2', 'src3')"
    ),
    doc="CSV filter pushdown (a4 parity for CSV — beyond the reference, "
    "whose CSV parser discards all Signal returns, csv/Parser.scala:291): "
    "pushed Catalyst filters become one vectorized pyarrow.compute mask "
    "per block on the C++ fast path (rows dropped before crossing into "
    "Spark) and SKIP_ROW byte-skips on the event path; Spark re-applies "
    "all filters above, so skips are pure savings.",
)
def a14_csv_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_csv(sf_dir)
    register_tectonic_sources(spark)
    df = (
        spark.read.format("tectonic-csv")
        .option("lineSep", "\n")
        .load(path)
    )
    return df.filter(
        (df.lang == "en") & df.source.isin("src1", "src2", "src3")
    ).select("doc_id", "lang", "source")


@register(
    "a05_schema_inference",
    oracle=(
        "SELECT doc_id, lang, n_chars, "
        "CASE WHEN doc_id % 3 = 0 THEN n_chars + 0.5 END AS score, "
        "CASE WHEN doc_id % 4 = 0 THEN lang || ',' || CAST(doc_id % 7 AS VARCHAR) END AS tags "
        "FROM documents"
    ),
    doc="Dynamic-schema inference over heterogeneous rows (a5): sampling "
    "pass merges long/double to double, absent fields to nulls, arrays "
    "elementwise (SURVEY §1.2 type lattice).",
)
def a05_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = documents_mixed_jsonl(sf_dir)
    df = _json_reader(spark).load(path)
    # array → csv string so the oracle can express it
    return df.select(
        "doc_id",
        "lang",
        "n_chars",
        "score",
        F.array_join("tags", ",").alias("tags"),
    )


@register(
    "a15_heterotype_widening",
    oracle="""
    SELECT doc_id, lang,
           CASE doc_id % 3
             WHEN 0 THEN CAST(n_chars AS VARCHAR)
             WHEN 1 THEN CAST(CAST(n_chars AS DOUBLE) + 0.25 AS VARCHAR)
             ELSE 'v' || CAST(doc_id AS VARCHAR)
           END AS val
    FROM documents
    """,
    doc="Cross-FILE type widening (a5 gap closed, VERDICT r3 item 10): the "
    "``val`` field is long in part-0, double in part-1, string in part-2 of "
    "a 3-file scan. The spread sampler (json_source.py:173) must see more "
    "than the first file, merge long∨double∨string → STRING via the type "
    "lattice (schema_infer.py:76), and normalize_row must render numeric "
    "cells as canonical JSON text — matching DuckDB's read_json_auto "
    "widening (cross-checked in tests/test_parser_ops.py).",
)
def a15_heterotype_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = documents_heterotype_dir(sf_dir)
    df = _json_reader(spark).load(path)
    return df.select("doc_id", "lang", "val")


@register(
    "a06_malformed_handling",
    oracle=(
        "SELECT CASE WHEN doc_id % 97 = 0 THEN '__corrupt__' ELSE lang END AS lang, "
        "COUNT(*) AS n FROM documents GROUP BY 1"
    ),
    doc="PERMISSIVE malformed-row handling (a6; ParseException parity, "
    "exceptions.scala:24): bad lines become all-null rows captured in "
    "_corrupt; blast radius is one line, the rest of the split parses.",
)
def a06_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = documents_jsonl(sf_dir, corrupt_every=97)
    df = (
        _json_reader(spark)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .load(path)
    )
    return (
        df.withColumn(
            "lang2",
            F.when(F.col("_corrupt").isNotNull(), F.lit("__corrupt__")).otherwise(
                F.col("lang")
            ),
        )
        .groupBy(F.col("lang2").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a07_parquet_sink_roundtrip",
    oracle="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang",
    doc="Sink path: write documents partitioned by lang to parquet "
    "(partition pruning layout for the dominant filter column), read back, "
    "aggregate. The reference has no sinks (SURVEY §2.A); Spark's writers "
    "are the engine's sink surface.",
)
def a07_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "docs_by_lang.parquet")
    (
        table(spark, sf_dir, "documents")
        .write.partitionBy("lang")
        .mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a08_csv_sink_roundtrip",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang"
    ),
    doc="CSV sink → tectonic-csv source round-trip: Spark's CSV writer "
    "produces the files, our DataSource reads them back (string cells "
    "cast), aggregate must match the original table.",
)
def a08_csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "docs_csv_sink")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.option("header", True)
        .mode("overwrite")
        .csv(out)
    )
    register_tectonic_sources(spark)
    df = (
        spark.read.format("tectonic-csv")
        .option("lineSep", "\n")
        .load(out)
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("long")).alias("chars"),
    )


@register(
    "a09_json_sink_roundtrip",
    oracle=(
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source"
    ),
    doc="JSON sink → tectonic-json source round-trip: Spark's JSON writer "
    "produces NDJSON part files, our DataSource reads the directory back "
    "(schema inference across parts), aggregate must match the original.",
)
def a09_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "docs_json_sink")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .json(out)
    )
    df = _json_reader(spark).load(out)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("long")).alias("chars"),
    )


@register(
    "s01_stream_jsonl_to_parquet",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang"
    ),
    doc="Structured Streaming evidence for the driver (s1): the documents "
    "JSONL fixture streams through the tectonic-json "
    "DataSourceStreamReader (directory-snapshot offsets, executor-side "
    "byte-range splits) into a checkpointed parquet sink, and the sink is "
    "aggregated — so the streaming source's output sits under the same "
    "DuckDB oracle as a batch scan. With no rate limit the source offers "
    "every file in one micro-batch; offset continuation is covered by "
    "s03 and tests/test_streaming.py.",
)
def s01_stream_jsonl_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = documents_jsonl(sf_dir)
    register_tectonic_sources(spark)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .load(path)
    )
    sink, _ = _stream_into(stream, sf_dir, "s01")
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )


@register(
    "s02_stream_csv_to_parquet",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang"
    ),
    doc="CSV streaming evidence: the documents CSV fixture streams through "
    "the tectonic-csv DataSourceStreamReader (same generic "
    "TectonicFileStreamReader, byte-range-splittable with unix rows) into "
    "a checkpointed parquet sink; string cells cast back for the "
    "aggregate. Pairs with s01 so both formats have a driver-green "
    "streaming row.",
)
def s02_stream_csv_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = documents_csv(sf_dir)
    register_tectonic_sources(spark)
    stream = (
        spark.readStream.format("tectonic-csv")
        .option("lineSep", "\n")
        .schema(
            "doc_id string, text string, lang string, source string, n_chars string"
        )
        .load(path)
    )
    sink, _ = _stream_into(stream, sf_dir, "s02")
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        )
    )


@register(
    "s03_stream_multibatch",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang"
    ),
    doc="MULTI-batch streaming continuation under the correctness gate: "
    "the documents fixture is split across 4 source files and streamed "
    "with maxFilesPerTrigger=2, so the query must commit ≥2 micro-batches "
    "— offset continuation (directory high-water mark advancing across "
    "triggers) produces the sink, and the builder raises unless the "
    "query read rows in ≥2 micro-batches AND the sink holds every row. "
    "Reference analog: the fs2 pull loop re-entering absorb/churn per "
    "chunk (fs2/StreamParser.scala:52-68).",
)
def s03_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    base = _fixture_dir(sf_dir)

    # fixture: documents JSONL split round-robin-free (contiguous quarters)
    # into 4 part files so maxFilesPerTrigger=2 forces exactly 2 data batches
    def build(tmp: str) -> None:
        lines = open(documents_jsonl(sf_dir), "rb").read().splitlines(keepends=True)
        quarter = (len(lines) + 3) // 4
        for i in range(4):
            part = b"".join(lines[i * quarter : (i + 1) * quarter])
            _write_atomic(os.path.join(tmp, f"in-{i}.jsonl"), part)

    src = _published(os.path.join(base, "s03_src"), build)

    expected = sum(1 for line in open(documents_jsonl(sf_dir), "rb") if line.strip())
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    sink, n_batches = _stream_into(stream, sf_dir, "s03", min_batches=2)
    sink_rows = sink.count()
    if sink_rows < expected:
        raise RuntimeError(
            f"s03: sink has {sink_rows} rows, expected {expected} "
            f"after {n_batches} micro-batches"
        )
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )


def _events_stream_src(sf_dir: str) -> tuple[str, int]:
    """Events as 4 ts-quartered JSONL part files plus a ``z-flush`` sentinel
    file holding one far-future event. Returns (src_dir, expected_groups):
    the number of (1-hour window, event_type) groups the watermarked
    streaming agg must eventually emit."""
    import duckdb

    base = _fixture_dir(sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    expected = duckdb.sql(
        f"SELECT COUNT(*) FROM (SELECT DISTINCT time_bucket(INTERVAL '1 hour', ts), "
        f"event_type FROM '{path}')"
    ).fetchone()[0]

    def build(tmp: str) -> None:
        rows = duckdb.sql(
            f"SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id, "
            f"event_type, value FROM '{path}' ORDER BY ts, event_id"
        ).fetchall()
        quarter = (len(rows) + 3) // 4
        for i in range(4):
            part = "\n".join(
                json.dumps(
                    {
                        "event_id": e,
                        "ts_us": t,
                        "user_id": u,
                        "event_type": et,
                        "value": v,
                    }
                )
                for e, t, u, et, v in rows[i * quarter : (i + 1) * quarter]
            )
            _write_atomic(os.path.join(tmp, f"in-{i}.jsonl"), (part + "\n").encode())
        max_ts = max(t for _e, t, _u, _et, _v in rows)
        sentinel = json.dumps(
            {
                "event_id": -1,
                "ts_us": max_ts + 86_400_000_000,  # +1 day >> watermark delay
                "user_id": -1,
                "event_type": "__flush__",
                "value": 0.0,
            }
        )
        _write_atomic(os.path.join(tmp, "z-flush.jsonl"), (sentinel + "\n").encode())

    return _published(os.path.join(base, "s04_src2"), build), expected


def _events_session_count(sf_dir: str) -> int:
    """Sessions in ``events`` with a 30-minute gap (gaps and islands per
    user): the count s05 and s09 must each emit."""
    import duckdb

    path = os.path.join(sf_dir, "events.parquet")
    return duckdb.sql(
        f"""
        WITH lagged AS (
          SELECT user_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM '{path}')
        SELECT COUNT(*) FROM lagged
        WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        """
    ).fetchone()[0]


@register(
    "s04_stream_watermark",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked event-time windowed aggregation under TRUE append-mode "
    "emission semantics: events stream in ts order across ≥3 rate-limited "
    "micro-batches, the agg groups by window(ts, 1h) × event_type behind "
    "withWatermark(30 min), and a far-future sentinel event in the final "
    "file pushes the watermark past every real window so append mode "
    "finalizes and emits them (the sentinel's own window stays open and is "
    "never emitted — exactly the late-data contract). The builder raises "
    "unless ≥2 micro-batches read rows and every expected group reached "
    "the sink. Reference analog: the fs2 incremental pipeline; Spark-side "
    "this is Structured Streaming state store + event-time watermark.",
)
def s04_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src, expected = _events_stream_src(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("event_id long, ts_us long, event_type string, value double")
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    agg = (
        stream.select(
            F.timestamp_micros("ts_us").alias("ts"), "event_type", "value"
        )
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink, _ = _stream_into(agg, sf_dir, "s04", min_batches=2)
    sink_rows = sink.count()
    if sink_rows < expected:
        raise RuntimeError(
            f"s04: sink has {sink_rows} finalized groups, expected {expected} — "
            "watermark did not close every real window"
        )
    return sink.where(F.col("event_type") != "__flush__")


@register(
    "s05_stream_sessionization",
    oracle="""
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flagged AS (
      -- Spark session windows are [start, last+gap): an event exactly at
      -- prev+gap starts a NEW session, hence >= not >.
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM lagged),
    sessions AS (
      -- event_id tie-break: duplicate timestamps are real at scale (sf1
      -- replicates every ts 10x) and an order-underdetermined cumulative
      -- sum lets tied rows land before the flagged session opener,
      -- splitting sessions arbitrarily (caught by the sf1 sweep).
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="STATEFUL streaming sessionization under the correctness gate: the "
    "same rate-limited event stream as s04 feeds session_window(ts, 30 min) "
    "per user behind a 30-minute watermark in append mode — Spark's "
    "streaming session-state store merges sessions across micro-batches, "
    "and the flush sentinel closes every real session so the emitted set "
    "equals the batch gaps-and-islands oracle exactly. This is the s2 "
    "component's first driver-green row (previously tests-only): real "
    "multi-batch session state, driver-collectable because event-time "
    "semantics (not processing-time timeouts) decide emission.",
)
def s05_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src, _ = _events_stream_src(sf_dir)
    expected = _events_session_count(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("event_id long, ts_us long, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    agg = (
        stream.select(F.timestamp_micros("ts_us").alias("ts"), "user_id")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )
    sink, _ = _stream_into(agg, sf_dir, "s05")
    sink_rows = sink.count()
    if sink_rows < expected:
        raise RuntimeError(
            f"s05: sink has {sink_rows} finalized sessions, expected "
            f"{expected} — watermark did not close every real session"
        )
    return sink.where(F.col("user_id") >= 0)


_DUP_CARRIED = 50  # a quarter's last lines, repeated at the head of the next
_DUP_IN_FILE = 25  # a quarter's first lines, repeated at its own tail


def _dup_quarters(lines: list) -> list[list]:
    """``lines`` cut into 4 contiguous quarters with INJECTED duplicates:
    cross-micro-batch copies (the previous quarter's last lines) and
    in-file copies (the quarter's own first lines)."""
    quarter = (len(lines) + 3) // 4
    bodies: list[list] = []
    carried: list = []
    for i in range(4):
        part = lines[i * quarter : (i + 1) * quarter]
        bodies.append(carried + part + part[:_DUP_IN_FILE])
        carried = part[-_DUP_CARRIED:]
    return bodies


def _n_dups(n: int) -> int:
    """Duplicates ``_dup_quarters`` injects into ``n`` distinct lines."""
    quarter = (n + 3) // 4
    parts = [max(0, min(quarter, n - i * quarter)) for i in range(4)]
    return sum(min(_DUP_IN_FILE, p) for p in parts) + sum(
        min(_DUP_CARRIED, p) for p in parts[:3]
    )


def _events_dup_stream_src(sf_dir: str) -> tuple[str, int, int]:
    """Events as 4 ts-quartered JSONL files with INJECTED duplicates: the
    last 50 rows of each quarter are repeated verbatim at the head of the
    next file (cross-micro-batch duplicates — the case that needs streaming
    state, not per-batch distinct) and the first 25 rows of each quarter
    are repeated inside their own file (the easy case). Returns
    (src_dir, n_distinct_events, n_injected_dups)."""
    import duckdb

    path = os.path.join(sf_dir, "events.parquet")
    n_distinct = duckdb.sql(f"SELECT COUNT(*) FROM '{path}'").fetchone()[0]

    def build(tmp: str) -> None:
        rows = duckdb.sql(
            f"SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id, "
            f"event_type, value FROM '{path}' ORDER BY ts, event_id"
        ).fetchall()
        lines = [
            json.dumps(
                {
                    "event_id": e,
                    "ts_us": t,
                    "user_id": u,
                    "event_type": et,
                    "value": v,
                }
            )
            for e, t, u, et, v in rows
        ]
        for i, body in enumerate(_dup_quarters(lines)):
            _write_atomic(
                os.path.join(tmp, f"in-{i}.jsonl"),
                ("\n".join(body) + "\n").encode(),
            )

    src = _published(os.path.join(_fixture_dir(sf_dir), "s06_src"), build)
    return src, n_distinct, _n_dups(n_distinct)


@register(
    "s06_stream_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="STREAMING exact dedup (continuous-ingestion dedup, the streaming "
    "face of c1/b12): the event stream arrives with injected duplicates — "
    "cross-micro-batch copies (the last 50 rows of each file repeated at "
    "the head of the next) and in-file copies — and "
    "dropDuplicatesWithinWatermark(event_id) behind a 2-day watermark "
    "must drop every one across batch boundaries via the streaming state "
    "store. The builder raises unless >0 dups were injected, >=2 "
    "micro-batches read rows, and the sink holds EXACTLY the distinct "
    "count — then aggregates the sink under the batch oracle. 100 TB "
    "shape: state is keyed by event_id and evicted at ts+delay < "
    "watermark, so state size is bounded by key arrival rate x delay, "
    "not stream length.",
)
def s06_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src, n_distinct, n_dups = _events_dup_stream_src(sf_dir)
    if n_dups <= 0:
        raise RuntimeError("s06: fixture injected no duplicates")
    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    deduped = (
        stream.select(
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "event_type",
            "value",
        )
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink, _ = _stream_into(deduped, sf_dir, "s06", min_batches=2)
    sink_rows = sink.count()
    if sink_rows < n_distinct:
        raise RuntimeError(
            f"s06: sink has {sink_rows} rows, expected {n_distinct}"
        )
    if sink_rows > n_distinct:
        raise RuntimeError(
            f"s06: sink has {sink_rows} rows > {n_distinct} distinct — "
            f"streaming dedup let duplicates through ({n_dups} injected)"
        )
    return (
        sink.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "s07_stream_static_join",
    oracle="""
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Stream-static ENRICHMENT join (the lookup-table pattern of every "
    "continuous ingestion pipeline): the rate-limited event stream joins "
    "per micro-batch against the static customer->nation dimension "
    "(broadcast — the static side is re-planned per batch, never "
    "shuffled), lands enriched rows in a checkpointed parquet sink, and "
    "the sink aggregates per nation under the batch oracle. The flush "
    "sentinel (user_id = -1) falls out of the inner join by design. The "
    "builder raises unless >=2 micro-batches read rows and every "
    "enriched row arrived.",
)
def s07_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    register_tectonic_sources(spark)
    src, _ = _events_stream_src(sf_dir)
    expected = table(spark, sf_dir, "events").count()  # sentinel excluded
    dim = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("user_id", F.col("n_name").alias("nation"))
    )
    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "nation", "value"
    )
    sink, _ = _stream_into(enriched, sf_dir, "s07", min_batches=2)
    sink_rows = sink.count()
    if sink_rows < expected:
        raise RuntimeError(
            f"s07: sink has {sink_rows} enriched rows, expected {expected}"
        )
    return (
        sink.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "s08_stream_stream_join",
    oracle="""
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(CAST(b.value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    GROUP BY a.user_id
    """,
    doc="STREAM-STREAM time-bounded join (the funnel/attribution shape — "
    "state on BOTH sides): clicks and purchases split from the same "
    "rate-limited event stream, each behind a 30-minute watermark, inner-"
    "joined on user_id with a [click, click+30min] range condition. "
    "Spark's symmetric-hash join state buffers both sides and the "
    "watermark + range bound state eviction; because events arrive in ts "
    "order, no match can be evicted before its partner arrives, so the "
    "emitted pair-set equals the batch self-join exactly. The builder "
    "raises unless >=2 micro-batches read rows and the sink holds "
    "EXACTLY the batch pair count; the sink then aggregates per user "
    "under the batch oracle. This completes the streaming matrix: "
    "source/sink, multi-batch, watermark agg, session store, dedup "
    "state, stream-static join, stream-stream join.",
)
def s08_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    register_tectonic_sources(spark)
    src, _ = _events_stream_src(sf_dir)
    ev = table(spark, sf_dir, "events")
    ba = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("a_uid"), F.col("ts").alias("a_ts")
    )
    bb = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_uid"), F.col("ts").alias("b_ts")
    )
    expected = ba.join(
        bb,
        (F.col("a_uid") == F.col("b_uid"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).count()

    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_uid"),
            F.timestamp_micros("ts_us").alias("a_ts"),
        )
        .withWatermark("a_ts", "30 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.timestamp_micros("ts_us").alias("b_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("b_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("a_uid") == F.col("user_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "a_ts", "b_ts", "purchase_value")
    sink, _ = _stream_into(joined, sf_dir, "s08", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s08: sink has {sink_rows} pairs, batch join says {expected}"
        )
    return (
        sink.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("purchase_value").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_purchase_value"),
        )
    )


_S09_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, micros


def _s09_sessionize(key, pdfs, state):
    """applyInPandasWithState kernel: per-user session state with
    EVENT-TIME timeouts. Sessions that provably closed inside the batch
    (a later event >= gap after the last) are emitted immediately; the
    one still-open session is kept in state with a timeout at
    last + gap, which the watermark (pushed by the flush sentinel) fires
    deterministically — no processing-time clocks anywhere, so the
    emitted set is exactly the batch gaps-and-islands result."""
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            [{"user_id": user_id, "start_us": start_us, "n_events": n}]
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_us", "event_id"])
    cur = list(state.get) if state.exists else None
    closed = []
    for ts in rows["ts_us"]:
        ts = int(ts)
        if cur is None:
            cur = [ts, ts, 1]
        elif ts - cur[1] >= _S09_GAP_US:
            closed.append(cur)
            cur = [ts, ts, 1]
        else:
            cur[1] = ts
            cur[2] += 1
    state.update(tuple(cur))
    # fire when the watermark passes the session's close boundary
    state.setTimeoutTimestamp((cur[1] + _S09_GAP_US) // 1000)
    if closed:
        yield pd.DataFrame(
            [
                {"user_id": user_id, "start_us": s, "n_events": n}
                for s, _l, n in closed
            ]
        )


@register(
    "s09_custom_stateful_sessions",
    oracle="""
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM lagged),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="CUSTOM stateful streaming operator (applyInPandasWithState) with "
    "EVENT-TIME timeouts under the exact-oracle gate — the arbitrary-"
    "state API itself, not a built-in window: per-user session tuples "
    "(start, last, n) live in the state store across micro-batches, "
    "in-batch gap splits emit immediately, and still-open sessions close "
    "when the watermark (pushed by the flush sentinel) fires their "
    "event-time timeout — deterministic because no processing-time clock "
    "is consulted, which is what kept this API tests-only before. "
    "Emitted set equals the batch gaps-and-islands oracle exactly "
    "(same oracle as s05, which uses the built-in session_window). "
    "100 TB shape: state is per-user O(1), exchanges key on user_id, "
    "Arrow-batched both directions.",
)
def s09_custom_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    register_tectonic_sources(spark)
    src, _ = _events_stream_src(sf_dir)
    expected = _events_session_count(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    sessions = (
        stream.select(
            "user_id",
            "event_id",
            "ts_us",
            F.timestamp_micros("ts_us").alias("ts"),
        )
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _s09_sessionize,
            outputStructType="user_id long, start_us long, n_events long",
            stateStructType="start_us long, last_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    sink, _ = _stream_into(sessions, sf_dir, "s09")
    closed = sink.where(F.col("user_id") >= 0)
    sink_rows = closed.count()
    if sink_rows < expected:
        raise RuntimeError(
            f"s09: sink has {sink_rows} closed sessions, expected {expected} "
            "— event-time timeouts did not flush every session"
        )
    return (
        closed.select(
            "user_id",
            F.timestamp_micros("start_us").alias("session_start"),
            "n_events",
        )
    )


@register(
    "a17_partitioned_sink_pruning",
    oracle=(
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents "
        "WHERE lang = 'en' GROUP BY source"
    ),
    doc="Hive-style partitioned sink + partition PRUNING round-trip — the "
    "100 TB table layout tool: documents written partitionBy(lang), read "
    "back with a lang predicate, and the builder RAISES unless the scan's "
    "PartitionFilters actually carry the predicate (whole directories "
    "skipped, not row-filtered). The pruned read then aggregates under "
    "the batch oracle.",
)
def a17_partitioned_sink_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.plans import explain_str
    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "a17_docs_by_lang")
    (
        table(spark, sf_dir, "documents")
        .write.partitionBy("lang")
        .mode("overwrite")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    pf = [
        ln
        for ln in explain_str(df.select("doc_id")).splitlines()
        if "PartitionFilters" in ln
    ]
    if not (pf and "lang" in pf[0]):
        raise RuntimeError(
            "a17: lang predicate did not reach PartitionFilters — "
            "partition pruning is not engaging"
        )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "a18_bucketed_join_no_shuffle",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6))) AS VARCHAR)
                AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Bucketed (co-partitioned) catalog tables + shuffle-free fact-fact "
    "join — the layout that amortizes the big-join shuffle at 100 TB: "
    "lineitem and orders both bucketBy(8, orderkey), and with broadcast "
    "disabled the builder RAISES unless the SortMergeJoin plan contains "
    "ZERO Exchange operators (bucket co-location replaces both shuffles "
    "and both sorts come from sortBy). The joined aggregate sits under "
    "the batch oracle.",
)
def a18_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.plans import physical_plan
    from tectonic_spark.tables import table

    import shutil

    # the catalog entry dies with the session but the managed LOCATION
    # persists on disk — drop both (see a12_catalog_table_roundtrip)
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for name in ("a18_li_b", "a18_ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(
            os.path.join(wh.removeprefix("file:"), name), ignore_errors=True
        )
    (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("a18_li_b")
    )
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("a18_ord_b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("a18_li_b")
        ord_ = spark.table("a18_ord_b")
        joined = li.join(ord_, li.l_orderkey == ord_.o_orderkey)
        plan = physical_plan(joined)
        if "SortMergeJoin" not in plan or "Exchange" in plan:
            raise RuntimeError(
                "a18: co-bucketed join still shuffles — bucket layout "
                "is not being used"
            )
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("revenue"),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@register(
    "a10_tectonic_json_writer",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang"
    ),
    doc="Engine-native JSON SINK: documents written through the "
    "tectonic-json DataSourceArrowWriter (unique part names, keep-exactly-"
    "committed protocol, _SUCCESS marker) and read back through the "
    "tectonic-json reader — full write+read round-trip inside one engine.",
)
def a10_tectonic_json_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    register_tectonic_sources(spark)
    out = os.path.join(_fixture_dir(sf_dir), "a10_json_writer")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.format("tectonic-json")
        .mode("overwrite")
        .save(out)
    )
    df = spark.read.format("tectonic-json").load(out)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "a11_tectonic_csv_writer",
    oracle=(
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source"
    ),
    doc="Engine-native CSV SINK: documents written through the "
    "tectonic-csv DataSourceArrowWriter (config-parity quoting/lineSep, "
    "per-part headers) and read back through the tectonic-csv reader "
    "(string cells cast for the aggregate).",
)
def a11_tectonic_csv_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    register_tectonic_sources(spark)
    out = os.path.join(_fixture_dir(sf_dir), "a11_csv_writer")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .write.format("tectonic-csv")
        .mode("overwrite")
        .save(out)
    )
    df = spark.read.format("tectonic-csv").load(out)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("long")).alias("chars"),
    )


@register(
    "a12_catalog_table_roundtrip",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents "
        "WHERE n_chars >= 100 GROUP BY lang"
    ),
    doc="Catalog surface: documents saved as a MANAGED table "
    "(saveAsTable -> warehouse parquet + catalog entry), read back via "
    "spark.table, filtered and aggregated — the metastore-backed workflow "
    "(CREATE/INSERT/SELECT by name) a warehouse user runs.",
)
def a12_catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    import shutil

    name = "tectonic_docs_catalog"
    # the catalog entry dies with the session but the managed LOCATION
    # persists on disk — a fresh session's saveAsTable refuses to reuse it
    # (LOCATION_ALREADY_EXISTS), so drop both explicitly
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), name)
    shutil.rmtree(loc, ignore_errors=True)
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .saveAsTable(name)
    )
    return (
        spark.table(name)
        .filter(F.col("n_chars") >= 100)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )


@register(
    "a16_orc_sink_roundtrip",
    oracle=(
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source"
    ),
    doc="ORC sink round-trip: write documents as ORC (Spark's built-in "
    "columnar alternative to parquet, zlib-compressed by default), read "
    "back, aggregate by source. Completes the sink matrix "
    "(parquet/CSV/JSON/engine-native/catalog/ORC); the oracle aggregates "
    "the source-of-truth parquet, so any write/read corruption flips the "
    "value hash.",
)
def a16_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "docs_orc_sink")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .orc(out)
    )
    return (
        spark.read.orc(out)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        )
    )


# --- s10: streaming corpus curation (dedup state + quality filter) --------

S10_QUALITY_MIN = 0.45  # distinct-token-ratio floor (~corpus median)


def _docs_dup_stream_src(sf_dir: str) -> tuple[str, int, int]:
    """Documents as 4 JSONL files with INJECTED exact-copy duplicates:
    the last 50 rows of each quarter repeat verbatim at the head of the
    next file (cross-micro-batch — needs streaming state) and the first
    25 rows of each quarter repeat inside their own file. Returns
    (src_dir, n_docs, n_injected_dups)."""
    rows = _docs_rows(sf_dir)

    def build(tmp: str) -> None:
        lines = [
            json.dumps(
                {
                    "doc_id": d,
                    "text": t,
                    "lang": lg,
                    "source": s,
                    "n_chars": n,
                }
            )
            for d, t, lg, s, n in rows
        ]
        for i, body in enumerate(_dup_quarters(lines)):
            _write_atomic(
                os.path.join(tmp, f"in-{i}.jsonl"),
                ("\n".join(body) + "\n").encode(),
            )

    src = _published(os.path.join(_fixture_dir(sf_dir), "s10_src"), build)
    return src, len(rows), _n_dups(len(rows))


@register(
    "s10_stream_curation",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
               FROM documents),
    q AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr
          FROM t)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CAST(dr AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_distinct_ratio
    FROM q WHERE dr >= {S10_QUALITY_MIN} GROUP BY lang
    """,
    doc="STREAMING corpus curation — the c05 composition in continuous "
    "form: the document stream arrives with injected exact duplicates "
    "(cross-micro-batch and in-file), and ONE streaming query runs "
    "dedup-within-watermark (state keyed on md5(doc_id:text)) -> in-"
    "stream token/quality scoring -> quality filter -> parquet sink. The "
    "builder raises unless >0 dups were injected, >=2 micro-batches "
    "committed, and the sink holds EXACTLY the filtered distinct count — "
    "then aggregates the sink under the batch oracle. The dedup runs "
    "BEFORE the filter so the state store sees every arrival (the "
    "harder-state order). 100 TB shape: dedup state is bounded by "
    "arrival rate x watermark delay; scoring/filtering are stateless "
    "row-local codegen; the sink is append-only parquet.",
)
def s10_stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src, n_docs, n_dups = _docs_dup_stream_src(sf_dir)
    if n_dups <= 0:
        raise RuntimeError("s10: fixture injected no duplicates")
    w = F.split("text", " ")
    dr = F.size(F.array_distinct(w)).cast("double") / F.size(w)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    curated = (
        stream.select(
            "doc_id",
            "text",
            "lang",
            # +1e12 us: keep every synthetic event time strictly past the
            # epoch-0 initial watermark (doc_id 0 would otherwise be
            # dropped as late before any state exists)
            F.timestamp_micros(F.col("doc_id") * 1000000 + 10**12).alias("ts"),
            F.md5(
                F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text"))
            ).alias("digest"),
        )
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["digest"])
        .select(
            "doc_id",
            "lang",
            F.size(w).cast("long").alias("n_tokens"),
            dr.alias("dr"),
        )
        .where(F.col("dr") >= S10_QUALITY_MIN)
    )
    expected = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .json(src)
        .select(F.countDistinct(F.when(dr >= S10_QUALITY_MIN, F.col("doc_id"))))
        .first()[0]
    )
    sink, _ = _stream_into(curated, sf_dir, "s10", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s10: sink has {sink_rows} rows, expected exactly {expected} "
            f"(dedup state or quality filter failed; {n_dups} dups injected)"
        )
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("dr").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_distinct_ratio"),
        )
    )


@register(
    "a19_merge_schema_evolution",
    oracle="""
    WITH split AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS mid FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id >= split.mid THEN 1 END) AS BIGINT)
             AS n_with_chars,
           CAST(SUM(CASE WHEN doc_id >= split.mid THEN n_chars END)
                AS BIGINT) AS chars
    FROM documents, split GROUP BY lang
    """,
    doc="Parquet schema EVOLUTION read (the 100 TB table-lifecycle case: "
    "a column added mid-history must not force a rewrite): generation 1 "
    "files carry (doc_id, lang), generation 2 adds n_chars; "
    "spark.read.option('mergeSchema', true) reconciles the footers and "
    "nulls the missing column for old files. The aggregate counts "
    "non-null n_chars per lang so a silently-dropped or zero-filled "
    "column cannot pass. Schema merge is a footer-only planning step — "
    "no data rewrite, no shuffle beyond the final aggregation.",
)
def a19_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "docs_evolved.parquet")
    d = table(spark, sf_dir, "documents")
    mid = d.count() // 2
    gen1 = d.where(F.col("doc_id") < mid).select("doc_id", "lang")
    gen2 = d.where(F.col("doc_id") >= mid).select("doc_id", "lang", "n_chars")
    gen1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(out)
    if "n_chars" not in merged.columns:
        raise RuntimeError("a19: mergeSchema did not surface the new column")
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("chars"),
    )


def _docs_gz_mixed_src(sf_dir: str) -> str:
    """documents as 4 JSONL shards, two plain and two gzip-compressed —
    the mixed layout of a real crawl drop."""
    import gzip

    def build(tmp: str) -> None:
        rows = _docs_rows(sf_dir)
        lines = [
            json.dumps(
                {"doc_id": d, "text": t, "lang": lg, "source": s, "n_chars": n}
            )
            for d, t, lg, s, n in rows
        ]
        quarter = (len(lines) + 3) // 4
        for i in range(4):
            body = ("\n".join(lines[i * quarter : (i + 1) * quarter]) + "\n").encode()
            if i % 2 == 0:
                _write_atomic(os.path.join(tmp, f"part-{i}.jsonl"), body)
            else:
                _write_atomic(
                    os.path.join(tmp, f"part-{i}.jsonl.gz"),
                    gzip.compress(body, mtime=0),
                )

    return _published(os.path.join(_fixture_dir(sf_dir), "a20_src"), build)


@register(
    "a20_gzip_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="Compressed ingestion: a directory mixing plain and GZIP NDJSON "
    "shards (the layout of a real web-crawl drop) scans through the same "
    "tectonic-json source — .gz (and .bz2/.xz) files stream-decompress in the executor "
    "and plan as ONE whole-file split each (gzip is not block-"
    "splittable; plain shards keep their byte-range splits). The "
    "aggregate must equal the uncompressed table exactly. The builder "
    "raises unless the planner actually produced both split kinds.",
)
def a20_gzip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.sources.json_source import list_input_files, plan_splits

    register_tectonic_sources(spark)
    src = _docs_gz_mixed_src(sf_dir)
    files = list_input_files(src)
    splits = plan_splits(files, split_bytes=16 * 1024, splittable=True)
    gz = [sp for sp in splits if sp.file.endswith(".gz")]
    plain = [sp for sp in splits if not sp.file.endswith(".gz")]
    if not gz or not plain:
        raise RuntimeError("a20: fixture must plan both gz and plain splits")
    if any(sp.start != 0 or sp.end != sp.file_size for sp in gz):
        raise RuntimeError("a20: gz files must plan as whole-file splits")
    d = (
        spark.read.format("tectonic-json")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("splitSizeBytes", str(16 * 1024))
        .load(src)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "a21_gzip_sink_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="Compressed SINK round-trip (completes the a20 story: emit AND "
    "ingest): the engine-native NDJSON writer produces .json.gz part "
    "files (each task compresses its own part — no driver involvement), "
    "the tectonic-json source reads them back through the shared "
    "decompression path, and the aggregate must equal the source table. "
    "The builder raises unless every part actually carries the .gz "
    "extension.",
)
def a21_gzip_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    register_tectonic_sources(spark)
    out = os.path.join(_fixture_dir(sf_dir), "a21_sink")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.format("tectonic-json")
        .mode("overwrite")
        .option("path", out)
        .option("compression", "gzip")
        .save()
    )
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    if not parts or not all(f.endswith(".json.gz") for f in parts):
        raise RuntimeError(f"a21: expected only .json.gz parts, got {parts}")
    d = (
        spark.read.format("tectonic-json")
        .schema("doc_id long, lang string, n_chars long")
        .load(out)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


_ZSTD_CODEC = "io.airlift.compress.zstd.ZstdCodec"


def _docs_zst_mixed_src(spark: SparkSession, sf_dir: str) -> str:
    """documents as a plain + .gz + .zst NDJSON shard mix — the layout
    of an LLM corpus drop (RedPajama/DCLM-style ship .zst shards). The
    .zst shards are written by Spark's OWN json writer through the
    aircompressor pure-Java zstd codec (bundled with Spark for ORC), so
    both compress and decompress run in the JVM scan path — no Python
    in the loop, which is also why this fixture needs a live session."""
    import gzip
    import shutil

    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "a23_src")

    def build(tmp: str) -> None:
        rows = [r for r in _docs_rows(sf_dir) if r[0] % 2 == 0]
        lines = [
            json.dumps({"doc_id": d, "text": t, "lang": lg, "source": s, "n_chars": n})
            for d, t, lg, s, n in rows
        ]
        half = (len(lines) + 1) // 2
        _write_atomic(
            os.path.join(tmp, "part-0.json"), ("\n".join(lines[:half]) + "\n").encode()
        )
        _write_atomic(
            os.path.join(tmp, "part-1.json.gz"),
            gzip.compress(("\n".join(lines[half:]) + "\n").encode(), mtime=0),
        )
        # odd doc_ids ship as .zst, compressed task-side by the JVM writer
        from pyspark.sql import functions as F

        from tectonic_spark.tables import table

        zdir = os.path.join(tmp, "zst_out")
        (
            table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 2 == 1)
            .select(
                F.to_json(
                    F.struct("doc_id", "text", "lang", "source", "n_chars")
                ).alias("value")
            )
            .repartition(2)
            .write.mode("overwrite")
            .option("compression", _ZSTD_CODEC)
            .text(zdir)
        )
        zparts = sorted(f for f in os.listdir(zdir) if f.startswith("part-"))
        if not zparts or not all(f.endswith(".txt.zst") or f.endswith(".zst") for f in zparts):
            raise RuntimeError(f"a23: zstd writer produced {zparts}")
        for i, f in enumerate(zparts):
            os.replace(os.path.join(zdir, f), os.path.join(tmp, f"part-z{i}.json.zst"))
        shutil.rmtree(zdir)

    return _published(src, build)


@register(
    "a23_zstd_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="zstd ingestion (VERDICT r8 item 5 — LLM corpus drops ship .zst "
    "shards): a directory mixing plain, .gz, and .zst NDJSON shards "
    "scans through Spark's native json reader; the .zst shards were "
    "written by Spark's own writer via the bundled aircompressor "
    "pure-Java zstd codec, and the builder asserts the parts carry real "
    "zstd frames (magic 28 B5 2F FD) before reading them back — a full "
    "JVM-side compress/decompress round-trip with all three extensions "
    "in one scan. The aggregate must equal the uncompressed table "
    "exactly. 100 TB shape: each task inflates its own shard in the "
    "executor JVM scan (no Python, no driver); .zst/.gz files plan as "
    "whole-file splits, plain shards keep byte-range splits.",
)
def a23_zstd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    src = _docs_zst_mixed_src(spark, sf_dir)
    names = os.listdir(src)
    zst = [f for f in names if f.endswith(".zst")]
    if not zst or not any(f.endswith(".json") for f in names) or not any(
        f.endswith(".gz") for f in names
    ):
        raise RuntimeError(f"a23: fixture must mix plain/gz/zst, got {names}")
    for f in zst:
        with open(os.path.join(src, f), "rb") as fh:
            if fh.read(4) != b"\x28\xb5\x2f\xfd":
                raise RuntimeError(f"a23: {f} is not a zstd frame")
    d = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .json(os.path.join(src, "part-*"))
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "a24_parquet_zstd_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="zstd-compressed PARQUET round-trip (completes the a23 story on "
    "the columnar side — zstd is the de-facto lake compression for "
    "analytics tables): documents written as .zstd.parquet via Spark's "
    "native parquet zstd codec, read back by Spark AND cross-read by "
    "DuckDB (the builder raises unless DuckDB counts the same rows "
    "from the same files — pins that the emitted zstd parquet is "
    "standard, not a Spark-only artifact). 100 TB shape: per-task "
    "columnar compression in the scan/write path, no driver "
    "involvement; parquet stays block-splittable by row group "
    "regardless of codec.",
)
def a24_parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "a24_sink")
    (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    if not parts or not all(f.endswith(".zstd.parquet") for f in parts):
        raise RuntimeError(f"a24: expected .zstd.parquet parts, got {parts}")
    import duckdb

    # standardness pin stays O(1) at any sink size (VERDICT r9 item 8):
    # cross-read ONE sampled part-file, not COUNT(*) over the whole sink
    sample = os.path.join(out, sorted(parts)[0])
    n_duck = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sample}')"
    ).fetchone()[0]
    n_spark = spark.read.parquet(sample).count()
    if n_duck != n_spark or n_duck == 0:
        raise RuntimeError(
            f"a24: DuckDB read {n_duck} rows from the sampled zstd "
            f"part-file, Spark read {n_spark}"
        )
    d = spark.read.parquet(out)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "s13_stream_mixed_media",
    oracle="""
    WITH d AS (
      SELECT doc_id, (doc_id // 4) % 3 AS f
      FROM documents WHERE doc_id % 4 = 2
    ),
    j AS (
      SELECT doc_id,
             CASE WHEN ((doc_id // 3) % 3) = 0 THEN 64 ELSE 192 END
               * list_sum(list_transform(range(0, 8),
                   bi -> 2 * ((doc_id * 7 + bi * 13) % 128))) AS px
      FROM d WHERE f = 0
    ),
    p AS (
      SELECT doc_id,
             64 * list_sum(list_transform(range(0, 256),
                   bi -> (doc_id * 13 + bi * 19) % 256)) AS px
      FROM d WHERE f = 1
    ),
    g AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 432), q ->
                 ((doc_id * 5 + ((doc_id + (q // 18) * 3 + (q % 18)) % 16)
                    * 11) % 256)
               + ((doc_id * 5 + ((doc_id + (q // 18) * 3 + (q % 18)) % 16)
                    * 11 + 3) % 256)
               + ((doc_id * 5 + ((doc_id + (q // 18) * 3 + (q % 18)) % 16)
                    * 11 + 6) % 256)
             )) AS px
      FROM d WHERE f = 2
    )
    SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(px) AS BIGINT) AS total_px
    FROM (
      SELECT 'jpeg' AS fmt, px FROM j
      UNION ALL SELECT 'png' AS fmt, px FROM p
      UNION ALL SELECT 'gif' AS fmt, px FROM g
    ) GROUP BY fmt
    """,
    doc="STREAMING heterogeneous-media decode (r9): the document arrival "
    "stream carries a MIX of the three vendored image formats — "
    "baseline JPEG, filter-cycling PNG, 16-color GIF — and one "
    "Arrow-batched mapInPandas stage routes each format group through "
    "its batch engine (JPEG lane pools, PNG segment-lane wavefront "
    "pool, LZW) inside the same streaming plan, exactly what a real "
    "crawl pipeline sees: payloads are not sorted by format at the "
    "source. Append-mode parquet sink, two or more micro-batches with rows "
    "enforced, then a per-format aggregate under three closed-form "
    "pixel-sum oracles at once — a wrong route (e.g. a PNG through the "
    "JPEG path) cannot produce all three sums. Decode is stateless per "
    "payload: no state store, scales with arrival rate.",
)
def s13_stream_mixed_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.multimodal import mixed_media_kernel

    register_tectonic_sources(spark)
    src, _n_docs = _docs_parts_stream_src(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("doc_id long")
        .option("maxFilesPerTrigger", "2")
        .load(src)
        .where(F.col("doc_id") % 4 == 2)
    )
    decoded = mixed_media_kernel(stream)
    expected = (
        spark.read.schema("doc_id long")
        .json(src)
        .where(F.col("doc_id") % 4 == 2)
        .count()
    )
    sink, _ = _stream_into(decoded, sf_dir, "s13", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s13: sink has {sink_rows} decoded rows, expected {expected}"
        )
    return (
        sink.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("px_sum").alias("total_px"),
        )
    )


@register(
    "s14_stream_zstd_ingest",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="STREAMING compressed ingestion (r9 — the a23 story under "
    "Structured Streaming): the SAME mixed plain/.gz/.zst NDJSON shard "
    "directory streams through Spark's native json FileStreamSource "
    "with maxFilesPerTrigger=2, each compressed shard inflating "
    "JVM-side in its micro-batch task (zstd via the bundled "
    "aircompressor codec), into an append-mode parquet sink; >=2 "
    "micro-batches with rows enforced, then the aggregate must equal "
    "the uncompressed table exactly. The arrival pattern of a real "
    "corpus drop: shards land compressed, the pipeline never "
    "re-materializes them.",
)
def s14_stream_zstd_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    src = _docs_zst_mixed_src(spark, sf_dir)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    expected = spark.read.schema(schema).json(os.path.join(src, "part-*")).count()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .json(os.path.join(src, "part-*"))
        .select("doc_id", "lang", "n_chars")
    )
    sink, _ = _stream_into(stream, sf_dir, "s14", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s14: sink has {sink_rows} rows, expected {expected}"
        )
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


def rollup_state_path(state: str) -> str | None:
    """Path of the currently committed rollup version, or None."""
    ptr = os.path.join(state, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return os.path.join(state, fh.read().strip())


def _rollup_applied_batch(state: str) -> int:
    ptr = os.path.join(state, "CURRENT")
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as fh:
        return int(fh.read().strip().removeprefix("v"))


def rollup_merger(state: str, n_merges: dict | None = None):
    """foreachBatch merge closure maintaining a per-event_type rollup in
    ``state`` with SINGLE-RENAME commits: each batch writes a fresh
    versioned parquet dir ``v<batch_id>`` and then atomically swings the
    ``CURRENT`` pointer file to it — state content and the last-applied
    batch id commit in ONE os.replace, so a kill anywhere leaves either
    the old consistent version (batch replays and re-merges) or the new
    one (replay is skipped); there is no window where the marker and the
    state disagree or where the accumulated state is lost. Module-level
    so the crash-replay test drives the PRODUCTION merge body, not a
    copy. foreachBatch is AT-LEAST-once: after a crash between sink
    commit and checkpoint commit the same batch_id replays; the pointer
    doubles as the idempotence guard."""
    import shutil

    from pyspark.sql import functions as F

    def merge(batch_df, batch_id: int) -> None:
        if batch_id <= _rollup_applied_batch(state):
            return  # replayed batch — already folded into state
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_value"),
        )
        cur = rollup_state_path(state)
        if cur is not None:
            old = batch_df.sparkSession.read.parquet(cur)
            merged = (
                old.unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        else:
            merged = delta
        vdir = os.path.join(state, f"v{batch_id}")
        shutil.rmtree(vdir, ignore_errors=True)  # leftover failed attempt
        merged.write.mode("overwrite").parquet(vdir)
        ptr_tmp = os.path.join(state, "CURRENT.tmp")
        with open(ptr_tmp, "w") as fh:
            fh.write(f"v{batch_id}")
        os.replace(ptr_tmp, os.path.join(state, "CURRENT"))  # THE commit
        # best-effort GC: keep the committed version AND its immediate
        # predecessor — a concurrent reader that resolved the old pointer
        # just before the swap can still finish its read; only v(N-2) and
        # older are removed (ADVICE r4)
        keep = {os.path.basename(vdir)}
        if cur is not None:
            keep.add(os.path.basename(cur))
        for d in os.listdir(state):
            if d.startswith("v") and d not in keep:
                shutil.rmtree(os.path.join(state, d), ignore_errors=True)
        if n_merges is not None:
            n_merges["n"] += 1

    return merge


@register(
    "s11_stream_rollup_maintenance",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="STREAMING incremental rollup maintenance — the foreachBatch "
    "merge/upsert pattern (the streaming face of c04_incremental_rollup): "
    "each micro-batch aggregates its own delta per event_type and MERGES "
    "it into a maintained parquet rollup (old state ∪ delta → "
    "re-aggregate → atomic directory swap), never re-reading the source. "
    "Sums travel as DECIMAL(27,6) so merge order cannot flip a bit. The "
    "builder raises unless >=2 micro-batches read rows and the number of "
    "merge invocations matches the batch count (state was built "
    "incrementally, not in one gulp). The maintained state — not a "
    "re-aggregation of the sink — is what the oracle checks. 100 TB "
    "shape: state is group-cardinality-sized; each merge shuffles one "
    "micro-batch plus the (tiny) state; at warehouse scale the same "
    "foreachBatch body targets a MERGE INTO-capable table format.",
)
def s11_stream_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src, _ = _events_stream_src(sf_dir)
    state = os.path.join(_fixture_dir(sf_dir), "s11_state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    n_merges = {"n": 0}
    merge = rollup_merger(state, n_merges)

    stream = (
        spark.readStream.format("tectonic-json")
        .schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    # exclude the far-future watermark-flush sentinel row the shared
    # fixture carries (event_id < 0)
    expected = (
        spark.read.schema(
            "event_id long, ts_us long, user_id long, event_type string, value double"
        )
        .json(src)
        .where(F.col("event_id") >= 0)
        .count()
    )
    _, n_batches = _stream_into(
        stream.where(F.col("event_id") >= 0),
        sf_dir,
        "s11",
        foreach=merge,
        min_batches=2,
    )
    cur = rollup_state_path(state)
    total = spark.read.parquet(cur).agg(F.sum("n_events")).first()[0] if cur else 0
    if total != expected:
        raise RuntimeError(
            f"s11: maintained rollup holds {total} events, expected {expected}"
        )
    if n_merges["n"] != n_batches:
        raise RuntimeError(
            f"s11: {n_merges['n']} merge invocations vs {n_batches} batches"
        )
    return spark.read.parquet(cur).select(
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@register(
    "a22_dynamic_partition_overwrite",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000000
                         ELSE n_chars END) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="Dynamic partition overwrite (spark.sql.sources.partitionOverwrite"
    "Mode=dynamic — the warehouse partition-replace op): write the full "
    "lang-partitioned table, then overwrite ONLY the 'en' partition with "
    "revised rows (n_chars + 1e6). Static overwrite mode would TRUNCATE "
    "every other partition; the oracle's per-lang aggregate — original "
    "values for every non-en lang, revised for en — fails loudly if the "
    "untouched partitions were clobbered or the en rewrite was appended "
    "instead of replaced. At 100 TB this is the idempotent daily-"
    "partition reload: one partition's files rewrite, the rest of the "
    "table is never touched.",
)
def a22_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "a22_table")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.partitionBy("lang").mode("overwrite").parquet(out)
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        revised = d.where(F.col("lang") == "en").withColumn(
            "n_chars", F.col("n_chars") + 1_000_000
        )
        revised.write.partitionBy("lang").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    back = spark.read.parquet(out)
    langs = {r["lang"] for r in back.select("lang").distinct().collect()}
    if langs == {"en"}:
        raise RuntimeError(
            "a22: dynamic overwrite truncated the non-en partitions"
        )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


def _docs_parts_stream_src(sf_dir: str) -> tuple[str, int]:
    """Documents' doc_ids as 4 plain JSONL part files (no injected dups) —
    the media-ingestion arrival stream. Returns (src_dir, n_docs)."""
    rows = _docs_rows(sf_dir)

    def build(tmp: str) -> None:
        lines = [json.dumps({"doc_id": d}) for d, *_ in rows]
        quarter = (len(lines) + 3) // 4
        for i in range(4):
            part = lines[i * quarter : (i + 1) * quarter]
            if part:
                _write_atomic(
                    os.path.join(tmp, f"in-{i}.jsonl"),
                    ("\n".join(part) + "\n").encode(),
                )

    return _published(os.path.join(_fixture_dir(sf_dir), "s12_src"), build), len(rows)


@register(
    "s12_stream_media_decode",
    oracle="""
    WITH img AS (
      SELECT doc_id,
             16 + (doc_id % 4) * 8 AS width,
             16 + ((doc_id // 4) % 3) * 8 AS height,
             (doc_id // 3) % 3 AS mode
      FROM documents WHERE doc_id % 3 = 0
    ),
    s AS (
      SELECT doc_id, width, height,
             CASE WHEN mode = 0 THEN 64 ELSE 192 END
               * list_sum(list_transform(
                   range(0, (width // 8) * (height // 8)),
                   bi -> 2 * ((doc_id * 7 + bi * 13) % 128))) AS px_sum
      FROM img
    )
    SELECT width, height, CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(px_sum) AS BIGINT) AS total_px
    FROM s GROUP BY width, height
    """,
    doc="STREAMING compressed-media ingestion: the document arrival "
    "stream (4 JSONL part files, maxFilesPerTrigger=2 so the decode "
    "spans >=2 micro-batches) flows through the SAME Arrow-batched "
    "mapInPandas JPEG stage as batch m08 — attach real baseline-JFIF "
    "bytes, full entropy decode, pixel-sum extraction — into an "
    "append-mode parquet sink; the maintained sink is then aggregated "
    "per image geometry under the m08 closed-form oracle. Builder "
    "raises unless >=2 micro-batches read rows and the sink holds "
    "exactly one row per image. The pattern a multimodal corpus "
    "pipeline runs continuously: decode is stateless per payload, so "
    "the stream needs no state store and scales with arrival rate.",
)
def s12_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.multimodal import m08_decode_kernel

    register_tectonic_sources(spark)
    src, _n_docs = _docs_parts_stream_src(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("doc_id long")
        .option("maxFilesPerTrigger", "2")
        .load(src)
        .where(F.col("doc_id") % 3 == 0)
    )
    decoded = m08_decode_kernel(stream)
    expected = (
        spark.read.schema("doc_id long")
        .json(src)
        .where(F.col("doc_id") % 3 == 0)
        .count()
    )
    sink, _ = _stream_into(decoded, sf_dir, "s12", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s12: sink has {sink_rows} decoded rows, expected {expected}"
        )
    return (
        sink.groupBy("width", "height")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("px_sum").alias("total_px"),
        )
    )


# charset / content-encoding matrix for the WARC fixtures. Assignment
# is doc_id arithmetic so oracle columns stay SQL-expressible:
#   d % 4 -> (page charset, where it is declared, non-ASCII probe text)
#   d % 3 -> Content-Encoding (0 gzip, 1 deflate, 2 identity/absent)
# The probe is a known non-ASCII sentinel rendered as its own wrapper
# <p> — extraction must reproduce it VERBATIM (then strip it), so a
# charset mishandling (mojibake, wrong sniff, missed meta) raises in
# the kernel instead of silently passing mangled text downstream.
_WARC_CHARSET_MATRIX = {
    0: ("utf-8", "none", ""),  # undeclared — the sniffer's default path
    1: ("windows-1252", "header", "café £9½ déjà-vu"),
    2: ("shift_jis", "meta", "日本語テスト 文字化け検査"),
    3: ("utf-8", "http-equiv", "unicode probe — ünïcødé ✓"),
}
_WARC_ENCODINGS = {0: "gzip", 1: "deflate", 2: None}
_WARC_DATE = "2024-01-01T00:00:00Z"


def _render_response_record(
    d: int,
    text: str,
    lang: str,
    source: str,
    date: str = _WARC_DATE,
    ce: str | None = "matrix",
) -> tuple[bytes, bytes]:
    """Render one document as a WARC response record per the fixture
    matrix (charset by d%4, Content-Encoding by d%3, chunked by d%2).
    ``ce`` overrides the Content-Encoding lane (the a33 brotli matrix
    passes ``"br:<mode>"``); the default keeps the d%3 matrix
    byte-identical for every other fixture family. Returns
    (record_bytes, http_message_bytes) — the HTTP message is what CDX
    payload digests are computed over. Shared by the a25/a30 fixture
    builders and the a28 exporter so every surface renders the
    identical crawl."""
    from tectonic_spark.operators.warc import (
        build_http_response,
        build_warc_record,
        html_page,
    )

    charset, decl, probe = _WARC_CHARSET_MATRIX[d % 4]
    page = html_page(
        text,
        title=f"doc {d} - {source}",  # ASCII: must encode in shift_jis
        lang=lang,
        charset=charset,
        declare=decl if decl in ("meta", "http-equiv") else "none",
        probe=probe,
    )
    ct = f"text/html; charset={charset}" if decl == "header" else "text/html"
    http = build_http_response(
        page,
        chunked=(d % 2 == 0),
        content_type=ct,
        content_encoding=_WARC_ENCODINGS[d % 3] if ce == "matrix" else ce,
    )
    rec = build_warc_record(
        "response",
        http,
        uri=f"https://{source}.example/doc/{d}",
        date=date,
        content_type="application/http; msgtype=response",
    )
    return rec, http


class _CrawlDoc(NamedTuple):
    """What ``_extract_crawl_response`` reads out of one response record."""

    doc_id: int
    text: str
    lang: str | None
    source: str
    codec: str
    ce_header: str | None
    ce_decoded: bool
    chunked: bool
    status: int


def _extract_crawl_response(rec: dict, http: dict | None = None) -> _CrawlDoc:
    """The shared per-record extraction stage: HTTP parse (framing +
    Content-Encoding decode) -> charset sniff/decode -> HTML -> text ->
    probe verification/strip. Returns a ``_CrawlDoc`` (doc_id, text, lang,
    source, codec, ce_header, ce_decoded, chunked, status). Raises (killing the
    shard task loudly) if a charset probe was mangled or a declared
    content coding was left undecoded — extraction must be EXACT."""
    from tectonic_spark.operators.warc import (
        decode_page,
        html_lang,
        html_to_text,
        main_content,
        parse_http_response,
    )

    uri = rec["uri"]
    d = int(uri.rsplit("/", 1)[1])
    host = uri.split("//", 1)[1].split("/", 1)[0]
    source = host.split(".", 1)[0]
    if http is None:
        http = parse_http_response(rec["payload"])
    ce = http["content_encoding"]
    if ce is not None and not http["ce_decoded"]:
        raise ValueError(f"doc {d}: undecoded content coding {ce!r}")
    decoded, codec, origin = decode_page(http["body"], http["content_type"])
    page = decoded.encode("utf-8")
    lang = html_lang(page)
    text = html_to_text(main_content(page))
    probe = _WARC_CHARSET_MATRIX[d % 4][2]
    if probe:
        tail = "\n\n" + " ".join(probe.split())  # probe is its own <p> block
        if not text.endswith(tail):
            raise ValueError(
                f"doc {d}: charset probe mangled "
                f"(codec {codec}, origin {origin}): ...{text[-40:]!r}"
            )
        text = text[: -len(tail)]
    return _CrawlDoc(
        d, text, lang, source, codec, ce, http["ce_decoded"], http["chunked"], http["status"]
    )


def _fetched_docs(rows, shard_path) -> Iterator[tuple[object, _CrawlDoc]]:
    """The verified fetch of indexed crawl responses: for each row
    (``filename``, ``offset``, ``length`` and ``digest`` attributes, e.g.
    pandas ``itertuples`` rows) yield ``(row, doc)``, the extraction of the
    one record ``cdxj.shard_records`` reads for it. The record's payload
    digest must equal ``row.digest`` and, when the row carries a
    ``doc_id``, the extracted doc id must equal it."""
    from tectonic_spark.operators.cdxj import payload_digest, shard_records

    for r, rec in shard_records(rows, shard_path):
        if payload_digest(rec["payload"]) != r.digest:
            raise ValueError(f"{r.filename}@{r.offset}: payload digest mismatch")
        doc = _extract_crawl_response(rec)
        if hasattr(r, "doc_id") and doc.doc_id != int(r.doc_id):
            raise ValueError(
                f"{r.filename}@{r.offset}: index said doc {r.doc_id}, "
                f"record is doc {doc.doc_id}"
            )
        yield r, doc


def _member_kernel(fetch, shard_path, project, columns: list[str]):
    """A ``mapInPandas`` kernel over rows that locate WARC members:
    ``fetch(rows, shard_path)`` (``_fetched_docs`` or
    ``cdxj.shard_records``) yields ``(row, item)`` per input row, and
    ``project(row, item)`` makes the output row, raising where a
    query-specific pin fails."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            got = fetch(pdf.itertuples(index=False), shard_path)
            yield pd.DataFrame([project(r, x) for r, x in got], columns=columns)

    return kernel


def _member_row(r, doc: _CrawlDoc) -> tuple:
    """The ``_MEMBER_COLS`` row of one fetched document."""
    return (doc.doc_id, doc.lang, len(doc.text), int(r.length))


def _warc_shards_src(sf_dir: str) -> tuple[str, int]:
    """documents rendered as a 4-shard web crawl in Common Crawl's
    layout: .warc.gz shards, every record its own gzip member, each doc
    contributing a request + a response record (response = HTTP/1.1
    message whose body is an HTML page embedding the doc text, chunked
    transfer coding for even doc_ids, Content-Length for odd; the body
    representation is gzip / deflate / identity by d%3 and the page
    charset utf-8 / windows-1252 / shift_jis by d%4 with header, meta
    and http-equiv declaration channels), plus one warcinfo record per
    shard. Returns (dir, n_shards)."""
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    # shard size stays ROUGHLY CONSTANT as the corpus grows (the real
    # crawl layout: Common Crawl ships thousands of ~1 GB segments per
    # dump) so scan parallelism scales with data volume — a fixed shard
    # count would serialize the whole-file tasks at large SF
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    # v2: charset + content-encoding matrix (name bump invalidates any
    # cached v1 fixture dir)
    src = os.path.join(base, f"a25_src2_{n_shards}")

    def build(tmp: str) -> None:
        for i in range(n_shards):
            recs = [
                build_warc_record(
                    "warcinfo",
                    f"software: tectonic-spark fixture\r\nformat: WARC/1.0 shard {i}\r\n".encode(),
                    content_type="application/warc-fields",
                )
            ]
            for d, text, lang, source, _n in rows:
                if d % n_shards != i:
                    continue
                uri = f"https://{source}.example/doc/{d}"
                recs.append(
                    build_warc_record(
                        "request",
                        f"GET /doc/{d} HTTP/1.1\r\nHost: {source}.example\r\n\r\n".encode(),
                        uri=uri,
                        content_type="application/http; msgtype=request",
                    )
                )
                recs.append(_render_response_record(d, text, lang, source)[0])
            _write_atomic(os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs))

    return _published(src, build), n_shards


@register(
    "a25_warc_ingest",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_chunked,
           CAST(SUM(CASE WHEN doc_id % 3 < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ce,
           CAST(SUM(CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonutf8,
           CAST(2 * COUNT(*) AS BIGINT) AS n_http_records
    FROM documents GROUP BY lang
    """,
    doc="WARC crawl ingestion (warc.py — the container format of web "
    "crawls; Common Crawl ships WARC/WET/WAT, the raw side of a 100 TB "
    "training corpus): documents rendered as member-per-record .warc.gz "
    "shards, then ingested by the full stack a crawl pipeline runs — "
    "gzip member walk -> ISO 28500 record grammar (Content-Length "
    "framing, LWS folding) -> HTTP/1.1 message parse (chunked transfer "
    "decoding for half the pages, Content-Length for the rest) -> "
    "HTML main-content text extraction (script/style/comment removal, "
    "block-element line semantics, character references). EVERY output "
    "column crosses the whole stack: doc_id parses from the WARC-Target-"
    "URI, lang from the page's <html lang> attribute, chars from the "
    "length of the EXTRACTED text (equal to n_chars only if extraction "
    "inverts the page wrapper exactly), n_chunked from the framing the "
    "HTTP parser actually decoded, n_ce from the Content-Encoding "
    "(gzip/deflate) bodies the parser actually DECOMPRESSED, n_nonutf8 "
    "from the charsets the sniffer actually resolved (windows-1252 via "
    "the Content-Type header, shift_jis via <meta charset> — each page "
    "carries a non-ASCII probe paragraph the kernel verifies verbatim, "
    "so mojibake raises instead of passing), n_http_records from the "
    "record census (the per-shard warcinfo records are counted and "
    "asserted builder-side, excluded here). 100 TB shape: gzip shards are "
    "whole-file work units (members are not byte-range-splittable "
    "without an index) scanned via binaryFile into one mapInPandas "
    "walk — payload bytes never leave the executor task; the only "
    "exchange is the final tiny per-lang aggregate.",
)
def a25_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, n_shards = _warc_shards_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_extracted_chars", LongType(), True),
            StructField("chunked", BooleanType(), True),
            StructField("ce", BooleanType(), True),
            StructField("nonutf8", BooleanType(), True),
            StructField("n_http_records", LongType(), True),
            StructField("n_warcinfo", LongType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                n_info = 0
                # per-doc census: [n_requests, n_responses, extraction]
                per_doc: dict[int, list] = {}
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] == "warcinfo":
                        n_info += 1
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1])
                    ent = per_doc.setdefault(d, [0, 0, None])
                    if rec["type"] == "request":
                        ent[0] += 1
                        continue
                    if rec["type"] != "response":
                        raise ValueError(f"unexpected record type {rec['type']!r}")
                    ent[1] += 1
                    (_d, text, lang, _src, codec, ce_hdr, ce_dec, chunked,
                     status) = _extract_crawl_response(rec)
                    if status != 200:
                        raise ValueError(f"doc {d}: status {status}")
                    ent[2] = (
                        lang,
                        len(text),
                        chunked,
                        ce_hdr is not None and ce_dec,
                        codec not in ("utf-8", "utf-8-sig"),
                    )
                first = True
                for d in sorted(per_doc):
                    n_req, n_resp, resp = per_doc[d]
                    if resp is None:
                        raise ValueError(f"doc {d}: request without response")
                    lang, n_chars, chunked, ce, nonutf8 = resp
                    rows.append(
                        (
                            d,
                            lang,
                            n_chars,
                            chunked,
                            ce,
                            nonutf8,
                            n_req + n_resp,
                            n_info if first else 0,
                        )
                    )
                    first = False
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "lang",
                    "n_extracted_chars",
                    "chunked",
                    "ce",
                    "nonutf8",
                    "n_http_records",
                    "n_warcinfo",
                ],
            )

    parsed = files.select("content").mapInPandas(walk, schema)
    # the parsed frame is tiny (6 scalar columns per doc) next to the
    # shard bytes it came from: persist it so the builder-side census
    # pin below and the returned aggregate share ONE walk over the
    # shards instead of parsing the crawl twice
    parsed = parsed.persist()
    agg = parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_extracted_chars").alias("chars"),
        F.sum(F.when(F.col("chunked"), 1).otherwise(0)).alias("n_chunked"),
        F.sum(F.when(F.col("ce"), 1).otherwise(0)).alias("n_ce"),
        F.sum(F.when(F.col("nonutf8"), 1).otherwise(0)).alias("n_nonutf8"),
        F.sum("n_http_records").alias("n_http_records"),
    )
    # builder-side census pin: exactly one warcinfo per shard arrived
    # through the record walk (one-row distributed aggregate)
    n_info = parsed.agg(F.sum("n_warcinfo")).collect()[0][0]
    if n_info != n_shards:
        parsed.unpersist()
        raise RuntimeError(
            f"a25: {n_info} warcinfo records across {n_shards} shards"
        )
    # materialize the tiny per-lang aggregate (a handful of rows) while
    # parsed is still cached, then RELEASE the cache — a long registry
    # sweep shares one SparkSession, and persisted blocks left behind by
    # every query would accumulate across hundreds of queries
    agg_rows = agg.collect()
    parsed.unpersist()
    return spark.createDataFrame(agg_rows, agg.schema)


def warc_extract_kernel(files: DataFrame) -> DataFrame:
    """Crawl-extraction stage: a DataFrame with a binary ``content``
    column of WARC shard bytes -> the reconstructed document frame
    (doc_id, text, lang, source, n_chars). Every column crosses the
    ingestion stack: doc_id from WARC-Target-URI, source from the URI
    host, lang from the page's <html lang> attribute, text from HTML
    main-content extraction after HTTP de-framing, Content-Encoding
    decompression (gzip/deflate) and charset sniffing (Content-Type
    header / <meta charset> / BOM / utf-8 default) — each page's
    non-ASCII probe paragraph is verified verbatim and stripped, so a
    decode defect raises rather than passing mojibake. Shared by the batch
    composition (c05_crawl_curation) and the streaming ingest (s15) —
    stateless per shard, so the stream plan runs it unchanged."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    (d, text, lang, source, _codec, _ce, _dec, _ch,
                     _st) = _extract_crawl_response(rec)
                    rows.append((d, text, lang, source, len(text)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    return files.select("content").mapInPandas(walk, schema)


@register(
    "s15_warc_stream",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
    doc="STREAMING crawl ingestion — the continuous form of a25/c05: "
    "WARC shards arrive as files (binaryFile stream source, "
    "maxFilesPerTrigger=2 so ingestion spans >=2 micro-batches) and "
    "flow through the SAME warc_extract_kernel as the batch paths "
    "(gzip member walk -> record grammar -> HTTP de-framing -> HTML "
    "main-content extraction) into an append parquet sink of "
    "reconstructed documents; the maintained sink is then aggregated "
    "per lang against the source-table oracle. Extraction is stateless "
    "per shard, so the stream needs no state store and scales with "
    "crawl arrival rate — the shape of a live crawl-ingestion tier "
    "feeding the batch curation downstream. Builder raises unless >=2 "
    "micro-batches read rows and the sink holds exactly one row per "
    "document.",
)
def s15_warc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    src, n_shards = _warc_shards_src(sf_dir)
    # files-per-trigger scales with the shard count: each file is one
    # extraction task, so a fixed "2" would leave 30 cores idle per
    # micro-batch at large SF; n_shards//4 keeps >=4 micro-batches (the
    # >=2 gate stays binding at small SF where n_shards == 4)
    per_trigger = max(2, n_shards // 4)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", str(per_trigger))
        .option("pathGlobFilter", "*.warc.gz")
        .load(src)
    )
    docs = warc_extract_kernel(stream)
    expected = len(_docs_rows(sf_dir))
    sink, _ = _stream_into(docs, sf_dir, "s15", min_batches=2)
    sink_rows = sink.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s15: sink has {sink_rows} extracted docs, expected {expected}"
        )
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def _docs_zip_src(sf_dir: str) -> str:
    """documents as NDJSON members of a single .zip bundle — 4 members
    alternating STORED / DEFLATE, the scraped-dataset-mirror layout."""
    from tectonic_spark.operators.archive import build_zip

    rows = _docs_rows(sf_dir)
    n_zips = max(1, len(rows) // 60000)  # bundle size ~constant at scale
    base = _fixture_dir(sf_dir)
    # v2: even bundles are forced-ZIP64 (r11 — the >4 GiB structures
    # parse without >4 GiB fixtures); name bump invalidates v1 caches
    src = os.path.join(base, f"a26_src2_{n_zips}")

    def build(tmp: str) -> None:
        n_members = 4 * n_zips
        for z in range(n_zips):
            members = []
            for i in range(z * 4, z * 4 + 4):
                lines = [
                    json.dumps(
                        {"doc_id": d, "text": t, "lang": lg, "source": s, "n_chars": n}
                    )
                    for d, t, lg, s, n in rows
                    if d % n_members == i
                ]
                members.append(
                    (
                        f"shard-{i}.jsonl",
                        ("\n".join(lines) + "\n").encode(),
                        "stored" if i % 2 == 0 else "deflate",
                    )
                )
            _write_atomic(
                os.path.join(tmp, f"corpus-{z:03d}.zip"),
                build_zip(members, zip64=(z % 2 == 0)),
            )

    return _published(src, build)


@register(
    "a26_zip_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(CASE WHEN doc_id % 4 IN (1, 3) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deflated
    FROM documents GROUP BY lang
    """,
    doc="ZIP archive ingestion (archive.py — corpus mirrors ship .zip "
    "bundles alongside the .gz/.zst shards of a21/a23): a structural "
    "PKWARE walk (EOCD discovery with comment-tolerant backward scan, "
    "central directory, local-header cross-validation, raw-deflate "
    "inflation, per-member CRC-32 + size verification, and since r11 "
    "ZIP64: even bundles are forced-ZIP64 so the EOCD64/locator and "
    "0x0001 extra-field paths parse every run — no stdlib zipfile in "
    "the data path; interop with zipfile is pinned both ways in tests "
    "incl. a >65535-member stdlib archive), and each member's NDJSON "
    "bytes are parsed by the "
    "ENGINE'S OWN JsonParser (S1 — the reference-parity async parser), "
    "not a JSON library: the zip path exercises the same parser the "
    "tectonic-json source runs. n_deflated counts docs that arrived "
    "via DEFLATE members (from the member metadata the walk returned). "
    "100 TB shape: one zip bundle = one whole-file task (members "
    "inflate independently; a member index would enable member-range "
    "splits — same whole-file doctrine as gzip); the aggregate is the "
    "only exchange.",
)
def a26_zip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = _docs_zip_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.zip"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("deflated", LongType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.core.json_parser import JsonParser, Mode
        from tectonic_spark.core.result import Failure
        from tectonic_spark.core.value_builder import ValueBuilderPlate
        from tectonic_spark.operators.archive import parse_zip

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for member in parse_zip(bytes(blob)):
                    plate = ValueBuilderPlate()
                    parser = JsonParser(plate, Mode.VALUE_STREAM)
                    res = parser.absorb(member["data"])
                    if isinstance(res, Failure):
                        raise ValueError(
                            f"{member['name']}: {res.error}"
                        )
                    vals = list(res.value)
                    res = parser.finish()
                    if isinstance(res, Failure):
                        raise ValueError(f"{member['name']}: {res.error}")
                    vals.extend(res.value)
                    deflated = 1 if member["method"] == 8 else 0
                    rows.extend(
                        (v["doc_id"], v["lang"], v["n_chars"], deflated)
                        for v in vals
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "n_chars", "deflated"]
            )

    parsed = files.select("content").mapInPandas(walk, schema)
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("deflated").alias("n_deflated"),
    )


def _wet_wat_src(sf_dir: str) -> tuple[str, int]:
    """The OTHER two Common Crawl artifact types for the same crawl:
    WET (conversion records — extracted plain text) and WAT (metadata
    records — JSON envelopes), each in member-per-record .gz shards.
    Shard count scales with the corpus like a25."""
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(2, len(rows) // 25000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"a27_src_{n_shards}")

    def build(tmp: str) -> None:
        for i in range(n_shards):
            wet, wat = [], []
            for d, text, lang, source, n in rows:
                if d % n_shards != i:
                    continue
                uri = f"https://{source}.example/doc/{d}"
                wet.append(
                    build_warc_record(
                        "conversion",
                        text.encode("utf-8"),
                        uri=uri,
                        content_type="text/plain",
                    )
                )
                wat.append(
                    build_warc_record(
                        "metadata",
                        json.dumps(
                            {
                                "Envelope": {
                                    "WARC-Header-Metadata": {
                                        "WARC-Target-URI": uri,
                                        "WARC-Type": "response",
                                    },
                                    "Payload-Metadata": {
                                        "Actual-Content-Length": n,
                                        "HTTP-Response-Metadata": {
                                            "Headers": {"Content-Language": lang},
                                            "Response-Message": {"Status": 200},
                                        },
                                    },
                                }
                            }
                        ).encode(),
                        uri=uri,
                        content_type="application/json",
                    )
                )
            _write_atomic(os.path.join(tmp, f"wet-{i:03d}.warc.wet.gz"), write_warc(wet))
            _write_atomic(os.path.join(tmp, f"wat-{i:03d}.warc.wat.gz"), write_warc(wat))

    return _published(src, build), n_shards


@register(
    "a27_wet_wat_ingest",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS wet_chars,
           CAST(SUM(n_chars) AS BIGINT) AS wat_content_length,
           CAST(COUNT(*) AS BIGINT) AS n_status_200
    FROM documents GROUP BY lang
    """,
    doc="WET + WAT ingestion (completes the Common Crawl artifact "
    "triple with a25: WET ships pre-extracted plain text as "
    "WARC-Type conversion records, WAT ships per-page metadata as "
    "JSON envelopes in metadata records): both shard families walk "
    "through the SAME ISO 28500 record grammar as a25, and the WAT "
    "JSON envelopes parse through the ENGINE'S OWN S1 JsonParser. "
    "The two artifact types are JOINED on the doc_id parsed from "
    "their URIs: wet_chars comes from the conversion payload length, "
    "wat_content_length from the envelope's Actual-Content-Length, "
    "lang from the envelope's Content-Language header — the oracle "
    "pins them consistent (both equal n_chars per doc), which only "
    "holds if both record walks and the join line up. 100 TB shape: "
    "whole-file shard tasks for both families; the join shuffles on "
    "doc_id (both sides corpus-sized — the one unavoidable exchange); "
    "final aggregate per lang.",
)
def a27_wet_wat_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _wet_wat_src(sf_dir)
    wet_files = spark.read.format("binaryFile").load(
        os.path.join(src, "wet-*.warc.wet.gz")
    )
    wat_files = spark.read.format("binaryFile").load(
        os.path.join(src, "wat-*.warc.wat.gz")
    )

    wet_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("wet_len", LongType(), True),
        ]
    )
    wat_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("content_length", LongType(), True),
            StructField("status", LongType(), True),
        ]
    )

    def wet_walk(batches):
        import pandas as pd

        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "conversion":
                        raise ValueError(f"unexpected WET type {rec['type']}")
                    d = int(rec["uri"].rsplit("/", 1)[1])
                    rows.append((d, len(rec["payload"].decode("utf-8"))))
            yield pd.DataFrame(rows, columns=["doc_id", "wet_len"])

    def wat_walk(batches):
        import pandas as pd

        from tectonic_spark.core.json_parser import JsonParser, Mode
        from tectonic_spark.core.result import Failure
        from tectonic_spark.core.value_builder import ValueBuilderPlate
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "metadata":
                        raise ValueError(f"unexpected WAT type {rec['type']}")
                    plate = ValueBuilderPlate()
                    parser = JsonParser(plate, Mode.SINGLE_VALUE)
                    res = parser.absorb(rec["payload"])
                    if isinstance(res, Failure):
                        raise ValueError(f"WAT envelope: {res.error}")
                    vals = list(res.value)
                    res = parser.finish()
                    if isinstance(res, Failure):
                        raise ValueError(f"WAT envelope: {res.error}")
                    vals.extend(res.value)
                    (env,) = vals
                    e = env["Envelope"]
                    d = int(
                        e["WARC-Header-Metadata"]["WARC-Target-URI"].rsplit(
                            "/", 1
                        )[1]
                    )
                    pm = e["Payload-Metadata"]
                    http = pm["HTTP-Response-Metadata"]
                    rows.append(
                        (
                            d,
                            http["Headers"]["Content-Language"],
                            pm["Actual-Content-Length"],
                            http["Response-Message"]["Status"],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "content_length", "status"]
            )

    wet = wet_files.select("content").mapInPandas(wet_walk, wet_schema)
    wat = wat_files.select("content").mapInPandas(wat_walk, wat_schema)
    joined = wet.join(wat, "doc_id")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("wet_len").alias("wet_chars"),
        F.sum("content_length").alias("wat_content_length"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias(
            "n_status_200"
        ),
    )


def _sitemap_src(sf_dir: str) -> str:
    """Per-source sitemap trees in the sitemaps.org protocol layout: one
    <sitemapindex> per source referencing its <urlset> leaves (200 URLs
    per leaf — the protocol caps leaves at 50k; a smaller chunk keeps
    multiple leaves per source at fixture scale)."""
    from tectonic_spark.operators.xmlparse import (
        build_sitemap,
        build_sitemap_index,
    )

    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "c03_sitemaps")

    def build(tmp: str) -> None:
        per_source: dict[str, list] = {}
        for d, _t, _lg, source, _n in _docs_rows(sf_dir):
            if d % 17 == 6:
                per_source.setdefault(source, []).append(d)
        for source, ids in per_source.items():
            leaves = []
            for k in range(0, len(ids), 200):
                chunk = ids[k : k + 200]
                urls = [
                    {
                        "loc": f"https://{source}.example/doc/{d}",
                        "lastmod": f"2024-{1 + d % 12:02d}-01",
                        "priority": f"0.{d % 10}",
                    }
                    for d in chunk
                ]
                leaf = f"sm-{source}-{k // 200:03d}.xml"
                _write_atomic(os.path.join(tmp, leaf), build_sitemap(urls))
                leaves.append(f"https://{source}.example/{leaf}")
            _write_atomic(
                os.path.join(tmp, f"index-{source}.xml"),
                build_sitemap_index(leaves),
            )

    return _published(src, build)


@register(
    "c03_sitemap_census",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 17 = 6)
    SELECT source,
           CAST((COUNT(*) + 199) // 200 AS BIGINT) AS sitemaps_listed,
           CAST((COUNT(*) + 199) // 200 AS BIGINT) AS sitemaps_seen,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(doc_id % 10) AS BIGINT) AS sum_priority_tenths,
           MAX('2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
               || '-01') AS max_lastmod
    FROM d GROUP BY source
    """,
    doc="Sitemap census (xmlparse.py — a crawl frontier reads "
    "sitemap.xml before fetching anything; XML is the engine's last "
    "missing crawl-metadata markup): per-source sitemaps.org trees — "
    "a <sitemapindex> per source referencing 200-URL <urlset> leaves — "
    "parsed by the vendored structural XML parser (predefined + "
    "numeric entities, CDATA, DOCTYPE skipped verbatim with NO entity "
    "expansion, so the XXE class cannot exist). The walk emits one row "
    "per FILE (index rows carry the leaf-reference count, leaf rows "
    "carry url/priority/lastmod aggregates) and the per-source "
    "aggregate pins sitemaps_listed (from index content) EQUAL to "
    "sitemaps_seen (leaf files actually parsed) — a lost or orphaned "
    "leaf breaks the hash. priority sums as integer tenths (exact "
    "cross-engine). 100 TB shape: per-file parse in mapInPandas, one "
    "small per-source aggregate exchange, no joins.",
)
def c03_sitemap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = _sitemap_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.xml"))
    schema = StructType(
        [
            StructField("source", StringType(), True),
            StructField("kind", StringType(), True),
            StructField("n_refs", LongType(), True),
            StructField("n_urls", LongType(), True),
            StructField("sum_priority_tenths", LongType(), True),
            StructField("max_lastmod", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.xmlparse import parse_xml

        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                root = parse_xml(bytes(blob))
                if root.tag == "sitemapindex":
                    refs = [s.child_text("loc") for s in root.findall("sitemap")]
                    if any(r is None for r in refs):
                        raise ValueError(f"{path}: sitemap entry without loc")
                    # source from the referenced host — pins the index
                    # CONTENT, not the filename
                    hosts = {r.split("//", 1)[1].split(".", 1)[0] for r in refs}
                    if len(hosts) != 1:
                        raise ValueError(f"{path}: index spans hosts {hosts}")
                    rows.append((hosts.pop(), "index", len(refs), 0, 0, None))
                    continue
                if root.tag != "urlset":
                    raise ValueError(f"{path}: unexpected root <{root.tag}>")
                urls = root.findall("url")
                locs = [u.child_text("loc") for u in urls]
                if any(loc is None for loc in locs):
                    raise ValueError(f"{path}: url entry without loc")
                hosts = {loc.split("//", 1)[1].split(".", 1)[0] for loc in locs}
                if len(hosts) != 1:
                    raise ValueError(f"{path}: leaf spans hosts {hosts}")
                pr = sum(
                    int(u.child_text("priority").split(".")[1]) for u in urls
                )
                rows.append(
                    (
                        hosts.pop(),
                        "leaf",
                        0,
                        len(urls),
                        pr,
                        max(u.child_text("lastmod") for u in urls),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "source",
                    "kind",
                    "n_refs",
                    "n_urls",
                    "sum_priority_tenths",
                    "max_lastmod",
                ],
            )

    parsed = files.select("path", "content").mapInPandas(walk, schema)
    return parsed.groupBy("source").agg(
        F.sum("n_refs").alias("sitemaps_listed"),
        F.sum(F.when(F.col("kind") == "leaf", 1).otherwise(0)).alias(
            "sitemaps_seen"
        ),
        F.sum("n_urls").alias("n_urls"),
        F.sum("sum_priority_tenths").alias("sum_priority_tenths"),
        F.max("max_lastmod").alias("max_lastmod"),
    )


@register(
    "c03_robots_eval",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN 'special-bot'
                  ELSE 'genericbot' END AS agent,
             CASE WHEN doc_id % 10 = 0 THEN 'ok'
                  WHEN doc_id % 5 = 0 THEN 'private'
                  WHEN doc_id % 7 = 0 THEN 'tmp'
                  ELSE 'docs' END AS kind
      FROM documents WHERE doc_id % 11 = 3
    )
    SELECT doc_id, source, agent,
           CASE WHEN agent = 'special-bot' THEN kind <> 'docs'
                ELSE kind IN ('ok', 'docs') END AS allowed,
           CASE WHEN agent = 'special-bot' THEN NULL
                ELSE 10 * CAST(substr(source, 4) AS BIGINT) + 5
           END AS crawl_delay_tenths
    FROM d
    """,
    doc="robots.txt evaluation (robots.py, RFC 9309 — the gatekeeper a "
    "crawl frontier consults before every fetch; robots filtering is a "
    "standard crawl-corpus curation step): each source carries a "
    "robots.txt exercising the full rule grammar — multi-agent groups "
    "(exact product token beats *), longest-match precedence, "
    "allow-wins-on-tie, * wildcards, the $ end anchor, Crawl-delay "
    "extension, ignored unknown fields — and each doc evaluates its "
    "fixture path under an agent that alternates between the specific "
    "group and the wildcard group. The oracle reconstructs the verdict "
    "from doc_id arithmetic, so a group-selection or precedence bug "
    "flips the hash. 100 TB shape: per-row evaluation in mapInPandas "
    "(the parsed robots structure is one tiny dict per source, cached "
    "per batch), no shuffle.",
)
def c03_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tectonic_spark.tables import table

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .where(F.col("doc_id") % 11 == 3)
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("source", StringType(), True),
            StructField("agent", StringType(), True),
            StructField("allowed", BooleanType(), True),
            StructField("crawl_delay_tenths", LongType(), True),
        ]
    )

    def robots_text(source: str) -> bytes:
        k = int(source[3:])
        return (
            "# generated robots fixture\n"
            "User-agent: special-bot\n"
            "Disallow: /docs/\n"
            "Allow: /docs/open/\n"
            "\n"
            "User-agent: *\n"
            "User-agent: other-bot\n"
            "Disallow: /private/\n"
            "Allow: /private/ok/\n"
            "Disallow: /*.tmp$\n"
            f"Crawl-delay: {k}.5\n"
            f"Sitemap: https://{source}.example/sitemap.xml\n"
            "Unknown-field: ignored per RFC 9309\n"
        ).encode()

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.robots import (
            _select_group,
            parse_robots,
            robots_allowed,
        )

        cache: dict[str, dict] = {}
        for pdf in batches:
            rows = []
            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                d = int(doc_id)
                r = cache.get(source)
                if r is None:
                    r = cache[source] = parse_robots(robots_text(source))
                agent = "special-bot" if d % 3 == 0 else "genericbot"
                if d % 10 == 0:
                    path = f"/private/ok/{d}"
                elif d % 5 == 0:
                    path = f"/private/{d}"
                elif d % 7 == 0:
                    path = f"/assets/{d}.tmp"
                else:
                    path = f"/docs/{d}/view"
                allowed = robots_allowed(r, agent, path)
                grp = _select_group(r["groups"], agent)
                delay = grp["crawl_delay"] if grp else None
                rows.append(
                    (
                        d,
                        source,
                        agent,
                        allowed,
                        int(delay * 10) if delay is not None else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "source",
                    "agent",
                    "allowed",
                    "crawl_delay_tenths",
                ],
            )

    return docs.mapInPandas(walk, schema)


def _feeds_src(sf_dir: str) -> str:
    """Per-source syndication feeds: even-numbered sources publish RSS
    2.0, odd Atom (link as an ATTRIBUTE — the shape RSS lacks, so the
    census exercises both element-text and attribute extraction)."""
    from tectonic_spark.operators.xmlparse import build_atom, build_rss

    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "c03_feeds")

    def build(tmp: str) -> None:
        per_source: dict[str, list] = {}
        for d, _t, _lg, source, _n in _docs_rows(sf_dir):
            if d % 19 == 8:
                per_source.setdefault(source, []).append(d)
        for source, ids in per_source.items():
            k = int(source[3:])
            if k % 2 == 0:
                payload = build_rss(
                    f"{source} news & updates",
                    [
                        {
                            "title": f"post {d}",
                            "link": f"https://{source}.example/doc/{d}",
                            "guid": f"urn:doc:{d}",
                            "pubDate": f"2024-{1 + d % 12:02d}-02",
                        }
                        for d in ids
                    ],
                )
            else:
                payload = build_atom(
                    f"{source} feed",
                    [
                        {
                            "title": f"post {d}",
                            "link": f"https://{source}.example/doc/{d}",
                            "id": f"urn:doc:{d}",
                            "updated": f"2024-{1 + d % 12:02d}-02T00:00:00Z",
                        }
                        for d in ids
                    ],
                )
            _write_atomic(os.path.join(tmp, f"feed-{source}.xml"), payload)

    return _published(src, build)


@register(
    "c03_feed_census",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 19 = 8)
    SELECT source,
           CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                THEN 'rss' ELSE 'atom' END AS format,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(doc_id) AS BIGINT) AS sum_linked_doc_ids,
           MAX('2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
               || '-02') AS max_published
    FROM d GROUP BY source
    """,
    doc="Syndication-feed census (xmlparse.py — feeds are the discovery "
    "layer of a crawl alongside sitemaps): even-numbered sources "
    "publish RSS 2.0 (item links as element TEXT), odd publish Atom "
    "(links as the href ATTRIBUTE) — the census exercises both "
    "extraction shapes of the XML grammar plus the format sniff from "
    "the ROOT TAG (rss vs feed; reported format comes from the parse, "
    "not the fixture arithmetic). sum_linked_doc_ids re-derives every "
    "item's doc_id from its link URL, and max_published normalizes "
    "pubDate (RSS) / updated (Atom) — per-item content crosses the "
    "parse in full. 100 TB shape: per-file parse in mapInPandas, one "
    "tiny per-source aggregate.",
)
def c03_feed_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = _feeds_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.xml"))
    schema = StructType(
        [
            StructField("source", StringType(), True),
            StructField("format", StringType(), True),
            StructField("n_items", LongType(), True),
            StructField("sum_linked_doc_ids", LongType(), True),
            StructField("max_published", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.xmlparse import parse_xml

        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                root = parse_xml(bytes(blob))
                if root.tag == "rss":
                    ch = root.find("channel")
                    if ch is None:
                        raise ValueError(f"{path}: rss without channel")
                    links = [
                        it.child_text("link") for it in ch.findall("item")
                    ]
                    pubs = [
                        it.child_text("pubDate") for it in ch.findall("item")
                    ]
                    fmt = "rss"
                elif root.tag == "feed":
                    entries = root.findall("entry")
                    links = [e.find("link").attrs["href"] for e in entries]
                    pubs = [
                        e.child_text("updated").split("T")[0] for e in entries
                    ]
                    fmt = "atom"
                else:
                    raise ValueError(f"{path}: unexpected root <{root.tag}>")
                if not links:
                    raise ValueError(f"{path}: empty feed")
                ids = [int(u.rsplit("/", 1)[1]) for u in links]
                hosts = {u.split("//", 1)[1].split(".", 1)[0] for u in links}
                if len(hosts) != 1:
                    raise ValueError(f"{path}: feed spans hosts {hosts}")
                rows.append((hosts.pop(), fmt, len(ids), sum(ids), max(pubs)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "source",
                    "format",
                    "n_items",
                    "sum_linked_doc_ids",
                    "max_published",
                ],
            )

    return files.select("path", "content").mapInPandas(walk, schema)


@register(
    "a28_warc_export_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="WARC EXPORT round-trip (the write side of the crawl story — "
    "re-publishing a curated corpus in the archive format downstream "
    "crawl tooling consumes): each Spark partition renders its "
    "documents as HTML pages inside HTTP response records and writes "
    "ONE member-per-record .warc.gz shard from the executor "
    "(tmp-file + atomic rename, exactly the layout a25 ingests), "
    "task-side and parallel — no driver involvement, no collect. The "
    "exported corpus is then read back through the FULL a25 ingestion "
    "stack (gzip member walk -> record grammar -> HTTP de-framing -> "
    "HTML main-content extraction) and aggregated per lang from the "
    "re-EXTRACTED text: export and import must be exact inverses for "
    "the hash to match. 100 TB shape: one shard per partition "
    "(partition count = shard count doctrine), writes and reads both "
    "whole-file parallel; at scale the rename targets shared storage "
    "exactly like Spark's own file committers.",
)
def a28_warc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tectonic_spark.tables import table

    out = os.path.join(_fixture_dir(sf_dir), "a28_sink")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    n_rows = len(_docs_rows(sf_dir))
    n_shards = max(4, n_rows // 15000)
    docs = docs.repartition(n_shards, "doc_id")

    wschema = StructType(
        [
            StructField("shard", StringType(), True),
            StructField("n_records", LongType(), True),
        ]
    )

    def export(batches):
        import os as _os
        import tempfile as _tf
        import uuid

        import pandas as pd

        from tectonic_spark.operators.parser_ops import _render_response_record
        from tectonic_spark.operators.warc import write_warc

        recs = []
        for pdf in batches:
            for d, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                d = int(d)
                # the export writes the same charset / content-encoding
                # matrix the ingest fixture uses, so the round-trip pins
                # the WRITER side of body compression and non-UTF-8 page
                # encoding too (readback must invert both exactly)
                recs.append(_render_response_record(d, text, lang, source)[0])
        if not recs:
            yield pd.DataFrame([], columns=["shard", "n_records"])
            return
        name = f"export-{uuid.uuid4().hex[:12]}.warc.gz"
        fd, tmp = _tf.mkstemp(dir=out)
        with _os.fdopen(fd, "wb") as f:
            f.write(write_warc(recs))
        _os.replace(tmp, _os.path.join(out, name))
        yield pd.DataFrame([(name, len(recs))], columns=["shard", "n_records"])

    manifest = docs.mapInPandas(export, wschema).collect()
    n_exported = sum(r["n_records"] for r in manifest)
    if n_exported != n_rows or len(manifest) == 0:
        raise RuntimeError(
            f"a28: exported {n_exported} records across "
            f"{len(manifest)} shards, expected {n_rows}"
        )

    files = spark.read.format("binaryFile").load(os.path.join(out, "*.warc.gz"))
    readback = warc_extract_kernel(files)
    return readback.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


def _warc_cdxj_src(sf_dir: str) -> tuple[str, int]:
    """Indexed crawl: member-per-record .warc.gz shards plus one .cdxj
    sidecar per shard recording every response capture's byte extent
    (offset/length of its gzip member), sha1-base32 payload digest,
    SURT key and 14-digit timestamp — the random-access tier (cdxj.py)
    every WARC corpus needs for point lookups. Shard count scales with
    the corpus (the a25 doctrine). Returns (dir, n_shards)."""
    from tectonic_spark.operators.cdxj import (
        build_cdxj,
        payload_digest,
        warc_timestamp,
        write_warc_indexed,
    )
    from tectonic_spark.operators.warc import build_warc_record

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"a30_src_{n_shards}")

    def build(tmp: str) -> None:
        ts = warc_timestamp(_WARC_DATE)
        for i in range(n_shards):
            fname = f"crawl-{i:03d}.warc.gz"
            recs: list[tuple[bytes, dict | None]] = [
                (
                    build_warc_record(
                        "warcinfo",
                        f"software: tectonic-spark fixture\r\nformat: WARC/1.0 shard {i}\r\n".encode(),
                        content_type="application/warc-fields",
                    ),
                    None,  # written, not indexed
                )
            ]
            for d, text, lang, source, _n in rows:
                if d % n_shards != i:
                    continue
                rec, http = _render_response_record(d, text, lang, source)
                recs.append(
                    (
                        rec,
                        {
                            "url": f"https://{source}.example/doc/{d}",
                            "ts": ts,
                            "digest": payload_digest(http),
                            "mime": "text/html",
                            "status": 200,
                            "filename": fname,
                        },
                    )
                )
            blob, entries = write_warc_indexed(recs)
            _write_atomic(os.path.join(tmp, fname), blob)
            _write_atomic(
                os.path.join(tmp, f"crawl-{i:03d}.cdxj"), build_cdxj(entries)
            )

    return _published(src, build), n_shards


def _warc_revisit_src(sf_dir: str) -> tuple[str, int]:
    """Crawl with REVISIT records (ISO 28500 §6.7.2, the
    identical-payload-digest profile): every doc has an original
    response capture; every 5th doc was recrawled at a different URL
    and the crawler, seeing the same payload digest, stored a revisit
    record (headers-only payload, WARC-Refers-To the original record,
    WARC-Payload-Digest of the referred payload) instead of the body —
    the URL-level dedup mechanism real crawls (incl. Common Crawl)
    ship. Revisits land in a DIFFERENT shard than their original
    (shard (d+1) % n), so resolution requires a corpus-wide join, not
    per-shard lookup. Returns (dir, n_shards)."""
    import hashlib

    from tectonic_spark.operators.cdxj import payload_digest
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"a31_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, text, lang, source, _n in rows:
            rec, http = _render_response_record(d, text, lang, source)
            shards[d % n_shards].append(rec)
            if d % 5 == 0:
                uri = f"https://{source}.example/doc/{d}"
                # the original's default record id (warc.py derivation)
                orig_id = "<urn:uuid:%s>" % hashlib.sha256(
                    repr(("response", uri, _WARC_DATE)).encode()
                ).hexdigest()[:32]
                revisit = build_warc_record(
                    "revisit",
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
                    uri=f"https://{source}.example/recrawl/{d}",
                    date=_WARC_DATE,
                    content_type="application/http; msgtype=response",
                    extra={
                        "WARC-Profile": "http://netpreserve.org/warc/1.1/"
                        "revisit/identical-payload-digest",
                        "WARC-Refers-To": orig_id,
                        "WARC-Refers-To-Target-URI": uri,
                        "WARC-Payload-Digest": payload_digest(http),
                    },
                )
                shards[(d + 1) % n_shards].append(revisit)
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "a31_warc_revisit",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_revisits,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_revisit
    FROM documents GROUP BY lang
    """,
    doc="WARC revisit resolution (ISO 28500 identical-payload-digest "
    "profile — how real crawls dedup recrawled URLs: the second "
    "capture stores only headers + WARC-Refers-To + the payload "
    "digest, never the body): shards carry original captures plus "
    "cross-shard revisit records; the query extracts both kinds in "
    "one walk, then RESOLVES every revisit to its original via a "
    "corpus-wide digest join — chars_revisit sums the n_chars of the "
    "ORIGINAL extracted text each revisit resolved to, so the column "
    "crosses extraction AND resolution; the builder asserts in code "
    "that every revisit resolves exactly once and that the resolved "
    "original's record id equals the revisit's WARC-Refers-To. 100 TB "
    "shape: resolution is a keyed join on the digest over tiny "
    "projected columns (digest, lang, n_chars — never payload bytes) "
    "with NO broadcast hint: real crawls are 30-50% revisits, the "
    "same scale as originals, so at volume AQE plans a shuffle join "
    "(at toy SF it may legitimately broadcast from runtime stats).",
)
def a31_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_revisit_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("kind", StringType(), True),
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("digest", StringType(), True),
            StructField("record_id", StringType(), True),
            StructField("refers_to", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import payload_digest
        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] == "response":
                        d, text, lang, _s, *_rest = _extract_crawl_response(rec)
                        rows.append(
                            (
                                "capture",
                                d,
                                lang,
                                len(text),
                                payload_digest(rec["payload"]),
                                rec["record_id"],
                                None,
                            )
                        )
                    elif rec["type"] == "revisit":
                        f = {k.lower(): v for k, v in rec["fields"]}
                        profile = f.get("warc-profile", "")
                        if "identical-payload-digest" not in profile:
                            raise ValueError(
                                f"unsupported revisit profile {profile!r}"
                            )
                        rows.append(
                            (
                                "revisit",
                                None,
                                None,
                                None,
                                f["warc-payload-digest"],
                                rec["record_id"],
                                f["warc-refers-to"],
                            )
                        )
                    # warcinfo/request records carry no resolution state
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind",
                    "doc_id",
                    "lang",
                    "n_chars",
                    "digest",
                    "record_id",
                    "refers_to",
                ],
            )

    # persist the SMALL projected frame (kind + scalars, no payloads):
    # the builder pins and the final aggregate are several actions, and
    # without the cache each one would re-walk every shard through the
    # full extraction stack (observed 2-3x the wall at sf10)
    parsed = files.select("content").mapInPandas(walk, schema).persist()
    captures = parsed.filter(F.col("kind") == "capture").select(
        "doc_id", "lang", "n_chars", "digest", "record_id"
    )
    revisits = parsed.filter(F.col("kind") == "revisit").select(
        F.col("digest").alias("r_digest"), "refers_to"
    )
    # corpus-wide digest resolution: shuffle join (revisits are the
    # same scale as captures in a real crawl — no broadcast)
    resolved = revisits.join(
        captures, revisits["r_digest"] == captures["digest"], "inner"
    )
    resolved = resolved.persist()
    n_rev, n_res, n_badref = (
        revisits.count(),
        resolved.count(),
        resolved.filter(F.col("refers_to") != F.col("record_id")).count(),
    )
    if n_res != n_rev or n_badref:
        resolved.unpersist()
        parsed.unpersist()
        raise RuntimeError(
            f"a31: {n_rev} revisits, {n_res} resolved, {n_badref} bad refs"
        )
    agg = (
        captures.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
        )
        .join(
            resolved.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_revisits"),
                F.sum("n_chars").alias("chars_revisit"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_revisits", F.lit(0)).alias("n_revisits"),
            F.coalesce("chars_revisit", F.lit(0)).alias("chars_revisit"),
        )
    )
    agg_rows = agg.collect()
    resolved.unpersist()
    parsed.unpersist()
    return spark.createDataFrame(agg_rows, agg.schema)


def _warc_redirect_src(sf_dir: str) -> tuple[str, int]:
    """Crawl with HTTP redirect captures: every doc has its content
    capture at /doc/{d}; every 7th doc was ALSO crawled at an alias
    URL (/alias/{d}) answering 301 with a Location to the real page,
    and every 14th additionally at /alias2/{d} -> /alias/{d} — a
    2-hop chain. Redirect captures land in different shards than
    their targets, so resolution requires corpus-wide joins.
    Returns (dir, n_shards)."""
    from tectonic_spark.operators.warc import (
        build_http_response,
        build_warc_record,
        write_warc,
    )

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"a32_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]

        def _redirect(from_path: str, to_path: str, source: str) -> bytes:
            host = f"{source}.example"
            return build_warc_record(
                "response",
                build_http_response(
                    b"",
                    status=301,
                    reason="Moved Permanently",
                    content_type="text/html",
                    headers={"Location": f"https://{host}{to_path}"},
                ),
                uri=f"https://{host}{from_path}",
                date=_WARC_DATE,
                content_type="application/http; msgtype=response",
            )

        for d, text, lang, source, _n in rows:
            shards[d % n_shards].append(
                _render_response_record(d, text, lang, source)[0]
            )
            if d % 7 == 0:
                shards[(d + 2) % n_shards].append(
                    _redirect(f"/alias/{d}", f"/doc/{d}", source)
                )
            if d % 14 == 0:
                shards[(d + 3) % n_shards].append(
                    _redirect(f"/alias2/{d}", f"/alias/{d}", source)
                )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "a32_redirect_resolution",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
              + SUM(CASE WHEN doc_id % 14 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_redirects,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN n_chars ELSE 0 END)
              + SUM(CASE WHEN doc_id % 14 = 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_resolved
    FROM documents GROUP BY lang
    """,
    doc="HTTP redirect resolution over a crawl (3xx captures are a "
    "large slice of any real frontier; a pipeline that drops them "
    "loses the URL graph): the walk splits captures into content "
    "pages (status 200 -> full extraction stack) and redirects "
    "(status 301 -> Location edge), then resolves every redirect to "
    "its final document with a BOUNDED-HOP iterative join — hop 1 "
    "joins edges to content URLs, unresolved edges take a second hop "
    "through the edge set (the fixture's max chain is 2; production "
    "loops the same join to a fixpoint under a hop cap). "
    "chars_resolved sums the n_chars of the documents the aliases "
    "land on, crossing extraction AND both join hops; the builder "
    "asserts every redirect resolved. 100 TB shape: edges and "
    "content rows are tiny projections (urls, lang, n_chars — no "
    "payloads); each hop is one keyed join on url with no broadcast "
    "hint (a frontier's redirect set scales with the crawl, so at "
    "volume AQE plans shuffle joins).",
)
def a32_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_redirect_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("kind", StringType(), True),
            StructField("url", StringType(), True),
            StructField("to_url", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import (
            parse_http_response,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    http = parse_http_response(rec["payload"])
                    if http["status"] == 301:
                        loc = next(
                            v
                            for k, v in http["headers"]
                            if k.lower() == "location"
                        )
                        rows.append(("edge", rec["uri"], loc, None, None))
                    elif http["status"] == 200:
                        _d, text, lang, _s, *_rest = _extract_crawl_response(
                            rec, http
                        )
                        rows.append(
                            ("page", rec["uri"], None, lang, len(text))
                        )
                    else:
                        raise ValueError(f"unexpected status {http['status']}")
            yield pd.DataFrame(
                rows, columns=["kind", "url", "to_url", "lang", "n_chars"]
            )

    # persist the small projected frame: edges/pages and the builder
    # pin are several actions — uncached, each re-walks every shard
    # through the full extraction stack (observed 2-3x wall at sf10)
    parsed = files.select("content").mapInPandas(walk, schema).persist()
    pages = parsed.filter(F.col("kind") == "page").select(
        F.col("url").alias("page_url"), "lang", "n_chars"
    )
    edges = parsed.filter(F.col("kind") == "edge").select(
        F.col("url").alias("from_url"), "to_url"
    )
    # hop 1: edge -> page
    j1 = edges.join(pages, edges["to_url"] == pages["page_url"], "left")
    direct = j1.filter(F.col("page_url").isNotNull()).select(
        "from_url", "lang", "n_chars"
    )
    pending = j1.filter(F.col("page_url").isNull()).select(
        "from_url", F.col("to_url").alias("mid_url")
    )
    # hop 2: edge -> edge -> page (fixture max chain = 2; production
    # repeats this join to a fixpoint under a hop cap)
    hop2 = pending.join(
        edges.select(
            F.col("from_url").alias("e2_from"), F.col("to_url").alias("e2_to")
        ),
        F.col("mid_url") == F.col("e2_from"),
        "left",
    ).join(pages, F.col("e2_to") == pages["page_url"], "left")
    second = hop2.filter(F.col("page_url").isNotNull()).select(
        "from_url", "lang", "n_chars"
    )
    resolved = direct.unionByName(second).persist()
    n_edges, n_resolved = edges.count(), resolved.count()
    if n_edges != n_resolved:
        resolved.unpersist()
        parsed.unpersist()
        raise RuntimeError(
            f"a32: {n_edges} redirect edges, {n_resolved} resolved"
        )
    agg = (
        pages.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            resolved.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_redirects"),
                F.sum("n_chars").alias("chars_resolved"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_redirects", F.lit(0)).alias("n_redirects"),
            F.coalesce("chars_resolved", F.lit(0)).alias("chars_resolved"),
        )
    )
    agg_rows = agg.collect()
    resolved.unpersist()
    parsed.unpersist()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "c03_page_metadata",
    oracle="""
    SELECT doc_id,
           'doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source AS title,
           lang,
           CASE doc_id % 4 WHEN 0 THEN 'default'
                           WHEN 1 THEN 'header'
                           ELSE 'meta' END AS charset_origin
    FROM documents
    """,
    doc="Page metadata census over the crawl (c03 text family — "
    "title/declared-language/charset-provenance are the first fields "
    "any curation pipeline reads before touching body text): runs on "
    "the a25 WARC shards; every column crosses the ingestion stack — "
    "title via <title> extraction with entity decode and whitespace "
    "collapse (pinned verbatim against the closed-form page title), "
    "lang via the <html lang> attribute, charset_origin from WHERE "
    "the sniffer actually found the encoding (Content-Type header / "
    "meta tag incl. the http-equiv pragma form / the undeclared "
    "default) — a sniffer that silently falls back to the default "
    "mismatches the origin column even when the decode happens to "
    "look right. 100 TB shape: stateless per-shard walk, per-doc "
    "rows, no shuffle beyond the driver compare.",
)
def c03_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_shards_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("title", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("charset_origin", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.warc import (
            decode_page,
            html_lang,
            html_title,
            parse_http_response,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1])
                    http = parse_http_response(rec["payload"])
                    decoded, _codec, origin = decode_page(
                        http["body"], http["content_type"]
                    )
                    page = decoded.encode("utf-8")
                    rows.append(
                        (d, html_title(page), html_lang(page), origin)
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "title", "lang", "charset_origin"]
            )

    return files.select("content").mapInPandas(walk, schema)


_WARC_DATE_V2 = "2024-02-01T00:00:00Z"


def _warc_timeline_src(sf_dir: str) -> tuple[str, int]:
    """Two crawl snapshots of one corpus: every doc captured at the
    January date; every 5th doc RE-captured at the February date with
    CHANGED content (the page gained a ' rev2' suffix — so the two
    captures carry different payload digests, unlike a31's
    identical-digest revisits). Second captures land in different
    shards than their originals. Returns (dir, n_shards)."""
    from tectonic_spark.operators.warc import write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    # v2: recapture shard is (d+1)%n — (d+4)%n was a no-op at n=4
    src = os.path.join(base, f"a37_src2_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, text, lang, source, _n in rows:
            shards[d % n_shards].append(
                _render_response_record(d, text, lang, source)[0]
            )
            if d % 5 == 0:
                shards[(d + 1) % n_shards].append(
                    _render_response_record(
                        d, text + " rev2", lang, source, date=_WARC_DATE_V2
                    )[0]
                )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "a37_capture_timeline",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(n_chars + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END)
                AS BIGINT) AS chars_latest
    FROM documents GROUP BY lang
    """,
    doc="Capture timeline over a multi-snapshot crawl (the temporal "
    "query every recrawling corpus needs: which URLs have multiple "
    "captures, which CHANGED between snapshots, and what is the "
    "latest content): two crawl dates of one corpus, every 5th doc "
    "re-captured with changed content in a DIFFERENT shard; the walk "
    "emits one row per capture (doc_id, WARC-Date, payload digest, "
    "extracted chars) and latest-wins is a WINDOW over (doc_id) "
    "ordered by capture date with the digest as unique tie-break — "
    "n_changed counts docs whose distinct-digest count exceeds 1 "
    "(content actually changed, not merely recrawled), and "
    "chars_latest sums the EXTRACTED length of each doc's newest "
    "capture, crossing extraction, the timeline window, and the "
    "change detection at once. 100 TB shape: per-shard extraction, "
    "then ONE window shuffle keyed on doc_id over tiny projected "
    "columns — the shape of every crawl-delta pipeline stage.",
)
def a37_capture_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_timeline_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("ts", StringType(), True),
            StructField("digest", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import payload_digest
        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    d, text, lang, _s, *_rest = _extract_crawl_response(rec)
                    rows.append(
                        (
                            d,
                            lang,
                            rec["date"],
                            payload_digest(rec["payload"]),
                            len(text),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "ts", "digest", "n_chars"]
            )

    captures = files.select("content").mapInPandas(walk, schema)
    # latest-wins: ONE window shuffle keyed on doc_id (ISO-8601 dates
    # order lexically; digest is the unique tie-break the determinism
    # doctrine requires)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("ts"), F.desc("digest")
    )
    ranked = captures.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_caps", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    ).withColumn(
        "n_digests",
        F.size(F.collect_set("digest").over(Window.partitionBy("doc_id"))),
    )
    latest = ranked.filter(F.col("rn") == 1)
    return latest.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_caps") > 1, 1).otherwise(0)).alias("n_multi"),
        F.sum(F.when(F.col("n_digests") > 1, 1).otherwise(0)).alias(
            "n_changed"
        ),
        F.sum("n_chars").alias("chars_latest"),
    )


# ---------------------------------------------------------------------------
# zipnum lookup kernels, shared by every index query (a36–a48, s17, s18).
# A single-file index is a one-entry ``cluster_entries_by_file`` map; a
# merged or incrementally-updated index spreads its blocks over several
# files. Lookups run the a36 ladder once per file, candidate blocks are
# ranged-read distributed, and members are fetched per shard in offset
# order. Every ranged read goes through cdxj.py's read helpers.
# ---------------------------------------------------------------------------

_BLOCK_DDL = "src_file string, b_offset long, b_length long"
_MEMBER_COLS = ["doc_id", "lang", "n_chars", "bytes_read"]
_MEMBER_DDL = "doc_id long, lang string, n_chars long, bytes_read long"


@contextlib.contextmanager
def _persisting():
    """Yield a ``persist(df)`` that persists and returns ``df``; every
    DataFrame it persisted is unpersisted when the block exits, on the
    failure paths too."""
    cached: list = []

    def persist(df):
        cached.append(df)
        return df.persist()

    try:
        yield persist
    finally:
        for df in cached:
            df.unpersist()


def _doc_key(path: str = "/doc/"):
    """The SURT key of ``https://{source}.example{path}{doc_id}``, built
    with JVM built-ins, as column ``key``."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit("example,"), F.col("source"), F.lit(")" + path), F.col("doc_id")
    ).alias("key")


def _blocks_df(by_file: dict, probes):
    """Probe keys -> distinct candidate ``(src_file, b_offset, b_length)``
    rows via the per-file zipnum ladder (<= 2 blocks per file per key).
    ``probes`` must carry a ``key`` column."""

    def assign_blocks(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import candidate_blocks

        for pdf in batches:
            yield pd.DataFrame(
                candidate_blocks(by_file, pdf["key"]),
                columns=["src_file", "b_offset", "b_length"],
            )

    return probes.select("key").mapInPandas(assign_blocks, _BLOCK_DDL).distinct()


def _all_blocks_df(spark, by_file: dict):
    """Every block of ``by_file`` as a block-row DataFrame; its width
    scales with the index (the a41 doctrine)."""
    from tectonic_spark.operators.cdxj import block_extents

    rows = block_extents(by_file)
    return spark.createDataFrame(rows, _BLOCK_DDL).repartition(
        max(8, len(rows) // 64)
    )


def _entries_df(idx_dir: str, blocks, prec: dict):
    """Block rows -> one CDXJ entry row per line (``mime`` and ``source``
    are null where a line lacks them), with a ``prec`` column: the
    collection precedence of the block file that held the line, per the
    ``prec`` map."""

    def fetch_blocks(batches):
        import json as _json

        import pandas as pd

        from tectonic_spark.operators.cdxj import read_blocks

        for pdf in batches:
            rows = []
            for fname, lines in read_blocks(idx_dir, pdf.itertuples(index=False)):
                p = prec[fname]
                for ln in lines:
                    key, ts, blob = ln.split(" ", 2)
                    j = _json.loads(blob)
                    rows.append(
                        (key, ts, j["digest"], j.get("mime"), j.get("source"),
                         p, j["filename"], j["offset"], j["length"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["key", "ts", "digest", "mime", "source", "prec",
                         "filename", "offset", "length"],
            )

    return blocks.mapInPandas(
        fetch_blocks,
        "key string, ts string, digest string, mime string, source string, "
        "prec long, filename string, offset long, length long",
    )


def _count_lines(spark, idx_dir: str, by_file: dict) -> int:
    """Total CDXJ lines across every block file — the closed-form union
    pin, computed distributed."""
    from pyspark.sql import functions as F

    def count_lines(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import read_blocks

        for pdf in batches:
            blocks = read_blocks(idx_dir, pdf.itertuples(index=False))
            n = sum(len(lines) for _f, lines in blocks)
            yield pd.DataFrame([n], columns=["n"])

    return (
        _all_blocks_df(spark, by_file)
        .mapInPandas(count_lines, "n long")
        .agg(F.sum("n"))
        .collect()[0][0]
    )


def _latest_capture(entries, probes):
    """Per probe: ``caps``, its number of entry rows, and the latest
    capture's ``ts``, ``digest``, ``filename``, ``offset``, ``length``."""
    from pyspark.sql import functions as F

    cols = ["ts", "digest", "filename", "offset", "length"]
    return (
        entries.join(probes, "key", "inner")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("caps"),
            F.max(F.struct(*cols)).alias("w"),
        )
        .select("doc_id", "caps", *(F.col(f"w.{c}").alias(c) for c in cols))
    )


def _routed_fetch(winners, warc_dirs: dict, *, carry: tuple = ()):
    """Ranged-fetch + extract each winner row, routed by its ``prec``
    (which collection's shards hold the member), through
    ``_fetched_docs``. Pins the temporal routing (February captures must
    come from the non-base collection, January from the base). ``carry``
    columns are passed through."""

    def project(r, doc):
        # routing pin: February winners come from the delta/new
        # collection, January from the base
        p, want = int(r.prec), 1 if r.ts.startswith("202402") else 0
        if p != want:
            raise ValueError(
                f"doc {doc.doc_id} ts {r.ts} routed to collection "
                f"{p}, the index layout says {want}"
            )
        return _member_row(r, doc) + tuple(int(getattr(r, c)) for c in carry)

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(warc_dirs[int(r.prec)], r.filename),
        project,
        _MEMBER_COLS + list(carry),
    )
    ddl = _MEMBER_DDL + "".join(f", {c} long" for c in carry)
    return winners.repartition(8, "prec", "filename").mapInPandas(fetch_docs, ddl)


def _zipnum_src(sf_dir: str) -> tuple[str, str, int]:
    """The two-level compressed index over the a30 crawl (Common
    Crawl's cluster.idx shape): all per-shard CDXJ lines merge-sorted,
    grouped into 64-line gzip-member blocks (index.zipnum.gz), plus the
    tiny plain-text cluster.idx of (first key, offset, length) per
    block. Returns (index_dir, warc_dir, n_blocks)."""
    from tectonic_spark.operators.cdxj import build_cluster_idx, write_zipnum

    warc_src, _n = _warc_cdxj_src(sf_dir)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "a36_idx")

    def build(tmp: str) -> None:
        lines: list[str] = []
        for entry in sorted(os.scandir(warc_src), key=lambda e: e.name):
            if entry.name.endswith(".cdxj"):
                with open(entry.path, encoding="utf-8") as f:
                    lines.extend(ln for ln in f.read().splitlines() if ln)
        lines.sort()
        blob, entries = write_zipnum(lines, block_lines=64)
        _write_atomic(os.path.join(tmp, "index.zipnum.gz"), blob)
        _write_atomic(
            os.path.join(tmp, "cluster.idx"),
            build_cluster_idx(entries, "index.zipnum.gz"),
        )

    _published(src, build)
    return src, warc_src, len(
        open(os.path.join(src, "cluster.idx"), "rb").read().splitlines()
    )


@register(
    "a36_zipnum_lookup",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 199 = 5 GROUP BY lang
    """,
    doc="Two-level compressed index lookup (zipnum — the shape Common "
    "Crawl's index actually ships: the flat CDXJ at 100 TB is itself "
    "tens of GB, so its sorted lines are grouped into gzip-member "
    "blocks with a TINY plain-text cluster.idx of per-block first "
    "keys): 'fetch these URIs' (doc_id % 199 = 5) runs the full "
    "random-access ladder — probe URLs become SURT keys with JVM "
    "built-ins, each key binary-searches the broadcast cluster.idx to "
    "its candidate block range, the DEDUPED block set is ranged-read "
    "and inflated (one mapInPandas), the recovered CDXJ entries "
    "semi-join back to the probe keys, and the matched WARC members "
    "are ranged-fetched, digest-verified and extracted (the a30 "
    "kernel). BOTH access bounds are asserted in code: at most two "
    "index blocks are touched PER PROBE KEY (the binary-search "
    "contract — a ladder that degenerates to scanning the zipnum "
    "fails), and member bytes equal the matched entries' indexed "
    "lengths. 100 TB shape: "
    "cluster.idx is the only always-resident piece (one short line "
    "per 64 captures); everything else is seek+read of exactly the "
    "blocks and members the probe set needs.",
)
def a36_zipnum_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks
    from tectonic_spark.tables import table

    idx_dir, warc_dir, _n_blocks = _zipnum_src(sf_dir)
    by_file = index_blocks(idx_dir)

    # probes: URL -> SURT key entirely with JVM built-ins
    probes = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 199 == 5)
        .select("doc_id", _doc_key())
    )
    blocks = _blocks_df(by_file, probes)

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(warc_dir, r.filename),
        _member_row,
        _MEMBER_COLS,
    )

    with _persisting() as persist:
        entries = persist(_entries_df(idx_dir, blocks, {"index.zipnum.gz": 0}))
        matched = entries.join(probes, "key", "inner")
        fetched = persist(
            matched.select("filename", "offset", "length", "digest")
            .repartition(8, "filename")
            .mapInPandas(fetch_docs, _MEMBER_DDL)
        )
        # both access bounds, asserted in code
        n_probes = probes.count()
        n_touched = blocks.count()
        got = fetched.agg(
            F.sum("bytes_read").alias("br"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        want_bytes = matched.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"a36: {got['n']} docs fetched for {n_probes} probes, "
                f"{got['br']} member bytes vs indexed {want_bytes}"
            )
        # the binary-search contract: <= 2 blocks per probe key (1 + the
        # equal-key spill) — a ladder that degenerates to scanning the
        # whole zipnum fails here regardless of corpus size
        if n_touched > 2 * n_probes:
            raise RuntimeError(
                f"a36: {n_touched} index blocks touched for {n_probes} "
                "probes — the cluster ladder is not pruning"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "a35_zone_map_layout",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id >= 100 AND doc_id <= 199
    GROUP BY lang
    """,
    doc="Zone-map data layout for point access (the parquet sibling of "
    "a30's CDXJ tier: a 100 TB lakehouse answers 'these doc_ids' "
    "through min/max row-group statistics, and statistics only prune "
    "if the LAYOUT clusters the key): documents are written "
    "repartitionByRange + sortWithinPartitions on doc_id, then the "
    "builder asserts BOTH halves of the contract in code — (1) the "
    "range predicate reaches the parquet scan as PushedFilters, and "
    "(2) reading every row-group's doc_id min/max footer statistics "
    "via pyarrow, at most a small fraction of row-groups overlap the "
    "probe range (>=80% of the corpus is prunable from footers alone; "
    "an unsorted layout overlaps everywhere and fails). The aggregate "
    "itself is oracle-checked. 100 TB shape: range-clustered writes "
    "cost one shuffle at ingest and buy footer-level pruning on every "
    "subsequent point/range read — the standard layout discipline for "
    "id-keyed corpora.",
)
def a35_zone_map_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.plans import explain_str
    from tectonic_spark.tables import table

    def build(tmp: str) -> None:
        (
            table(spark, sf_dir, "documents")
            .repartitionByRange(16, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    out = _published(os.path.join(_fixture_dir(sf_dir), "a35_docs_ranged"), build)
    lo, hi = 100, 199
    df = spark.read.parquet(out).filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
    )
    plan = explain_str(df.select("doc_id"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    if not (
        pushed
        and "GreaterThanOrEqual(doc_id" in pushed[0]
        and "LessThanOrEqual(doc_id" in pushed[0]
    ):
        raise RuntimeError(
            "a35: range predicate did not reach the parquet scan's "
            f"PushedFilters: {pushed[:1]}"
        )
    # footer-statistics pin: the layout must make most row-groups
    # prunable from min/max alone
    import pyarrow.parquet as pq

    total_rg, total_rows, overlapping = 0, 0, 0
    for entry in os.scandir(out):
        if not entry.name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(entry.path).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }["doc_id"]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(idx).statistics
            if st is None or not st.has_min_max:
                raise RuntimeError("a35: row group without doc_id stats")
            total_rg += 1
            total_rows += rg.num_rows
            if st.min <= hi and st.max >= lo:
                overlapping += 1
    # the clustering contract, relative to the MINIMAL covering: a
    # perfectly sorted layout needs ceil(hits / rows-per-group) groups
    # for the probe; allow +2 for boundary straddle. An unsorted layout
    # overlaps nearly everywhere and fails by an order of magnitude.
    n_hits = df.count()
    min_groups = -(-n_hits * total_rg // total_rows) if total_rows else 0
    if total_rg < 8 or overlapping > min_groups + 2:
        raise RuntimeError(
            f"a35: {overlapping}/{total_rg} row groups overlap the probe "
            f"(minimal covering {min_groups}) — the layout is not "
            "clustering doc_id"
        )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


def _warc_robots_src(sf_dir: str) -> tuple[str, int]:
    """Crawl whose shards ALSO carry each host's /robots.txt capture
    (a resource record, placed in a different shard than most of the
    host's pages): every host disallows paths ending in 7 under /doc/
    via a wildcard+anchor rule ('Disallow: /doc/*7$') plus an inert
    /private/ rule — so the polite-filter verdict is doc_id%10==7,
    SQL-expressible. Returns (dir, n_shards)."""
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"c05_robots_src_{n_shards}")  # named for its query (r12: was a34_src, a name with no a34 query)

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for si, source in enumerate(sorted({r[3] for r in rows})):
            robots = (
                "User-agent: *\r\n"
                "Disallow: /doc/*7$\r\n"
                "Disallow: /private/\r\n"
                "\r\n"
                "User-agent: other-bot\r\n"
                "Disallow: /\r\n"
            ).encode()
            shards[(si * 3 + 1) % n_shards].append(
                build_warc_record(
                    "resource",
                    robots,
                    uri=f"https://{source}.example/robots.txt",
                    date=_WARC_DATE,
                    content_type="text/plain",
                )
            )
        for d, text, lang, source, _n in rows:
            shards[d % n_shards].append(
                _render_response_record(d, text, lang, source)[0]
            )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "c05_robots_gate",
    oracle="""
    SELECT lang,
           CAST(SUM(CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_allowed,
           CAST(SUM(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked,
           CAST(SUM(CASE WHEN doc_id % 10 <> 7 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_allowed
    FROM documents GROUP BY lang
    """,
    doc="Robots-gated crawl filtering (the polite-crawl policy stage "
    "every production pipeline runs before curation — RFC 9309 makes "
    "disallowed pages unusable regardless of quality): the crawl "
    "shards carry each host's /robots.txt as a resource record "
    "alongside the page captures; the walk splits the two kinds, the "
    "host rule tables are joined to the pages KEYED ON HOST (left "
    "join — a host without robots defaults to allowed; no broadcast "
    "hint, hosts scale with the crawl), and each page's path is "
    "evaluated by the engine's own RFC 9309 evaluator (robots.py: "
    "group selection, longest-match precedence, wildcards + the '$' "
    "anchor — the fixture's 'Disallow: /doc/*7$' rule needs both) "
    "inside Arrow-batched mapInPandas with the parsed rule table "
    "cached per distinct robots text. chars_allowed crosses "
    "extraction AND the verdict. 100 TB shape: one keyed join on "
    "host over tiny projections, per-row evaluation, one aggregate "
    "exchange.",
)
def c05_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_robots_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("kind", StringType(), True),
            StructField("host", StringType(), True),
            StructField("path", StringType(), True),
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("robots_text", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    uri = rec["uri"] or ""
                    host = uri.split("//", 1)[-1].split("/", 1)[0]
                    path = "/" + uri.split("//", 1)[-1].split("/", 1)[-1]
                    if rec["type"] == "resource" and path == "/robots.txt":
                        rows.append(
                            (
                                "robots",
                                host,
                                path,
                                None,
                                None,
                                None,
                                rec["payload"].decode("utf-8", "replace"),
                            )
                        )
                    elif rec["type"] == "response":
                        d, text, lang, _s, *_rest = _extract_crawl_response(rec)
                        rows.append(
                            ("page", host, path, d, lang, len(text), None)
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind", "host", "path", "doc_id", "lang", "n_chars",
                    "robots_text",
                ],
            )

    parsed = files.select("content").mapInPandas(walk, schema).persist()
    pages = parsed.filter(F.col("kind") == "page").select(
        "host", "path", "doc_id", "lang", "n_chars"
    )
    robots = parsed.filter(F.col("kind") == "robots").select(
        F.col("host").alias("r_host"), "robots_text"
    )
    joined = pages.join(robots, pages["host"] == robots["r_host"], "left")

    vschema = StructType(
        [
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("allowed", BooleanType(), True),
        ]
    )

    def judge(batches):
        import pandas as pd

        from tectonic_spark.operators.robots import parse_robots, robots_allowed

        cache: dict = {}
        for pdf in batches:
            out = []
            for path, lang, n_chars, rtext in zip(
                pdf["path"], pdf["lang"], pdf["n_chars"], pdf["robots_text"]
            ):
                if rtext is None or (isinstance(rtext, float)):
                    allowed = True  # no robots captured for the host
                else:
                    rules = cache.get(rtext)
                    if rules is None:
                        rules = cache[rtext] = parse_robots(rtext)
                    allowed = robots_allowed(rules, "genericbot", path)
                out.append((lang, int(n_chars), allowed))
            yield pd.DataFrame(out, columns=["lang", "n_chars", "allowed"])

    verdicts = joined.select(
        "path", "lang", "n_chars", "robots_text"
    ).mapInPandas(judge, vschema)
    agg = verdicts.groupBy("lang").agg(
        F.sum(F.when(F.col("allowed"), 1).otherwise(0)).alias("n_allowed"),
        F.sum(F.when(~F.col("allowed"), 1).otherwise(0)).alias("n_blocked"),
        F.sum(F.when(F.col("allowed"), F.col("n_chars")).otherwise(0)).alias(
            "chars_allowed"
        ),
    )
    agg_rows = agg.collect()
    parsed.unpersist()
    return spark.createDataFrame(agg_rows, agg.schema)


_BR_MODES = ("br:lz", "br:literals", "br:uncompressed")


def _warc_encoding_census_src(sf_dir: str) -> tuple[str, int]:
    """Crawl with a REAL brotli lane: every 11th response body is
    brotli-coded by the vendored RFC 7932 subset encoder. v3 (r13):
    within that lane, every 5th doc (d%55==0) carries the document
    through the ``dict`` encoder mode — a stream built from genuine §8
    static-dictionary references (transforms 0 and 9) — and DECODES
    (the r12 censused boundary is closed: the Appendix-A dictionary is
    vendored); the other br docs cycle lz/literals/uncompressed by
    (d//11)%3. Every d%55==22 doc instead carries an opaque ``zstd``
    body — a coding the engine does not implement — keeping the
    censused skip path a real crawl still needs exercised end-to-end.
    The rest carry the normal a25 matrix. Returns (dir, n_shards)."""
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    # v3: the dict lane decodes; zstd lane censuses (name bump
    # invalidates cached v2 dirs)
    src = os.path.join(base, f"a33_src3_{n_shards}")

    def build(tmp: str) -> None:
        zstd_body = b"\x28\xb5\x2f\xfd" + bytes(range(64))  # opaque, magic only
        for i in range(n_shards):
            recs = []
            for d, text, lang, source, _n in rows:
                if d % n_shards != i:
                    continue
                if d % 55 == 22:
                    # unimplemented coding: censused, the opaque bytes
                    # never enter the corpus
                    http = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                        b"Content-Encoding: zstd\r\n"
                        b"Content-Length: " + str(len(zstd_body)).encode()
                        + b"\r\n\r\n" + zstd_body
                    )
                    recs.append(
                        build_warc_record(
                            "response",
                            http,
                            uri=f"https://{source}.example/doc/{d}",
                            date=_WARC_DATE,
                            content_type="application/http; msgtype=response",
                        )
                    )
                elif d % 55 == 0:
                    recs.append(
                        _render_response_record(
                            d, text, lang, source, ce="br:dict"
                        )[0]
                    )
                elif d % 11 == 0:
                    recs.append(
                        _render_response_record(
                            d, text, lang, source,
                            ce=_BR_MODES[(d // 11) % 3],
                        )[0]
                    )
                else:
                    recs.append(_render_response_record(d, text, lang, source)[0])
            _write_atomic(os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), write_warc(recs))

    return _published(src, build), n_shards


@register(
    "a33_content_encoding_census",
    oracle="""
    SELECT CAST(SUM(CASE WHEN doc_id % 55 <> 22
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extracted,
           CAST(SUM(CASE WHEN doc_id % 55 <> 22
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars,
           CAST(SUM(CASE WHEN doc_id % 11 = 0 AND doc_id % 55 <> 22
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_br_decoded,
           CAST(SUM(CASE WHEN doc_id % 11 = 0 AND doc_id % 55 <> 22
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_br,
           CAST(SUM(CASE WHEN doc_id % 55 = 22 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ce_censused,
           CAST(SUM(CASE WHEN doc_id % 11 <> 0 AND doc_id % 55 <> 22
                         AND doc_id % 3 < 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_decoded,
           CAST(SUM(CASE WHEN doc_id % 11 <> 0 AND doc_id % 55 <> 22
                         AND doc_id % 3 = 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_identity
    FROM documents
    """,
    doc="Content-coding census with the FULL brotli lane decoding "
    "(r13 — VERDICT r12 items 1-2: both r12 boundaries closed): every "
    "11th response body is brotli-coded and extracts EXACTLY; within "
    "that lane every 5th doc (d%55==0) is encoded through the 'dict' "
    "lane — a stream of genuine RFC 7932 §8 static-dictionary "
    "references (identity + ferment-first transforms) resolved "
    "against the vendored ~122 KB Appendix-A dictionary — and the "
    "rest cycle lz/literals/uncompressed. chars_br pins every decoded "
    "br body (dictionary references included) against the documents "
    "oracle character-for-character, crossing brotli decode (native "
    "libbrotlidec when present, pure-Python otherwise), charset sniff "
    "and HTML extraction; on the wire the dict-lane docs are "
    "indistinguishable from the rest of the br lane, exactly as in a "
    "real crawl. Every d%55==22 doc instead carries an opaque 'zstd' "
    "body — an unimplemented coding — and is CENSUSED "
    "(ce_decoded=False, untouched bytes, never a task-killing raise): "
    "the skip path a real crawl still needs stays end-to-end. "
    "n_decoded/n_identity pin the gzip/deflate-vs-identity split of "
    "the non-br lanes. 100 TB shape: same per-shard walk as a25, one "
    "single-row census aggregate.",
)
def a33_content_encoding_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _warc_encoding_census_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.warc.gz"))
    schema = StructType(
        [
            StructField("kind", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("ce", StringType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import (
            parse_http_response,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    http = parse_http_response(rec["payload"])
                    ce = http["content_encoding"]
                    if ce is not None and not http["ce_decoded"]:
                        # censused, not mangled: count the coding token,
                        # leave the opaque body out of the corpus
                        rows.append(
                            ("skipped", None, ce.strip().lower() + "-censused")
                        )
                        continue
                    _d, text, _lang, _s, *_rest = _extract_crawl_response(
                        rec, http
                    )
                    if ce is None:
                        tag = "identity"
                    elif ce.strip().lower() == "br":
                        tag = "br"
                    else:
                        tag = "decoded"
                    rows.append(("extracted", len(text), tag))
            yield pd.DataFrame(rows, columns=["kind", "n_chars", "ce"])

    parsed = files.select("content").mapInPandas(walk, schema)
    extracted = F.col("kind") == "extracted"
    return parsed.agg(
        F.sum(F.when(extracted, 1).otherwise(0)).alias("n_extracted"),
        F.sum(F.when(extracted, F.col("n_chars"))).alias("chars"),
        F.sum(F.when(F.col("ce") == "br", 1).otherwise(0)).alias(
            "n_br_decoded"
        ),
        F.sum(F.when(F.col("ce") == "br", F.col("n_chars"))).alias(
            "chars_br"
        ),
        F.sum(F.when(F.col("ce") == "zstd-censused", 1).otherwise(0)).alias(
            "n_ce_censused"
        ),
        F.sum(F.when(F.col("ce") == "decoded", 1).otherwise(0)).alias(
            "n_decoded"
        ),
        F.sum(F.when(F.col("ce") == "identity", 1).otherwise(0)).alias(
            "n_identity"
        ),
    )


@register(
    "a30_cdxj_fetch",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 17 = 3 GROUP BY lang
    """,
    doc="CDXJ selective fetch (cdxj.py — the random-access tier of a "
    "WARC corpus, the pywb / Common Crawl index shape): shards are "
    "written member-per-record WITH a sorted .cdxj sidecar per shard "
    "(SURT key, timestamp, sha1-base32 payload digest, gzip member "
    "offset/length), then the query answers 'fetch THESE URIs' (doc_id "
    "% 17 = 3) by scanning ONLY the tiny index, planning ranged reads, "
    "and inflating exactly the selected members — each fetched record "
    "is digest-verified and then flows through the full extraction "
    "stack (HTTP de-framing, Content-Encoding decode, charset sniff, "
    "HTML -> text with probe verification). The builder asserts the "
    "bounded-byte contract IN CODE: total bytes read equals the sum of "
    "the selected members' indexed lengths and is a strict fraction of "
    "the archive size — an indexed fetch that secretly full-scans "
    "fails the run. 100 TB shape: the index (one short line per "
    "capture) is the only full scan; shard bytes are touched via "
    "seek+read of member extents, tasks grouped per shard file so each "
    "file opens once with offsets read in ascending order.",
)
def a30_cdxj_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    src, n_shards = _warc_cdxj_src(sf_dir)
    idx = spark.read.text(os.path.join(src, "*.cdxj"))
    parts = F.split(F.col("value"), " ", 3)
    jschema = (
        "url STRING, digest STRING, mime STRING, status INT, "
        "filename STRING, offset BIGINT, length BIGINT"
    )
    meta = (
        idx.select(F.from_json(parts.getItem(2), jschema).alias("j"))
        .select("j.*")
        .withColumn(
            "doc_id", F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        )
    )
    probe = meta.filter(F.col("doc_id") % 17 == 3)

    fetch = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(src, r.filename),
        _member_row,
        _MEMBER_COLS,
    )

    sel = probe.select("filename", "offset", "length", "digest", "doc_id")
    with _persisting() as persist:
        fetched = persist(
            sel.repartition(n_shards, "filename").mapInPandas(fetch, _MEMBER_DDL)
        )
        # bounded-byte contract, asserted in code: bytes actually read ==
        # the indexed lengths of the selection, and strictly a fraction of
        # the archive — a fetch path that secretly full-scans fails here
        got = fetched.agg(
            F.sum("bytes_read").alias("br"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        want_bytes = probe.agg(F.sum("length")).collect()[0][0]
        total_bytes = sum(
            e.stat().st_size
            for e in os.scandir(src)
            if e.name.endswith(".warc.gz")
        )
        if got["br"] != want_bytes or got["br"] * 3 >= total_bytes:
            raise RuntimeError(
                f"a30: read {got['br']} bytes, index planned {want_bytes}, "
                f"archive holds {total_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _webdataset_src(sf_dir: str) -> tuple[str, int]:
    """WebDataset-style .tar training shards: each sample is a trio of
    same-key files — {key}.json (metadata), {key}.txt (the document
    text), {key}.png (a real PNG the engine's own codec decodes).
    Shard count scales with the corpus (the a25 doctrine)."""
    from tectonic_spark.operators.archive import build_tar

    rows = [r for r in _docs_rows(sf_dir) if r[0] % 23 == 9]
    n_shards = max(2, len(rows) // 8000)
    base = _fixture_dir(sf_dir)
    # v2: even doc_ids get >100-char sample keys (deep category dirs),
    # shards alternate pax / GNU longname encodings (r11)
    src = os.path.join(base, f"a29_src2_{n_shards}")

    def build(tmp: str) -> None:
        import numpy as np

        from tectonic_spark.operators.png import encode_png

        i64 = np.arange(64, dtype=np.int64)
        for i in range(n_shards):
            members = []
            for d, text, lang, source, n in rows:
                if d % n_shards != i:
                    continue
                # even doc_ids live under a deep category path whose full
                # member names exceed ustar's 100-byte limit — the trio then
                # rides pax 'path' records or GNU 'L' members (by shard)
                if d % 2 == 0:
                    key = f"corpus/{lang}/{'category-' + source:-<96}/{d:012d}"
                else:
                    key = f"{d:012d}"
                img = ((d * 7 + i64 * 13) % 256).astype(np.uint8).reshape(8, 8)
                members.append(
                    (f"{key}.json", json.dumps(
                        {"doc_id": d, "lang": lang, "source": source}
                    ).encode())
                )
                members.append((f"{key}.txt", text.encode("utf-8")))
                members.append((f"{key}.png", encode_png(img)))
            _write_atomic(
                os.path.join(tmp, f"shard-{i:05d}.tar"),
                build_tar(members, longname_mode="pax" if i % 2 == 0 else "gnu"),
            )

    return _published(src, build), n_shards


@register(
    "a29_webdataset_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(list_sum(list_transform(range(0, 64),
                i -> (doc_id * 7 + i * 13) % 256))) AS BIGINT) AS px
    FROM documents WHERE doc_id % 23 = 9 GROUP BY lang
    """,
    doc="WebDataset ingestion (archive.py tar walk — the de-facto "
    "multimodal training-shard format: .tar files whose same-key "
    "members form one sample): each sample is {key}.json metadata "
    "(parsed by the ENGINE'S S1 JsonParser) + {key}.txt text + "
    "{key}.png image (decoded by the engine's own PNG codec). Since "
    "r11 even doc_ids carry >100-char sample keys (deep category "
    "dirs) riding pax 'path' records or GNU 'L' longname members by "
    "shard — both long-name encodings real shards use cross the walk "
    "every run. The "
    "walk verifies ustar header checksums, groups members by sample "
    "key, raises on incomplete trios, and every oracle column crosses "
    "a different modality: lang from the JSON, chars from the TEXT "
    "member length, px from the DECODED image pixels. 100 TB shape: "
    "tar shards are the canonical whole-file training work unit "
    "(uncompressed tar is actually block-seekable, but the sample "
    "grouping makes file-per-task the natural plan); per-shard "
    "mapInPandas, one per-lang aggregate exchange.",
)
def a29_webdataset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src, _n = _webdataset_src(sf_dir)
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.tar"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("lang", StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("px", LongType(), True),
        ]
    )

    def walk(batches):
        import numpy as np
        import pandas as pd

        from tectonic_spark.core.json_parser import JsonParser, Mode
        from tectonic_spark.core.result import Failure
        from tectonic_spark.core.value_builder import ValueBuilderPlate
        from tectonic_spark.operators.archive import parse_tar
        from tectonic_spark.operators.png import decode_png

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                samples: dict[str, dict] = {}
                for m in parse_tar(bytes(blob)):
                    key, _, ext = m["name"].rpartition(".")
                    samples.setdefault(key, {})[ext] = m["data"]
                for key in sorted(samples):
                    s = samples[key]
                    if set(s) != {"json", "txt", "png"}:
                        raise ValueError(
                            f"sample {key}: incomplete trio {sorted(s)}"
                        )
                    plate = ValueBuilderPlate()
                    parser = JsonParser(plate, Mode.SINGLE_VALUE)
                    res = parser.absorb(s["json"])
                    if isinstance(res, Failure):
                        raise ValueError(f"sample {key}: {res.error}")
                    vals = list(res.value)
                    res = parser.finish()
                    if isinstance(res, Failure):
                        raise ValueError(f"sample {key}: {res.error}")
                    vals.extend(res.value)
                    (meta,) = vals
                    px = decode_png(s["png"])
                    rows.append(
                        (
                            meta["doc_id"],
                            meta["lang"],
                            len(s["txt"].decode("utf-8")),
                            int(np.sum(px, dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "lang", "n_chars", "px"])

    parsed = files.select("content").mapInPandas(walk, schema)
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("n_chars").alias("chars"),
        F.sum("px").alias("px"),
    )


def _timeline_index_src(sf_dir: str) -> tuple[str, int]:
    """The a37 two-snapshot corpus written INDEXED (r12, VERDICT r11
    item 2): member-per-record shards recording every capture's byte
    extent, all CDXJ lines (same SURT key, TWO timestamps for the
    recaptured fifth of docs) merged into one zipnum + cluster.idx —
    the layout that lets a 100 TB archive answer temporal questions
    without touching the shards. Returns (dir, n_shards)."""
    from tectonic_spark.operators.cdxj import (
        build_cdxj,
        build_cluster_idx,
        payload_digest,
        warc_timestamp,
        write_warc_indexed,
        write_zipnum,
    )

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    # v2: recapture shard is (d+1)%n — (d+4)%n was a no-op at n=4
    src = os.path.join(base, f"a38_src2_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[tuple[bytes, dict | None]]] = [
            [] for _ in range(n_shards)
        ]

        def add(shard: int, d: int, text: str, lang: str, source: str, date: str):
            rec, http = _render_response_record(d, text, lang, source, date=date)
            shards[shard].append(
                (
                    rec,
                    {
                        "url": f"https://{source}.example/doc/{d}",
                        "ts": warc_timestamp(date),
                        "digest": payload_digest(http),
                        "mime": "text/html",
                        "status": 200,
                        "filename": f"crawl-{shard:03d}.warc.gz",
                    },
                )
            )

        for d, text, lang, source, _n in rows:
            add(d % n_shards, d, text, lang, source, _WARC_DATE)
            if d % 5 == 0:  # recaptured with CHANGED content, other shard
                add((d + 1) % n_shards, d, text + " rev2", lang, source,
                    _WARC_DATE_V2)
        all_entries: list[dict] = []
        for i, recs in enumerate(shards):
            blob, entries = write_warc_indexed(recs)
            _write_atomic(os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), blob)
            all_entries.extend(entries)
        lines = build_cdxj(all_entries).decode("utf-8").splitlines()
        zblob, zentries = write_zipnum(lines, block_lines=64)
        _write_atomic(os.path.join(tmp, "index.zipnum.gz"), zblob)
        _write_atomic(
            os.path.join(tmp, "cluster.idx"),
            build_cluster_idx(zentries, "index.zipnum.gz"),
        )

    return _published(src, build), n_shards


@register(
    "a38_temporal_index_lookup",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5 ELSE 0 END)
                AS BIGINT) AS chars_latest_changed
    FROM documents WHERE doc_id % 13 = 2 GROUP BY lang
    """,
    doc="Temporal lookups served from the INDEX alone, cross-pinned "
    "against the walk (r12, VERDICT r11 item 2 — how a 100 TB archive "
    "actually answers first-seen/changed-at: the walk is the audit, "
    "the index is the path): probe URLs (doc_id % 13 = 2) run the a36 "
    "zipnum ladder over a two-snapshot index whose recaptured docs "
    "carry the SAME SURT key at TWO timestamps, and first_ts / "
    "latest_ts / capture count / distinct-digest change detection are "
    "computed from CDXJ lines only; an independent full walk of the "
    "shards (the a37 kernel) computes the same four answers from the "
    "records, and the builder asserts field-for-field agreement for "
    "EVERY probe — the strongest oracle an index can have. The latest "
    "member of every CHANGED probe is then ranged-fetched, digest-"
    "verified and extracted, so chars_latest_changed crosses the "
    "index, the fetch, brotli/gzip decode and charset extraction at "
    "once (and is pinned equal to the walk's latest-capture length). "
    "Access bounds asserted in code: <= 2 index blocks per probe key "
    "(equal-key timestamp runs included) and fetched member bytes == "
    "indexed lengths. 100 TB shape: cluster.idx is the only always-"
    "resident piece; the audit walk is the per-shard a37 scan, run "
    "here BECAUSE it is the pin — a production lookup runs only the "
    "index half.",
)
def a38_temporal_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks
    from tectonic_spark.tables import table

    src, _n = _timeline_index_src(sf_dir)
    by_file = index_blocks(src)

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import payload_digest, warc_timestamp
        from tectonic_spark.operators.parser_ops import _extract_crawl_response
        from tectonic_spark.operators.warc import parse_warc

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    d, text, lang, _s, *_rest = _extract_crawl_response(rec)
                    rows.append(
                        (d, lang, warc_timestamp(rec["date"]),
                         payload_digest(rec["payload"]), len(text))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "lang", "ts", "digest", "n_chars"]
            )

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(src, r.filename),
        lambda r, doc: (doc.doc_id, len(doc.text), int(r.length)),
        ["doc_id", "f_chars", "bytes_read"],
    )

    with _persisting() as persist:
        probes = persist(
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 13 == 2)
            .select("doc_id", _doc_key())
        )
        blocks = _blocks_df(by_file, probes)
        entries = _entries_df(src, blocks, {"index.zipnum.gz": 0})
        # the INDEX answer: every temporal field from CDXJ lines alone
        latest_struct = F.max(
            F.struct("ts", "digest", "filename", "offset", "length")
        ).alias("latest")
        index_ans = persist(
            entries.join(probes, "key", "inner")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("i_caps"),
                F.min("ts").alias("i_first_ts"),
                F.countDistinct("digest").alias("i_digests"),
                latest_struct,
            )
            .select(
                "doc_id", "i_caps", "i_first_ts", "i_digests",
                F.col("latest.ts").alias("i_latest_ts"),
                F.col("latest.digest").alias("i_latest_digest"),
                F.col("latest.filename").alias("filename"),
                F.col("latest.offset").alias("offset"),
                F.col("latest.length").alias("length"),
            )
        )

        # the WALK answer: the a37 kernel over the shards (the audit)
        files = spark.read.format("binaryFile").load(
            os.path.join(src, "*.warc.gz")
        )
        walk_ans = persist(
            files.select("content")
            .mapInPandas(
                walk,
                "doc_id long, lang string, ts string, digest string, "
                "n_chars long",
            )
            .join(probes.select("doc_id"), "doc_id", "inner")
            .groupBy("doc_id")
            .agg(
                F.first("lang").alias("lang"),
                F.count(F.lit(1)).alias("w_caps"),
                F.min("ts").alias("w_first_ts"),
                F.countDistinct("digest").alias("w_digests"),
                F.max(F.struct("ts", "digest", "n_chars")).alias("wl"),
            )
            .select(
                "doc_id", "lang", "w_caps", "w_first_ts", "w_digests",
                F.col("wl.ts").alias("w_latest_ts"),
                F.col("wl.digest").alias("w_latest_digest"),
                F.col("wl.n_chars").alias("w_latest_chars"),
            )
        )

        # index-vs-walk agreement, asserted for EVERY probe
        cmp = index_ans.join(walk_ans, "doc_id", "full")
        n_probes = probes.count()
        n_idx = index_ans.count()
        n_walk = walk_ans.count()
        n_mismatch = cmp.filter(
            (F.col("i_caps") != F.col("w_caps"))
            | (F.col("i_first_ts") != F.col("w_first_ts"))
            | (F.col("i_digests") != F.col("w_digests"))
            | (F.col("i_latest_ts") != F.col("w_latest_ts"))
            | (F.col("i_latest_digest") != F.col("w_latest_digest"))
            | F.col("i_caps").isNull()
            | F.col("w_caps").isNull()
        ).count()
        n_touched = blocks.count()
        if n_idx != n_probes or n_walk != n_probes or n_mismatch:
            raise RuntimeError(
                f"a38: {n_probes} probes, index answered {n_idx}, walk "
                f"answered {n_walk}, {n_mismatch} disagreements"
            )
        if n_touched > 2 * n_probes:
            raise RuntimeError(
                f"a38: {n_touched} index blocks for {n_probes} probes — "
                "the cluster ladder is not pruning"
            )

        # ranged-fetch the LATEST member of every CHANGED probe
        changed = index_ans.filter(F.col("i_digests") > 1).select(
            "doc_id", "filename", "offset", "length",
            F.col("i_latest_digest").alias("digest"),
        )
        fetched = persist(
            changed.repartition(8, "filename").mapInPandas(
                fetch_docs, "doc_id long, f_chars long, bytes_read long"
            )
        )
        got = fetched.agg(
            F.sum("bytes_read").alias("br"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        want = changed.agg(
            F.sum("length").alias("b"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        bad_len = (
            fetched.join(walk_ans, "doc_id")
            .filter(F.col("f_chars") != F.col("w_latest_chars"))
            .count()
        )
        if got["n"] != want["n"] or got["br"] != want["b"] or bad_len:
            raise RuntimeError(
                f"a38: fetched {got['n']}/{want['n']} changed members, "
                f"{got['br']} bytes vs indexed {want['b']}, {bad_len} "
                "length disagreements vs the walk"
            )

        agg = (
            walk_ans.join(fetched.select("doc_id", "f_chars"), "doc_id", "left")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("w_caps") > 1, 1).otherwise(0)).alias(
                    "n_multi"
                ),
                F.sum(F.when(F.col("w_digests") > 1, 1).otherwise(0)).alias(
                    "n_changed"
                ),
                F.sum(F.coalesce("f_chars", F.lit(0))).alias(
                    "chars_latest_changed"
                ),
            )
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _revisit_index_src(sf_dir: str) -> tuple[str, int]:
    """The a31 revisit corpus written INDEXED (r12, VERDICT r11 item
    8): original captures at /doc/{d}; every 5th doc recrawled at
    /recrawl/{d} where the crawler stored a headers-only revisit
    record — and, the pywb convention, the revisit's CDXJ line carries
    the ORIGINAL's payload digest with mime ``warc/revisit``. Revisits
    land in a different shard than their originals. One zipnum +
    cluster.idx over everything. Returns (dir, n_shards)."""
    import hashlib

    from tectonic_spark.operators.cdxj import (
        build_cdxj,
        build_cluster_idx,
        payload_digest,
        warc_timestamp,
        write_warc_indexed,
        write_zipnum,
    )
    from tectonic_spark.operators.warc import build_warc_record

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"a39_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[tuple[bytes, dict | None]]] = [
            [] for _ in range(n_shards)
        ]
        ts1 = warc_timestamp(_WARC_DATE)
        ts2 = warc_timestamp(_WARC_DATE_V2)
        for d, text, lang, source, _n in rows:
            rec, http = _render_response_record(d, text, lang, source)
            uri = f"https://{source}.example/doc/{d}"
            digest = payload_digest(http)
            shards[d % n_shards].append(
                (
                    rec,
                    {
                        "url": uri,
                        "ts": ts1,
                        "digest": digest,
                        "mime": "text/html",
                        "status": 200,
                        "filename": f"crawl-{d % n_shards:03d}.warc.gz",
                    },
                )
            )
            if d % 5 == 0:
                orig_id = "<urn:uuid:%s>" % hashlib.sha256(
                    repr(("response", uri, _WARC_DATE)).encode()
                ).hexdigest()[:32]
                revisit = build_warc_record(
                    "revisit",
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
                    uri=f"https://{source}.example/recrawl/{d}",
                    date=_WARC_DATE_V2,
                    content_type="application/http; msgtype=response",
                    extra={
                        "WARC-Profile": "http://netpreserve.org/warc/1.1/"
                        "revisit/identical-payload-digest",
                        "WARC-Refers-To": orig_id,
                        "WARC-Refers-To-Target-URI": uri,
                        "WARC-Payload-Digest": digest,
                    },
                )
                shard = (d + 1) % n_shards
                shards[shard].append(
                    (
                        revisit,
                        {
                            "url": f"https://{source}.example/recrawl/{d}",
                            "ts": ts2,
                            # pywb writes the ORIGINAL's digest on the line
                            "digest": digest,
                            "mime": "warc/revisit",
                            "status": 200,
                            "filename": f"crawl-{shard:03d}.warc.gz",
                        },
                    )
                )
        all_entries: list[dict] = []
        for i, recs in enumerate(shards):
            blob, entries = write_warc_indexed(recs)
            _write_atomic(os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), blob)
            all_entries.extend(entries)
        lines = build_cdxj(all_entries).decode("utf-8").splitlines()
        zblob, zentries = write_zipnum(lines, block_lines=64)
        _write_atomic(os.path.join(tmp, "index.zipnum.gz"), zblob)
        _write_atomic(
            os.path.join(tmp, "cluster.idx"),
            build_cluster_idx(zentries, "index.zipnum.gz"),
        )

    return _published(src, build), n_shards


@register(
    "a39_revisit_index_fetch",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_revisits,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 35 = 0 GROUP BY lang
    """,
    doc="Index-driven fetch of REVISITED URLs resolving through the "
    "digest to the original's member (r12, VERDICT r11 item 8 — the "
    "composition of a31's revisit semantics with the a36 random-"
    "access tier, exactly how pywb serves a deduplicated URL): probe "
    "URLs are recrawl aliases (doc_id % 35 = 0, a selected subset of "
    "the d%5 revisits); hop 1 runs the zipnum ladder to the revisit "
    "entries (mime ``warc/revisit`` asserted), ranged-fetches the "
    "headers-only revisit records and reads WARC-Refers-To-Target-URI "
    "+ WARC-Payload-Digest; hop 2 SURTs the referred URLs, runs the "
    "ladder AGAIN, fetches the original members and asserts the "
    "original payload digest equals BOTH the revisit record's claim "
    "and the index line's digest before extracting — chars therefore "
    "crosses two index hops, two ranged fetches, revisit resolution "
    "and extraction. Access bounds asserted in code per hop (<= 2 "
    "blocks per key; member bytes == indexed lengths) and every probe "
    "must resolve exactly once. 100 TB shape: both hops are keyed "
    "block reads off the resident cluster.idx; no shard is scanned, "
    "payload bytes never leave the executor.",
)
def a39_revisit_index_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks, shard_records, surt
    from tectonic_spark.tables import table

    src, _n = _revisit_index_src(sf_dir)
    by_file = index_blocks(src)

    def ladder(keys_df):
        """SURT keys → matched CDXJ entries (one zipnum pass), plus the
        touched-block count for the access-bound assertion."""
        blocks = _blocks_df(by_file, keys_df)
        entries = _entries_df(src, blocks, {"index.zipnum.gz": 0})
        return entries.join(keys_df, "key", "inner"), blocks

    def revisit_row(r, rec):
        if r.mime != "warc/revisit":
            raise ValueError(
                f"probe {r.key}: expected a revisit entry, index says {r.mime!r}"
            )
        if rec["type"] != "revisit":
            raise ValueError(f"{r.filename}@{r.offset}: not a revisit record")
        fields = {k.lower(): v for k, v in rec["fields"]}
        if "identical-payload-digest" not in fields.get("warc-profile", ""):
            raise ValueError("unsupported revisit profile")
        ref = fields["warc-refers-to-target-uri"]
        return (
            int(r.doc_id),
            ref,
            surt(ref),
            fields["warc-payload-digest"],
            r.digest,
            int(r.length),
        )

    def original_row(r, doc):
        # the fetch verified the payload digest against the line's
        if r.claimed_digest != r.digest:
            raise ValueError(
                f"{r.filename}@{r.offset}: original digest {r.digest} "
                f"!= revisit claim {r.claimed_digest}"
            )
        return _member_row(r, doc)

    def shard_path(r):
        return os.path.join(src, r.filename)

    fetch_revisits = _member_kernel(
        shard_records,
        shard_path,
        revisit_row,
        ["doc_id", "ref_uri", "ref_key", "claimed_digest", "line_digest",
         "bytes_read"],
    )
    fetch_originals = _member_kernel(
        _fetched_docs, shard_path, original_row, _MEMBER_COLS
    )

    with _persisting() as persist:
        probes = persist(
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 35 == 0)
            .select("doc_id", _doc_key("/recrawl/"))
        )

        # ---- hop 1: revisit entries → revisit records → referred URL ----
        hop1, blocks1 = ladder(probes)
        resolved = persist(
            hop1.repartition(8, "filename").mapInPandas(
                fetch_revisits,
                "doc_id long, ref_uri string, ref_key string, "
                "claimed_digest string, line_digest string, bytes_read long",
            )
        )
        n_probes = probes.count()
        got1 = resolved.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want1 = hop1.agg(F.sum("length")).collect()[0][0]
        n_blocks1 = blocks1.count()
        # pywb's line digest must equal the record's claimed digest
        bad_line = resolved.filter(
            F.col("claimed_digest") != F.col("line_digest")
        ).count()
        if (
            got1["n"] != n_probes
            or got1["br"] != want1
            or bad_line
            or n_blocks1 > 2 * n_probes
        ):
            raise RuntimeError(
                f"a39 hop1: {got1['n']}/{n_probes} revisits resolved, "
                f"{got1['br']} bytes vs indexed {want1}, {bad_line} digest "
                f"skews, {n_blocks1} blocks touched"
            )

        # ---- hop 2: referred URLs → original members → extraction ----
        hop2, blocks2 = ladder(
            resolved.select(
                F.col("ref_key").alias("key"), "doc_id", "claimed_digest"
            )
        )
        originals = hop2.filter(F.col("mime") == "text/html")
        fetched = persist(
            originals.repartition(8, "filename").mapInPandas(
                fetch_originals, _MEMBER_DDL
            )
        )
        got2 = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want2 = originals.agg(F.sum("length")).collect()[0][0]
        n_blocks2 = blocks2.count()
        if (
            got2["n"] != n_probes
            or got2["br"] != want2
            or n_blocks2 > 2 * n_probes
        ):
            raise RuntimeError(
                f"a39 hop2: {got2['n']}/{n_probes} originals fetched, "
                f"{got2['br']} bytes vs indexed {want2}, {n_blocks2} blocks"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_revisits"),
            F.sum("n_chars").alias("chars"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _docs_br_mixed_src(sf_dir: str) -> str:
    """documents as NDJSON shards in the mixed compression layout a
    real crawl drop ships once brotli is in the mix: plain, .gz, and
    .br shards (alternating the LZ and uncompressed-meta-block encoder
    lanes) — r12, the a20/a23 family extended with the vendored RFC
    7932 codec. Shard COUNT scales with the corpus (the a25 layout
    doctrine): compressed files are whole-file splits, so a fixed
    shard count would serialize the scan at large SF behind one big
    single-threaded decode."""
    import gzip

    from tectonic_spark.operators.brotli import compress

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)

    def build(tmp: str) -> None:
        lines = [
            json.dumps(
                {"doc_id": d, "text": t, "lang": lg, "source": s, "n_chars": n}
            )
            for d, t, lg, s, n in rows
        ]
        per = (len(lines) + n_shards - 1) // n_shards
        for i in range(n_shards):
            body = ("\n".join(lines[i * per : (i + 1) * per]) + "\n").encode()
            form = i % 4
            if form == 0:
                _write_atomic(os.path.join(tmp, f"part-{i:03d}.jsonl"), body)
            elif form == 1:
                _write_atomic(
                    os.path.join(tmp, f"part-{i:03d}.jsonl.br"),
                    compress(body, mode="lz"),
                )
            elif form == 2:
                _write_atomic(
                    os.path.join(tmp, f"part-{i:03d}.jsonl.gz"),
                    gzip.compress(body, mtime=0),
                )
            else:
                _write_atomic(
                    os.path.join(tmp, f"part-{i:03d}.jsonl.br"),
                    compress(body, mode="uncompressed"),
                )

    src = os.path.join(_fixture_dir(sf_dir), f"a40_src_{n_shards}")
    return _published(src, build)


@register(
    "a40_brotli_jsonl_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="Brotli NDJSON ingestion (r12, beyond the ask list — the "
    "compressed-scan family a20/.gz + a23/.zst gains the web's other "
    "codec): a directory mixing plain, .gz and .br shards scans "
    "through the same tectonic-json source; .br files decode through "
    "the vendored RFC 7932 decoder (brotli.py) and plan as ONE whole-"
    "file split each (brotli is not block-splittable; the .br shards "
    "alternate the LZ and uncompressed-meta-block stream shapes), "
    "while the plain shards keep their byte-range splits — the "
    "builder raises unless the planner actually produced both split "
    "kinds. The aggregate must equal the uncompressed table exactly, "
    "so chars pins the brotli round trip line-for-line. 100 TB shape: "
    "per-file executor-side decode with shard COUNT scaling with the "
    "corpus (the layout doctrine — a fixed count would serialize the "
    "scan behind one whole-file decode: the sf10 probe read 0.65x "
    "linear on the fixed-4 variant and 0.39x on this shape).",
)
def a40_brotli_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.sources.json_source import list_input_files, plan_splits

    register_tectonic_sources(spark)
    src = _docs_br_mixed_src(sf_dir)
    files = list_input_files(src)
    splits = plan_splits(files, split_bytes=16 * 1024, splittable=True)
    br = [sp for sp in splits if sp.file.endswith(".br")]
    plain = [sp for sp in splits if sp.file.endswith(".jsonl")]
    if len(br) < 2 or not plain:
        raise RuntimeError("a40: fixture must plan both br and plain splits")
    if any(sp.start != 0 or sp.end != sp.file_size for sp in br):
        raise RuntimeError("a40: br files must plan as whole-file splits")
    d = (
        spark.read.format("tectonic-json")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("splitSizeBytes", str(16 * 1024))
        .load(src)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "s16_stream_brotli_ingest",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    doc="STREAMING brotli ingestion (r12 — the a40 story under "
    "Structured Streaming, completing the compressed-arrival family "
    "s14/.zst + s15/WARC with the web's other codec): the SAME mixed "
    "plain/.gz/.br NDJSON shard directory streams through the "
    "tectonic-json DataSourceStreamReader (directory-snapshot "
    "offsets; compressed shards plan as whole-file splits and the .br "
    "ones decode through the vendored RFC 7932 decoder inside their "
    "micro-batch task) into a checkpointed append parquet sink, and "
    "the sink aggregate must equal the uncompressed table exactly. "
    "The arrival pattern of a real corpus drop: shards land "
    "compressed, the pipeline never re-materializes them. 100 TB "
    "shape: per-file executor-side decode, ingest parallelism = "
    "shard count (scaling with the corpus, the a40 layout doctrine).",
)
def s16_stream_brotli_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tectonic_sources(spark)
    src = _docs_br_mixed_src(sf_dir)
    stream = (
        spark.readStream.format("tectonic-json")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .load(src)
        .select("doc_id", "lang", "n_chars")
    )
    sink, _ = _stream_into(stream, sf_dir, "s16")
    return (
        sink.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


@register(
    "a41_surt_prefix_scan",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE CAST(substr(source, 4, 10) AS INT) % 4 = 1
    GROUP BY lang
    """,
    doc="SURT prefix RANGE scan from the zipnum index (r12, beyond the "
    "ask list — the other half of the wayback access pattern: a36/a38 "
    "answer point lookups, this answers 'give me EVERY capture under "
    "these hosts'): probe hosts (trailing source number % 4 = 1, a "
    "quarter of the corpus) become SURT prefixes whose ')/'-terminated "
    "host part cannot collide with longer host names (src1 never "
    "matches src10); because the index is sorted, each prefix's "
    "captures are one CONTIGUOUS run of lines, so the cluster.idx "
    "bisect yields a minimal covering block range — asserted in code: "
    "blocks touched <= matched_entries/block_lines + 2 per prefix (a "
    "range scan that degenerates to the whole index fails), plus the "
    "standard member-bytes == indexed-lengths and "
    "every-fetched-doc-in-the-probe-set pins. Matched members are "
    "ranged-fetched, digest-verified and extracted, so chars crosses "
    "the range plan, the fetch and extraction. 100 TB shape: the "
    "export job a real archive runs daily — work scales with the "
    "MATCHED data (blocks + members), never with the corpus; "
    "cluster.idx stays the only resident piece.",
)
def a41_surt_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import bisect
    import functools
    import operator

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks
    from tectonic_spark.tables import table

    idx_dir, warc_dir, _n_blocks = _zipnum_src(sf_dir)
    # fetch width scales with the corpus (the a30 doctrine): the
    # matched set is ~a quarter of the corpus by construction, so a
    # fixed width would cap the range scan at 100x (VERDICT r12)
    _src, n_shards = _warc_cdxj_src(sf_dir)
    by_file = index_blocks(idx_dir)
    cluster = by_file["index.zipnum.gz"]
    block_keys = [e["key"] for e in cluster]

    # probe hosts: a bounded collect of the tiny distinct-source set
    hosts = [
        r[0]
        for r in table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .filter(F.substring("source", 4, 10).cast("int") % 4 == 1)
        .collect()
    ]
    prefixes = sorted(f"example,{h})/" for h in hosts)

    # contiguous block cover per prefix, from the resident cluster.idx
    block_ids: set[int] = set()
    for pfx in prefixes:
        lo = max(0, bisect.bisect_right(block_keys, pfx) - 1)
        hi = bisect.bisect_left(block_keys, pfx + "\x7f")
        block_ids.update(range(lo, min(hi + 1, len(cluster))))
    n_touched = len(block_ids)
    blocks = spark.createDataFrame(
        [
            ("index.zipnum.gz", cluster[b]["offset"], cluster[b]["length"])
            for b in sorted(block_ids)
        ],
        _BLOCK_DDL,
    ).repartition(8)
    under_prefix = functools.reduce(
        operator.or_,
        (F.col("key").startswith(p) for p in prefixes),
        F.lit(False),
    )

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(warc_dir, r.filename),
        lambda r, doc: (
            doc.doc_id, doc.lang, doc.source, len(doc.text), int(r.length)
        ),
        ["doc_id", "lang", "source", "n_chars", "bytes_read"],
    )

    with _persisting() as persist:
        matched = persist(
            _entries_df(idx_dir, blocks, {"index.zipnum.gz": 0})
            .filter(under_prefix)
            .select("filename", "offset", "length", "digest")
        )
        fetched = persist(
            matched.repartition(n_shards, "filename")
            .mapInPandas(
                fetch_docs,
                "doc_id long, lang string, source string, n_chars long, "
                "bytes_read long",
            )
        )

        n_matched = matched.count()
        got = fetched.agg(
            F.sum("bytes_read").alias("br"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.substring("source", 4, 10).cast("int") % 4 != 1, 1
                ).otherwise(0)
            ).alias("off_probe"),
        ).collect()[0]
        want_bytes = matched.agg(F.sum("length")).collect()[0][0]
        # the contiguity bound: a sorted index serves each prefix from a
        # minimal covering run of blocks (+2 edge blocks per prefix)
        max_blocks = n_matched // 64 + 2 * len(prefixes)
        if (
            got["n"] != n_matched
            or got["br"] != want_bytes
            or got["off_probe"]
            or n_touched > max_blocks
        ):
            raise RuntimeError(
                f"a41: {got['n']} fetched of {n_matched} matched, "
                f"{got['br']} bytes vs indexed {want_bytes}, "
                f"{got['off_probe']} off-probe docs, {n_touched} blocks "
                f"touched (bound {max_blocks})"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "a42_wayback_closest",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 AND doc_id % 3 >= 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_feb,
           CAST(SUM(n_chars + CASE WHEN doc_id % 5 = 0 AND doc_id % 3 >= 1
                                   THEN 5 ELSE 0 END) AS BIGINT)
             AS chars_closest
    FROM documents WHERE doc_id % 9 = 4 GROUP BY lang
    """,
    doc="Closest-capture-to-timestamp lookup (r12, beyond the ask list "
    "— THE wayback-machine request semantic: GET /web/<ts>/<url> "
    "serves the capture nearest the requested instant): probes are "
    "(url, requested-ts) pairs (doc_id % 9 = 4; the request instant "
    "cycles before-first / between-snapshots / after-last by d%3) "
    "over the a38 two-snapshot index; the winner is chosen from CDXJ "
    "lines ALONE — JVM timestamp arithmetic (to_timestamp on the "
    "14-digit key, absolute-second distance, larger-ts tie-break) "
    "inside one min(struct) aggregate per key — then ranged-fetched, "
    "digest-verified and extracted. The d%3=1 lane is the one that "
    "catches a wrong implementation: requested 2024-01-20 sits 19 "
    "days from the January capture and 12 from the February one, so "
    "recaptured docs must serve FEBRUARY while single-capture docs "
    "fall back to January — chars_closest pins the winning capture's "
    "extracted text (rev2 docs carry +5 chars) against the closed-"
    "form oracle. a36 access bounds asserted per probe. 100 TB "
    "shape: the replay path of a web archive — cluster.idx bisect + "
    "exact block reads + one member fetch per request, never a scan.",
)
def a42_wayback_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks
    from tectonic_spark.tables import table

    src, _n = _timeline_index_src(sf_dir)
    by_file = index_blocks(src)

    def project(r, doc):
        is_feb = 1 if r.ts.startswith("202402") else 0
        return (doc.doc_id, doc.lang, len(doc.text), is_feb, int(r.length))

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(src, r.filename),
        project,
        ["doc_id", "lang", "n_chars", "is_feb", "bytes_read"],
    )

    with _persisting() as persist:
        probes = persist(
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 9 == 4)
            .select(
                "doc_id",
                "lang",
                _doc_key(),
                # the requested instant: before-first / between / after-last
                F.element_at(
                    F.array(
                        F.lit("20231215000000"),
                        F.lit("20240120000000"),
                        F.lit("20240301000000"),
                    ),
                    (F.col("doc_id") % 3 + 1).cast("int"),
                ).alias("req_ts"),
            )
        )
        blocks = _blocks_df(by_file, probes)
        entries = _entries_df(src, blocks, {"index.zipnum.gz": 0})
        # nearest capture per probe, from the index alone: absolute-second
        # distance with a larger-ts tie-break, all JVM arithmetic
        cand = entries.join(probes, "key", "inner").withColumn(
            "dist",
            F.abs(
                F.unix_timestamp(F.to_timestamp("ts", "yyyyMMddHHmmss"))
                - F.unix_timestamp(F.to_timestamp("req_ts", "yyyyMMddHHmmss"))
            ),
        )
        winners = persist(
            cand.groupBy("doc_id", "lang", "req_ts")
            .agg(
                F.count(F.lit(1)).alias("n_caps"),
                F.min(
                    F.struct(
                        "dist",
                        (
                            F.lit(99999999999999) - F.col("ts").cast("long")
                        ).alias("ts_inv"),
                        "ts", "digest", "filename", "offset", "length",
                    )
                ).alias("w"),
            )
            .select(
                "doc_id", "lang",
                F.col("w.ts").alias("ts"),
                F.col("w.digest").alias("digest"),
                F.col("w.filename").alias("filename"),
                F.col("w.offset").alias("offset"),
                F.col("w.length").alias("length"),
            )
        )
        fetched = persist(
            winners.select(
                "doc_id", "filename", "offset", "length", "digest", "ts"
            )
            .repartition(8, "filename")
            .mapInPandas(
                fetch_docs,
                "doc_id long, lang string, n_chars long, is_feb long, "
                "bytes_read long",
            )
        )
        n_probes = probes.count()
        n_win = winners.count()
        n_touched = blocks.count()
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = winners.agg(F.sum("length")).collect()[0][0]
        if (
            n_win != n_probes
            or got["n"] != n_probes
            or got["br"] != want_bytes
            or n_touched > 2 * n_probes
        ):
            raise RuntimeError(
                f"a42: {n_probes} probes, {n_win} winners, {got['n']} "
                f"fetched, {got['br']} bytes vs indexed {want_bytes}, "
                f"{n_touched} blocks"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("is_feb").alias("n_feb"),
            F.sum("n_chars").alias("chars_closest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _merged_index_src(sf_dir: str) -> tuple[str, str, str]:
    """TWO crawl collections merged into ONE zipnum (r12 — pywb's
    collection aggregation: a wayback deployment fronts many archives
    through a single merged index whose lines carry a ``source``
    collection tag): collection A = the a30 single-snapshot crawl
    (per-shard .cdxj sidecars), collection B = the a38 two-snapshot
    archive. Every document's January capture exists in BOTH
    collections with the same (SURT, timestamp, digest), so the merge
    must DEDUP — keep-first by collection precedence [A, B] — leaving
    exactly one line per (key, ts, digest) with February captures
    routed to B. Returns (index_dir, a_warc_dir, b_warc_dir)."""
    import json as _json

    from tectonic_spark.operators.cdxj import (
        build_cluster_idx,
        index_lines,
        write_zipnum,
    )

    a_dir, _na = _warc_cdxj_src(sf_dir)
    b_dir, _nb = _timeline_index_src(sf_dir)
    base = _fixture_dir(sf_dir)
    # v2: rebuilt over the a38_src2 collection (offsets changed)
    src = os.path.join(base, "a43_idx2")

    def build(tmp: str) -> None:
        def tagged_lines(raw_lines, collection):
            out = []
            for ln in raw_lines:
                if not ln:
                    continue
                key, ts, blob = ln.split(" ", 2)
                j = _json.loads(blob)
                j["source"] = collection
                out.append(
                    f"{key} {ts} "
                    + _json.dumps(j, sort_keys=True, ensure_ascii=False)
                )
            return out

        lines: list[str] = []
        for entry in sorted(os.scandir(a_dir), key=lambda e: e.name):
            if entry.name.endswith(".cdxj"):
                with open(entry.path, encoding="utf-8") as f:
                    lines.extend(tagged_lines(f.read().splitlines(), "A"))
        lines.extend(tagged_lines(index_lines(b_dir), "B"))
        # merge-sort + keep-first dedup on (key, ts, digest): collection A
        # precedes B, and sorted() is stable, so sorting on the identity
        # triple while tagging preserves precedence within each group
        lines.sort(key=lambda ln: (ln.split(" ", 2)[0], ln.split(" ", 2)[1]))
        merged: list[str] = []
        seen: set[tuple[str, str, str]] = set()
        for ln in lines:
            key, ts, blob = ln.split(" ", 2)
            ident = (key, ts, _json.loads(blob)["digest"])
            if ident in seen:
                continue
            seen.add(ident)
            merged.append(ln)
        merged.sort()
        zblob, zentries = write_zipnum(merged, block_lines=64)
        _write_atomic(os.path.join(tmp, "index.zipnum.gz"), zblob)
        _write_atomic(
            os.path.join(tmp, "cluster.idx"),
            build_cluster_idx(zentries, "index.zipnum.gz"),
        )

    return _published(src, build), a_dir, b_dir


@register(
    "a43_collection_merge",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_b,
           CAST(SUM(n_chars + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END)
                AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 21 = 6 GROUP BY lang
    """,
    doc="Multi-collection index merge (r12, beyond the ask list — "
    "pywb's collection aggregation: one wayback front over many "
    "archives): the a30 single-snapshot crawl (collection A) and the "
    "a38 two-snapshot archive (collection B) merge into ONE zipnum "
    "whose lines carry a source tag; every January capture exists in "
    "BOTH collections with identical (SURT, ts, digest), so the merge "
    "DEDUPS keep-first by precedence [A, B] — the builder asserts the "
    "merged line count equals the closed-form union (one line per "
    "doc + one per recaptured doc), a merge that keeps duplicates or "
    "drops captures fails. Probes (doc_id % 21 = 6) ask for the "
    "LATEST capture per URL from the merged index alone; fetches "
    "ROUTE by the winning line's collection tag to the right "
    "archive's shards (January -> A by precedence, February -> B), "
    "asserted per fetched doc, then digest-verify and extract — "
    "chars_latest pins the routed winner's text (+5 for rev2). a36 "
    "access bounds asserted. 100 TB shape: collection membership is "
    "one more index column; the merged cluster.idx stays the only "
    "resident piece and fetch work scales with the probe set.",
)
def a43_collection_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks, index_lines
    from tectonic_spark.tables import table

    idx_dir, a_dir, b_dir = _merged_index_src(sf_dir)
    by_file = index_blocks(idx_dir)
    coll_dirs = {"A": a_dir, "B": b_dir}

    docs = table(spark, sf_dir, "documents")
    # the closed-form union pin: one line per doc + one per recapture
    n_docs, n_recap = docs.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)),
    ).collect()[0]
    total_lines = len(index_lines(idx_dir))
    if total_lines != n_docs + n_recap:
        raise RuntimeError(
            f"a43: merged index has {total_lines} lines, the union is "
            f"{n_docs} docs + {n_recap} recaptures"
        )

    def project(r, doc):
        # routing pin: January winners come from A (the precedence
        # collection), February from B
        want = "B" if r.ts.startswith("202402") else "A"
        if r.coll != want:
            raise ValueError(
                f"doc {doc.doc_id} ts {r.ts} routed to {r.coll}, "
                f"precedence says {want}"
            )
        from_b = 1 if r.coll == "B" else 0
        return (doc.doc_id, doc.lang, len(doc.text), from_b, int(r.length))

    fetch_docs = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(coll_dirs[r.coll], r.filename),
        project,
        ["doc_id", "lang", "n_chars", "from_b", "bytes_read"],
    )

    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 21 == 6).select("doc_id", _doc_key())
        )
        blocks = _blocks_df(by_file, probes)
        entries = _entries_df(idx_dir, blocks, {"index.zipnum.gz": 0})
        # latest capture per probe from the MERGED index; the line's
        # ``source`` tag names its collection
        winners = persist(
            entries.join(probes, "key", "inner")
            .groupBy("doc_id")
            .agg(
                F.max(
                    F.struct("ts", "digest", F.col("source").alias("coll"),
                             "filename", "offset", "length")
                ).alias("w")
            )
            .select(
                "doc_id",
                F.col("w.ts").alias("ts"),
                F.col("w.digest").alias("digest"),
                F.col("w.coll").alias("coll"),
                F.col("w.filename").alias("filename"),
                F.col("w.offset").alias("offset"),
                F.col("w.length").alias("length"),
            )
        )
        fetched = persist(
            winners.repartition(8, "filename").mapInPandas(
                fetch_docs,
                "doc_id long, lang string, n_chars long, from_b long, "
                "bytes_read long",
            )
        )
        n_probes = probes.count()
        n_touched = blocks.count()
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = winners.agg(F.sum("length")).collect()[0][0]
        if (
            got["n"] != n_probes
            or got["br"] != want_bytes
            or n_touched > 2 * n_probes
        ):
            raise RuntimeError(
                f"a43: {got['n']}/{n_probes} fetched, {got['br']} bytes vs "
                f"indexed {want_bytes}, {n_touched} blocks"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("from_b").alias("n_from_b"),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _incremental_index_src(sf_dir: str) -> tuple[str, str, str]:
    """a44 (r13, VERDICT r12 item 5): the WRITE side of wayback
    collection maintenance. Start from the a30 crawl's zipnum (the
    existing archive index), then ingest the a38 two-snapshot
    collection's full CDXJ export as a DELTA through
    ``incremental_zipnum_update``: every January line duplicates an
    existing capture (same SURT/ts/digest — the a43 premise) and is
    dropped keep-first, every February recapture is new and lands in
    ``delta-001.zipnum.gz``; the original ``index.zipnum.gz`` is never
    rewritten (sha256 recorded before/after in update.json, re-checked
    by the query). Returns (index_dir, a_warc_dir, b_warc_dir)."""
    import hashlib
    import json as _json
    import shutil

    from tectonic_spark.operators.cdxj import (
        incremental_zipnum_update,
        index_lines,
    )

    a_idx_dir, a_warc_dir, _nb = _zipnum_src(sf_dir)
    b_dir, _nb2 = _timeline_index_src(sf_dir)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "a44_idx")

    def build(tmp: str) -> None:
        for fname in ("index.zipnum.gz", "cluster.idx"):
            shutil.copyfile(
                os.path.join(a_idx_dir, fname), os.path.join(tmp, fname)
            )
        with open(os.path.join(tmp, "index.zipnum.gz"), "rb") as f:
            base_sha = hashlib.sha256(f.read()).hexdigest()

        # the delta export: EVERY line of collection B, dupes included
        stats = incremental_zipnum_update(tmp, sorted(index_lines(b_dir)))
        with open(os.path.join(tmp, "index.zipnum.gz"), "rb") as f:
            after_sha = hashlib.sha256(f.read()).hexdigest()
        if after_sha != base_sha:
            raise RuntimeError("a44: incremental update rewrote the base index")
        _write_atomic(
            os.path.join(tmp, "update.json"),
            _json.dumps(dict(stats, base_sha256=base_sha)).encode("utf-8"),
        )

    return _published(src, build), a_warc_dir, b_dir


@register(
    "a44_incremental_index_update",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recaptured,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                         ELSE n_chars END) AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 19 = 7 GROUP BY lang
    """,
    doc="Incremental zipnum UPDATE (r13, VERDICT r12 item 5 — the "
    "write side of the wayback story a43's merge opened): a new "
    "crawl's CDXJ export is appended to an existing archive index "
    "WITHOUT rewriting it — surviving lines become new gzip member "
    "blocks in delta-001.zipnum.gz, only the tiny cluster.idx is "
    "rewritten, and the original index.zipnum.gz is byte-identical "
    "(sha256 recorded pre-update, re-asserted by this query). Dedup "
    "is keep-first against the existing collection and itself "
    "index-served (only candidate blocks of delta keys are ranged-"
    "read). Probe lookups (doc_id % 19 = 7) then run the zipnum "
    "ladder PER BLOCK FILE (<= 2 blocks each) over the updated "
    "cluster.idx, and the builder asserts field-for-field agreement "
    "with a FULL REBUILD audit for every probe: base lines + the "
    "complete delta export (dupes included) deduped keep-first in a "
    "distributed pass must yield the same caps / first_ts / distinct "
    "digests / latest (ts, digest, location) — the a38 walk-is-the-"
    "pin template applied to index maintenance, plus a line-count pin "
    "(updated index lines == audit's deduped union). Latest members "
    "are ranged-fetched with collection routing derived from WHICH "
    "block file answered (January -> the original archive, February "
    "-> the delta), digest-verified and extracted, so chars_latest "
    "crosses the update, the routing, the fetch and extraction at "
    "once. 100 TB shape: the immutable block files never churn — an "
    "update writes only the delta's blocks plus the resident "
    "cluster.idx; the rebuild audit is run here BECAUSE it is the "
    "pin, a production update runs only the incremental half.",
)
def a44_incremental_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import json as _json

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks
    from tectonic_spark.tables import table

    idx_dir, a_warc, b_warc = _incremental_index_src(sf_dir)
    with open(os.path.join(idx_dir, "update.json"), "rb") as f:
        meta = _json.loads(f.read())
    # pin 1: the immutable tier really is immutable
    with open(os.path.join(idx_dir, "index.zipnum.gz"), "rb") as f:
        if hashlib.sha256(f.read()).hexdigest() != meta["base_sha256"]:
            raise RuntimeError("a44: base index.zipnum.gz was rewritten")
    by_file = index_blocks(idx_dir)
    if set(by_file) != {"index.zipnum.gz", "delta-001.zipnum.gz"}:
        raise RuntimeError(f"a44: unexpected block files {sorted(by_file)}")
    # collection precedence by block file: the original archive wins
    prec = {"index.zipnum.gz": 0, "delta-001.zipnum.gz": 1}
    warc_dirs = {0: a_warc, 1: b_warc}

    docs = table(spark, sf_dir, "documents")
    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 19 == 7).select("doc_id", _doc_key())
        )
        blocks = _blocks_df(by_file, probes)
        entries = _entries_df(idx_dir, blocks, prec)
        latest = F.max(
            F.struct("ts", "digest", "prec", "filename", "offset", "length")
        ).alias("l")
        index_ans = persist(
            entries.join(probes, "key", "inner")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("i_caps"),
                F.min("ts").alias("i_first_ts"),
                F.countDistinct("digest").alias("i_digests"),
                latest,
            )
            .select(
                "doc_id", "i_caps", "i_first_ts", "i_digests",
                F.col("l.ts").alias("ts"),
                F.col("l.digest").alias("digest"),
                F.col("l.prec").alias("prec"),
                F.col("l.filename").alias("filename"),
                F.col("l.offset").alias("offset"),
                F.col("l.length").alias("length"),
            )
        )

        # --- the FULL REBUILD audit: base lines + the complete delta
        # export (dupes included), deduped keep-first, distributed ---
        base_file = {"index.zipnum.gz": by_file["index.zipnum.gz"]}
        union = _entries_df(
            idx_dir, _all_blocks_df(spark, base_file), {"index.zipnum.gz": 0}
        ).unionByName(
            _entries_df(
                b_warc,
                _all_blocks_df(spark, index_blocks(b_warc)),
                {"index.zipnum.gz": 1},
            )
        )
        rebuilt = persist(
            union.groupBy("key", "ts", "digest")
            .agg(
                F.min(F.struct("prec", "filename", "offset", "length")).alias(
                    "w"
                )
            )
            .select(
                "key", "ts", "digest",
                F.col("w.prec").alias("prec"),
                F.col("w.filename").alias("filename"),
                F.col("w.offset").alias("offset"),
                F.col("w.length").alias("length"),
            )
        )
        # line-count pin: the updated index holds exactly the deduped union
        n_rebuilt = rebuilt.count()
        n_updated = _count_lines(spark, idx_dir, by_file)
        if n_updated != n_rebuilt:
            raise RuntimeError(
                f"a44: updated index holds {n_updated} lines, the rebuilt "
                f"union has {n_rebuilt}"
            )

        # field-for-field agreement for EVERY probe
        audit_ans = (
            rebuilt.join(probes, "key", "inner")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("r_caps"),
                F.min("ts").alias("r_first_ts"),
                F.countDistinct("digest").alias("r_digests"),
                F.max(
                    F.struct("ts", "digest", "prec", "filename", "offset",
                             "length")
                ).alias("rl"),
            )
            .select(
                "doc_id", "r_caps", "r_first_ts", "r_digests",
                F.col("rl.ts").alias("r_ts"),
                F.col("rl.digest").alias("r_digest"),
                F.col("rl.prec").alias("r_prec"),
                F.col("rl.filename").alias("r_filename"),
                F.col("rl.offset").alias("r_offset"),
            )
        )
        n_probes = probes.count()
        cmp = index_ans.join(audit_ans, "doc_id", "full")
        n_mismatch = cmp.filter(
            (F.col("i_caps") != F.col("r_caps"))
            | (F.col("i_first_ts") != F.col("r_first_ts"))
            | (F.col("i_digests") != F.col("r_digests"))
            | (F.col("ts") != F.col("r_ts"))
            | (F.col("digest") != F.col("r_digest"))
            | (F.col("prec") != F.col("r_prec"))
            | (F.col("filename") != F.col("r_filename"))
            | (F.col("offset") != F.col("r_offset"))
            | F.col("i_caps").isNull()
            | F.col("r_caps").isNull()
        ).count()
        n_touched = blocks.count()
        if n_mismatch or index_ans.count() != n_probes:
            raise RuntimeError(
                f"a44: {n_mismatch} probe disagreements between the updated "
                "index and the full rebuild"
            )
        if n_touched > 2 * len(by_file) * n_probes:
            raise RuntimeError(
                f"a44: {n_touched} blocks for {n_probes} probes across "
                f"{len(by_file)} files — the per-file ladder is not pruning"
            )
        rebuilt.unpersist()

        # ranged-fetch every probe's LATEST member, routed by which block
        # file answered (prec 0 -> original archive, 1 -> delta collection)
        fetched = persist(
            _routed_fetch(
                index_ans.select(
                    "doc_id", "ts", "digest", "prec", "filename", "offset",
                    "length", F.col("i_caps").alias("caps"),
                ),
                warc_dirs,
                carry=("caps",),
            )
        )
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = index_ans.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"a44: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("caps") > 1, 1).otherwise(0)).alias(
                "n_recaptured"
            ),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)



def _conflict_index_src(sf_dir: str) -> tuple[str, str, str]:
    """a45 (r13): two collections claim the SAME (SURT key, timestamp)
    with DIFFERENT payload digests — the wayback-operations failure a
    merged index must surface, never silently resolve. Collection C
    re-captures every d%7==3 doc at the original January timestamp:
    even doc_ids (d%14==10) carry ALTERED content (text + " alt" — a
    genuine conflict), odd ones (d%14==3) are byte-identical re-submits
    (exact dupes). C is ingested into a copy of the a30 archive index
    through ``incremental_zipnum_update``: the dupes are dropped
    keep-first, the conflicts survive into delta-001.zipnum.gz (a
    conflict is NOT a dupe — the digest differs), and the fixture
    asserts both counts. Returns (index_dir, a_warc_dir, c_warc_dir)."""
    import functools
    import hashlib
    import json as _json
    import shutil

    from tectonic_spark.operators.cdxj import (
        build_cdxj,
        incremental_zipnum_update,
        payload_digest,
        warc_timestamp,
        write_warc_indexed,
    )

    a_idx_dir, a_warc_dir, _nb = _zipnum_src(sf_dir)
    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)

    @functools.cache
    def collection_c() -> tuple[list[bytes], list[str], int, int]:
        """The conflicting re-crawl: (WARC shard blobs, sorted CDXJ
        lines, n_conflicts, n_dupes)."""
        shards: list[list[tuple[bytes, dict | None]]] = [
            [] for _ in range(n_shards)
        ]
        n_conflicts = n_dupes = 0
        for d, text, lang, source, _n in rows:
            if d % 7 != 3:
                continue
            if d % 2 == 0:
                body, n_conflicts = text + " alt", n_conflicts + 1
            else:
                body, n_dupes = text, n_dupes + 1
            rec, http = _render_response_record(d, body, lang, source,
                                                date=_WARC_DATE)
            shards[d % n_shards].append(
                (
                    rec,
                    {
                        "url": f"https://{source}.example/doc/{d}",
                        "ts": warc_timestamp(_WARC_DATE),
                        "digest": payload_digest(http),
                        "mime": "text/html",
                        "status": 200,
                        "filename": f"crawl-{d % n_shards:03d}.warc.gz",
                    },
                )
            )
        blobs: list[bytes] = []
        c_lines: list[str] = []
        for recs in shards:
            blob, entries = write_warc_indexed(recs)
            blobs.append(blob)
            c_lines.extend(
                build_cdxj(entries).decode("utf-8").splitlines()
            )
        return blobs, sorted(c_lines), n_conflicts, n_dupes

    def build_c(tmp: str) -> None:
        for i, blob in enumerate(collection_c()[0]):
            _write_atomic(os.path.join(tmp, f"crawl-{i:03d}.warc.gz"), blob)

    def build_idx(tmp: str) -> None:
        """The updated (now conflicted) index."""
        _blobs, c_lines, n_conflicts, n_dupes = collection_c()
        for fname in ("index.zipnum.gz", "cluster.idx"):
            shutil.copyfile(
                os.path.join(a_idx_dir, fname), os.path.join(tmp, fname)
            )
        with open(os.path.join(tmp, "index.zipnum.gz"), "rb") as f:
            base_sha = hashlib.sha256(f.read()).hexdigest()
        stats = incremental_zipnum_update(tmp, c_lines)
        if stats["n_dropped"] != n_dupes or stats["n_appended"] != n_conflicts:
            raise RuntimeError(
                f"a45: update dropped {stats['n_dropped']} (want {n_dupes} "
                f"dupes), appended {stats['n_appended']} (want {n_conflicts} "
                "conflicts)"
            )
        _write_atomic(
            os.path.join(tmp, "update.json"),
            _json.dumps(dict(stats, base_sha256=base_sha)).encode("utf-8"),
        )

    c_dir = _published(os.path.join(base, f"a45_conflict_src_{n_shards}"), build_c)
    return _published(os.path.join(base, "a45_idx"), build_idx), a_warc_dir, c_dir


@register(
    "a45_conflict_census",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_conflicts,
           CAST(SUM(n_chars) AS BIGINT) AS chars_winner,
           CAST(SUM(n_chars + 4) AS BIGINT) AS chars_loser
    FROM documents WHERE doc_id % 14 = 10 GROUP BY lang
    """,
    doc="Collection-precedence CONFLICT census (r13 — the other half "
    "of index maintenance a44 opened): after a new collection is "
    "ingested, lines that share a (SURT key, timestamp) but differ in "
    "digest are genuine conflicts — two crawlers captured different "
    "content for the same URL-second, or a collection is corrupt — "
    "and a wayback front must SURFACE them (census + deterministic "
    "precedence), never silently merge. The census is one distributed "
    "pass over the updated index's blocks (the index is the tiny "
    "tier; conflict detection is an index-wide maintenance job): "
    "group by (key, ts), conflicts have >1 distinct digest; the "
    "builder asserts every conflict has exactly two sides, the winner "
    "routed to the original archive (precedence) and the loser to the "
    "delta file. BOTH sides of every conflict are then ranged-fetched "
    "and extracted — chars_winner pins the original capture, "
    "chars_loser the conflicting re-crawl (text + ' alt'), proving "
    "the two captures really differ and the index told the truth "
    "about both locations; exact-dupe re-submits (d%14==3) were "
    "dropped by the update and must NOT appear as conflicts (asserted "
    "via the fixture's update stats). 100 TB shape: the census "
    "shuffles index LINES only (bytes proportional to the index, not "
    "the corpus); fetch width scales with the conflict set "
    "(corpus-scaled repartition, the a41 doctrine).",
)
def a45_conflict_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import index_blocks

    idx_dir, a_warc, c_warc = _conflict_index_src(sf_dir)
    with open(os.path.join(idx_dir, "update.json"), "rb") as f:
        meta = _json.loads(f.read())
    by_file = index_blocks(idx_dir)
    prec = {"index.zipnum.gz": 0, "delta-001.zipnum.gz": 1}
    warc_dirs = {0: a_warc, 1: c_warc}
    _src, n_shards = _warc_cdxj_src(sf_dir)

    fetch_sides = _member_kernel(
        _fetched_docs,
        lambda r: os.path.join(warc_dirs[int(r.prec)], r.filename),
        lambda r, doc: (
            doc.doc_id, doc.lang, int(r.prec), len(doc.text), int(r.length)
        ),
        ["doc_id", "lang", "prec", "n_chars", "bytes_read"],
    )

    with _persisting() as persist:
        # one distributed pass over ALL index blocks
        lines = _entries_df(idx_dir, _all_blocks_df(spark, by_file), prec)
        grouped = persist(
            lines.groupBy("key", "ts")
            .agg(
                F.countDistinct("digest").alias("n_digests"),
                F.count(F.lit(1)).alias("n_lines"),
                F.collect_list(
                    F.struct("prec", "digest", "filename", "offset", "length")
                ).alias("sides"),
            )
        )
        conflicts = persist(grouped.filter(F.col("n_digests") > 1))
        # structural pins: a conflict has exactly two sides, one per
        # collection; non-conflict keys have exactly one line (the update
        # deduped exact re-submits — none survive as same-digest pairs)
        bad_shape = conflicts.filter(
            (F.col("n_lines") != 2)
            | (F.size(F.filter("sides", lambda s: s["prec"] == 0)) != 1)
            | (F.size(F.filter("sides", lambda s: s["prec"] == 1)) != 1)
        ).count()
        dup_lines = grouped.filter(
            (F.col("n_digests") == 1) & (F.col("n_lines") > 1)
        ).count()
        n_conflicts = conflicts.count()
        if bad_shape or dup_lines or n_conflicts != meta["n_appended"]:
            raise RuntimeError(
                f"a45: {n_conflicts} conflicts (update appended "
                f"{meta['n_appended']}), {bad_shape} mis-shaped, "
                f"{dup_lines} surviving same-digest duplicates"
            )
        grouped.unpersist()

        # fetch BOTH sides of every conflict, routed by precedence
        sides = conflicts.select(
            "key", "ts", F.explode("sides").alias("s")
        ).select(
            "key", "ts",
            F.col("s.prec").alias("prec"),
            F.col("s.digest").alias("digest"),
            F.col("s.filename").alias("filename"),
            F.col("s.offset").alias("offset"),
            F.col("s.length").alias("length"),
        )
        fetched = persist(
            sides.repartition(n_shards, "prec", "filename").mapInPandas(
                fetch_sides,
                "doc_id long, lang string, prec long, n_chars long, "
                "bytes_read long",
            )
        )
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want = sides.agg(
            F.count(F.lit(1)).alias("n"), F.sum("length").alias("b")
        ).collect()[0]
        # the conflict is REAL: the loser's extracted text is longer than
        # the winner's for every conflict pair (the ' alt' suffix)
        pair_bad = (
            fetched.groupBy("doc_id")
            .agg(
                F.max(F.when(F.col("prec") == 0, F.col("n_chars"))).alias("wc"),
                F.max(F.when(F.col("prec") == 1, F.col("n_chars"))).alias("lc"),
            )
            .filter(
                F.col("wc").isNull()
                | F.col("lc").isNull()
                | (F.col("lc") != F.col("wc") + 4)
            )
            .count()
        )
        if got["n"] != want["n"] or got["br"] != want["b"] or pair_bad:
            raise RuntimeError(
                f"a45: fetched {got['n']}/{want['n']} sides, {got['br']} "
                f"bytes vs indexed {want['b']}, {pair_bad} pairs whose "
                "sides do not differ by the conflict suffix"
            )
        agg = (
            fetched.groupBy("doc_id", "lang")
            .agg(
                F.max(F.when(F.col("prec") == 0, F.col("n_chars"))).alias("wc"),
                F.max(F.when(F.col("prec") == 1, F.col("n_chars"))).alias("lc"),
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_conflicts"),
                F.sum("wc").alias("chars_winner"),
                F.sum("lc").alias("chars_loser"),
            )
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _index_export_src(sf_dir: str) -> tuple[str, str, str]:
    """s17: the a38 collection's CDXJ lines split into THREE sorted
    export files (round-robin over the sorted lines, so every file
    carries both January duplicates and February recaptures) — the
    arrival shape of a live archive's per-crawl index exports. Returns
    (exports_dir, a_idx_dir, b_dir)."""
    from tectonic_spark.operators.cdxj import index_lines

    a_idx_dir, _a_warc, _nb = _zipnum_src(sf_dir)
    b_dir, _nb2 = _timeline_index_src(sf_dir)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, "s17_exports")

    def build(tmp: str) -> None:
        import time

        lines = sorted(index_lines(b_dir))
        # Spark's file stream source takes new files oldest first (by
        # mtime in ms): stamp export g a second after export g-1 so the
        # streams number their generations in name order
        t0 = int(time.time()) - 3
        for g in range(3):
            part = sorted(lines[g::3])
            path = os.path.join(tmp, f"export-{g:03d}.cdxj")
            _write_atomic(path, ("\n".join(part) + "\n").encode("utf-8"))
            os.utime(path, (t0 + g, t0 + g))

    return _published(src, build), a_idx_dir, b_dir


@register(
    "s17_stream_index_update",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recaptured,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                         ELSE n_chars END) AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 29 = 11 GROUP BY lang
    """,
    doc="STREAMING index maintenance (r13 — the continuous form of "
    "a44): per-crawl CDXJ export files ARRIVE as a stream "
    "(maxFilesPerTrigger=1) and each micro-batch "
    "is appended to the live archive index through "
    "incremental_zipnum_update as its own GENERATION — new member "
    "blocks in delta-00N.zipnum.gz, only cluster.idx rewritten, the "
    "base file byte-identical throughout. Dedup composes across "
    "generations: every export carries January lines that duplicate "
    "the base archive (dropped keep-first on arrival, whichever "
    "generation sees them) and February recaptures (appended); the "
    "builder pins sum(appended) == recapture count and sum(dropped) "
    "== document count across the stream, plus the closed-form "
    "line-count union on the final index. Probe lookups (doc_id % 29 "
    "= 11) then run the per-file zipnum ladder over base + all "
    "generations (<= 2 blocks per file per probe, asserted), latest "
    "members are ranged-fetched with routing derived from WHICH file "
    "answered (base -> original archive, any delta -> the new "
    "crawl's shards), digest-verified and extracted — chars_latest "
    "is exact under the oracle. 100 TB shape: the arriving export is "
    "the small side (index lines, not corpus bytes) so the per-batch "
    "maintenance is driver-side by design, exactly like production "
    "wayback index maintenance; block files never churn.",
)
def s17_stream_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import (
        incremental_zipnum_update,
        index_blocks,
    )
    from tectonic_spark.tables import table

    exports_dir, a_idx_dir, b_dir = _index_export_src(sf_dir)
    a_warc, _n = _warc_cdxj_src(sf_dir)
    live = os.path.join(_fixture_dir(sf_dir), "s17_live")
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(live)
    for fname in ("index.zipnum.gz", "cluster.idx"):
        shutil.copyfile(
            os.path.join(a_idx_dir, fname), os.path.join(live, fname)
        )

    totals = {"appended": 0, "dropped": 0, "generations": 0, "batches": 0}

    def apply_batch(batch_df, batch_id: int) -> None:
        # the arriving export is index LINES (the tiny tier) — the
        # per-batch collect is the delta, never corpus bytes
        lines = sorted(r["value"] for r in batch_df.collect() if r["value"])
        if not lines:
            return
        totals["batches"] += 1
        stats = incremental_zipnum_update(
            live, lines, generation=totals["generations"] + 1
        )
        totals["appended"] += stats["n_appended"]
        totals["dropped"] += stats["n_dropped"]
        if stats["n_new_blocks"]:
            totals["generations"] += 1

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.cdxj")
        .load(exports_dir)
    )
    _stream_into(stream, sf_dir, "s17", foreach=apply_batch)

    docs = table(spark, sf_dir, "documents")
    n_docs, n_recap = docs.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)),
    ).collect()[0]
    if (
        totals["batches"] < 3
        or totals["appended"] != n_recap
        or totals["dropped"] != n_docs
    ):
        raise RuntimeError(
            f"s17: {totals['batches']} batches, appended "
            f"{totals['appended']} (want {n_recap}), dropped "
            f"{totals['dropped']} (want {n_docs})"
        )
    by_file = index_blocks(live)
    if len(by_file) != 1 + totals["generations"]:
        raise RuntimeError(
            f"s17: cluster.idx covers {len(by_file)} files, want base + "
            f"{totals['generations']} generations"
        )

    # closed-form union pin on the final index
    n_lines = _count_lines(spark, live, by_file)
    if n_lines != n_docs + n_recap:
        raise RuntimeError(
            f"s17: final index holds {n_lines} lines, the union is "
            f"{n_docs} + {n_recap}"
        )

    # precedence by block file: the base archive is 0, every streamed
    # generation routes to the new crawl's shards
    prec = {f: (0 if f == "index.zipnum.gz" else 1) for f in by_file}
    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 29 == 11).select("doc_id", _doc_key())
        )
        blocks = _blocks_df(by_file, probes)
        entries = _entries_df(live, blocks, prec)
        winners = persist(
            entries.join(probes, "key", "inner")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("caps"),
                F.max(
                    F.struct("ts", "digest", "prec", "filename",
                             "offset", "length")
                ).alias("w"),
            )
            .select(
                "doc_id", "caps",
                F.col("w.ts").alias("ts"),
                F.col("w.digest").alias("digest"),
                F.col("w.prec").alias("prec"),
                F.col("w.filename").alias("filename"),
                F.col("w.offset").alias("offset"),
                F.col("w.length").alias("length"),
            )
        )
        n_probes = probes.count()
        n_touched = blocks.count()
        if winners.count() != n_probes:
            raise RuntimeError("s17: a probe found no index answer")
        if n_touched > 2 * len(by_file) * n_probes:
            raise RuntimeError(
                f"s17: {n_touched} blocks for {n_probes} probes across "
                f"{len(by_file)} files — the per-file ladder is not pruning"
            )

        warc_dirs = {0: a_warc, 1: b_dir}
        fetched = persist(_routed_fetch(winners, warc_dirs, carry=("caps",)))
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = winners.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"s17: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("caps") > 1, 1).otherwise(0)).alias(
                "n_recaptured"
            ),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "a46_index_compaction",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recaptured,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                         ELSE n_chars END) AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 31 = 13 GROUP BY lang
    """,
    doc="Index COMPACTION (r13 — the maintenance step that closes the "
    "a44/s17 lifecycle: every incremental generation adds one ladder "
    "to every lookup, so a wayback deployment periodically rewrites "
    "the block files back into one). The query builds a live index, "
    "appends the a38 collection's export through "
    "incremental_zipnum_update (two block files), snapshots every "
    "probe's answer (doc_id % 31 = 13) through the multi-file ladder, "
    "then runs compact_zipnum — all generations merge-read, globally "
    "re-sorted, rewritten as ONE index.zipnum.gz with a "
    "write-then-rename so a crash leaves a whole index — and asserts: "
    "line count preserved exactly (a compactor that edits lines is a "
    "corruption vector), post-compaction probe answers "
    "field-for-field equal to pre-compaction on (caps, ts, digest, "
    "member location), single block file with the <= 2-blocks-per-"
    "probe bound restored, and the delta files gone. Latest members "
    "are then fetched THROUGH THE COMPACTED INDEX — compaction moved "
    "index lines, never members, so routing now derives from each "
    "line's recorded timestamp — digest-verified and extracted; "
    "chars_latest is exact under the oracle. 100 TB shape: compaction "
    "is a sequential merge of sorted block files (index bytes, not "
    "corpus bytes), the one full-index pass the maintenance schedule "
    "amortizes over many appends.",
)
def a46_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import (
        compact_zipnum,
        incremental_zipnum_update,
        index_blocks,
        index_lines,
    )
    from tectonic_spark.tables import table

    a_idx_dir, a_warc, _nb = _zipnum_src(sf_dir)
    b_dir, _nb2 = _timeline_index_src(sf_dir)
    base = _fixture_dir(sf_dir)
    live = os.path.join(base, "a46_live")
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(live, exist_ok=True)
    for fname in ("index.zipnum.gz", "cluster.idx"):
        shutil.copyfile(
            os.path.join(a_idx_dir, fname), os.path.join(live, fname)
        )
    # ingest the a38 export (Jan dupes drop, Feb recaptures append)
    up = incremental_zipnum_update(live, sorted(index_lines(b_dir)))

    docs = table(spark, sf_dir, "documents")

    def answers(by_file, probes):
        prec = {f: (0 if f == "index.zipnum.gz" else 1) for f in by_file}
        blocks = _blocks_df(by_file, probes)
        return blocks, _latest_capture(_entries_df(live, blocks, prec), probes)

    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 31 == 13).select("doc_id", _doc_key())
        )
        by_file_pre = index_blocks(live)
        if len(by_file_pre) != 2:
            raise RuntimeError(
                f"a46: pre-compaction index has {len(by_file_pre)} files"
            )
        _pre_blocks, pre_ans = answers(by_file_pre, probes)
        pre_rows = {r["doc_id"]: r for r in pre_ans.collect()}

        # --- compact ---
        stats = compact_zipnum(live)
        if stats["n_files_before"] != 2:
            raise RuntimeError("a46: compaction saw an unexpected file set")
        by_file_post = index_blocks(live)
        if set(by_file_post) != {"index.zipnum.gz"}:
            raise RuntimeError(
                f"a46: compaction left {sorted(by_file_post)} on disk"
            )
        if os.path.exists(os.path.join(live, up["delta_file"])):
            raise RuntimeError("a46: the delta generation was not removed")
        # line-count preservation pin, distributed
        n_docs, n_recap = docs.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)),
        ).collect()[0]
        n_post = _count_lines(spark, live, by_file_post)
        if n_post != stats["n_lines"] or n_post != n_docs + n_recap:
            raise RuntimeError(
                f"a46: compacted index holds {n_post} lines, compactor read "
                f"{stats['n_lines']}, union is {n_docs} + {n_recap}"
            )

        post_blocks, post_ans = answers(by_file_post, probes)
        post = persist(post_ans)
        n_probes = probes.count()
        n_touched = post_blocks.count()
        if n_touched > 2 * n_probes:
            raise RuntimeError(
                f"a46: {n_touched} blocks for {n_probes} probes after "
                "compaction — the single-file ladder bound regressed"
            )
        # field-for-field: every probe answers identically before/after
        # (caps, latest ts, digest, member location — lines moved between
        # block files, members never moved)
        mismatches = 0
        post_rows = {r["doc_id"]: r for r in post.collect()}
        if set(post_rows) != set(pre_rows):
            mismatches = -1
        else:
            for d, r in post_rows.items():
                pr = pre_rows[d]
                if any(
                    r[c] != pr[c]
                    for c in ("caps", "ts", "digest", "filename", "offset",
                              "length")
                ):
                    mismatches += 1
        if mismatches:
            raise RuntimeError(
                f"a46: {mismatches} probe answers changed across compaction"
            )

        # fetch through the COMPACTED index: routing derives from the
        # line's timestamp (Feb -> the new crawl's shards, Jan -> base)
        winners = post.select(
            "doc_id", "caps", "ts", "digest",
            F.when(F.col("ts").startswith("202402"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("prec"),
            "filename", "offset", "length",
        )
        warc_dirs = {0: a_warc, 1: b_dir}
        fetched = persist(_routed_fetch(winners, warc_dirs, carry=("caps",)))
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = post.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"a46: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("caps") > 1, 1).otherwise(0)).alias(
                "n_recaptured"
            ),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _font_crawl_src(sf_dir: str) -> tuple[str, int]:
    """c03_font_census fixture: web fonts as CRAWL ASSETS — every 67th
    document's host serves a .woff2 at /font/{d}.woff2, carried as a
    WARC ``resource`` record (content-type font/woff2) in
    corpus-scaled shards. Font parameters derive from the doc id
    exactly as m28's (upem/glyphs/loca/br-mode/metadata lanes), so the
    oracle is closed-form; the ``dict`` brotli lane ships genuine RFC
    7932 static-dictionary references inside crawl payloads. Returns
    (dir, n_shards)."""
    import struct as _struct

    from tectonic_spark.operators.warc import build_warc_record, write_warc
    from tectonic_spark.operators.woff2 import encode_woff2

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"c03_fonts_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, _text, _lang, source, _n in rows:
            if d % 67 != 21:
                continue
            upem = 1000 + (d % 5) * 24
            ng = 10 + d % 50
            lf = d % 2
            head = bytearray(54)
            head[12:16] = _struct.pack(">I", 0x5F0F3CF5)
            head[18:20] = _struct.pack(">H", upem)
            head[50:52] = _struct.pack(">h", lf)
            tables = [
                (b"head", bytes(head)),
                (b"maxp", _struct.pack(">IH", 0x00010000, ng) + b"\x00" * 26),
                (b"hhea", b"\x00" * 34 + _struct.pack(">H", ng)),
                (b"hmtx", bytes(4 * ng)),
                (b"glyf", bytes((d * 7 + j) % 256
                                for j in range(100 + (d * 11) % 200))),
                (b"loca", bytes((ng + 1) * (2 + 2 * lf))),
                (b"name", b"Doc Font %06d" % d),
                (b"cmap", bytes(20)),
            ]
            payload = encode_woff2(
                tables,
                br_mode=("lz", "dict", "literals")[d % 3],
                metadata=(
                    b"<metadata>doc %06d</metadata>" % d if d % 4 == 1 else None
                ),
            )
            shards[d % n_shards].append(
                build_warc_record(
                    "resource",
                    payload,
                    uri=f"https://{source}.example/font/{d}.woff2",
                    date=_WARC_DATE,
                    content_type="font/woff2",
                )
            )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"fonts-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "c03_font_census",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_fonts,
           CAST(SUM(10 + doc_id % 50) AS BIGINT) AS total_glyphs,
           CAST(SUM(157 + 4 * (10 + doc_id % 50) + 100 + (doc_id * 11) % 200
              + (11 + doc_id % 50) * (2 + 2 * (doc_id % 2))) AS BIGINT)
             AS total_orig_bytes,
           CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_meta,
           CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dict_lane,
           CAST(COUNT(*) AS BIGINT) AS n_census_ok
    FROM documents WHERE doc_id % 67 = 21 GROUP BY lang
    """,
    doc="Web-font census over the CRAWL (r13 — m28's walk as a crawl "
    "asset pipeline: real crawls carry fonts as resource records, and "
    "a corpus curation pass wants per-host/per-cohort font stats the "
    "same way it wants robots/sitemap stats): every 67th document's "
    "host serves a .woff2 at /font/{d}.woff2 as a WARC ``resource`` "
    "record (content-type font/woff2); the per-shard walk routes "
    "font/woff2 payloads into the WOFF2 census (one in-task brotli "
    "decode each — the d%3 dict lane means genuine RFC 7932 "
    "static-dictionary references arrive inside crawl payloads), "
    "verifies the spec arithmetic per font, and the per-lang "
    "aggregate (fonts joined to their documents by doc id) pins "
    "glyph counts, original table bytes, metadata and dict-lane "
    "populations in closed form. census_ok folds sfnt-size, stream "
    "and byte-accounting checks — n_census_ok == n_fonts or the row "
    "mismatches. 100 TB shape: stateless per-shard walk, Arrow-"
    "batched; the only shuffle is the tiny font-row -> documents "
    "keyed join and the final aggregate.",
)
def c03_font_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from tectonic_spark.tables import table

    src, _n = _font_crawl_src(sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(src, "*.warc.gz")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("num_glyphs", LongType(), True),
            StructField("orig_bytes", LongType(), True),
            StructField("has_meta", BooleanType(), True),
            StructField("dict_lane", BooleanType(), True),
            StructField("census_ok", BooleanType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.warc import parse_warc
        from tectonic_spark.operators.woff2 import parse_woff2

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "resource":
                        continue
                    if rec["content_type"] != "font/woff2":
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1].split(".")[0])
                    info = parse_woff2(rec["payload"])
                    rows.append(
                        (
                            d,
                            info["num_glyphs"],
                            info["total_orig_bytes"],
                            info["meta_orig_len"] > 0,
                            d % 3 == 1,
                            info["sfnt_size_ok"]
                            and info["stream_ok"]
                            and info["bytes_walked"] == len(rec["payload"])
                            and info["num_hmetrics"] == info["num_glyphs"]
                            and info["units_per_em"] == 1000 + (d % 5) * 24,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "num_glyphs", "orig_bytes", "has_meta",
                         "dict_lane", "census_ok"],
            )

    fonts = files.select("content").mapInPandas(walk, schema)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        fonts.join(docs, "doc_id", "inner")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_fonts"),
            F.sum("num_glyphs").alias("total_glyphs"),
            F.sum("orig_bytes").alias("total_orig_bytes"),
            F.sum(F.when(F.col("has_meta"), 1).otherwise(0)).alias(
                "n_with_meta"
            ),
            F.sum(F.when(F.col("dict_lane"), 1).otherwise(0)).alias(
                "n_dict_lane"
            ),
            F.sum(F.when(F.col("census_ok"), 1).otherwise(0)).alias(
                "n_census_ok"
            ),
        )
    )


@register(
    "a47_retention_expiry",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_expired,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                         ELSE n_chars END) AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 37 = 17 GROUP BY lang
    """,
    doc="Index RETENTION/EXPIRY (r13 — the deliberate-forgetting step "
    "that completes the maintenance lifecycle: append a44, streaming "
    "generations s17, conflicts a45, compaction a46; real wayback "
    "deployments also run an expiry policy). The query builds the "
    "two-generation live index (base + the a38 export through "
    "incremental_zipnum_update), snapshots every probe's answer "
    "(doc_id % 37 = 17), then runs cdxj.retain_zipnum with a Feb-1 "
    "cutoff: a capture expires iff it is BOTH older than the cutoff "
    "AND superseded by a newer capture of its key — the latest "
    "capture always survives, so retention never orphans a URL. "
    "Pins: expired/retained counts in closed form (the Jan captures "
    "of recaptured d%5==0 docs expire, nothing else), post-retention "
    "line count distributed-verified, every probe still answers with "
    "caps==1 and the SAME latest (ts, digest, member location) as "
    "before retention, the expired audit sidecar (expired.cdxj.gz) "
    "read back distributed — every expired line is a Jan capture of "
    "a d%5==0 key, exactly one per recaptured doc — and the latest "
    "members fetched THROUGH the retained index, digest-verified, "
    "temporally routed (Feb winners from the recrawl shards, Jan "
    "from base). 100 TB shape: retention is one sequential pass over "
    "index bytes (never corpus bytes) + write-then-rename; the audit "
    "sidecar scales with what was dropped; probe verification rides "
    "the resident cluster.idx ladder (<=2 blocks per probe).",
)
def a47_retention_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import (
        incremental_zipnum_update,
        index_blocks,
        index_lines,
        retain_zipnum,
    )
    from tectonic_spark.tables import table

    a_idx_dir, a_warc, _nb = _zipnum_src(sf_dir)
    b_dir, _nb2 = _timeline_index_src(sf_dir)
    base = _fixture_dir(sf_dir)
    live = os.path.join(base, "a47_live")
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(live, exist_ok=True)
    for fname in ("index.zipnum.gz", "cluster.idx"):
        shutil.copyfile(
            os.path.join(a_idx_dir, fname), os.path.join(live, fname)
        )
    incremental_zipnum_update(live, sorted(index_lines(b_dir)))

    docs = table(spark, sf_dir, "documents")

    def answers(by_file, probes):
        prec = {f: (0 if f == "index.zipnum.gz" else 1) for f in by_file}
        entries = _entries_df(live, _blocks_df(by_file, probes), prec)
        return _latest_capture(entries, probes)

    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 37 == 17).select("doc_id", _doc_key())
        )
        by_file_pre = index_blocks(live)
        if len(by_file_pre) != 2:
            raise RuntimeError(
                f"a47: pre-retention index has {len(by_file_pre)} files"
            )
        pre_rows = {
            r["doc_id"]: r for r in answers(by_file_pre, probes).collect()
        }

        # --- retention: Feb-1 cutoff expires superseded Jan captures ---
        stats = retain_zipnum(live, cutoff_ts="20240201000000")
        n_docs_total, n_recap_total = docs.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)),
        ).collect()[0]
        if (
            stats["n_before"] != n_docs_total + n_recap_total
            or stats["n_expired"] != n_recap_total
            or stats["n_retained"] != n_docs_total
        ):
            raise RuntimeError(
                f"a47: retention stats {stats} vs corpus "
                f"({n_docs_total} docs, {n_recap_total} recaptures)"
            )
        by_file_post = index_blocks(live)
        if set(by_file_post) != {"index.zipnum.gz"}:
            raise RuntimeError(
                f"a47: retention left {sorted(by_file_post)} on disk"
            )
        n_post = _count_lines(spark, live, by_file_post)
        if n_post != n_docs_total:
            raise RuntimeError(
                f"a47: retained index holds {n_post} lines, want "
                f"{n_docs_total}"
            )

        # the audit sidecar, read back DISTRIBUTED: every expired line is
        # a January capture of a d%5==0 key, exactly one per recaptured doc
        expired = (
            spark.read.text(os.path.join(live, stats["expired_file"]))
            .withColumn("key", F.split(F.col("value"), " ").getItem(0))
            .withColumn("ets", F.split(F.col("value"), " ").getItem(1))
            .withColumn(
                "doc_id",
                F.regexp_extract(F.col("key"), r"/doc/(\d+)$", 1).cast("long"),
            )
        )
        bad_expired = expired.filter(
            (F.col("doc_id") % 5 != 0) | ~F.col("ets").startswith("202401")
        ).count()
        n_expired_lines, n_expired_keys = expired.agg(
            F.count(F.lit(1)), F.countDistinct("doc_id")
        ).collect()[0]
        if bad_expired or n_expired_lines != n_recap_total or (
            n_expired_keys != n_recap_total
        ):
            raise RuntimeError(
                f"a47: audit sidecar carries {n_expired_lines} lines / "
                f"{n_expired_keys} keys ({bad_expired} policy violations), "
                f"want {n_recap_total}"
            )

        post = persist(answers(by_file_post, probes))
        n_probes = probes.count()
        # post-retention: every probe answers once, with the SAME latest
        # capture it had before retention (expiry never changes winners)
        post_rows = {r["doc_id"]: r for r in post.collect()}
        mismatches = 0
        if set(post_rows) != set(pre_rows):
            mismatches = -1
        else:
            for d, r in post_rows.items():
                pr = pre_rows[d]
                want_caps = 2 if d % 5 == 0 else 1
                if (
                    pr["caps"] != want_caps
                    or r["caps"] != 1
                    or any(
                        r[c] != pr[c]
                        for c in ("ts", "digest", "filename", "offset",
                                  "length")
                    )
                ):
                    mismatches += 1
        if mismatches:
            raise RuntimeError(
                f"a47: {mismatches} probe answers drifted across retention"
            )

        feb = F.when(F.col("ts").startswith("202402"), F.lit(1)).otherwise(
            F.lit(0)
        )
        winners = post.select(
            "doc_id", feb.alias("expired_one"), "ts", "digest",
            feb.alias("prec"), "filename", "offset", "length",
        )
        warc_dirs = {0: a_warc, 1: b_dir}
        fetched = persist(
            _routed_fetch(winners, warc_dirs, carry=("expired_one",))
        )
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = post.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"a47: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("expired_one").alias("n_expired"),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "a48_cdx_interchange",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 41 = 19 GROUP BY lang
    """,
    doc="Classic CDX-11 interchange (r13 — the space-delimited "
    "11-field index format wayback tooling still reads; an engine "
    "that owns a CDXJ/zipnum tier must interoperate): the a30 "
    "collection's zipnum index is EXPORTED distributed — block "
    "extents fan out corpus-scaled, each partition ranged-reads its "
    "blocks, converts lines through cdxj.cdxj_to_cdx11 and writes "
    "one valid .cdx shard (header + records) executor-side — then "
    "READ BACK wholetext, each shard parsed by cdx11_to_cdxj "
    "(header + field-count + timestamp validation), and the round "
    "trip is pinned BYTE-EXACT in both directions (exceptAll "
    "original-vs-parsed == 0 == parsed-vs-original; the JSON "
    "payload re-serialization is canonical, so CDXJ -> CDX-11 -> "
    "CDXJ is the identity on every line). Probe lookups (doc_id % "
    "41 = 19) then run AGAINST THE PARSED-BACK ENTRIES — field "
    "extraction via JVM-side get_json_object, exactly one capture "
    "per probe asserted — and members are ranged-fetched and "
    "digest-verified through the a30 kernel. 100 TB shape: both "
    "conversion directions are per-partition streaming passes over "
    "index bytes (never corpus bytes), shard width scales with the "
    "corpus, and the lookup stage stays JVM-side until the bounded "
    "fetch.",
)
def a48_cdx_interchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import block_extents, index_blocks
    from tectonic_spark.tables import table

    idx_dir, warc_dir, _nb = _zipnum_src(sf_dir)
    out = os.path.join(_fixture_dir(sf_dir), "a48_cdx")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    by_file = index_blocks(idx_dir)
    n_lines_idx = _count_lines(spark, idx_dir, by_file)
    n_rows = len(_docs_rows(sf_dir))
    n_shards = max(4, n_rows // 15000)
    bdf = spark.createDataFrame(
        block_extents(by_file), "filename string, offset long, length long"
    ).repartition(n_shards)

    def export(batches):
        import os as _os
        import tempfile as _tf
        import uuid

        import pandas as pd

        from tectonic_spark.operators.cdxj import cdxj_to_cdx11, read_blocks

        lines: list[str] = []
        for pdf in batches:
            extents = sorted(pdf.itertuples(index=False, name=None))
            for _fname, block in read_blocks(idx_dir, extents):
                lines.extend(block)
        if not lines:
            yield pd.DataFrame([], columns=["shard", "n_lines"])
            return
        cdx = cdxj_to_cdx11(lines)
        name = f"export-{uuid.uuid4().hex[:12]}.cdx"
        fd, tmp = _tf.mkstemp(dir=out)
        with _os.fdopen(fd, "wb") as f:
            f.write(cdx.encode("utf-8"))
        _os.replace(tmp, _os.path.join(out, name))
        yield pd.DataFrame([(name, len(lines))], columns=["shard", "n_lines"])

    exp = bdf.mapInPandas(export, "shard string, n_lines long").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n_lines").alias("n_lines"),
    ).collect()[0]
    if exp["n_lines"] != n_lines_idx:
        raise RuntimeError(
            f"a48: exported {exp['n_lines']} lines, index holds "
            f"{n_lines_idx}"
        )

    # read back: every shard is a VALID CDX file (header + 11 fields),
    # parsed distributed
    def parse_back(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import cdx11_to_cdxj

        for pdf in batches:
            rows = []
            for text in pdf["value"]:
                rows.extend(cdx11_to_cdxj(text))
            yield pd.DataFrame({"line": rows})

    # original lines, distributed, for the bidirectional byte pin
    def read_lines(batches):
        import pandas as pd

        from tectonic_spark.operators.cdxj import read_blocks

        for pdf in batches:
            blocks = read_blocks(idx_dir, pdf.itertuples(index=False))
            yield pd.DataFrame({"line": [ln for _f, b in blocks for ln in b]})

    with _persisting() as persist:
        shards = spark.read.text(out, wholetext=True)
        parsed = persist(shards.mapInPandas(parse_back, "line string"))
        orig = bdf.mapInPandas(read_lines, "line string")
        d1 = parsed.exceptAll(orig).count()
        d2 = orig.exceptAll(parsed).count()
        if d1 or d2:
            raise RuntimeError(
                f"a48: round trip drifted ({d1} lines not in original, "
                f"{d2} lines lost)"
            )

        # probe lookups against the PARSED-BACK entries, JVM-side fields
        docs = table(spark, sf_dir, "documents")
        probes = persist(
            docs.filter(F.col("doc_id") % 41 == 19).select("doc_id", _doc_key())
        )
        entries = parsed.select(
            F.split(F.col("line"), " ").getItem(0).alias("key"),
            F.split(F.col("line"), " ").getItem(1).alias("ts"),
            F.regexp_extract(F.col("line"), r"^\S+ \S+ (.*)$", 1).alias("blob"),
        ).select(
            "key", "ts",
            F.get_json_object("blob", "$.digest").alias("digest"),
            F.get_json_object("blob", "$.filename").alias("filename"),
            F.get_json_object("blob", "$.offset").cast("long").alias("offset"),
            F.get_json_object("blob", "$.length").cast("long").alias("length"),
        )
        matched = persist(_latest_capture(entries, probes))
        n_probes = probes.count()
        n_matched, n_multi = matched.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("caps") != 1, 1).otherwise(0)),
        ).collect()[0]
        if n_matched != n_probes or n_multi:
            raise RuntimeError(
                f"a48: {n_matched}/{n_probes} probes matched, {n_multi} "
                "with duplicate captures"
            )
        winners = matched.select(
            "doc_id", "caps", "ts", "digest",
            F.lit(0).alias("prec"), "filename", "offset", "length",
        )
        fetched = persist(_routed_fetch(winners, {0: warc_dir}))
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = matched.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"a48: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


@register(
    "s18_stream_retention",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_expired,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 5
                         ELSE n_chars END) AS BIGINT) AS chars_latest
    FROM documents WHERE doc_id % 53 = 29 GROUP BY lang
    """,
    doc="STREAMING retention (r13 — the policy step running INSIDE "
    "the live-archive stream: s17 appends per-crawl exports as "
    "generations; here retention fires whenever two delta "
    "generations accumulate, and once more when the stream drains). "
    "The mechanism this query exists to pin is the RESURRECTION "
    "hole: after a mid-stream expiry the index no longer holds the "
    "expired lines, so a later export that overlaps them would "
    "re-append (index-served dedup cannot see what retention "
    "removed). The stream therefore folds every retention run's "
    "audit sidecar into a tombstone set and passes it to "
    "incremental_zipnum_update — tombstoned lines drop before "
    "dedup, counted separately. Pins: every January line is dropped "
    "exactly once stream-wide (dedup drops + tombstone drops == "
    "doc count, appended == recapture count), expired-total across "
    "all retention runs == recapture count exactly (each recaptured "
    "doc's January capture expires once, never twice), at least one "
    "retention ran mid-stream and collapsed the file set to one, "
    "the final index holds exactly one line per document, the "
    "accumulated sidecars census distributed (all January, d%5==0, "
    "one per recaptured doc), and probes (doc_id % 53 = 29) fetch "
    "their latest member through the retained index, "
    "digest-verified and temporally routed. 100 TB shape: per-batch "
    "work is delta-sized, retention passes touch index bytes only, "
    "tombstones are bounded by what the policy expired (a real "
    "deployment would consult the sidecar files themselves; the "
    "in-memory set is the single-driver form of that join).",
)
def s18_stream_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import functions as F

    from tectonic_spark.operators.cdxj import (
        incremental_zipnum_update,
        index_blocks,
        retain_zipnum,
    )
    from tectonic_spark.tables import table

    exports_dir, a_idx_dir, b_dir = _index_export_src(sf_dir)
    a_warc, _n = _warc_cdxj_src(sf_dir)
    live = os.path.join(_fixture_dir(sf_dir), "s18_live")
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(live)
    for fname in ("index.zipnum.gz", "cluster.idx"):
        shutil.copyfile(
            os.path.join(a_idx_dir, fname), os.path.join(live, fname)
        )

    totals = {
        "appended": 0, "dropped": 0, "tombstoned": 0, "generation": 0,
        "batches": 0, "retention_runs": 0, "mid_stream_runs": 0,
        "expired": 0,
    }
    tombstones: set[tuple[str, str, str]] = set()

    def run_retention(mid_stream: bool) -> None:
        import gzip as _gzip

        stats = retain_zipnum(live, cutoff_ts="20240201000000")
        totals["retention_runs"] += 1
        totals["expired"] += stats["n_expired"]
        if mid_stream:
            totals["mid_stream_runs"] += 1
        if len(index_blocks(live)) != 1:
            raise RuntimeError(
                "s18: retention left a multi-file index behind"
            )
        import json as _json

        sidecar = os.path.join(live, stats["expired_file"])
        with open(sidecar, "rb") as f:
            new_tombs = _gzip.decompress(f.read()).decode().splitlines()
        if len(new_tombs) != stats["n_expired"]:
            raise RuntimeError("s18: sidecar does not match expiry stats")
        os.rename(
            sidecar,
            os.path.join(
                live, f"expired-run{totals['retention_runs']:03d}.cdxj.gz"
            ),
        )
        for ln in new_tombs:
            key, ts, blob = ln.split(" ", 2)
            tombstones.add((key, ts, _json.loads(blob)["digest"]))

    def apply_batch(batch_df, batch_id: int) -> None:
        lines = sorted(r["value"] for r in batch_df.collect() if r["value"])
        if not lines:
            return
        totals["batches"] += 1
        totals["generation"] += 1
        stats = incremental_zipnum_update(
            live, lines, generation=totals["generation"],
            tombstones=tombstones,
        )
        totals["appended"] += stats["n_appended"]
        totals["dropped"] += stats["n_dropped"]
        totals["tombstoned"] += stats["n_tombstoned"]
        # maintenance policy: two live delta generations -> retain
        if len(index_blocks(live)) >= 3:
            run_retention(mid_stream=True)

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.cdxj")
        .load(exports_dir)
    )
    _stream_into(stream, sf_dir, "s18", foreach=apply_batch)
    run_retention(mid_stream=False)  # drain: catch the straggler tail

    docs = table(spark, sf_dir, "documents")
    n_docs, n_recap = docs.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0)),
    ).collect()[0]
    if (
        totals["batches"] < 3
        or totals["mid_stream_runs"] < 1
        or totals["appended"] != n_recap
        or totals["dropped"] + totals["tombstoned"] != n_docs
        or totals["expired"] != n_recap
    ):
        raise RuntimeError(f"s18: stream totals drifted: {totals}")

    by_file = index_blocks(live)
    if set(by_file) != {"index.zipnum.gz"}:
        raise RuntimeError(f"s18: final index files {sorted(by_file)}")
    n_lines = _count_lines(spark, live, by_file)
    if n_lines != n_docs:
        raise RuntimeError(
            f"s18: retained index holds {n_lines} lines, want {n_docs}"
        )

    # accumulated sidecars, censused distributed: every expired line
    # is a January capture of a d%5==0 key, exactly one per recapture
    expired = (
        spark.read.text(os.path.join(live, "expired-run*.cdxj.gz"))
        .withColumn("key", F.split(F.col("value"), " ").getItem(0))
        .withColumn("ets", F.split(F.col("value"), " ").getItem(1))
        .withColumn(
            "doc_id",
            F.regexp_extract(F.col("key"), r"/doc/(\d+)$", 1).cast("long"),
        )
    )
    bad, n_exp_lines, n_exp_keys = expired.agg(
        F.sum(
            F.when(
                (F.col("doc_id") % 5 != 0)
                | ~F.col("ets").startswith("202401"),
                1,
            ).otherwise(0)
        ),
        F.count(F.lit(1)),
        F.countDistinct("doc_id"),
    ).collect()[0]
    if bad or n_exp_lines != n_recap or n_exp_keys != n_recap:
        raise RuntimeError(
            f"s18: sidecar census {n_exp_lines} lines / {n_exp_keys} "
            f"keys ({bad} policy violations), want {n_recap}"
        )

    feb = F.when(F.col("ts").startswith("202402"), F.lit(1)).otherwise(F.lit(0))
    with _persisting() as persist:
        probes = persist(
            docs.filter(F.col("doc_id") % 53 == 29).select("doc_id", _doc_key())
        )
        entries = _entries_df(
            live, _blocks_df(by_file, probes), {f: 0 for f in by_file}
        )
        winners = persist(_latest_capture(entries, probes))
        n_probes = probes.count()
        n_bad_caps = winners.filter(F.col("caps") != 1).count()
        if winners.count() != n_probes or n_bad_caps:
            raise RuntimeError(
                f"s18: {n_bad_caps} probes answered with history that "
                "retention should have pruned"
            )
        routed = winners.select(
            "doc_id", "caps", "ts", "digest", feb.alias("expired_one"),
            feb.alias("prec"), "filename", "offset", "length",
        )
        warc_dirs = {0: a_warc, 1: b_dir}
        fetched = persist(
            _routed_fetch(routed, warc_dirs, carry=("expired_one",))
        )
        got = fetched.agg(
            F.count(F.lit(1)).alias("n"), F.sum("bytes_read").alias("br")
        ).collect()[0]
        want_bytes = winners.agg(F.sum("length")).collect()[0][0]
        if got["n"] != n_probes or got["br"] != want_bytes:
            raise RuntimeError(
                f"s18: fetched {got['n']}/{n_probes} members, {got['br']} "
                f"bytes vs indexed {want_bytes}"
            )
        agg = fetched.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("expired_one").alias("n_expired"),
            F.sum("n_chars").alias("chars_latest"),
        )
        agg_rows = agg.collect()
    return spark.createDataFrame(agg_rows, agg.schema)


def _font_formats_src(sf_dir: str) -> tuple[str, int]:
    """c03_font_formats fixture: every 83rd document's host serves ONE
    web font whose FORMAT cycles by d%4 — WOFF2 null-transform,
    WOFF2 with the glyf/loca preprocessing transform, WOFF 1.0
    (per-table zlib), and OTTO-flavor WOFF2 carrying CFF — each as a
    WARC ``resource`` record with its real content type
    (font/woff2 / font/woff) in corpus-scaled shards. Every lane's
    glyph count is the SAME closed form (6 + d%9), so the per-format
    census aggregates are oracle-exact. Returns (dir, n_shards)."""
    import struct as _struct

    from tectonic_spark.operators.cff import build_cff, build_charstring
    from tectonic_spark.operators.warc import build_warc_record, write_warc
    from tectonic_spark.operators.woff2 import (
        build_glyf,
        encode_woff1,
        encode_woff2,
        glyph_simple,
        transform_glyf,
    )

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"c03_fontfmt_src_{n_shards}")

    def build(tmp: str) -> None:
        def head_tbl(lf: int) -> bytes:
            head = bytearray(54)
            head[12:16] = _struct.pack(">I", 0x5F0F3CF5)
            head[18:20] = _struct.pack(">H", 1000)
            head[50:52] = _struct.pack(">h", lf)
            return bytes(head)

        def truetype_tables(d: int, ng: int, lf: int) -> tuple[list, list]:
            glyphs = [None] + [
                glyph_simple(
                    [[(g * 8, 0, True), (g * 8 + 30 + d % 5, 0, True),
                      (g * 8, 40, True)]]
                )
                for g in range(1, ng)
            ]
            glyf, loca = build_glyf(glyphs, lf)
            return glyphs, [
                (b"head", head_tbl(lf)),
                (b"maxp", _struct.pack(">IH", 0x00010000, ng) + b"\x00" * 26),
                (b"hhea", b"\x00" * 34 + _struct.pack(">H", ng)),
                (b"hmtx", bytes(4 * ng)),
                (b"glyf", glyf),
                (b"loca", loca),
                (b"cmap", bytes(20)),
            ]

        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, _text, _lang, source, _n in rows:
            if d % 83 != 41:
                continue
            ng = 6 + d % 9
            lf = d % 2
            fmt = d % 4
            mode = ("lz", "dict", "literals")[d % 3]
            if fmt == 0:
                _g, tables = truetype_tables(d, ng, lf)
                payload = encode_woff2(tables, br_mode=mode)
                ext, ctype = "woff2", "font/woff2"
            elif fmt == 1:
                glyphs, tables = truetype_tables(d, ng, lf)
                payload = encode_woff2(
                    tables, br_mode=mode,
                    transformed={b"glyf": transform_glyf(glyphs, lf),
                                 b"loca": b""},
                )
                ext, ctype = "woff2", "font/woff2"
            elif fmt == 2:
                _g, tables = truetype_tables(d, ng, lf)
                payload = encode_woff1(tables)
                ext, ctype = "woff", "font/woff"
            else:
                css = [
                    build_charstring(
                        [("rmoveto", [g, 5]), ("endchar", [])],
                        width=100 + g,
                    )
                    for g in range(ng)
                ]
                cff = build_cff("Doc-CFF-%06d" % d, css,
                                private_entries=[(20, [0]), (21, [0])])
                tables = [
                    (b"head", head_tbl(0)),
                    (b"maxp", _struct.pack(">IH", 0x00005000, ng)),
                    (b"CFF ", cff),
                    (b"cmap", bytes(20)),
                ]
                payload = encode_woff2(tables, flavor=b"OTTO", br_mode=mode)
                ext, ctype = "woff2", "font/woff2"
            shards[d % n_shards].append(
                build_warc_record(
                    "resource",
                    payload,
                    uri=f"https://{source}.example/font/{d}.{ext}",
                    date=_WARC_DATE,
                    content_type=ctype,
                )
            )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"fontfmt-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "c03_font_formats",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_fonts,
           CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_transformed,
           CAST(SUM(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_woff1,
           CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_otto,
           CAST(SUM(6 + doc_id % 9) AS BIGINT) AS total_glyphs,
           CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN 0
                         ELSE 6 + doc_id % 9 END) AS BIGINT)
             AS truetype_glyphs
    FROM documents WHERE doc_id % 83 = 41 GROUP BY lang
    """,
    doc="Mixed font-FORMAT census over the crawl (r13 — real sites "
    "serve whatever their build pipeline emitted: WOFF2 with null "
    "or preprocessed glyf, legacy WOFF 1.0, CFF-flavored OTTO; a "
    "crawl-side asset pipeline must ROUTE by what actually arrives, "
    "not by file extension): every 83rd document's host serves one "
    "font whose format cycles d%4 across all four families. The "
    "per-shard walk routes each payload by its SIGNATURE bytes "
    "(wOF2 vs wOFF — content type is carried but the sniff "
    "decides), then runs the right decoder end-to-end: the "
    "transformed lane does the full §5 triplet reconstruction, the "
    "WOFF1 lane inflates and checksum-audits per table, the OTTO "
    "lane parses CFF and interprets every Type 2 charstring. Each "
    "record pins its glyph count to the shared closed form and its "
    "format to the doc-id lane; the lang aggregate pins all four "
    "lane populations and the glyph totals. 100 TB shape: "
    "shard-parallel walk, one in-task decode per payload, font "
    "bytes never leave the executor, shard count scales with the "
    "corpus.",
)
def c03_font_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tectonic_spark.tables import table

    src, _n = _font_formats_src(sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(src, "*.warc.gz")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("fmt", StringType(), True),
            StructField("n_glyphs", LongType(), True),
            StructField("census_ok", BooleanType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.cff import parse_cff
        from tectonic_spark.operators.warc import parse_warc
        from tectonic_spark.operators.woff2 import parse_woff1, parse_woff2

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "resource":
                        continue
                    if not rec["content_type"].startswith("font/"):
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1].split(".")[0])
                    payload = rec["payload"]
                    sig = payload[:4]
                    if sig == b"wOF2":
                        info = parse_woff2(payload, keep_tables=True)
                        if info["flavor"] == "otto":
                            fmt = "otto"
                            census = parse_cff(
                                dict(info["table_bytes"])[b"CFF "]
                            )
                            ng = census["n_glyphs"]
                            ok = (
                                ng == info["num_glyphs"]
                                and census["sum_width"]
                                == sum(100 + g for g in range(ng))
                            )
                        elif info["glyf_transformed"]:
                            fmt = "woff2t"
                            ng = info["num_glyphs"]
                            # the transform census saw ng-1 simple
                            # triangles and one empty .notdef
                            ok = (
                                info["n_points"] == 3 * (ng - 1)
                                and info["n_empty_glyphs"] == 1
                            )
                        else:
                            fmt = "woff2"
                            ng = info["num_glyphs"]
                            ok = info["num_hmetrics"] == ng
                        ok = ok and info["sfnt_size_ok"] and info["stream_ok"]
                    elif sig == b"wOFF":
                        fmt = "woff1"
                        info = parse_woff1(payload)
                        ng = info["num_glyphs"]
                        ok = (
                            info["checksums_ok"]
                            and info["sfnt_size_ok"]
                            and rec["content_type"] == "font/woff"
                        )
                    else:
                        raise ValueError(
                            f"unknown font signature {sig!r}"
                        )
                    want_fmt = ("woff2", "woff2t", "woff1", "otto")[d % 4]
                    ok = (
                        ok
                        and fmt == want_fmt
                        and ng == 6 + d % 9
                        and info["bytes_walked"] == len(payload)
                    )
                    rows.append((d, fmt, ng, ok))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "n_glyphs", "census_ok"]
            )

    fonts = files.select("content").mapInPandas(walk, schema)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = fonts.join(docs, "doc_id", "inner")
    bad = joined.filter(~F.col("census_ok")).count()
    if bad:
        raise RuntimeError(f"c03_font_formats: {bad} fonts failed census")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_fonts"),
        F.sum(F.when(F.col("fmt") == "woff2", 1).otherwise(0)).alias(
            "n_null"
        ),
        F.sum(F.when(F.col("fmt") == "woff2t", 1).otherwise(0)).alias(
            "n_transformed"
        ),
        F.sum(F.when(F.col("fmt") == "woff1", 1).otherwise(0)).alias(
            "n_woff1"
        ),
        F.sum(F.when(F.col("fmt") == "otto", 1).otherwise(0)).alias(
            "n_otto"
        ),
        F.sum("n_glyphs").alias("total_glyphs"),
        F.sum(
            F.when(F.col("fmt") == "otto", 0).otherwise(F.col("n_glyphs"))
        ).alias("truetype_glyphs"),
    )


def _attachment_src(sf_dir: str) -> tuple[str, int]:
    """c05_attachment_extraction fixture: every 107th document's host
    serves ONE document attachment whose FORMAT cycles by d%4 — PDF,
    OOXML .docx, EPUB, RTF — each as a WARC ``resource`` record with
    its real content type, in corpus-scaled shards. Every lane's body
    is built from the document's own text, so extracted chars equal
    n_chars in closed form. Returns (dir, n_shards)."""
    from tectonic_spark.operators.epub import build_epub
    from tectonic_spark.operators.ooxml import build_docx
    from tectonic_spark.operators.pdf import build_pdf
    from tectonic_spark.operators.rtf import build_rtf
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"c05_attach_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, text, lang, source, _n in rows:
            if d % 107 != 63:
                continue
            words = text.split(" ")
            lines = [" ".join(words[i : i + 8]) for i in range(0, len(words), 8)]
            fmt = d % 4
            if fmt == 0:
                np_ = 1 + d % 3
                per = (len(lines) + np_ - 1) // np_
                pages = [lines[i : i + per] for i in range(0, len(lines), per)]
                while len(pages) < np_:
                    pages.append([])
                payload = build_pdf(
                    pages,
                    compress=(d % 2 == 0),
                    xref_stream=(d % 3 == 0),
                    title=f"doc {d}",
                )
                ext, ctype = "pdf", "application/pdf"
            elif fmt == 1:
                payload = build_docx(
                    [("Normal", ln) for ln in lines],
                    title=f"doc {d}",
                    creator="crawler",
                    w_prefix="x" if d % 7 == 0 else "w",
                )
                ext = "docx"
                ctype = (
                    "application/vnd.openxmlformats-officedocument"
                    ".wordprocessingml.document"
                )
            elif fmt == 2:
                nc = 1 + d % 3
                per = (len(lines) + nc - 1) // nc
                groups = [lines[i : i + per] for i in range(0, len(lines), per)]
                while len(groups) < nc:
                    groups.append([])
                payload = build_epub(
                    [
                        (f"ch {k} of doc {d}", "\n".join(g))
                        for k, g in enumerate(groups)
                    ],
                    title=f"doc {d}",
                    author="crawler",
                    lang=str(lang),
                    spine_rotate=d % nc,
                )
                ext, ctype = "epub", "application/epub+zip"
            else:
                payload = build_rtf(
                    lines, title=f"doc {d}", bold_every=d % 4
                )
                ext, ctype = "rtf", "application/rtf"
            shards[d % n_shards].append(
                build_warc_record(
                    "resource",
                    payload,
                    uri=f"https://{source}.example/attach/{d}.{ext}",
                    date=_WARC_DATE,
                    content_type=ctype,
                )
            )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"attach-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "c05_attachment_extraction",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pdf,
           CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docx,
           CAST(SUM(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_epub,
           CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rtf,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 107 = 63 GROUP BY lang
    """,
    doc="Heterogeneous document-attachment extraction over the crawl "
    "(r13 — the training-data ingestion story: a corpus pipeline "
    "meets PDF, .docx, EPUB and RTF attachments and must route each "
    "arriving payload by what it IS, then extract comparable text "
    "from all of them): every 107th document's host serves one "
    "attachment whose format cycles d%4 across the four families, "
    "as WARC resource records with real content types. The "
    "per-shard walk routes by SIGNATURE bytes — %PDF, PK+OCF "
    "mimetype probe at byte 30 (the ZIP-level epub-vs-docx "
    "distinction real sniffers use), PK without it, {\\\\rtf — and "
    "runs the right extractor end-to-end (COS/xref/BT-ET for PDF, "
    "OPC+namespace walk for DOCX, container->OPF->spine for EPUB, "
    "the RTF tokenizer). Every record's extracted text, re-joined, "
    "must equal the source document's n_chars EXACTLY (asserted "
    "JVM-side over the whole matched set before aggregation — "
    "extraction drift anywhere fails the query); the lang rollup "
    "pins all four lane populations and the char totals. 100 TB "
    "shape: shard-parallel walk, one in-task parse per payload, "
    "attachment bytes never leave the executor, shard count scales "
    "with the corpus.",
)
def c05_attachment_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    src, _n = _attachment_src(sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(src, "*.warc.gz")
    )
    attachments = attachment_extract_kernel(files)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    joined = attachments.join(docs, "doc_id", "inner")
    bad = joined.filter(
        (~F.col("extract_ok")) | (F.col("chars") != F.col("n_chars"))
    ).count()
    if bad:
        raise RuntimeError(
            f"c05_attachment_extraction: {bad} attachments drifted"
        )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("fmt") == "pdf", 1).otherwise(0)).alias("n_pdf"),
        F.sum(F.when(F.col("fmt") == "docx", 1).otherwise(0)).alias(
            "n_docx"
        ),
        F.sum(F.when(F.col("fmt") == "epub", 1).otherwise(0)).alias(
            "n_epub"
        ),
        F.sum(F.when(F.col("fmt") == "rtf", 1).otherwise(0)).alias("n_rtf"),
        F.sum("chars").alias("total_chars"),
    )


def _route_attachment(payload: bytes, d: int) -> tuple[str, str, bool]:
    """Route ONE attachment payload by signature → (fmt, extracted text
    re-joined to the source layout, fixture pins ok).  The routing
    brain shared by attachment_extract_kernel and
    attachment_text_kernel."""
    from tectonic_spark.operators.epub import extract_epub
    from tectonic_spark.operators.ooxml import extract_docx
    from tectonic_spark.operators.pdf import analyze_pdf
    from tectonic_spark.operators.rtf import extract_rtf

    if payload[:4] == b"%PDF":
        fmt = "pdf"
        info, pages = analyze_pdf(payload)
        rejoined = " ".join(
            ln for pg in pages for ln in pg.split("\n") if ln
        )
        ok = info["title"] == f"doc {d}" and info["n_pages"] == 1 + d % 3
    elif payload[:4] == b"PK\x03\x04":
        # OCF probe: an EPUB's first local header is the stored
        # 'mimetype' member, so the literal
        # 'mimetypeapplication/epub+zip' sits at byte 30
        if payload[30:58] == b"mimetypeapplication/epub+zip":
            fmt = "epub"
            out = extract_epub(payload)
            rejoined = " ".join(
                ln
                for _, body in out["chapters"]
                for ln in body.split("\n")
                if ln
            )
            ok = (
                out["title"] == f"doc {d}"
                and len(out["chapters"]) == 1 + d % 3
                and out["spine_ids"][0] == f"c{d % (1 + d % 3)}"
            )
        else:
            fmt = "docx"
            out = extract_docx(payload)
            rejoined = " ".join(t for _, t in out["paragraphs"])
            ok = (
                out["title"] == f"doc {d}"
                and out["creator"] == "crawler"
            )
    elif payload[:5] == b"{\\rtf":
        fmt = "rtf"
        out = extract_rtf(payload)
        rejoined = " ".join(out["text"].split("\n"))
        ok = out["title"] == f"doc {d}"
    else:
        raise ValueError(
            f"unknown attachment signature {payload[:8]!r}"
        )
    want_fmt = ("pdf", "docx", "epub", "rtf")[d % 4]
    return fmt, rejoined, ok and fmt == want_fmt


def attachment_extract_kernel(files: DataFrame) -> DataFrame:
    """Attachment-routing stage: a DataFrame with a binary ``content``
    column of WARC shard bytes → (doc_id, fmt, chars, extract_ok) per
    attachment, routed by SIGNATURE bytes (%PDF, PK + the byte-30 OCF
    mimetype probe separating epub from docx, {\\rtf) into the matching
    extractor. Stateless per shard — shared verbatim by the batch
    composition (c05_attachment_extraction) and the streaming ingest
    (s19_stream_attachments), the warc_extract_kernel pattern."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("fmt", StringType(), True),
            StructField("chars", LongType(), True),
            StructField("extract_ok", BooleanType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.warc import parse_warc

        for pdf_batch in batches:
            rows = []
            for blob in pdf_batch["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "resource":
                        continue
                    if "/attach/" not in rec["uri"]:
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1].split(".")[0])
                    fmt, rejoined, ok = _route_attachment(
                        rec["payload"], d
                    )
                    rows.append((d, fmt, len(rejoined), ok))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "chars", "extract_ok"]
            )

    return files.select("content").mapInPandas(walk, schema)


def attachment_text_kernel(files: DataFrame) -> DataFrame:
    """Same routing brain, text-bearing output: (doc_id, fmt, text,
    extract_ok) — the stage a downstream corpus pipeline consumes
    (c04_attachment_corpus)."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("fmt", StringType(), True),
            StructField("text", StringType(), True),
            StructField("extract_ok", BooleanType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.operators.warc import parse_warc

        for pdf_batch in batches:
            rows = []
            for blob in pdf_batch["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "resource":
                        continue
                    if "/attach/" not in rec["uri"]:
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1].split(".")[0])
                    fmt, rejoined, ok = _route_attachment(
                        rec["payload"], d
                    )
                    rows.append((d, fmt, rejoined, ok))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "text", "extract_ok"]
            )

    return files.select("content").mapInPandas(walk, schema)


@register(
    "s19_stream_attachments",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pdf,
           CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docx,
           CAST(SUM(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_epub,
           CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rtf,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 107 = 63 GROUP BY lang
    """,
    doc="STREAMING attachment ingestion — the continuous form of "
    "c05_attachment_extraction, the s15 pattern applied to the "
    "document-format tier: WARC shards of mixed PDF/.docx/EPUB/RTF "
    "attachments arrive as a binaryFile stream and flow through the "
    "SAME attachment_extract_kernel as the batch path (signature "
    "routing incl. the byte-30 OCF mimetype probe, then the full "
    "matching extractor per payload) into an append parquet sink; "
    "the maintained sink is then joined to the source table and "
    "every extracted text pinned equal to n_chars before the "
    "per-lang rollup. Extraction is stateless per shard — no state "
    "store, scales with arrival rate. Builder raises unless >=2 "
    "micro-batches read rows, the sink holds exactly one row per "
    "attachment, and zero extractions drifted.",
)
def s19_stream_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    src, n_shards = _attachment_src(sf_dir)
    per_trigger = max(2, n_shards // 4)
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long,"
            " content binary"
        )
        .option("maxFilesPerTrigger", str(per_trigger))
        .option("pathGlobFilter", "*.warc.gz")
        .load(src)
    )
    attachments = attachment_extract_kernel(stream)
    expected = sum(1 for d, *_ in _docs_rows(sf_dir) if d % 107 == 63)
    sunk, _ = _stream_into(attachments, sf_dir, "s19", min_batches=2)
    sink_rows = sunk.count()
    if sink_rows != expected:
        raise RuntimeError(
            f"s19: sink has {sink_rows} attachments, expected {expected}"
        )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    joined = sunk.join(docs, "doc_id", "inner")
    bad = joined.filter(
        (~F.col("extract_ok")) | (F.col("chars") != F.col("n_chars"))
    ).count()
    if bad:
        raise RuntimeError(f"s19: {bad} streamed attachments drifted")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("fmt") == "pdf", 1).otherwise(0)).alias("n_pdf"),
        F.sum(F.when(F.col("fmt") == "docx", 1).otherwise(0)).alias(
            "n_docx"
        ),
        F.sum(F.when(F.col("fmt") == "epub", 1).otherwise(0)).alias(
            "n_epub"
        ),
        F.sum(F.when(F.col("fmt") == "rtf", 1).otherwise(0)).alias("n_rtf"),
        F.sum("chars").alias("total_chars"),
    )


def _asset_src(sf_dir: str) -> tuple[str, int]:
    """c05_asset_census fixture: every 139th document's host serves ONE
    non-HTML asset whose KIND cycles by d%6 — XLSX workbook, ODT
    document, SVG icon, markdown README, ICO favicon, CSV export —
    each as a WARC ``resource`` record with its real content type, in
    corpus-scaled shards. Every lane's unit metric is closed-form.
    Returns (dir, n_shards)."""
    from tectonic_spark.operators.codecs import encode_ico
    from tectonic_spark.operators.markdown import build_markdown
    from tectonic_spark.operators.odf import build_odt
    from tectonic_spark.operators.ooxml import build_xlsx
    from tectonic_spark.operators.svg import build_svg
    from tectonic_spark.operators.warc import build_warc_record, write_warc

    rows = _docs_rows(sf_dir)
    n_shards = max(4, len(rows) // 15000)
    base = _fixture_dir(sf_dir)
    src = os.path.join(base, f"c05_asset_src_{n_shards}")

    def build(tmp: str) -> None:
        shards: list[list[bytes]] = [[] for _ in range(n_shards)]
        for d, text, _lang, source, _n in rows:
            if d % 139 != 87:
                continue
            kind = d % 6
            if kind == 0:
                r_n = 2 + d % 5
                sheet = [
                    [d % 100 + 3 * r, f"w{(d + r) % 7}", r + 1]
                    for r in range(r_n)
                ]
                payload = build_xlsx([("data", sheet)])
                ext = "xlsx"
                ctype = (
                    "application/vnd.openxmlformats-officedocument"
                    ".spreadsheetml.sheet"
                )
            elif kind == 1:
                words = text.split(" ")
                lines = [
                    " ".join(words[i : i + 8])
                    for i in range(0, len(words), 8)
                ]
                payload = build_odt(
                    [(1 if j == 0 else 0, ln) for j, ln in enumerate(lines)],
                    title=f"odt {d}",
                )
                ext, ctype = "odt", "application/vnd.oasis.opendocument.text"
            elif kind == 2:
                side = 16 + (d % 4) * 16
                k = 2 + d % 4
                coords = " ".join(
                    f"{(d + i) % side} {(d * 3 + i * 7) % side}"
                    for i in range(k)
                )
                payload = build_svg(
                    width=side,
                    height=side,
                    rects=[(1, 1, 4, 4)],
                    paths=[f"M0 0 L{coords} Z"],
                )
                ext, ctype = "svg", "image/svg+xml"
            elif kind == 3:
                words = text.split(" ")
                lines = [
                    " ".join(words[i : i + 8])
                    for i in range(0, len(words), 8)
                ]
                ns = 1 + d % 3
                per = (len(lines) + ns - 1) // ns
                groups = [
                    lines[i : i + per] for i in range(0, len(lines), per)
                ]
                while len(groups) < ns:
                    groups.append([])
                payload = build_markdown(
                    [(f"section {s}", g) for s, g in enumerate(groups)],
                    title=f"doc {d}",
                )
                ext, ctype = "md", "text/markdown"
            elif kind == 4:
                n_img = 1 + d % 2
                payload = encode_ico(
                    [
                        {
                            "w": 16 << k,
                            "h": 16 << k,
                            "fmt": "png" if (d + k) % 2 == 0 else "bmp",
                            "pixels": bytes(
                                (i * (d % 251 + k + 1) + d) % 256
                                for i in range((16 << k) ** 2 * 3)
                            ),
                        }
                        for k in range(n_img)
                    ]
                )
                ext, ctype = "ico", "image/x-icon"
            else:
                r2 = 3 + d % 7
                body = "k,v,q\r\n" + "".join(
                    f'{i},"v,{d}",q{i}\r\n' for i in range(r2)
                )
                payload = body.encode()
                ext, ctype = "csv", "text/csv"
            shards[d % n_shards].append(
                build_warc_record(
                    "resource",
                    payload,
                    uri=f"https://{source}.example/asset/{d}.{ext}",
                    date=_WARC_DATE,
                    content_type=ctype,
                )
            )
        for i, recs in enumerate(shards):
            _write_atomic(
                os.path.join(tmp, f"asset-{i:03d}.warc.gz"), write_warc(recs)
            )

    return _published(src, build), n_shards


@register(
    "c05_asset_census",
    oracle="""
    WITH d AS (SELECT doc_id, lang,
        CAST(CEIL((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
                  / 8.0) AS BIGINT) AS np
      FROM documents WHERE doc_id % 139 = 87)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_xlsx,
           CAST(SUM(CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_odt,
           CAST(SUM(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_svg,
           CAST(SUM(CASE WHEN doc_id % 6 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_md,
           CAST(SUM(CASE WHEN doc_id % 6 = 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ico,
           CAST(SUM(CASE WHEN doc_id % 6 = 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_csv,
           CAST(SUM(CASE doc_id % 6
                WHEN 0 THEN 3 * (2 + doc_id % 5)
                WHEN 1 THEN np
                WHEN 2 THEN doc_id % 4 + 4
                WHEN 3 THEN 2 + doc_id % 3
                WHEN 4 THEN 1 + doc_id % 2
                ELSE 3 + doc_id % 7 END) AS BIGINT) AS sum_units
    FROM d GROUP BY lang
    """,
    doc="Wide asset census over the crawl (r13 — the long tail of "
    "non-HTML things a host serves: spreadsheets, office docs, "
    "vector icons, READMEs, favicons, CSV exports; a crawl pipeline "
    "must route ALL of them by what actually arrives): every 139th "
    "document's host serves one asset cycling d%6 across six "
    "formats. Routing is the interesting part at the ZIP level — "
    "PK payloads are told apart by the byte-30 mimetype probe (ODT "
    "vs EPUB) and, failing that, by parsing [Content_Types].xml "
    "(XLSX workbook vs DOCX document override — the honest OPC "
    "route); XML sniffs to SVG, 00 00 01 00 to ICO, a '# ' line to "
    "markdown; the rest rides the ENGINE'S OWN reference-parity "
    "CSV parser (core/csv_parser.py, quoted-comma cells included) "
    "— tying the SURVEY 2.A surface into the crawl story. Each "
    "lane contributes a closed-form unit metric (cells / "
    "paragraphs / path commands / headings / images / rows); the "
    "per-lang rollup pins all six lane populations and the unit "
    "sum. 100 TB shape: shard-parallel walk, one in-task parse per "
    "payload, asset bytes never leave the executor, shard count "
    "scales with the corpus.",
)
def c05_asset_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tectonic_spark.tables import table

    src, _n = _asset_src(sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(src, "*.warc.gz")
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("fmt", StringType(), True),
            StructField("units", LongType(), True),
            StructField("census_ok", BooleanType(), True),
        ]
    )

    def walk(batches):
        import pandas as pd

        from tectonic_spark.core.csv_parser import CsvConfig, CsvParser
        from tectonic_spark.core.result import Failure
        from tectonic_spark.core.value_builder import ValueBuilderPlate
        from tectonic_spark.operators.archive import parse_zip
        from tectonic_spark.operators.codecs import parse_ico
        from tectonic_spark.operators.markdown import parse_markdown
        from tectonic_spark.operators.odf import extract_odt
        from tectonic_spark.operators.ooxml import extract_xlsx
        from tectonic_spark.operators.svg import census_svg
        from tectonic_spark.operators.warc import parse_warc

        for pdf_batch in batches:
            rows = []
            for blob in pdf_batch["content"]:
                for rec in parse_warc(bytes(blob)):
                    if rec["type"] != "resource":
                        continue
                    if "/asset/" not in rec["uri"]:
                        continue
                    d = int(rec["uri"].rsplit("/", 1)[1].split(".")[0])
                    payload = rec["payload"]
                    if payload[:4] == b"PK\x03\x04":
                        probe = payload[30:38]
                        if probe == b"mimetype":
                            mt = payload[38:90]
                            if mt.startswith(
                                b"application/vnd.oasis.opendocument.text"
                            ):
                                fmt = "odt"
                                out = extract_odt(payload)
                                units = len(out["paragraphs"])
                                ok = out["title"] == f"odt {d}"
                            else:
                                raise ValueError(
                                    f"asset {d}: unexpected ZIP mimetype"
                                    f" {mt[:40]!r}"
                                )
                        else:
                            # OPC: decide by [Content_Types].xml
                            names = {
                                m["name"] for m in parse_zip(payload)
                            }
                            if "xl/workbook.xml" in names:
                                fmt = "xlsx"
                                out = extract_xlsx(payload)
                                units = sum(
                                    len(r)
                                    for _, rws in out["sheets"]
                                    for r in rws
                                )
                                ok = (
                                    len(out["sheets"]) == 1
                                    and out["n_shared_unique"]
                                    == 2 + d % 5
                                )
                            elif "word/document.xml" in names:
                                fmt = "docx"
                                units = 0
                                ok = False  # no docx lane in this census
                            else:
                                raise ValueError(
                                    f"asset {d}: unroutable OPC package"
                                )
                    elif payload[:4] == b"\x00\x00\x01\x00":
                        fmt = "ico"
                        imgs = parse_ico(payload)
                        units = len(imgs)
                        ok = all(
                            im["w"] == 16 << k
                            for k, im in enumerate(imgs)
                        )
                    elif payload[:5] == b"<?xml" or payload[:4] == b"<svg":
                        fmt = "svg"
                        out = census_svg(payload)
                        units = out["path_commands"]
                        ok = (
                            out["counts"]["rect"] == 1
                            and out["endpoints"][0] == (0, 0)
                        )
                    elif payload[:2] == b"# ":
                        fmt = "md"
                        out = parse_markdown(payload)
                        units = out["n_headings"]
                        ok = out["heading_levels"][0] == 1
                    else:
                        fmt = "csv"
                        parser = CsvParser(
                            ValueBuilderPlate(), CsvConfig()
                        )
                        res = parser.absorb(payload)
                        if isinstance(res, Failure):
                            raise res.error
                        crows = list(res.value)
                        res = parser.finish()
                        if isinstance(res, Failure):
                            raise res.error
                        crows.extend(res.value)
                        units = len(crows)
                        ok = all(
                            r["v"] == f"v,{d}" and r["q"] == f"q{i}"
                            for i, r in enumerate(crows)
                        )
                    want = ("xlsx", "odt", "svg", "md", "ico", "csv")[
                        d % 6
                    ]
                    rows.append((d, fmt, units, ok and fmt == want))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "units", "census_ok"]
            )

    assets = files.select("content").mapInPandas(walk, schema)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = assets.join(docs, "doc_id", "inner")
    bad = joined.filter(~F.col("census_ok")).count()
    if bad:
        raise RuntimeError(f"c05_asset_census: {bad} assets failed census")
    agg_cols = [
        F.count(F.lit(1)).alias("n_assets"),
    ]
    for name in ("xlsx", "odt", "svg", "md", "ico", "csv"):
        agg_cols.append(
            F.sum(F.when(F.col("fmt") == name, 1).otherwise(0)).alias(
                f"n_{name}"
            )
        )
    agg_cols.append(F.sum("units").alias("sum_units"))
    return joined.groupBy("lang").agg(*agg_cols)


@register(
    "c04_attachment_corpus",
    oracle="""
    WITH d AS (SELECT doc_id, lang,
        LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS wc,
        LENGTH(REPLACE(text, ' ', '')) AS cc,
        CASE doc_id % 4 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
             WHEN 2 THEN 'epub' ELSE 'rtf' END AS fmt
      FROM documents WHERE doc_id % 107 = 63)
    SELECT lang, fmt,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN wc >= 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(wc) AS BIGINT) AS total_words,
           CAST(SUM(cc) AS DOUBLE) / SUM(wc) AS mean_word_len
    FROM d GROUP BY lang, fmt
    """,
    doc="Training-corpus statistics over EXTRACTED attachment text "
    "(r13 — the composition that closes the document-format arc: "
    "extraction is the Python stage, corpus analytics stay "
    "JVM-side): the c05 attachment shards flow through "
    "attachment_text_kernel (the same routing brain as batch c05 "
    "and streaming s19, text-bearing output), then EVERY metric is "
    "computed with built-in Catalyst expressions over the extracted "
    "text column — split/size word counts, space-stripped char "
    "counts, a wc>=30 quality gate, and mean word length as "
    "exact-integer sums with ONE double division (the davg "
    "contract, bit-identical cross-engine). The oracle computes "
    "the same statistics from the SOURCE documents table — they "
    "can only match if extraction reproduced every document "
    "byte-for-byte through four different container formats. "
    "100 TB shape: shard-parallel extraction, JVM-side analytics, "
    "one shuffle for the (lang, fmt) rollup.",
)
def c04_attachment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from tectonic_spark.tables import table

    src, _n = _attachment_src(sf_dir)
    files = spark.read.format("binaryFile").load(
        os.path.join(src, "*.warc.gz")
    )
    texts = attachment_text_kernel(files)
    bad = texts.filter(~F.col("extract_ok")).count()
    if bad:
        raise RuntimeError(f"c04_attachment_corpus: {bad} extractions bad")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    enriched = (
        texts.join(docs, "doc_id", "inner")
        .withColumn("wc", F.size(F.split(F.col("text"), " ")))
        .withColumn(
            "cc", F.length(F.regexp_replace(F.col("text"), " ", ""))
        )
    )
    return enriched.groupBy("lang", "fmt").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("wc") >= 30, 1).otherwise(0)).alias("n_kept"),
        F.sum("wc").alias("total_words"),
        (F.sum("cc").cast("double") / F.sum("wc")).alias("mean_word_len"),
    )
