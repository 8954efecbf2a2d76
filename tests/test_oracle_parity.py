"""Fast oracle-parity smoke at sf0.001 for a representative query subset
(the full sweep lives in tools/check_correctness.py and runs at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import tectonic_spark.operators as ops
from check_correctness import compare, duck_con

FAST_SUBSET = [
    "b01_project_compute",
    "b05_pricing_summary",
    "b06_rollup",
    "b07_topn_per_group",
    "b09_setops",
    "b11_session_window",
    "b12_dedup_earliest",
    "c01_minhash_lsh",
    "c02_cosine_topk",
    "c03_lang_id",
    "c03_chunking",
    "c03_redaction",
    # the CDXJ / ZipNum web-archive index family
    "a30_cdxj_fetch",
    "a36_zipnum_lookup",
    "a38_temporal_index_lookup",
    "a39_revisit_index_fetch",
    "a41_surt_prefix_scan",
    "a42_wayback_closest",
    "a43_collection_merge",
    "a44_incremental_index_update",
    "a45_conflict_census",
    "a46_index_compaction",
    "a47_retention_expiry",
    "a48_cdx_interchange",
    "s17_stream_index_update",
    "s18_stream_retention",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_oracle_parity(spark, sf_dir, con, name):
    q = ops.REGISTRY[name]
    sdf = q.builder(spark, sf_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, problems


def test_chunking_covers_every_token(spark, sf_dir):
    """Stitching the stride-prefix of each chunk (full chunk for the last)
    reconstructs the original token stream exactly."""
    from pyspark.sql import functions as F

    from tectonic_spark.operators.text import CHUNK_S, c03_chunking
    from tectonic_spark.tables import table

    chunks = c03_chunking(spark, sf_dir)
    rebuilt = (
        chunks.withColumn("w", F.split("chunk_text", " "))
        .withColumn(
            "prefix",
            F.array_join(F.slice("w", 1, CHUNK_S), " "),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "prefix"))),
                    lambda s: s["prefix"],
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    orig = table(spark, sf_dir, "documents").select("doc_id", "text")
    bad = (
        rebuilt.join(orig, "doc_id")
        .where(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_index_query_failure_leaves_nothing_cached(spark, sf_dir, monkeypatch):
    """A builder that raises after persisting still unpersists: a46 fails its
    compaction check once ``probes`` and its pre-compaction answers exist."""
    from tectonic_spark.operators import cdxj

    real = cdxj.compact_zipnum

    def wrong_file_count(index_dir, **kw):
        return dict(real(index_dir, **kw), n_files_before=3)

    monkeypatch.setattr(cdxj, "compact_zipnum", wrong_file_count)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(RuntimeError, match="compaction saw an unexpected file set"):
        ops.REGISTRY["a46_index_compaction"].builder(spark, sf_dir)
    assert cache.isEmpty()
