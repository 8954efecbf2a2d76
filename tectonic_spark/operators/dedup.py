"""Deduplication operators over ``documents`` / ``embeddings`` — the
training-data-pipeline surface: exact hash dedup, n-gram Jaccard near-dup,
MinHash+LSH near-dup, SimHash, and embedding-cosine near-dup.

Scale design (100 TB):

* exact dedup = hash-groupBy on a 256-bit digest — one shuffle on the hash,
  uniformly distributed (no skew);
* n-gram Jaccard uses an **inverted-index join on shingles** (explode →
  shuffle on shingle → pair counts), never an O(n²) cross join;
* MinHash+LSH shuffles on (band, band-hash) buckets — candidate generation
  cost is linear in docs × bands, and only candidates pay the verification
  cost. Hash functions are md5-based so the DuckDB oracle replicates them
  bit-for-bit (the candidate sets — even LSH false-negatives — are identical
  across engines, so verified output matches exactly);
* SimHash packs tokens into a 60-bit signature (no oracle — bit-twiddling is
  not portably SQL-expressible; driver does the rows-only check);
* embedding near-dup verifies cosine on rounded doubles (round(…,6) keeps
  last-ulp summation differences from flipping the hash).

The O(n²) *oracle* SQL cross-joins — fine at sf0.01 — while the Spark path
is the scalable plan.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tectonic_spark.operators.registry import register
from tectonic_spark.operators.text import O_WORDS, o_shingles, shingles_col, words_col
from tectonic_spark.tables import spread_small_scan, table

JACCARD_THRESHOLD = 0.8
N_PERM = 8  # minhash permutations
N_BANDS = 4  # LSH bands (2 rows per band)

_O_SHINGLE_BASE = f"""
    WITH t AS (SELECT doc_id, {O_WORDS} AS w FROM documents),
    sh AS (SELECT doc_id, {o_shingles('w')} AS shingles
           FROM t WHERE len(w) >= 3)
"""


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Shingle construction is CPU-heavy relative to a tiny text scan: a
    # small file arrives as ONE input split, which would serialize all the
    # downstream hashing onto one core. Spread by doc_id ONLY in that case;
    # at 100 TB the scan already yields thousands of splits and the
    # repartition would be a pointless full shuffle of the raw corpus.
    d = spread_small_scan(d, spark, "doc_id")
    w = words_col()
    return (
        d.filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select("doc_id", shingles_col(w).alias("shingles"))
    )


@register(
    "c01_dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
    doc="Exact dedup: group on sha256(text), keep lowest doc_id. One "
    "uniformly-distributed shuffle; the digest (32 B) not the document "
    "travels through the exchange.",
)
def c01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2(F.col("text"), 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_O_PREF_CAND = f""",
    ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s FROM sh),
    dfreq AS MATERIALIZED (SELECT s, count(*) AS df FROM ex GROUP BY s),
    pref AS MATERIALIZED (SELECT doc_id, s FROM (
        SELECT e.doc_id, e.s,
               row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.s) AS rn,
               count(*) OVER (PARTITION BY e.doc_id) AS n_sh
        FROM ex e JOIN dfreq d USING (s)
    ) WHERE rn <= n_sh - CEIL({JACCARD_THRESHOLD} * n_sh) + 1),
    cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id)
"""

# Exact verified pairs from prefix-filtered candidates. Output is IDENTICAL
# to the O(n²) pairwise formulation (prefix filtering has no false
# negatives at threshold t under any global shingle order), but the oracle
# stays tractable on duplicate-heavy corpora — the sf1 sweep caught the
# old cross-join grinding for 45+ min on 500k docs (r4).
_O_PAIRS_SELECT = f"""
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
          >= {JACCARD_THRESHOLD}
"""


@register(
    "c01_ngram_jaccard",
    oracle=_O_SHINGLE_BASE + _O_PREF_CAND + _O_PAIRS_SELECT,
    doc="3-gram Jaccard near-dup via PREFIX-FILTERED inverted index (the "
    "AllPairs/PPJoin family): each doc indexes only its |d| - ceil(t*|d|) "
    "+ 1 globally-rarest shingles — provably no false negatives at "
    "threshold t (a qualifying pair's overlap >= t*|d| forces a shared "
    "element into both prefixes under any global order), and hot shingles "
    "fall out of the index, killing the quadratic per-shingle pair blowup "
    "a naive inverted index hits on duplicate-heavy corpora (observed at "
    "sf0.1). Candidates dedupe before the exact array_intersect verify.",
)
def c01_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    sh = _shingle_df(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_doc = W.partitionBy("doc_id").orderBy("df", "s")
    w_all = W.partitionBy("doc_id")
    pref = (
        ex.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w_doc))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_all))
        .filter(
            F.col("rn")
            <= F.col("n_sh")
            - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("n_sh"))
            + 1
        )
        .select("doc_id", "s")
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _o_minhash_cols() -> str:
    # 8 "permutations" from 2 md5 digests: 4 non-overlapping 8-hex windows
    # each (32-bit hashes). 2 digest computations per shingle instead of 8;
    # the windows are independent enough for minhash and bit-for-bit
    # reproducible in DuckDB. Computed with list_min over the shingle array
    # (no unnest + re-aggregate), mirroring the Spark plan's shape.
    cols = []
    for j in range(N_PERM):
        src = "h1" if j < 4 else "h2"
        cols.append(
            f"list_min(list_transform({src}, d -> substr(d, {(j % 4) * 8 + 1}, 8))) AS mh{j}"
        )
    return ",\n           ".join(cols)


def _o_band_union() -> str:
    selects = []
    for b in range(N_BANDS):
        selects.append(
            f"SELECT doc_id, {b} AS band, md5(mh{2 * b} || mh{2 * b + 1}) AS bh FROM mh"
        )
    return "\n    UNION ALL ".join(selects)


@register(
    "c01_minhash_lsh",
    oracle=_O_SHINGLE_BASE
    + f""",
    hs AS (SELECT doc_id,
           list_transform(shingles, s -> md5(s)) AS h1,
           list_transform(shingles, s -> md5('x' || s)) AS h2
           FROM sh),
    mh AS (SELECT doc_id,
           {_o_minhash_cols()}
           FROM hs),
    bands AS ({_o_band_union()}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id
    WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
          >= {JACCARD_THRESHOLD}
    """,
    doc="MinHash ({np} md5 perms) + LSH ({nb} bands × 2 rows) near-dup: "
    "candidates = docs sharing a band hash; exact-Jaccard verification on "
    "candidates only. Deterministic md5 hashes → oracle-replicable.".format(
        np=N_PERM, nb=N_BANDS
    ),
)
def c01_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    # shingles feed three sub-plans (sketching + both verification sides):
    # persist instead of recomputing the CPU-heavy shingle construction 3x.
    # r13: materialize the cache EAGERLY — the three consumers launch as
    # concurrent AQE/broadcast jobs, and racing a cold cache made each of
    # them recompute the shingles from parquet (the sf1 profile showed
    # three ~35 MB scan stages of 13-28 core-seconds each); one count()
    # populates the cache once and the consumers all read it.
    sh = _shingle_df(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()
    # sketch per row with array kernels — NO explode + groupBy shuffle:
    # min over a transform of the shingle array is whole-stage-codegen'd
    # and the sketch never leaves its partition
    hs = sh.select(
        "doc_id",
        F.transform("shingles", lambda s: F.md5(s)).alias("h1"),
        F.transform("shingles", lambda s: F.md5(F.concat(F.lit("x"), s))).alias("h2"),
    )
    # NOTE: the per-permutation offset must be baked via a CLOSURE FACTORY,
    # not a defaulted second lambda parameter — PySpark dispatches on lambda
    # ARITY, and a 2-arg lambda receives (element, array_index), silently
    # overriding the default. That bug made all 4 windows per digest rotate
    # by element index; small-SF sweeps never caught it because both
    # engines' candidate sets still covered every (high-jaccard) true pair
    # — the sf1 sweep surfaced it as 793 missing borderline pairs (r4).
    def _sub8(off: int):
        return lambda d: F.substring(d, off, 8)

    mh = hs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("h1" if j < 4 else "h2", _sub8((j % 4) * 8 + 1))
            ).alias(f"mh{j}")
            for j in range(N_PERM)
        ],
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))).alias("bh"),
        )
        for b in range(N_BANDS)
    ]
    bands = mh.select("doc_id", F.explode(F.array(*band_structs)).alias("x")).select(
        "doc_id", F.col("x.band").alias("band"), F.col("x.bh").alias("bh")
    )
    # r13: the band self-join is two subtree copies of the SKETCH (2x md5
    # per shingle + 8 array_min + band hashes — profiled as two ~13 CPU-s
    # stages at sf1). Persist the slim (doc_id, band, bh) rows so the
    # sketch runs once and both join sides read the cache.
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    bands.count()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_SIMHASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents
),
h AS (  -- first 15 md5 hex chars -> BIGINT (= Spark conv(_, 16, 10))
  SELECT doc_id, list_sum(list_transform(range(1, 16), i ->
      CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1
           AS BIGINT)
      * (CAST(1 AS BIGINT) << CAST(4 * (15 - i) AS INT)))) AS hv
  FROM tok
),
bits AS (
  SELECT doc_id, bb.bit,
         SUM(CASE WHEN (hv >> CAST(bb.bit AS INT)) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(range(0, 60)) AS bit) bb
  GROUP BY doc_id, bb.bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0
                     THEN CAST(1 AS BIGINT) << CAST(bit AS INT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


@register(
    "c01_simhash",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash signatures: per-token 60-bit hash from md5 hex (conv base "
    "16→10), per-bit ±1 votes aggregated JVM-side, sign-packed to a BIGINT. "
    "Near-dup pairs then block on 15-bit sub-bands + hamming<=3 "
    "(bit_count(xor)). The md5 token hash makes even this bit-twiddling "
    "exactly reproducible in SQL: the oracle rebuilds the 60-bit hash from "
    "the same 15 md5 hex chars (hex->BIGINT fold), replays the ±1 votes "
    "per bit, and packs the same sign bits — upgraded from rows-only.",
)
def c01_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # r13: tokenize + per-token md5 + 60-bit votes all pipeline onto the
    # single-split scan of the tiny documents file — spread the CPU-heavy
    # kernel across cores (no-op at scale; A/B sf0.1: 2.84s -> 1.90s)
    d = spread_small_scan(d, spark, "doc_id")
    w = words_col()
    # token -> 60-bit integer hash (15 hex chars of md5 keeps it in signed range)
    tok = d.select("doc_id", F.explode(F.array_distinct(w)).alias("t"))
    tok = tok.select(
        "doc_id", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h")
    )
    # per-bit vote: +1 if bit set else -1; simhash bit = 1 iff vote sum > 0
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{bit}")
            for bit in range(60)
        ]
    )
    sig = sum(
        (F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit).cast("long")).otherwise(F.lit(0).cast("long")))
        for bit in range(60)
    )
    return votes.select("doc_id", sig.alias("simhash"))


_ND_BANDS = 8  # band-OR candidate blocking: P(candidate) = 1-(1-p^bits)^bands
_ND_BITS = 4  # sign bits per band → 16 buckets/band (raise at higher SF so
#              band buckets stay executor-sized; candidates scale ~N²/2^bits)
_ND_DIM = 64


def _nd_planes(n_planes: int = _ND_BANDS * _ND_BITS) -> list[list[float]]:
    """Fixed seeded hyperplanes shared verbatim by the Spark path (as
    column literals) and the oracle SQL (as list literals) — the same
    determinism contract as the md5 minhash above."""
    import numpy as np

    rng = np.random.RandomState(7)
    return rng.randn(n_planes, _ND_DIM).tolist()


def _nd_plane_dot(e, plane: list[float]):
    """round(dot(e, plane), 6) — rounding keeps a last-ulp summation-order
    difference between engines from flipping the sign bit."""
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.round(
        F.aggregate(
            F.zip_with(e, arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        ),
        6,
    )


def _nd_band_cols(e, n_bands: int = _ND_BANDS, n_bits: int = _ND_BITS) -> list:
    """One int column per band: the band's sign bits packed MSB-first."""
    planes = _nd_planes(n_bands * n_bits)
    bands = []
    for j in range(n_bands):
        val = F.lit(0)
        for k in range(n_bits):
            bit = (
                F.when(_nd_plane_dot(e, planes[j * n_bits + k]) >= 0, 1)
                .otherwise(0)
            )
            val = val * 2 + bit
        bands.append(val.cast("int"))
    return bands


def _nd_oracle() -> str:
    """DuckDB replica of the banded near-dup: identical plane literals,
    identical 6-dp rounding before the sign test, band-OR candidate join."""
    planes = _nd_planes()

    def lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    bit_sql = [
        "CASE WHEN round(list_sum(list_transform(range(1, len(e) + 1), "
        f"i -> e[i] * ({lit(p)})[i])), 6) >= 0 THEN 1 ELSE 0 END"
        for p in planes
    ]
    band_sql = []
    for j in range(_ND_BANDS):
        parts = [
            f"({bit_sql[j * _ND_BITS + k]}) * {1 << (_ND_BITS - 1 - k)}"
            for k in range(_ND_BITS)
        ]
        band_sql.append(" + ".join(parts) + f" AS band{j}")
    cond = " OR ".join(f"a.band{j} = b.band{j}" for j in range(_ND_BANDS))
    bands = ",\n                 ".join(band_sql)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm,
                 {bands}
          FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(range(1, len(a.e) + 1),
                                         i -> a.e[i] * b.e[i]))
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id AND ({cond})
    WHERE round(list_sum(list_transform(range(1, len(a.e) + 1),
                                        i -> a.e[i] * b.e[i]))
                / (a.nrm * b.nrm), 6) >= 0.45
    """


@register(
    "c01_embedding_neardup",
    oracle=_nd_oracle(),
    doc="Embedding-cosine near-dup via sign-LSH band blocking: candidate "
    "pairs share at least one of the band bucket ids; cosine >= 0.45 "
    "verified within candidates only. The oracle replicates the exact same "
    "banding (identical plane literals, dots rounded to 6 dp before the "
    "sign test), so even LSH false-negatives match bit-for-bit — the "
    "c01_minhash_lsh determinism trick applied to vectors. Scale: the join "
    "key is (band_idx, band_val) — a hash shuffle, never a cartesian; at "
    "100 TB raise _ND_BITS so band buckets stay executor-sized (the 4-bit "
    "setting here keeps sf0.01 buckets statistically meaningful).",
)
def c01_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_df(spark, sf_dir)


def _nd_band_udf(n_bands: int, n_bits: int):
    """Arrow-batched band sketch: one BLAS matmul per batch replaces
    bands*bits separate fold expressions (the JVM fold path interprets
    ~P x DIM lambda steps per row — fine at 32 planes, 10x too slow at 80).
    Same formula (round(dot, 6) >= 0, MSB-first packing); summation order
    inside the matmul may differ in the last ulp from the left fold, so the
    ORACLE-matched registered query keeps the fold sketch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t = np.asarray(_nd_planes(n_bands * n_bits)).T  # (DIM, P)
    weights = (1 << np.arange(n_bits - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<integer>")
    def band_ids(e: pd.Series) -> pd.Series:
        m = np.stack(e.to_numpy())  # (n, DIM)
        bits = (np.round(m @ planes_t, 6) >= 0).astype(np.int64)  # (n, P)
        bands = bits.reshape(len(m), n_bands, n_bits) @ weights  # (n, B)
        return pd.Series(list(bands.astype(np.int32)))

    return band_ids


def embedding_neardup_df(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = _ND_BANDS,
    n_bits: int = _ND_BITS,
    sketch: str = "fold",
) -> DataFrame:
    """Parameterized banded near-dup: ``n_bits`` is the scale knob — band
    buckets hold ~N/2^bits vectors, so candidate volume is ~bands x N²/2^bits
    x 1/2. The registered query pins (8, 4, fold-sketch) to match the static
    oracle at sf0.01; larger corpora call this directly with bits sized so
    buckets stay executor-sized and ``sketch='pandas'`` (vectorized matmul —
    the sf1 bench row runs bits=10 that way)."""
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    # r14 (guide §2, §1.2): the sf1 embeddings file is ONE input split, so
    # the band sketch, the band-join probe, and the pre-distinct partial
    # aggregate all ran on 1-2 tasks (isolated: sketch+pairs 3.3 s of the
    # 4.6 s total). Spread ONLY when the scan has fewer splits than cores
    # (the pq_codes_scaled pattern) — structurally inert at 100 TB where
    # the scan already yields thousands of splits.
    v = spread_small_scan(v, spark, "vec_id")
    nrm = F.sqrt(
        F.aggregate(
            F.transform("e", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    if sketch == "pandas":
        bands_col = _nd_band_udf(n_bands, n_bits)("e")
    else:
        bands_col = F.array(*_nd_band_cols("e", n_bands, n_bits))
    n = v.select(
        "vec_id",
        "e",
        nrm.alias("nrm"),
        bands_col.alias("bands"),
    )
    # r13: n feeds FOUR subtrees (both sides of the band self-join and
    # both vector-fetch sides of the verify), so the scan + norm + band
    # sketch ran 4x — at bits=10/pandas that is 4 matmul passes over the
    # corpus. Persist and materialize once; every consumer reads the
    # cached columnar batches (the c01_minhash_lsh pattern).
    from pyspark import StorageLevel

    n = n.persist(StorageLevel.MEMORY_AND_DISK)
    n.count()
    # candidate generation carries ONLY (vec_id, band): the band-join
    # exchange moves 16-byte rows, not kilobyte vectors. Vectors come
    # back via two id-joins (broadcast-able when the table fits; plain
    # hash joins at scale).
    # r14 (guide §2.4): when band buckets are SPARSE (bits >= 8, the
    # scale setting — buckets hold ~N/2^bits rows), the pair-dedup
    # DISTINCT moves from before the verify to after the similarity
    # filter: at bits=10/sf1 only 13% of raw collisions are cross-band
    # duplicates (2.99M raw vs 2.60M distinct), so pre-deduping shuffled
    # 2.6M rows to save 0.4M dot products; deduping the filter's
    # survivors (99k rows at sf1) is a far smaller exchange. Duplicated
    # pairs recompute an identical, deterministic cos_sim, so the
    # post-filter distinct yields the same row set either way.
    # Interleaved cold-cache A/B: sf1 bits=10 2.8-4.1 -> 2.5 s. DENSE
    # buckets invert the trade (bits=4/sf1: near-dups collide in most of
    # the 16 buckets per band, raw pairs ~8x distinct, verify explodes
    # 57 s), so the small-bits setting keeps the early distinct — the
    # same bucket-occupancy reasoning that makes n_bits the scale knob.
    late_dedup = n_bits >= 8
    cand = n.select("vec_id", F.posexplode("bands").alias("band_idx", "band_val"))
    pairs = (
        cand.alias("x")
        .join(cand.alias("y"), ["band_idx", "band_val"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
    )
    if not late_dedup:
        pairs = pairs.distinct()
    vecs = n.select("vec_id", "e", "nrm")
    a = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sim = F.round(dot / (F.col("na") * F.col("nb")), 6)
    out = (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.45)
    )
    # a pair is unique by its key; cos_sim is a function of it
    return out.dropDuplicates(["vec_a", "vec_b"]) if late_dedup else out


# prefix-filtered candidates + exact verify (see _O_PREF_CAND: identical
# output to the pairwise cross join, tractable at sf1)
_O_PAIRS = f"SELECT doc_a, doc_b FROM ({_O_PAIRS_SELECT})"

# Unrolled min-label rounds in the DuckDB oracle.  The previous oracle was a
# recursive-CTE transitive closure — O(sum of component-size²) rows, which
# is intractable at sf0.1.  Plain label propagation is linear per round
# (|nodes| + |edges| rows), so R chained CTEs cost R·|E| total.  R bounds
# the graph diameter the oracle can certify; if the fixpoint is NOT reached
# after R rounds the query raises via DuckDB error() (lazily evaluated:
# the poison branch scans an empty set when converged) instead of silently
# emitting wrong labels.
_CC_ORACLE_ROUNDS = 64


def _cc_oracle_sql(rounds: int = _CC_ORACLE_ROUNDS) -> str:
    # Every CTE is AS MATERIALIZED: DuckDB 1.0 INLINES multiply-referenced
    # CTEs, so without it each round's two references to the previous round
    # expand 2^rounds copies of the base parquet scan (observed as "too
    # many open files" long before any tuple flows).
    ctes = [
        f"pairs AS MATERIALIZED ({_O_PAIRS})",
        "edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM edges)",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"l{k} AS MATERIALIZED (SELECT node, MIN(label) AS label FROM ("
            f"SELECT node, label FROM l{k - 1} "
            f"UNION ALL "
            f"SELECT e.b AS node, l.label FROM l{k - 1} l "
            f"JOIN edges e ON l.node = e.a) GROUP BY node)"
        )
    ctes.append(
        f"poison AS (SELECT 1 AS x FROM l{rounds} a JOIN l{rounds - 1} b "
        "ON a.node = b.node AND a.label <> b.label)"
    )
    return (
        _O_SHINGLE_BASE
        + _O_PREF_CAND
        + ", "
        + ", ".join(ctes)
        + f"""
    SELECT node AS doc_id, CAST(label AS BIGINT) AS cluster_id FROM l{rounds}
    UNION ALL
    SELECT CAST(error('cc oracle: not converged in {rounds} rounds') AS BIGINT),
           CAST(NULL AS BIGINT) FROM poison
    """
    )


def connected_components(
    pairs: DataFrame, max_rounds: int = 60
) -> tuple[DataFrame, int]:
    """Connected components over an undirected pair list by the Alternating
    large-star / small-star algorithm (Kiveris et al., *Connected Components
    in MapReduce and Beyond*, SoCC'14 — public). Returns ``(labels, rounds)``
    where ``labels`` has columns ``(node, label)`` and ``label`` is the
    component minimum.

    Why not plain min-label propagation: that converges in O(diameter)
    rounds, so a chain component of depth d needs d shuffles — and any
    fixed cap silently mislabels deeper graphs. The alternating algorithm
    contracts toward stars, converging in O(log n) rounds in practice
    (O(log² n) proven), and every intermediate edge set stays ≤ 2|E| with
    edges always pointing big→small — so each round is two bounded
    ``groupBy(node)`` shuffles regardless of topology. Per-round
    ``localCheckpoint`` bounds lineage; only the convergence flag crosses
    the driver. Raises ``RuntimeError`` if ``max_rounds`` is exhausted
    instead of returning partial labels.
    """
    # r14 (guide §2.4/§5): checkpoint the INPUT pair list first. nodes and
    # edges both checkpoint off ``pairs``, and nodes' two union branches
    # don't share work — so the caller's whole pair-generation pipeline
    # (e.g. the LSH band join + Jaccard verify) executed ~3x before the
    # first round started (isolated at sf1: ~9 s of the 13.7 s CC wall).
    # One eager checkpoint of the 16-byte pair rows executes it once;
    # nodes additionally fold their two branches into a single
    # explode-distinct pass over the checkpoint.
    pairs = pairs.localCheckpoint()
    nodes = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("node")
        )
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_count = edges.count()
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # large-star: every neighbor LARGER than u links to the minimum of
        # u's closed neighborhood (min over least(u, v) of the symmetric
        # adjacency == min(Γ(u) ∪ {u}))
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min(F.least("u", "v")).alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: all (smaller) neighbors and u itself link to the
        # minimum of the closed neighborhood (edges point big→small, so
        # m = min(v) ≤ every neighbor)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # exact set-equality via counts (r13): both sides are DISTINCT
        # (u, v) sets, so small == edges iff |small| == |edges| and
        # |small ∪ edges| == |edges| — one cheap count over the fresh
        # checkpoint plus one union-distinct count, replacing the two
        # exceptAll set-differences the old check shuffled every round.
        new_count = small.count()
        converged = new_count == prev_count and (
            small.union(edges).distinct().count() == prev_count
        )
        prev_count = new_count
        edges = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} "
            "large-star/small-star rounds — refusing to return partial labels"
        )
    labels = (
        nodes.join(edges.withColumnsRenamed({"u": "node", "v": "label"}), "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )
    return labels, rounds


@register(
    "c01_dedup_clusters",
    oracle=_cc_oracle_sql(),
    doc="Near-dup CLUSTER formation — connected components over the "
    "Jaccard>=0.8 pair graph (the step a real dedup pipeline runs after "
    "pair generation: keep one doc per component). Spark side runs the "
    "Alternating large-star/small-star algorithm (Kiveris et al. SoCC'14): "
    "O(log n) rounds, two bounded groupBy-node shuffles per round, raises "
    "rather than mislabel if the fixpoint is not reached. The oracle runs "
    "unrolled min-label propagation (linear per round, tractable at sf0.1, "
    "unlike the O(n²) recursive-CTE closure) and error()s if 64 rounds "
    "don't reach a fixpoint. Driver control is iteration-only — no data "
    "crosses the driver.",
)
def c01_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = c01_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").cast("long").alias("cluster_id")
    )


# --- C4-style duplicate-span removal (sub-document exact dedup) ----------

SPAN_K = 10  # tokens per non-overlapping span ("line" analog)

_LINE_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT doc_id, w,
             unnest(range(0, (len(w) + {SPAN_K - 1}) // {SPAN_K})) AS span_idx
      FROM t),
sp AS (SELECT doc_id, span_idx,
              array_to_string(
                list_slice(w, CAST(span_idx * {SPAN_K} + 1 AS INT),
                              CAST(span_idx * {SPAN_K} + {SPAN_K} AS INT)),
                ' ') AS span
       FROM s),
f AS (SELECT doc_id, span_idx, span,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, span_idx) = 1 AS keep
      FROM sp)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN span END, ' '
                           ORDER BY span_idx), '') AS kept_text
FROM f GROUP BY doc_id
"""


@register(
    "c01_line_dedup",
    oracle=_LINE_DEDUP_ORACLE,
    doc=f"C4-style duplicate-span removal (Raffel et al. 2020, "
    f"arXiv:1910.10683 §2.2 deduplicates repeated three-sentence spans "
    f"corpus-wide): documents are cut into non-overlapping {SPAN_K}-token "
    "spans, every span occurrence after the first — globally, ordered by "
    "(doc_id, span_idx) — is dropped, and each document is reassembled "
    "from its surviving spans. Output: per-doc span counts plus the "
    "cleaned text. 100 TB shape: the winner per span value is a "
    "map-side-combinable MIN(struct(doc_id, span_idx)) aggregation (NOT a "
    "row_number window — a window would serialize each hot boilerplate "
    "span onto one task with no partial aggregation; min-struct "
    "pre-reduces hot spans inside each map task), followed by one "
    "span-keyed join (AQE splits residual skew) and one doc_id shuffle to "
    "reassemble. Only span text + two longs ever travel.",
)
def c01_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup_df(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def line_dedup_df(d: DataFrame) -> DataFrame:
    """Core C4-style span dedup over any (doc_id, text) frame — split out
    so the Hypothesis property suite can drive it on generated corpora."""
    w = words_col()
    n_sp = F.ceil(F.size(w) / F.lit(SPAN_K)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_sp - 1),
        lambda i: F.array_join(F.slice(w, i * SPAN_K + 1, SPAN_K), " "),
    )
    s = d.select("doc_id", F.posexplode(spans).alias("span_idx", "span"))
    winners = s.groupBy("span").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first")
    )
    flagged = s.join(winners, "span").select(
        "doc_id",
        "span_idx",
        "span",
        (
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.span_idx") == F.col("span_idx"))
        ).alias("keep"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("span_idx", "span"))
                    )
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("kept_text"),
    )


# --- incremental cross-snapshot dedup -------------------------------------

_XSNAP_ORACLE = """
WITH prev AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 17 <> 3
),
incoming AS (
  SELECT doc_id, md5(text) AS digest
  FROM documents WHERE doc_id % 17 = 3
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id, md5(text) AS digest
  FROM documents WHERE doc_id % 23 = 11 AND doc_id % 17 <> 3
)
SELECT i.doc_id,
       CASE WHEN MIN(p.doc_id) IS NULL THEN 'new_unique'
            ELSE 'dup_of_prev' END AS status,
       MIN(p.doc_id) AS match_doc_id
FROM incoming i LEFT JOIN prev p ON p.digest = i.digest
GROUP BY i.doc_id
"""


@register(
    "c01_cross_snapshot_dedup",
    oracle=_XSNAP_ORACLE,
    doc="INCREMENTAL dedup — a new crawl batch checked against the "
    "EXISTING corpus index, never corpus-vs-corpus (the production "
    "steady state: after the initial dedup, every subsequent batch is "
    "delta-sized). The incoming batch = the docs absent from the "
    "previous snapshot (the snapshot_delta 'added' class) plus mirrored "
    "exact copies of existing docs (injected so the dup branch is "
    "non-trivial — the corpus has no natural exact dups); each incoming "
    "doc left-joins the prev digest index and reports new_unique or "
    "dup_of_prev with the lowest matching prev doc_id. 100 TB shape: "
    "only (doc_id, 16-byte digest) ever shuffles, the join keys on the "
    "digest (uniform, no skew), and cost is O(batch + index probe) per "
    "ingestion cycle — not O(corpus²) and not even O(corpus) re-hash "
    "when the index digests are persisted (here both sides derive from "
    "the same table so the oracle stays self-contained).",
)
def c01_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    prev = d.where(F.col("doc_id") % 17 != 3).select(
        F.col("doc_id").alias("p_doc_id"), F.md5("text").alias("digest")
    )
    added = d.where(F.col("doc_id") % 17 == 3).select(
        "doc_id", F.md5("text").alias("digest")
    )
    mirrored = d.where(
        (F.col("doc_id") % 23 == 11) & (F.col("doc_id") % 17 != 3)
    ).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        F.md5("text").alias("digest"),
    )
    incoming = added.unionAll(mirrored)
    return (
        incoming.join(prev, "digest", "left")
        .groupBy("doc_id")
        .agg(F.min("p_doc_id").alias("match_doc_id"))
        .select(
            "doc_id",
            F.when(F.col("match_doc_id").isNull(), "new_unique")
            .otherwise("dup_of_prev")
            .alias("status"),
            "match_doc_id",
        )
    )
