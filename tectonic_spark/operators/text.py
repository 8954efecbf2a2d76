"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.B c3
plus the training-data-pipeline surface: token stats, language-ID heuristic,
quality scoring, document fingerprinting).

All hot-path computation is JVM-side ``pyspark.sql.functions`` higher-order
array functions (split/transform/aggregate/filter) — no Python UDFs — so at
100 TB these run inside whole-stage codegen with the parquet scan pruned to
(doc_id, text). The exceptions are the two page census queries
(``c03_structured_data``, ``c03_markdown_census``), which build and parse a
page per document in the shared per-document kernel,
:func:`tectonic_spark.tables.map_documents`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tectonic_spark.operators.registry import bounded_key, register
from tectonic_spark.tables import map_documents, table

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Consistency (Spark result == oracle result) is what the
# correctness gate checks; the lists are deliberately small and public.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "est", "dans"],
}


def words_col(text: Column = None) -> Column:
    """Whitespace tokenization (documents.text is space-separated)."""
    return F.split(text if text is not None else F.col("text"), " ")


def shingles_col(w: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (caller filters size>=k).

    Built as a zip_with over k shifted slices of the token array — ~3x
    faster than per-index element_at+concat_ws (no repeated array probing;
    one pass per shift, all inside whole-stage codegen)."""
    n_sh = F.size(w) - F.lit(k - 1)
    shifted = [F.slice(w, i + 1, n_sh) for i in range(k)]
    acc = shifted[0]
    for nxt in shifted[1:]:
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(acc)


O_WORDS = "string_split(text, ' ')"


def o_shingles(w: str = "w", k: int = 3) -> str:
    """DuckDB counterpart of :func:`shingles_col` (1-indexed lists)."""
    cat = " || ' ' || ".join(f"{w}[i+{j}]" if j else f"{w}[i]" for j in range(k))
    return f"list_distinct(list_transform(range(1, len({w}) - {k - 2}), i -> {cat}))"


@register(
    "c03_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {O_WORDS} AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS avg_token_len,
           n_chars
    FROM t
    """,
    doc="Token counting: whitespace tokens, distinct tokens, mean token "
    "length (exact integer sums, one double division).",
)
def c03_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col()
    tok_len_sum = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        (tok_len_sum.cast("double") / F.size(w)).alias("avg_token_len"),
        "n_chars",
    )


def _hits(w: Column, lang: str) -> Column:
    return F.size(F.array_intersect(F.array_distinct(w), F.array(*[F.lit(s) for s in STOPWORDS[lang]]))).cast("long")


def _o_hits(lang: str) -> str:
    lst = ", ".join(f"'{s}'" for s in STOPWORDS[lang])
    return f"CAST(len(list_intersect(list_distinct(w), [{lst}])) AS BIGINT)"


@register(
    "c03_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {O_WORDS} AS w FROM documents),
    h AS (SELECT doc_id,
                 {_o_hits('en')} AS hits_en,
                 {_o_hits('es')} AS hits_es,
                 {_o_hits('de')} AS hits_de,
                 {_o_hits('fr')} AS hits_fr
          FROM t)
    SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,
           CASE WHEN hits_en = 0 AND hits_es = 0 AND hits_de = 0 AND hits_fr = 0 THEN 'unknown'
                WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
                WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
                WHEN hits_de >= hits_fr THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM h
    """,
    doc="Stopword-overlap language-ID heuristic; the CASE order is the "
    "deterministic tie-break, identical in Spark and the oracle.",
)
def c03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col()
    h = d.select(
        "doc_id",
        _hits(w, "en").alias("hits_en"),
        _hits(w, "es").alias("hits_es"),
        _hits(w, "de").alias("hits_de"),
        _hits(w, "fr").alias("hits_fr"),
    )
    en, es, de, fr = [F.col(f"hits_{x}") for x in ("en", "es", "de", "fr")]
    pred = (
        F.when((en == 0) & (es == 0) & (de == 0) & (fr == 0), "unknown")
        .when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return h.select("doc_id", "hits_en", "hits_es", "hits_de", "hits_fr", pred.alias("lang_pred"))


@register(
    "c03_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {O_WORDS} AS w FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
           CAST(len(list_filter(w, x -> length(x) > 3)) AS DOUBLE) / len(w) AS long_token_ratio,
           0.5 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
             + 0.5 * (CAST(len(list_filter(w, x -> length(x) > 3)) AS DOUBLE) / len(w)) AS quality_score
    FROM t
    """,
    doc="Quality scoring: lexical-diversity and long-token ratios combined "
    "into one score (all integer counts; divisions deterministic).",
)
def c03_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col()
    n = F.size(w)
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n
    long_ratio = F.size(F.filter(w, lambda x: F.length(x) > 3)).cast("double") / n
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n.cast("long").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        long_ratio.alias("long_token_ratio"),
        (0.5 * distinct_ratio + 0.5 * long_ratio).alias("quality_score"),
    )


@register(
    "c03_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
           md5(string_split(text, ' ')[1]) AS head_hash
    FROM documents
    """,
    doc="Document fingerprint: md5 of whitespace-normalized lowercase text "
    "(+ first-token hash). Grouping by fingerprint = exact-dup clustering.",
)
def c03_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("fingerprint"),
        F.md5(F.split(F.col("text"), " ").getItem(0)).alias("head_hash"),
    )


@register(
    "c03_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(
                regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))
                AS BIGINT) AS n_unique
    FROM documents
    """,
    doc="BPE-ish pre-tokenization: letter runs | digit runs | single "
    "punctuation (the GPT-2 pre-tokenizer shape, simplified to a pattern "
    "with identical semantics in Java regex and RE2). Token counts feed "
    "length filtering / cost estimation in a training-data pipeline.",
)
def c03_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )


CHUNK_W, CHUNK_S = 64, 48  # window width / stride (16-token overlap)


@register(
    "c03_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {O_WORDS} AS w FROM documents),
    s AS (SELECT doc_id, w, unnest(range(0, len(w), {CHUNK_S})) AS start FROM t)
    SELECT doc_id,
           CAST(start // {CHUNK_S} AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(w, start + 1, start + {CHUNK_W}), ' ') AS chunk_text,
           CAST(len(list_slice(w, start + 1, start + {CHUNK_W})) AS BIGINT) AS n_chunk_tokens
    FROM s
    """,
    doc=f"Overlapping token-window chunking ({CHUNK_W}-token windows, "
    f"stride {CHUNK_S}): the standard long-document → training-sequence "
    "split. One generate (posexplode over a sequence of starts) per doc — "
    "no shuffle at all; output is partition-local to the scan.",
)
def c03_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(0), F.size(F.col("w")) - 1, F.lit(CHUNK_S))
    chunk = F.slice(F.col("w"), F.col("start") + 1, F.lit(CHUNK_W))
    return (
        d.select("doc_id", words_col().alias("w"))
        .select(
            "doc_id", "w", F.posexplode(starts).alias("chunk_idx", "start")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
        )
    )


# Redaction patterns: identical semantics in Java regex (Spark) and RE2
# (DuckDB) — character classes, bounded repetition, no backrefs.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_NUM_PAT = r"[0-9]{6,}"


@register(
    "c03_redaction",
    oracle=f"""
    WITH fx AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ref ' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
               AS full_text
      FROM documents),
    e AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(full_text, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
                 regexp_replace(full_text, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS t1
          FROM fx)
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{_NUM_PAT}')) AS BIGINT) AS n_longnums,
           regexp_replace(t1, '{_NUM_PAT}', '<NUM>', 'g') AS redacted
    FROM e
    """,
    doc="PII-style scrubbing: emails → <EMAIL> first (so their digit runs "
    "can't double-count), then 6+-digit runs → <NUM>. The PII is injected "
    "deterministically from doc_id because the synthetic corpus contains "
    "none — the injection makes every row exercise both patterns. Pure "
    "regexp_replace: codegen'd, shuffle-free, scan-pruned to (doc_id, text).",
)
def c03_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ref "),
        F.lpad(F.col("doc_id").cast("string"), 9, "0"),
    )
    t1 = F.regexp_replace(full, _EMAIL_PAT, "<EMAIL>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(full, F.lit(_EMAIL_PAT), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(_NUM_PAT), F.lit(0))).cast("long").alias("n_longnums"),
        F.regexp_replace(t1, _NUM_PAT, "<NUM>").alias("redacted"),
    )


@register(
    "c03_unigram_logprob",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({O_WORDS}) AS tok FROM documents),
    c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM c)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(-SUM(ln(c.cnt) - ln(tot.total)) / COUNT(*), 6)
             AS avg_neg_logprob
    FROM t JOIN c USING (tok), tot
    GROUP BY t.doc_id
    """,
    doc="Language-model quality scoring, CCNet-style (Wenzek et al. 2020, "
    "arXiv:1911.00359 — public): per-document mean negative log-probability "
    "under the corpus's own unigram model (two-pass: count tokens "
    "globally, then score each document's tokens against the model). Low "
    "scores = repetitive/common text, high = rare-token noise — the "
    "standard perplexity-bucket filter of web-corpus pipelines, here with "
    "the in-corpus LM so no external artifact is needed. 100 TB shape: "
    "the model pass is a token-keyed partial-agg shuffle (vocab-bounded "
    "groups, hot tokens pre-reduced map-side), scoring re-joins tokens on "
    "the token key (AQE splits hot-token skew), and the per-doc aggregate "
    "is one doc_id shuffle. Output rounded to 6 dp: the ln() sums differ "
    "across engines only in the last ulps (<1e-11 for 1e3-token docs).",
)
def c03_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words_col()).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    scored = tok.join(counts, "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            -F.sum(F.log("cnt") - F.log("total")) / F.count(F.lit(1)), 6
        ).alias("avg_neg_logprob"),
    )


# --- Naive Bayes language classifier (model trained in the same plan) -----

_NB_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, unnest({O_WORDS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, tok),
ct AS (SELECT lang AS cls, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM tok GROUP BY lang, tok),
ctot AS (SELECT cls, SUM(cnt) AS cls_total FROM ct GROUP BY cls),
v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM tok),
pri AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang),
td AS (SELECT COUNT(*) AS total_docs FROM documents),
sc AS (
  SELECT tf.doc_id, c.cls,
         SUM(tf.tf * (ln(COALESCE(ct.cnt, 0) + 1)
                      - ln(ctot.cls_total + v.vocab))) AS ll
  FROM tf
  CROSS JOIN (SELECT cls FROM pri) c
  LEFT JOIN ct ON ct.cls = c.cls AND ct.tok = tf.tok
  JOIN ctot ON ctot.cls = c.cls, v
  GROUP BY tf.doc_id, c.cls),
ranked AS (
  SELECT sc.doc_id, sc.cls,
         round(sc.ll + ln(pri.n_docs) - ln(td.total_docs), 6) AS score
  FROM sc JOIN pri USING (cls), td),
best AS (
  SELECT doc_id, cls, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls ASC) AS rn
  FROM ranked)
SELECT b.doc_id, d.lang, b.cls AS pred_lang, b.score AS nb_score,
       (b.cls = d.lang) AS is_correct
FROM best b JOIN documents d USING (doc_id) WHERE rn = 1
"""


@register(
    "c03_nb_langid",
    oracle=_NB_ORACLE,
    doc="Classifier-based quality/language filtering — the shape of "
    "GPT-3's quality classifier (Brown et al. 2020, arXiv:2005.14165 "
    "Appendix A) with a multinomial Naive Bayes model instead of "
    "fastText, trained and applied in ONE Catalyst plan: token|class "
    "counts with add-one smoothing over the corpus itself, each document "
    "scored against every class, argmax with a (rounded score DESC, class "
    "ASC) deterministic tie-break. 100 TB shape: the model is three "
    "vocab/class-bounded aggregates (map-side combinable token shuffles); "
    "scoring broadcasts the model (vocab-bounded — were the vocab "
    "unbounded the scoring join would key on tok instead) so the corpus "
    "itself shuffles only on (doc_id, tok) for term frequencies and "
    "doc_id for the final argmax. Scores rounded to 6 dp before the "
    "argmax so both engines rank identical values (ln() sums agree to "
    "<1e-11, the unigram-logprob-verified bound).",
)
def c03_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(words_col()).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    cls_tok = (
        tok.groupBy(F.col("lang").alias("cls"), "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cls_tot = cls_tok.groupBy("cls").agg(F.sum("cnt").alias("cls_total"))
    vocab = tok.select("tok").distinct().agg(F.count(F.lit(1)).alias("vocab"))
    priors = d.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total_docs = d.agg(F.count(F.lit(1)).alias("total_docs"))

    scored = (
        tf.crossJoin(F.broadcast(priors.select("cls")))
        .join(F.broadcast(cls_tok), ["cls", "tok"], "left")
        .join(F.broadcast(cls_tot), "cls")
        .crossJoin(F.broadcast(vocab))
    )
    contrib = F.col("tf") * (
        F.log(F.coalesce(F.col("cnt"), F.lit(0)) + 1)
        - F.log(F.col("cls_total") + F.col("vocab"))
    )
    per_class = (
        scored.groupBy("doc_id", "cls")
        .agg(F.sum(contrib).alias("ll"))
        .join(F.broadcast(priors), "cls")
        .crossJoin(F.broadcast(total_docs))
        .select(
            "doc_id",
            "cls",
            F.round(
                F.col("ll") + F.log("n_docs") - F.log("total_docs"), 6
            ).alias("score"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cls").asc()
    )
    best = per_class.withColumn("rn", F.row_number().over(win)).where(
        F.col("rn") == 1
    )
    return best.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("cls").alias("pred_lang"),
        F.col("score").alias("nb_score"),
        (F.col("cls") == F.col("lang")).alias("is_correct"),
    )


# --- TF-IDF keyword extraction --------------------------------------------

TFIDF_TOPK = 3

_TFIDF_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({O_WORDS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tok GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
sc AS (SELECT tf.doc_id, tf.term,
              round(tf.tf * (ln(n.n_docs) - ln(df.df)), 6) AS tfidf
       FROM tf JOIN df USING (term), n),
r AS (SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rk
      FROM sc)
SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= {TFIDF_TOPK}
"""


@register(
    "c03_tfidf_keywords",
    oracle=_TFIDF_ORACLE,
    doc=f"TF-IDF keyword extraction: top-{TFIDF_TOPK} terms per document "
    "by tf x ln(N/df) (Sparck Jones 1972 idf) — the per-document salient-"
    "term summary feeding search indexing / topic labeling in a corpus "
    "pipeline. Ranking uses 6dp-rounded scores with a term-ASC tie-break "
    "so both engines pick identical keywords. 100 TB shape: term "
    "frequencies shuffle on (doc_id, term) with map-side combine; the "
    "document-frequency table is vocab-bounded and broadcasts; the final "
    "top-k is a doc_id-partitioned window over per-doc-sized groups.",
)
def c03_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words_col()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    sc = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log("n_docs") - F.log("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tfidf", "rk")
    )


# --- bigram LM quality scoring ---------------------------------------------

_BIGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {O_WORDS} AS w FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(w)),
                                    i -> w[i] || ' ' || w[i + 1])) AS big
       FROM t WHERE len(w) >= 2),
bc AS (SELECT big, CAST(COUNT(*) AS BIGINT) AS bcnt FROM bg GROUP BY big),
u AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ucnt
      FROM (SELECT unnest({O_WORDS}) AS tok FROM documents) GROUP BY tok),
v AS (SELECT COUNT(*) AS vocab FROM u)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(-SUM(ln(bc.bcnt + 1)
                  - ln(u.ucnt + v.vocab)) / COUNT(*), 6)
         AS avg_neg_logprob
FROM bg
JOIN bc USING (big)
JOIN u ON u.tok = string_split(bg.big, ' ')[1], v
GROUP BY bg.doc_id
"""


@register(
    "c03_bigram_logprob",
    oracle=_BIGRAM_ORACLE,
    doc="Bigram-LM quality scoring — the unigram CCNet scorer "
    "(c03_unigram_logprob) upgraded to conditional probabilities: "
    "per-doc mean negative ln p(w_i | w_{{i-1}}) under the corpus's own "
    "add-one-smoothed bigram model (p = (c(ab)+1)/(c(a)+V)). Bigram "
    "surprisal separates shuffled-word junk from fluent text, which "
    "unigram frequency alone cannot. 100 TB shape: the bigram and "
    "unigram count passes are map-side-combined token-keyed shuffles "
    "(bigram vocab bounded by observed pairs); scoring re-joins the "
    "bigram stream on its own key plus the prev-token key, then one "
    "doc_id aggregation. 6dp-rounded output, the verified unigram "
    "cross-engine ln() bound.",
)
def c03_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = words_col()
    n_b = F.size(w) - 1
    bigs = F.zip_with(
        F.slice(w, 1, n_b),
        F.slice(w, 2, n_b),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        d.where(F.size(w) >= 2)
        .select("doc_id", F.explode(bigs).alias("big"))
    )
    bc = bg.groupBy("big").agg(F.count(F.lit(1)).alias("bcnt"))
    u = (
        d.select(F.explode(w).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    vocab = u.agg(F.count(F.lit(1)).alias("vocab"))
    scored = (
        bg.join(bc, "big")
        .join(u, F.split(F.col("big"), " ").getItem(0) == F.col("tok"))
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            -F.sum(F.log(F.col("bcnt") + 1) - F.log(F.col("ucnt") + F.col("vocab")))
            / F.count(F.lit(1)),
            6,
        ).alias("avg_neg_logprob"),
    )


# --- count-min-sketch heavy hitters (r5) ----------------------------------

CMS_D = 4  # hash rows
CMS_W = 1024  # buckets per row
CMS_TOPK = 50


def _cms_bucket(tok, i: int):
    """Row-i CMS bucket of a token: first 8 hex digits of md5(tok|i) as a
    uint32, mod W — the DSIR bucket-hash idiom, salted per row."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(tok, F.lit(f"|{i}"))), 1, 8), 16, 10
        ).cast("long")
        % CMS_W
    )


def _o_cms_bucket(tok: str, i: int) -> str:
    from tectonic_spark.operators.pipeline import _o_hex32

    inner = f"substr(md5({tok} || '|{i}'), 1, 32)"
    return f"{_o_hex32(inner)} % {CMS_W}"


@register(
    "c03_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
    tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tok WHERE t <> '' GROUP BY t),
    h AS (SELECT t, n, i,
                 CASE i {' '.join(f"WHEN {i} THEN {_o_cms_bucket('t', i)}" for i in range(CMS_D))} END AS b
          FROM tc, range({CMS_D}) r(i)),
    cms AS (SELECT i, b, SUM(n) AS c FROM h GROUP BY i, b),
    est AS (SELECT h.t, h.n, CAST(MIN(cms.c) AS BIGINT) AS e
            FROM h JOIN cms USING (i, b) GROUP BY h.t, h.n)
    SELECT t AS token, n AS true_count, e AS cms_estimate,
           CAST(row_number() OVER (ORDER BY e DESC, t) AS BIGINT) AS rk
    FROM est ORDER BY e DESC, t LIMIT {CMS_TOPK}
    """,
    doc=f"Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): "
    f"a {CMS_D} x {CMS_W} CMS over the token stream (bucket = salted md5, "
    "deterministic, so the sketch — including its collisions — replays "
    f"identically in the oracle), then top-{CMS_TOPK} tokens by sketch "
    "estimate with the true count alongside. The CMS guarantee "
    "(estimate >= true, overestimate bounded by collisions) is asserted "
    "in tests. 100 TB shape: the sketch is the ONLY global state — "
    f"{CMS_D}x{CMS_W} counters built with one map-side-combined groupBy, "
    "MERGEABLE across partitions, snapshots, and streams (sum the "
    "grids); the per-token estimate join is vocabulary-bounded like "
    "TF-IDF, and a stream would instead probe candidates against the "
    "broadcast grid.",
)
def c03_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t")).where(
        F.col("t") != ""
    )
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    h = tc.select(
        "t",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(F.col("t"), i).alias("b")
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("ib"),
    ).select("t", "n", F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
    cms = h.groupBy("i", "b").agg(F.sum("n").alias("c"))
    est = (
        h.join(cms, ["i", "b"])
        .groupBy("t", "n")
        .agg(F.min("c").cast("long").alias("e"))
    )
    # vocab-bounded global rank; bounded_key's non-foldable partition key
    # keeps WindowExec's no-partition warning quiet (registry.bounded_key)
    w = W.partitionBy(bounded_key(F.col("e"))).orderBy(F.col("e").desc(), F.col("t"))
    return (
        est.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= CMS_TOPK)
        .select(
            F.col("t").alias("token"),
            F.col("n").alias("true_count"),
            F.col("e").alias("cms_estimate"),
            "rk",
        )
    )


# --- BM25 retrieval scoring (round 6) -------------------------------------

BM25_QUERY = ["query", "scan", "join"]  # fixed retrieval query terms
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    tf_cols = ", ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_QUERY)
    )
    score = " + ".join(
        f"ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1)"
        f" * (tf{i} * {BM25_K1 + 1})"
        f" / (tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        for i in range(len(BM25_QUERY))
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY))
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tf AS (SELECT doc_id, len(w) AS dl, {tf_cols} FROM t),
    g AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 {df_cols}
          FROM tf)
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, score, rk FROM (
      SELECT doc_id, dl, round({score}, 6) AS score,
             CAST(ROW_NUMBER() OVER (ORDER BY round({score}, 6) DESC,
                                     doc_id) AS BIGINT) AS rk
      FROM tf, g) s
    WHERE rk <= {BM25_TOPK}
    """


@register(
    "c03_bm25_retrieval",
    oracle=_bm25_oracle(),
    doc=f"BM25 document retrieval (Robertson et al., the Lucene-variant "
    f"idf ln((N-df+0.5)/(df+0.5)+1), k1={BM25_K1}, b={BM25_B}): score "
    f"every document against a fixed {len(BM25_QUERY)}-term query and "
    f"return the top {BM25_TOPK}. 100 TB shape: per-document term "
    "frequencies come from per-row array kernels on the split text "
    "(NO explode/shuffle — the query is bounded, so tf per term is a "
    "size(filter(...)) projection inside codegen); corpus statistics "
    "(N, avgdl, one df per query term) reduce to ONE scalar row that "
    "broadcasts back; the final top-k is TakeOrderedAndProject. Total: "
    "two scan passes (the stats reduce, then scoring against the "
    "broadcast scalars) and ZERO shuffles of corpus rows — only the "
    "partial-aggregate row and the k results move. Scores ranked on the "
    "6dp rounding with doc_id tie-break (the c03_tfidf ln() precedent) "
    "so both engines pick identical rows.",
)
def c03_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = words_col()

    def tf_col(term: str) -> Column:
        # factory, NOT a default-arg lambda: a two-parameter lambda is
        # treated as an (element, index) HOF signature by PySpark
        return F.size(F.filter(w, lambda x: x == term))

    tf_cols = [tf_col(t).alias(f"tf{i}") for i, t in enumerate(BM25_QUERY)]
    tf = d.select("doc_id", F.size(w).alias("dl"), *tf_cols)
    g = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    score = None
    for i in range(len(BM25_QUERY)):
        tfi = F.col(f"tf{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1
        )
        part = (
            idf
            * (tfi * (BM25_K1 + 1))
            / (tfi + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else score + part
    scored = tf.crossJoin(F.broadcast(g)).select(
        "doc_id", F.col("dl").cast("long").alias("dl"), F.round(score, 6).alias("score")
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(BM25_TOPK)
    rank_win = Window.partitionBy(bounded_key(F.col("doc_id"))).orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return top.select(
        "doc_id", "dl", "score", F.row_number().over(rank_win).cast("long").alias("rk")
    )


@register(
    "c03_url_normalize",
    oracle="""
    WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id % 13 = 4),
    u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
             'www.' || source || '.example.com' AS host,
             '/docs/' || CAST(doc_id AS VARCHAR) || '/view' AS path,
             'a=' || CAST(doc_id % 10 AS VARCHAR) || '&b=2'
               || CASE WHEN doc_id % 7 = 0 THEN '&c=3' ELSE '' END AS params
      FROM d
    )
    SELECT doc_id,
           scheme || '://' || host || path || '?' || params AS norm_url,
           host,
           'example.com' AS domain,
           CAST(3 AS BIGINT) AS path_depth,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_params_kept
    FROM u
    """,
    doc="URL normalization (crawl-pipeline op: canonical URLs are the "
    "dedup key of a fetch frontier and the join key of link graphs): "
    "the fixture renders deliberately-messy URLs — MiXeD-case scheme "
    "and host, explicit default ports (:80/:443), utm_*/fbclid "
    "tracking parameters interleaved with real ones in scrambled "
    "order, trailing fragments — and the operator normalizes them "
    "entirely with JVM built-ins (parse_url for scheme/host/path/"
    "query, array filter/sort_array/concat_ws for the parameter set): "
    "lowercase scheme+host, strip default port, drop fragment, drop "
    "tracking params, sort surviving params by key. The oracle "
    "reconstructs the expected canonical form from doc_id arithmetic "
    "(NOT by parsing), so the two engines cross-pin the parser. "
    "domain is the last-two-label heuristic (a real deployment "
    "substitutes the public-suffix list — documented boundary). "
    "100 TB shape: pure per-row whole-stage codegen, zero shuffles, "
    "zero Python.",
)
def c03_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 4)
    # deliberately-messy fixture URL, built inline (MiXeD case, default
    # ports, tracking params out of order, fragments)
    scheme_raw = F.when(F.col("doc_id") % 2 == 0, "HTTPS").otherwise("Http")
    port = F.when(F.col("doc_id") % 2 == 0, ":443").otherwise(":80")
    host_raw = F.concat(
        F.lit("WWW."), F.upper("source"), F.lit(".Example.COM"), port
    )
    params_raw = F.concat(
        F.lit("utm_source=news&b=2&a="),
        (F.col("doc_id") % 10).cast("string"),
        F.when(F.col("doc_id") % 7 == 0, "&c=3&utm_campaign=x").otherwise(
            "&gclid=zzz"
        ),
    )
    url = F.concat(
        scheme_raw,
        F.lit("://"),
        host_raw,
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/view?"),
        params_raw,
        F.when(F.col("doc_id") % 5 == 0, "#section-2").otherwise(""),
    )
    u = d.select("doc_id", url.alias("url"))

    scheme = F.lower(F.parse_url("url", F.lit("PROTOCOL")))
    host_port = F.lower(F.parse_url("url", F.lit("HOST")))
    # Spark's parse_url HOST excludes the port; take port separately
    # and drop it when it is the scheme default (80/443) — any other
    # port would be preserved
    raw_port = F.parse_url("url", F.lit("PORT"))
    keep_port = raw_port.isNotNull() & ~(
        ((scheme == "http") & (raw_port == "80"))
        | ((scheme == "https") & (raw_port == "443"))
    )
    host = host_port
    path = F.parse_url("url", F.lit("PATH"))
    query = F.parse_url("url", F.lit("QUERY"))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: ~(
                p.startswith("utm_") | p.startswith("fbclid") | p.startswith("gclid")
            ),
        )
    )
    params = F.concat_ws("&", kept)
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), raw_port)).otherwise(""),
        path,
        F.when(F.length(params) > 0, F.concat(F.lit("?"), params)).otherwise(""),
    )
    labels = F.split(host, "\\.")
    domain = F.concat_ws(
        ".", F.slice(labels, F.size(labels) - 1, 2)
    )
    depth = F.size(F.filter(F.split(path, "/"), lambda s: F.length(s) > 0))
    return u.select(
        "doc_id",
        norm.alias("norm_url"),
        host.alias("host"),
        domain.alias("domain"),
        depth.cast("long").alias("path_depth"),
        F.size(kept).cast("long").alias("n_params_kept"),
    )


@register(
    "c03_structured_data",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'jsonld' WHEN 1 THEN 'microdata'
                ELSE 'og' END AS syntax,
           'Article' AS sd_type,
           'doc ' || CAST(doc_id AS VARCHAR) AS headline,
           'crawler ' || CAST(doc_id % 5 AS VARCHAR) AS author,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                AS BIGINT) AS word_count,
           TRUE AS sd_ok
    FROM documents WHERE doc_id % 113 = 71
    """,
    doc="Structured-data extraction (r13, structured_data.py — the "
    "schema.org layer that powers search snippets is the "
    "highest-signal metadata a crawl pipeline pulls from a page, "
    "and the modern web expresses it in THREE syntaxes a consumer "
    "must normalize across): every 113th document renders as an "
    "XHTML page whose Article item (headline/author/wordCount) is "
    "embedded per the d%3 lane as JSON-LD (<script "
    "type=application/ld+json>), WHATWG microdata (itemscope/"
    "itemtype/itemprop with the nearest-ancestor property "
    "assignment and a NESTED Person item for the author), or "
    "OpenGraph meta tags. The extractor sniffs what is actually "
    "present — never the lane hint — and normalizes; sd_ok folds "
    "the syntax matching the lane. word_count is the document's "
    "real word count, closed-form in SQL. 100 TB shape: per-page "
    "build+parse in Arrow-batched mapInPandas, no shuffle.",
)
def c03_structured_data(spark, sf_dir: str):
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
            StructField("syntax", StringType(), True),
            StructField("sd_type", StringType(), True),
            StructField("headline", StringType(), True),
            StructField("author", StringType(), True),
            StructField("word_count", LongType(), True),
            StructField("sd_ok", BooleanType(), True),
        ]
    )

    def walk(d: int, text: str) -> tuple:
        from tectonic_spark.operators.structured_data import (
            build_page,
            extract_structured,
        )

        lane = ("jsonld", "microdata", "og")[d % 3]
        wc = len(text.split(" "))
        page = build_page(
            syntax=lane,
            headline=f"doc {d}",
            author=f"crawler {d % 5}",
            word_count=wc,
            body_words=text,
        )
        out = extract_structured(page)
        return (
            d,
            out["syntax"],
            out["sd_type"],
            out["headline"],
            out["author"],
            out["word_count"],
            out["syntax"] == lane and out["word_count"] == wc,
        )

    return map_documents(spark, sf_dir, 113, 71, schema, walk, "text")


@register(
    "c03_markdown_census",
    oracle="""
    WITH d AS (SELECT doc_id,
        LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS wc,
        1 + doc_id % 3 AS ns
      FROM documents WHERE doc_id % 137 = 83)
    SELECT doc_id,
           CAST(1 + ns AS BIGINT) AS n_headings,
           CAST(1 + doc_id % 4 AS BIGINT) AS n_links,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_fences,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
             AS n_code_lines,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 0 END AS BIGINT)
             AS n_list_items,
           CAST(wc + 2 + 2 * ns + 1 + doc_id % 4
                + CASE WHEN doc_id % 3 = 0 THEN 6 ELSE 0 END AS BIGINT)
             AS n_prose_words,
           TRUE AS census_ok
    FROM d
    """,
    doc="Markdown structure census (r13, markdown.py — code-hosting "
    "and documentation corpora are mostly markdown; structure "
    "census drives chunking and quality scoring downstream): every "
    "137th document renders as markdown — H1 title, 1-3 H2 "
    "sections carrying the document's prose, a link paragraph "
    "(1-4 inline links), a fenced code block on the even lane "
    "whose content INCLUDES a decoy heading and a decoy link that "
    "a naive regex census would miscount (the fence state machine "
    "must mask them — they count as code lines, never as "
    "structure), and a bullet list on the d%3 lane. Inline "
    "backtick spans mask links too. n_prose_words is the real "
    "word count closed-form: document words + heading words + link "
    "texts + list items. 100 TB shape: per-payload build+parse in "
    "Arrow-batched mapInPandas, no shuffle.",
)
def c03_markdown_census(spark, sf_dir: str):
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_headings", LongType(), True),
            StructField("n_links", LongType(), True),
            StructField("n_fences", LongType(), True),
            StructField("n_code_lines", LongType(), True),
            StructField("n_list_items", LongType(), True),
            StructField("n_prose_words", LongType(), True),
            StructField("census_ok", BooleanType(), True),
        ]
    )

    def walk(d: int, text: str) -> tuple:
        from tectonic_spark.operators.markdown import (
            build_markdown,
            parse_markdown,
        )

        words = text.split(" ")
        lines = [" ".join(words[i : i + 8]) for i in range(0, len(words), 8)]
        ns = 1 + d % 3
        per = (len(lines) + ns - 1) // ns
        groups = [lines[i : i + per] for i in range(0, len(lines), per)]
        while len(groups) < ns:
            groups.append([])
        sections = [(f"section {s}", g) for s, g in enumerate(groups)]
        links = [
            (f"link{j}", f"https://x{d}.example/p{j}") for j in range(1 + d % 4)
        ]
        payload = build_markdown(
            sections,
            title=f"doc {d}",
            links=links,
            code_lines=["x = 1", "y = 2"] if d % 2 == 0 else None,
            list_items=["item a", "item b", "item c"] if d % 3 == 0 else None,
        )
        out = parse_markdown(payload)
        ok = (
            out["heading_levels"] == [1] + [2] * ns
            and out["n_images"] == 0
            and out["n_quotes"] == 0
        )
        return (
            d,
            out["n_headings"],
            out["n_links"],
            out["n_fences"],
            out["n_code_lines"],
            out["n_list_items"],
            out["n_prose_words"],
            ok,
        )

    return map_documents(spark, sf_dir, 137, 83, schema, walk, "text")
