"""Text analytics over ``documents`` (driver-mandated extension, M4).

The large-scale-training-pipeline text operators: token counting,
quality scoring, language-ID heuristic, document fingerprinting, and
TF-IDF. All are built from array higher-order functions
(``split``/``filter``/``transform``/``aggregate``) — JVM-side, codegen'd,
no Python UDFs — so a 100 TB corpus streams through scan→project with
no shuffle except where an aggregation genuinely needs one (TF-IDF's
document-frequency join).

Cross-engine determinism: token arrays come from the same regex split in
Spark and DuckDB; hashes are the shared md5-based :func:`hash60`;
floating scores use the :func:`quant` quantizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.hashing import hash60, hash60_sql
from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.operators.dedup import (
    NEWCRAWL_MIN_SRC,
    SRC_NO_SQL,
    _WDP_W,
    _lsh_pairs_cte,
    src_no_col,
)
from hadoop_cs4225_spark.operators.wordcount import TOKEN_DELIM_RE
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout, read_derived, session_memo
from hadoop_cs4225_spark.sources.tables import load_table

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic. Checked in alphabetical key order on ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "los", "las", "una", "es"),
    "fr": ("le", "les", "des", "une", "est"),
    "zh": ("de5", "shi4", "le5", "bu4", "wo3"),
}

#: Stopwords for the quality score (reuses the wordcount list semantics).
QUALITY_STOPWORDS: tuple[str, ...] = ("a", "the", "and", "of", "to", "in", "is", "it")


def _toks(text_col: str = "text") -> Column:
    """Token array with StringTokenizer semantics (no empty tokens)."""
    return F.filter(F.split(F.col(text_col), TOKEN_DELIM_RE), lambda x: x != "")


_TOKS_SQL = "list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Written token-level index (VERDICT r12 task 2): the unigram twin of the
# shingle-postings layout in dedup.py.
# ---------------------------------------------------------------------------


@derived_layout(
    "documents_token_counts",
    config=f"grain=doc,word;cols=doc_id,source,word,tf;delim={TOKEN_DELIM_RE}",
)
def ensure_token_counts(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The TOKEN-COUNT INDEX as a written layout
    (``.derived/<sf>/documents_token_counts``): one row per
    (doc, distinct word) carrying ``doc_id, source, word, tf`` — the
    unigram twin of ``dedup.ensure_shingle_postings`` (VERDICT r12
    task 2).

    A dozen text-analysis queries (TF-IDF, keyness, the entropy /
    logprob family, chi2 features, burstiness, the coverage curve,
    vocab Jaccard/Heaps/Good-Turing, readability, fertility) each
    re-ran the regex tokenize + explode + (doc-or-source, word) count
    over ``documents.text`` per run — the family's dominant cost. At
    100 TB the term-frequency postings are the artifact every text
    pipeline writes once per corpus snapshot (the Lucene tf index);
    the layout is post-aggregation, so it SHRINKS relative to the raw
    token stream, and ``source`` rides along dictionary-encoded so
    per-source consumers never re-join ``documents``.

    Its fingerprint covers the tokenizer definition. The DuckDB
    oracles keep recomputing token counts inline: index build and
    probe are one logical definition, so parity holds by construction.
    """
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.explode(_toks()).alias("word"))
        .groupBy("doc_id", "source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .write.parquet(path)
    )


def token_counts_frame(
    spark: SparkSession,
    sf_dir: str,
    cols: tuple[str, ...] = ("doc_id", "source", "word", "tf"),
) -> DataFrame:
    """The materialized token-count layout (ensure + read), column-
    pruned to ``cols`` so a consumer that only needs ``(word, tf)``
    never deserializes doc_id/source."""
    return read_derived(spark, ensure_token_counts(spark, sf_dir)).select(*cols)


@derived_layout(
    "documents_token_df", config="stats=df,cf", upstream=("documents_token_counts",)
)
def ensure_token_df(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The WORD-LEVEL side table
    (``.derived/<sf>/documents_token_df``): ``word, df, cf`` — global
    document frequency and corpus frequency per word, built FROM the
    token-count layout (no second tokenize pass; ``df`` is a row count
    because the tf layout is (doc, word)-unique). Vocabulary-sized, so
    pure-vocabulary consumers (Zipf fit, coverage curve, burstiness,
    TF-IDF's df side) read it with ZERO shuffles."""
    (
        token_counts_frame(spark, sf_dir, ("word", "tf"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .write.parquet(path)
    )


def token_df_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-level ``(word, df, cf)`` side table (ensure + read)."""
    return read_derived(spark, ensure_token_df(spark, sf_dir))


@register(
    "doc_token_stats",
    oracle=f"""
SELECT doc_id, n_chars,
       CAST(len(toks) AS BIGINT)                         AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT)          AS n_distinct,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
                                                         AS n_bpe_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS token_chars,
       {quant_sql("CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)"
                  " / len(toks)", 6)}                    AS avg_token_len,
       {quant_sql("CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)", 6)}
                                                         AS distinct_ratio
FROM (SELECT doc_id, n_chars, text, {_TOKS_SQL} AS toks FROM documents) t
ORDER BY doc_id
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + ratios.

    Pure per-row array math — at 100 TB this is a map-only stage with
    full column pruning (only doc_id/text/n_chars read).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    token_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return (
        docs.select(
            "doc_id",
            "n_chars",
            n_tokens.cast("long").alias("n_tokens"),
            n_distinct.cast("long").alias("n_distinct"),
            F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
            .cast("long")
            .alias("n_bpe_tokens"),
            token_chars.alias("token_chars"),
            quant(token_chars.cast("double") / n_tokens, 6).alias("avg_token_len"),
            quant(n_distinct.cast("double") / n_tokens, 6).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )


_SW_ARR = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)


@register(
    "doc_quality_scores",
    oracle=f"""
SELECT doc_id, lang,
       CAST(len(list_filter(toks, x -> x IN ({_SW_ARR}))) AS BIGINT) AS n_stopwords,
       {quant_sql(f"CAST(len(list_filter(toks, x -> x IN ({_SW_ARR}))) AS DOUBLE)"
                  " / len(toks)", 6)} AS stopword_ratio,
       {quant_sql("0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
                  " + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ("
                  + _SW_ARR + "))) AS DOUBLE) / len(toks))"
                  " + 0.3 * least(n_chars / 1000.0, 1.0)", 6)} AS quality
FROM (SELECT doc_id, lang, n_chars, {_TOKS_SQL} AS toks FROM documents) t
ORDER BY doc_id
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + lexical diversity + length norm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("double")
    n_sw = F.size(F.filter(toks, lambda x: x.isin(*QUALITY_STOPWORDS)))
    sw_ratio = n_sw.cast("double") / n_tokens
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    length_norm = F.least(F.col("n_chars") / 1000.0, F.lit(1.0))
    return (
        docs.select(
            "doc_id",
            "lang",
            n_sw.cast("long").alias("n_stopwords"),
            quant(sw_ratio, 6).alias("stopword_ratio"),
            quant(0.4 * diversity + 0.3 * (1.0 - sw_ratio) + 0.3 * length_norm, 6)
            .alias("quality"),
        )
        .orderBy("doc_id")
    )


def _marker_count(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS[lang]))).cast("long")


@register(
    "lang_id_heuristic",
    oracle=(
        "SELECT doc_id, lang AS actual, "
        + ", ".join(
            f"CAST(len(list_filter(toks, x -> x IN "
            f"({', '.join(repr(w) for w in LANG_MARKERS[lg])}))) AS BIGINT) AS s_{lg}"
            for lg in sorted(LANG_MARKERS)
        )
        + ", CASE "
        + " ".join(
            f"WHEN s_{lg} = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{lg}'"
            for lg in sorted(LANG_MARKERS)
        )
        + " END AS predicted "
        f"FROM (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents) t "
        "ORDER BY doc_id"
    ),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-word scoring; argmax with alphabetical ties.

    The production version of this operator swaps the marker lists for
    per-language character-n-gram frequency tables (same shape: per-row
    array scoring, no shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks_col = _toks()
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        *[_marker_count(toks_col, lg).alias(f"s_{lg}") for lg in sorted(LANG_MARKERS)],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in sorted(LANG_MARKERS)])
    pred = None
    for lg in sorted(LANG_MARKERS):
        cond = F.col(f"s_{lg}") == best
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    return scored.withColumn("predicted", pred).orderBy("doc_id")


@register(
    "doc_fingerprints",
    oracle=f"""
SELECT doc_id,
       CAST(len(toks) - 2 AS BIGINT) AS n_shingles,
       list_min(list_transform(range(1, len(toks) - 1),
                i -> {hash60_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}))
         AS fp_min,
       list_max(list_transform(range(1, len(toks) - 1),
                i -> {hash60_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}))
         AS fp_max
FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
WHERE len(toks) >= 3
ORDER BY doc_id
""",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: min/max hash over 3-token shingles.

    The winnowing primitive: per-row shingle→hash→extremum, no explode,
    no shuffle. ``fp_min`` doubles as a 1-permutation MinHash.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    d = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 3)
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: hash60(
            F.concat_ws(
                " ",
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
                F.element_at("toks", i + 3),
            )
        ),
    )
    return (
        d.select(
            "doc_id",
            (F.size("toks") - 2).cast("long").alias("n_shingles"),
            F.array_min(shingle_hashes).alias("fp_min"),
            F.array_max(shingle_hashes).alias("fp_max"),
        )
        .orderBy("doc_id")
    )


@register(
    "clean_corpus_stats",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         {quant_sql("0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
                    " + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ("
                    + _SW_ARR + "))) AS DOUBLE) / len(toks))"
                    " + 0.3 * least(n_chars / 1000.0, 1.0)", 6)} AS quality
  FROM (SELECT doc_id, lang, n_chars, text, {_TOKS_SQL} AS toks FROM documents) t
), keepers AS (
  SELECT lang, text, MIN(doc_id) AS keeper_id, MAX(quality) AS quality
  FROM scored WHERE quality >= 0.5 GROUP BY lang, text
)
SELECT lang,
       COUNT(*) AS n_clean_docs,
       {quant_sql("ROUND(SUM(quality), 2) / COUNT(*)", 6)} AS avg_quality,
       MIN(keeper_id) AS first_keeper
FROM keepers
GROUP BY lang
ORDER BY lang
""",
)
def clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline in one plan:
    quality-score → threshold filter → exact dedup (keep lowest doc_id
    per distinct text) → per-language corpus stats.

    The composition the individual operators exist for; at 100 TB it is
    score (map-only) → one dedup shuffle on the text hash → one small
    agg — no pass reads the corpus twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("double")
    sw_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*QUALITY_STOPWORDS))).cast("double")
        / n_tokens
    )
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    quality = quant(
        0.4 * diversity
        + 0.3 * (1.0 - sw_ratio)
        + 0.3 * F.least(F.col("n_chars") / 1000.0, F.lit(1.0)),
        6,
    )
    scored = docs.select("doc_id", "lang", "text", quality.alias("quality"))
    keepers = (
        scored.where(F.col("quality") >= 0.5)
        .groupBy("lang", "text")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.max("quality").alias("quality"),
        )
    )
    return (
        keepers.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_clean_docs"),
            quant(F.round(F.sum("quality"), 2) / F.count(F.lit(1)), 6).alias(
                "avg_quality"
            ),
            F.min("keeper_id").alias("first_keeper"),
        )
        .orderBy("lang")
    )


@register(
    "token_positions",
    oracle=f"""
SELECT doc_id, CAST(t.i - 1 AS INT) AS pos, t.word
FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id <= 10) d,
     LATERAL (SELECT unnest(toks) AS word,
                     generate_subscripts(toks, 1) AS i) t
ORDER BY doc_id, pos
""",
)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream with positions (the ordered-UDTF shape
    n-gram/window features build on)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 10)
    return (
        docs.select("doc_id", F.posexplode(_toks()).alias("pos", "word"))
        .orderBy("doc_id", "pos")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         {quant_sql("tf * ln((n_docs + 1.0) / (df + 1.0))", 6)} AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT doc_id, word, tfidf, rn FROM (
  SELECT doc_id, word, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, word) AS rn
  FROM scored
) x
WHERE rn <= 3 AND doc_id <= 50
ORDER BY doc_id, rn
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-lite: per-doc top-3 terms.

    Reads the written token-count index: tf rows come straight from
    the layout (zero shuffles) and df from the vocabulary-sized side
    table — the only remaining work is the vocabulary join + windowed
    top-k. At 100 TB the df table is the only global state.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = token_counts_frame(spark, sf_dir, ("doc_id", "word", "tf"))
    df = token_df_frame(spark, sf_dir).select("word", "df")
    # Corpus size as a broadcast 1-row aggregate (bounded hint), not a
    # driver-side .count() — a scalar count adds a job per invocation
    # and serializes the DAG before the real plan starts.
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    scored = tf.join(df, "word").join(n_docs).select(
        "doc_id",
        "word",
        quant(
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= 3) & (F.col("doc_id") <= 50))
        .select("doc_id", "word", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


@register(
    "doc_unigram_entropy",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
),
cnt AS (
  SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       {quant_sql("LN(CAST(SUM(c) AS DOUBLE))"
                  " - SUM(c * LN(CAST(c AS DOUBLE))) / SUM(c)", 4)}
         AS entropy_nats
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution (nats)
    — the quality signal that separates natural prose (high entropy)
    from boilerplate/keyword-stuffed spam (low entropy).

    Algebra: H = ln(n) - sum(c*ln(c))/n over per-doc token counts c —
    one pass over the counts, no per-token division. Plan: the
    (doc,word) counts come from the written token index (its grain IS
    this query's input), so the whole query is one doc-keyed reduce
    over the layout scan. ln() of identical integer-valued doubles is
    engine-stable and the final quantizer absorbs summation-order ulps.
    """
    cnt = token_counts_frame(spark, sf_dir, ("doc_id", "word", "tf")).select(
        "doc_id", "word", F.col("tf").alias("c")
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            quant(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c") * F.log(F.col("c").cast("double")))
                / F.sum("c"),
                4,
            ).alias("entropy_nats"),
        )
        .orderBy("doc_id")
    )


@register(
    "token_length_histogram",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
)
SELECT CAST(LENGTH(CAST(n_tokens AS VARCHAR)) AS BIGINT) AS n_digits,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM toks
GROUP BY n_digits
ORDER BY n_digits
""",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram in decade buckets (1-9, 10-99, ... token
    docs) — the one-glance shape check before sizing packing budgets
    and context windows.

    The bucket key is the DIGIT COUNT of the token count — integer-exact
    in both engines (float log10/log2 of a near-power boundary value
    rounds differently across libms, so it is deliberately avoided).
    One projection + one tiny aggregation; nothing scales with corpus
    width.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.size(_toks()).cast("bigint").alias("n_tokens")
    )
    return (
        docs.select(
            "n_tokens",
            F.length(F.col("n_tokens").cast("string")).cast("bigint").alias(
                "n_digits"
            ),
        )
        .groupBy("n_digits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("n_digits")
    )


#: Top adjacent-pair count returned by ``bpe_pair_counts``.
BPE_TOP_K = 30


@register(
    "bpe_pair_counts",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
pairs AS (
  SELECT doc_id, toks[g.i] || ' ' || toks[g.i + 1] AS pair
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
)
SELECT pair,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT {BPE_TOP_K}
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies — the counting step of one BPE
    merge round (a tokenizer trainer repeats exactly this scan: count
    neighboring symbol pairs, merge the most frequent, re-count).

    Plan shape: one map-side ``zip_with`` of the token array against
    its one-shifted self (no self-join — the pair stream is produced
    inside the row), then a partial+final hash aggregation on the pair
    string and a distributed top-k (``TakeOrderedAndProject``). At
    100 TB this is a single pass over the token stream with map-side
    combine — the same cost class as word_count, which is what makes
    per-round BPE counting tractable at corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("toks")
    )
    pairs = docs.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_TOP_K)
    )


@register(
    "quality_filter_funnel",
    oracle=f"""
WITH feat AS (
  SELECT n_chars,
         len(toks) AS n_toks,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
         CAST(len(list_filter(toks, x -> x IN ({{sw}}))) AS DOUBLE) / len(toks)
           AS sw_ratio
  FROM (SELECT n_chars, {_TOKS_SQL} AS toks FROM documents) t
), flags AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS s0,
         CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN n_chars >= 100 AND n_toks >= 20
                  THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN n_chars >= 100 AND n_toks >= 20
                  AND diversity >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         CAST(SUM(CASE WHEN n_chars >= 100 AND n_toks >= 20
                  AND diversity >= 0.4 AND sw_ratio <= 0.09
                  THEN 1 ELSE 0 END) AS BIGINT) AS s4
  FROM feat
)
SELECT stage_idx, stage, n_docs,
       {quant_sql("CAST(n_docs AS DOUBLE) / s0", 6)} AS frac_of_total
FROM (
  SELECT 0 AS stage_idx, 'total' AS stage, s0 AS n_docs, s0 FROM flags
  UNION ALL SELECT 1, 'length_ok', s1, s0 FROM flags
  UNION ALL SELECT 2, 'tokens_ok', s2, s0 FROM flags
  UNION ALL SELECT 3, 'diversity_ok', s3, s0 FROM flags
  UNION ALL SELECT 4, 'stopword_ok', s4, s0 FROM flags
)
ORDER BY stage_idx
""".replace("{sw}", _SW_ARR),
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel: how many documents survive each successive
    quality gate (length -> token count -> lexical diversity ->
    stopword-ratio), as counts and fractions of the corpus.

    The report every cleaning pipeline publishes before a training run
    — which gate is responsible for the corpus shrinking, and by how
    much. Plan: ONE corpus scan computes all per-doc features map-side,
    one partial-aggregated reduce produces the five cumulative-AND
    counters in a single 1-row frame, and the stage rows are unpivoted
    from that row with ``stack`` — no per-stage scan, no second
    shuffle. At 100 TB the cost is exactly one pass regardless of how
    many gates the funnel grows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_toks = F.size("toks")
    diversity = F.size(F.array_distinct("toks")).cast("double") / n_toks
    sw_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(*QUALITY_STOPWORDS))).cast(
            "double"
        )
        / n_toks
    )
    feat = docs.select("n_chars", toks.alias("toks")).select(
        "n_chars",
        n_toks.alias("n_toks"),
        diversity.alias("diversity"),
        sw_ratio.alias("sw_ratio"),
    )
    g1 = F.col("n_chars") >= 100
    g2 = g1 & (F.col("n_toks") >= 20)
    g3 = g2 & (F.col("diversity") >= 0.4)
    g4 = g3 & (F.col("sw_ratio") <= 0.09)
    cnt = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    flags = feat.agg(
        F.count(F.lit(1)).cast("long").alias("s0"),
        cnt(g1).alias("s1"),
        cnt(g2).alias("s2"),
        cnt(g3).alias("s3"),
        cnt(g4).alias("s4"),
    )
    stages = flags.select(
        F.expr(
            "stack(5, 0, 'total', s0, 1, 'length_ok', s1, 2, 'tokens_ok', s2, "
            "3, 'diversity_ok', s3, 4, 'stopword_ok', s4) "
            "AS (stage_idx, stage, n_docs)"
        ),
        F.col("s0"),
    )
    return stages.select(
        "stage_idx",
        "stage",
        "n_docs",
        quant(F.col("n_docs").cast("double") / F.col("s0"), 6).alias(
            "frac_of_total"
        ),
    ).orderBy("stage_idx")


def _ngram5_rows(docs: DataFrame) -> DataFrame:
    """``(doc_id, source, sh)`` — one row per (doc, DISTINCT 5-token
    shingle), the single 5-gram definition shared by the written
    postings layout (:func:`ensure_ngram5_postings`), its streaming
    maintainer (``streaming.run_incremental_ngram5_postings``) and the
    inline oracle of ``duplicate_ngram_coverage``."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 5),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
                F.element_at("toks", i + 3),
                F.element_at("toks", i + 4),
                F.element_at("toks", i + 5),
            ),
        )
    )
    return (
        docs.select("doc_id", "source", _toks().alias("toks"))
        .where(F.size("toks") >= 5)
        .select("doc_id", "source", F.explode(shingles).alias("sh"))
    )


@derived_layout(
    "documents_5gram_postings",
    config=f"ngram=5;min_toks=5;distinct=1;delim={TOKEN_DELIM_RE};stats=df;cols=source",
)
def ensure_ngram5_postings(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The 5-GRAM POSTINGS index with document frequency
    (``.derived/<sf>/documents_5gram_postings``: one row per (doc,
    distinct 5-token shingle) carrying ``doc_id, source, sh, df``) —
    the token-index discipline at 5-gram grain (VERDICT r13 task 5).
    ``duplicate_ngram_coverage`` re-ran the tokenize + 5-gram explode +
    frequency shuffle + probe join per run; the df is a pure corpus
    statistic, so it belongs IN the written index (exactly what the
    3-gram ``ensure_shingle_postings`` already stores), and the
    coverage query folds per-doc stats from a column-pruned scan —
    no explode, no join, no window at query time. The DuckDB oracle
    keeps recomputing the 5-grams inline, so parity verifies the index
    CONTENT every round. Incrementally maintained by
    ``streaming.run_incremental_ngram5_postings``.

    The shingle rows feed both the df count and the join probe, so
    they are persisted for the build: one tokenize + 5-gram explode
    pass instead of two, freed after the write."""
    sh = _ngram5_rows(load_table(spark, sf_dir, "documents")).persist()
    try:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
        sh.join(dfreq, "sh").select("doc_id", "source", "sh", "df").write.parquet(path)
    finally:
        sh.unpersist()


def ngram5_postings_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written 5-gram postings index (ensure + read):
    ``(doc_id, source, sh, df)``."""
    return read_derived(spark, ensure_ngram5_postings(spark, sf_dir))


@register(
    "duplicate_ngram_coverage",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, source, sh
  FROM (SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 4, 0)),
                   i -> array_to_string(toks[i:i+4], ' '))) AS sh
        FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents) t) u
), marked AS (
  SELECT doc_id, source,
         COUNT(*) AS n_shingles,
         SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM (SELECT doc_id, source, COUNT(*) OVER (PARTITION BY sh) AS cnt FROM sh) w
  GROUP BY doc_id, source
)
SELECT source,
       COUNT(*) AS n_docs,
       {quant_sql("ROUND(SUM(CAST(n_dup AS DOUBLE) / n_shingles), 6)"
                  " / COUNT(*)", 6)} AS avg_dup_frac,
       {quant_sql("MAX(CAST(n_dup AS DOUBLE) / n_shingles)", 6)} AS max_dup_frac,
       CAST(SUM(CASE WHEN CAST(n_dup AS DOUBLE) / n_shingles > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over_half
FROM marked
GROUP BY source
ORDER BY source
""",
)
def duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal at 5-gram granularity: per
    source, what fraction of each document's distinct 5-token shingles
    also appears in at least one OTHER position in the corpus.

    The RefinedWeb/Gopher-style "duplicate n-gram coverage" curation
    metric — near 0 for organic text, climbing toward 1 for template
    boilerplate and verbatim copies; documents over 50% coverage are
    the usual removal candidates. Plan (r14, VERDICT r13 task 5): the
    tokenize + 5-gram explode + frequency shuffle + probe join moved
    into the WRITTEN 5-gram postings index (the token-index discipline
    at 5-gram grain — see :func:`ensure_ngram5_postings`); the query
    is a column-pruned ``(doc_id, source, df)`` scan of that index
    into one doc-keyed and one source-keyed reduce — no explode, no
    join, no window (the former skew hazard lives at index-build time,
    where the same AQE-skew-splittable groupBy+join shape builds it).
    The per-doc sum is rounded before the average so summation order
    can't leak engine ulps. Never a pair list.
    """
    marked = (
        ngram5_postings_frame(spark, sf_dir)
        .select("doc_id", "source", "df")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup"),
        )
    )
    dup_frac = F.col("n_dup").cast("double") / F.col("n_shingles")
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            quant(
                F.round(F.sum(dup_frac), 6) / F.count(F.lit(1)), 6
            ).alias("avg_dup_frac"),
            quant(F.max(dup_frac), 6).alias("max_dup_frac"),
            F.sum((dup_frac > 0.5).cast("long")).cast("long").alias(
                "n_docs_over_half"
            ),
        )
        .orderBy("source")
    )


@register(
    "doc_unigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
), dw AS (
  SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word
), vocab AS (
  SELECT word, SUM(CAST(c AS DOUBLE)) AS cw FROM dw GROUP BY word
), tot AS (
  SELECT SUM(cw) AS t FROM vocab
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       {quant_sql("SUM(c * LN(cw)) / SUM(c) - LN(t)", 4)} AS avg_logp
FROM dw JOIN vocab USING (word) CROSS JOIN tot
GROUP BY doc_id, t
ORDER BY doc_id
""",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram MLE — the cheap perplexity proxy used to rank documents by
    "typicality" before a learned quality classifier exists (low
    avg_logp = rare-token-heavy docs: gibberish, code dumps, OCR junk).

    Algebra: avg_logp = sum(c_dw * ln(c_w))/n_d - ln(T), so ln() only
    ever sees integer-valued doubles (engine-stable, the
    ``doc_unigram_entropy`` precedent) and the corpus total enters once
    per doc. Plan: both inputs are WRITTEN layouts — (doc,word) counts
    from the token index, corpus word counts from the vocabulary side
    table — so the query is one vocabulary join (AQE broadcasts it at
    any realistic scale) + one doc-keyed reduce; the 1-row total joins
    broadcast.
    """
    dw = token_counts_frame(spark, sf_dir, ("doc_id", "word", "tf")).select(
        "doc_id", "word", F.col("tf").alias("c")
    )
    vocab = token_df_frame(spark, sf_dir).select(
        "word", F.col("cf").cast("double").alias("cw")
    )
    tot = F.broadcast(vocab.agg(F.sum("cw").alias("t")))
    return (
        dw.join(vocab, "word")
        .crossJoin(tot)
        .groupBy("doc_id", "t")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            quant(
                F.sum(F.col("c") * F.log("cw")) / F.sum("c") - F.log("t"), 4
            ).alias("avg_logp"),
        )
        .select("doc_id", "n_tokens", "avg_logp")
        .orderBy("doc_id")
    )


def _lang_confusion_oracle() -> str:
    from hadoop_cs4225_spark.registry import ORACLES

    return f"""
WITH pred AS ({ORACLES["lang_id_heuristic"]}),
tot AS (SELECT actual, COUNT(*) AS n_actual FROM pred GROUP BY actual)
SELECT p.actual, p.predicted, COUNT(*) AS n_docs,
       {quant_sql("CAST(COUNT(*) AS DOUBLE) / MAX(t.n_actual)", 6)}
         AS frac_of_actual
FROM pred p JOIN tot t ON p.actual = t.actual
GROUP BY p.actual, p.predicted
ORDER BY p.actual, p.predicted
"""


@register("lang_confusion_matrix", oracle=_lang_confusion_oracle())
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled ``lang`` column: (actual, predicted) counts and each cell's
    share of its actual-language row.

    The evaluation loop every classifier-driven curation gate needs
    before its threshold is trusted — the diagonal is per-language
    recall, off-diagonal cells show which languages the marker lists
    confuse. Composes the REGISTERED ``lang_id_heuristic`` on both
    sides (the ann_recall_audit discipline: the audit can't drift from
    what it audits). Plan: the per-doc scoring is map-only; the matrix
    is one (actual, predicted) partial-agg shuffle over at most
    |langs|^2 groups; per-actual totals come from a window over that
    tiny aggregated frame — one corpus scan total, no self-join.
    """
    from pyspark.sql import Window

    pred = lang_id_heuristic(spark, sf_dir).select("actual", "predicted")
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # per-actual totals via a window over the |langs|^2-row cells frame
    # — never a second corpus scan or a self-join; the matrix is tiny,
    # the corpus is not
    n_actual = F.sum("n_docs").over(Window.partitionBy("actual"))
    return (
        cells.select(
            "actual",
            "predicted",
            "n_docs",
            quant(F.col("n_docs").cast("double") / n_actual, 6).alias(
                "frac_of_actual"
            ),
        )
        .orderBy("actual", "predicted")
    )


@register(
    "source_kl_divergence",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS word FROM documents
), sw AS (
  SELECT source, word, CAST(COUNT(*) AS DOUBLE) AS c FROM tok
  GROUP BY source, word
), cw AS (
  SELECT word, SUM(c) AS cw FROM sw GROUP BY word
), tot AS (SELECT SUM(cw) AS nc FROM cw)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab,
       {quant_sql("SUM(c * LN(c)) / SUM(c) - LN(SUM(c))"
                  " - SUM(c * LN(cw)) / SUM(c) + LN(nc)", 4)} AS kl_nats
FROM sw JOIN cw USING (word) CROSS JOIN tot
GROUP BY source, nc
ORDER BY source
""",
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the whole-corpus unigram
    distribution, KL(p_source || p_corpus) in nats — the drift metric
    for mixture curation: a source whose KL climbs between crawls has
    changed character (spam influx, template shift) before any
    downstream eval moves, and sources are weighted/capped by exactly
    this kind of distance in data-mixing recipes.

    Algebra keeps ``ln`` on integer-valued doubles only (the
    engine-stability rule): KL = Σc·ln c / n_s − ln n_s − Σc·ln c_w /
    n_s + ln n_c over per-(source,word) counts c. Plan: one
    (source,word) reduce over the WRITTEN token index (post-agg rows,
    far smaller than the raw token stream) joined to the vocabulary
    side table's corpus counts (AQE broadcasts it) → per-source reduce
    with a broadcast 1-row corpus total.
    """
    sw = (
        token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
        .groupBy("source", "word")
        .agg(F.sum("tf").cast("double").alias("c"))
    )
    cw = token_df_frame(spark, sf_dir).select(
        "word", F.col("cf").cast("double").alias("cw")
    )
    tot = F.broadcast(cw.agg(F.sum("cw").alias("nc")))
    return (
        sw.join(cw, "word")
        .crossJoin(tot)
        .groupBy("source", "nc")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            quant(
                F.sum(F.col("c") * F.log("c")) / F.sum("c")
                - F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("cw")) / F.sum("c")
                + F.log("nc"),
                4,
            ).alias("kl_nats"),
        )
        .select("source", "n_tokens", "vocab", "kl_nats")
        .orderBy("source")
    )


#: Winnowing window: one fingerprint selected per WINNOW_W consecutive
#: shingle hashes. Guarantee: any shared run of WINNOW_W + 2 tokens
#: (= WINNOW_W consecutive 3-gram shingles) between two documents
#: yields at least one shared selected fingerprint. ALIAS of
#: ``dedup._WDP_W`` (ADVICE r13): ``doc_winnowing_fingerprints`` folds
#: the winnow index that ``dedup.ensure_winnow_fp_index`` builds with
#: ``_WDP_W``, so the eligibility predicate here and the index contents
#: must move together — a single shared constant makes drift impossible.
WINNOW_W = _WDP_W


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
             i -> {hash60_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
           AS hs
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
  WHERE len(toks) >= {WINNOW_W} + 2
), sel AS (
  SELECT doc_id,
         CAST(len(hs) AS BIGINT) AS n_shingles,
         list_distinct(list_transform(range(1, len(hs) - {WINNOW_W} + 2),
             i -> list_min(hs[i:i+{WINNOW_W} - 1]))) AS sels
  FROM h
)
SELECT doc_id, n_shingles,
       CAST(len(sels) AS BIGINT) AS n_selected,
       {quant_sql(f"CAST(len(sels) AS DOUBLE) / (n_shingles - {WINNOW_W} + 1)", 6)}
         AS density,
       list_min(sels) AS sel_min
FROM sel
ORDER BY doc_id
""",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): slide a window of WINNOW_W consecutive 3-gram shingle
    hashes and keep each window's minimum — the selected set is the
    document's robust fingerprint with a GUARANTEE local sampling
    (doc_fingerprints' global min) lacks: any shared token run of
    WINNOW_W+2 tokens produces at least one shared selected hash, so
    plagiarism/copy detection cannot miss matches above that length.
    Density ~ 2/(w+1) is the expected selection rate; a much higher
    density means hash churn (short repeated tokens), much lower means
    degenerate repetition.

    Pure per-row array program — shingle hashes once (one md5 pass),
    window minima via transform-over-slice (O(n*w) JVM ops, no
    explode), distinct in-row. Map-only at any corpus size; the
    selected sets feed the same band/bucket join machinery as MinHash
    downstream.
    """
    # r13: the O(n·w) winnowing map (hash60 per 3-shingle + min over
    # every w-window) is pure corpus state already materialized in the
    # WRITTEN fingerprint index (dedup.ensure_winnow_fp_index — the
    # same rows winnowing_dup_pairs joins on; shared single definition
    # `_winnow_fp_rows`). Per-doc selected-set stats fold from the
    # index (n_selected = the per-doc posting count = n_sel, sel_min =
    # MIN(fp)); the only column the index lacks is the shingle count,
    # which needs nothing but the token COUNT — one cheap map-side
    # split per doc, no md5, no window minima (guide §2.4/§6). The
    # DuckDB oracle still recomputes everything inline from
    # documents.text, so parity keeps checking the full definition.
    from hadoop_cs4225_spark.operators.dedup import winnow_fp_frame

    docs = load_table(spark, sf_dir, "documents")
    w = WINNOW_W
    lens = docs.select(
        "doc_id", (F.size(_toks()) - 2).cast("long").alias("n_shingles")
    ).where(F.col("n_shingles") >= w)
    sel = (
        winnow_fp_frame(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.min("fp").alias("sel_min"),
        )
    )
    return (
        lens.join(sel, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_selected",
            quant(
                F.col("n_selected").cast("double")
                / (F.col("n_shingles") - w + 1),
                6,
            ).alias("density"),
            "sel_min",
        )
        .orderBy("doc_id")
    )


#: Power-law tail threshold (chars): docs at least this long are "in
#: the tail" for the Hill estimator. Below every test SF's median so
#: the tail is well-populated at sf0.001 through sf0.1.
_POWERLAW_XMIN = 100


@register(
    "source_length_powerlaw",
    oracle=f"""
WITH tail AS (
  SELECT source, n_chars FROM documents WHERE n_chars >= {_POWERLAW_XMIN}
), fit AS (
  SELECT source,
         COUNT(*) AS n_tail,
         SUM(LN(CAST(n_chars AS DOUBLE) / {_POWERLAW_XMIN}.0)) AS s_ln
  FROM tail GROUP BY source
), tot AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT t.source,
       t.n_docs,
       f.n_tail,
       {quant_sql("1.0 + CAST(f.n_tail AS DOUBLE) / f.s_ln", 4)} AS alpha_hill
FROM tot t JOIN fit f ON t.source = f.source
ORDER BY t.source
""",
)
def source_length_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy-tail fit of the document-length distribution:
    the Hill estimator alpha = 1 + n / sum(ln(x/xmin)) over docs with
    n_chars >= 100 (_POWERLAW_XMIN). Low alpha (~2) means a genuinely heavy tail —
    a few huge documents dominating the source's byte count, which is
    what decides chunking policy and flags crawl pathologies (one
    giant concatenated page inflating a domain).

    Plan: a pushed-down tail filter, then ONE map-side-combined
    aggregate per source carrying (count, sum of ln ratios) — the
    estimator is a one-pass moment, never a sort or quantile. The
    total-docs branch aggregates the same scan's other rows; both
    reduce to |sources| rows before the tiny join. ln() of identical
    doubles is engine-stable and the 4-dp quantizer absorbs
    summation-order ulps (the `doc_unigram_entropy` discipline).
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    fit = (
        docs.where(F.col("n_chars") >= _POWERLAW_XMIN)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(
                F.log(F.col("n_chars").cast("double") / float(_POWERLAW_XMIN))
            ).alias("s_ln"),
        )
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tot.join(fit, "source")
        .select(
            "source",
            "n_docs",
            "n_tail",
            quant(
                1.0 + F.col("n_tail").cast("double") / F.col("s_ln"), 4
            ).alias("alpha_hill"),
        )
        .orderBy("source")
    )


@register(
    "source_vocab_heaps",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS word FROM documents
), cnt AS (
  SELECT source, word, COUNT(*) AS c FROM tok GROUP BY source, word
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab,
       {quant_sql(
           "LN(CAST(COUNT(*) AS DOUBLE)) / LN(CAST(SUM(c) AS DOUBLE))", 4
       )} AS heaps_beta
FROM cnt
GROUP BY source
ORDER BY source
""",
)
def source_vocab_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary growth: total tokens N, distinct tokens V,
    and the Heaps'-law exponent beta = ln(V)/ln(N) (V ~ N^beta).
    Natural text sits near beta ~ 0.5; beta near 1 means the source
    keeps minting new types (IDs, hashes, boilerplate noise — a
    tokenizer-budget and dedup-signal red flag), beta near 0 means a
    tiny closed vocabulary (templated spam).

    Plan: ONE (source, word) map-side-combined reduce over the WRITTEN
    token index (tf rows, already post-aggregation), then a per-source
    reduce — V is COUNT(*) and N is SUM(c) of the SAME aggregate, so
    distinct-counting never needs a second shuffle. The (source, word)
    key is the natural shuffle key at 100 TB: vocab per source is
    sublinear in corpus size (that is Heaps' law), so the intermediate
    SHRINKS as it flows.
    """
    cnt = (
        token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
        .groupBy("source", "word")
        .agg(F.sum("tf").alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            quant(
                F.log(F.count(F.lit(1)).cast("double"))
                / F.log(F.sum("c").cast("double")),
                4,
            ).alias("heaps_beta"),
        )
        .orderBy("source")
    )


#: PMI collocation parameters: minimum pair occurrences (PMI of rare
#: pairs is noise — one co-occurrence of two rare words maximizes it)
#: and the number of collocations returned.
_PMI_MIN_PAIR = 5
_PMI_TOP_K = 20


@register(
    "bigram_pmi_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), uni AS (
  SELECT unnest(toks) AS w FROM toks
), unicnt AS (
  SELECT w, COUNT(*) AS c FROM uni GROUP BY w
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM unicnt
), pairs AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
), paircnt AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2
)
SELECT p.w1, p.w2, p.c_ab,
       {quant_sql(
           "LN(CAST(p.c_ab AS DOUBLE) * t.n"
           " / (CAST(a.c AS DOUBLE) * b.c))", 4
       )} AS pmi
FROM paircnt p
JOIN unicnt a ON a.w = p.w1
JOIN unicnt b ON b.w = p.w2
CROSS JOIN tot t
WHERE p.c_ab >= {_PMI_MIN_PAIR}
ORDER BY pmi DESC, p.w1, p.w2
LIMIT {_PMI_TOP_K}
""",
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs that co-occur far above chance (PMI = ln(c_ab*N / (c_a*c_b)))
    — the statistic that finds multi-word expressions worth protecting
    from a tokenizer split or worth merging early in BPE training
    (`bpe_pair_counts` ranks by RAW frequency; PMI finds the pairs that
    are *informative*, not just common).

    Plan: the pair stream is map-side (`zip_with` against the shifted
    self — never a self-join), one partial-agg shuffle each for pair
    and unigram counts, two vocab-keyed equi-joins for the marginals, a
    1-row broadcast corpus total, and a distributed top-k. The
    ``c_ab >= 5`` (min-pair) prune runs BEFORE the marginal joins,
    so at 100 TB the joined frame is the (tiny) recurrent-pair set, not
    the raw pair vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents").select(_toks().alias("toks"))
    pairs = docs.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    paircnt = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    unicnt = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # 3 consumers: total + both marginals
    )
    tot = F.broadcast(unicnt.agg(F.sum("c").cast("bigint").alias("n")))
    a = unicnt.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    b = unicnt.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        paircnt.join(a, "w1")
        .join(b, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "c_ab",
            quant(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


#: Number of top-frequency tokens the Zipf fit regresses over.
_ZIPF_TOP = 1000


@register(
    "doc_zipf_fit",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_TOKS_SQL}) AS w FROM documents
), cnt AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
), top AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
  FROM cnt ORDER BY c DESC, w LIMIT {_ZIPF_TOP}
), pts AS (
  SELECT LN(CAST(rank AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y FROM top
), moms AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(x), 6) AS sx, ROUND(SUM(y), 6) AS sy,
         ROUND(SUM(x * y), 6) AS sxy,
         ROUND(SUM(x * x), 6) AS sxx, ROUND(SUM(y * y), 6) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_top,
       {quant_sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 4)} AS zipf_slope,
       {quant_sql(
           "(n * sxy - sx * sy)"
           " / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))", 4
       )} AS pearson_r
FROM moms
""",
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency curve: OLS slope of
    ln(freq) on ln(rank) over the top 1000 tokens (natural text
    sits near -1; a flat slope means templated/synthetic text, a cliff
    means a tiny closed vocabulary). Completes the corpus-law triple
    with `source_vocab_heaps` and `source_length_powerlaw`.

    Scale shape: the vocab counts come straight from the WRITTEN
    vocabulary side table (zero shuffles); the top-1000 cut is a
    DISTRIBUTED top-k (TakeOrderedAndProject, ties broken by token
    text), and only then does a row_number run — over a frame bounded
    at 1000 rows BY CONSTRUCTION (the allowlisted global-window case).
    Moments are rounded once each (the `order_trend_regression`
    discipline) so the final arithmetic is bit-identical across
    engines.
    """
    cnt = token_df_frame(spark, sf_dir).select(
        F.col("word").alias("w"), F.col("cf").alias("c")
    )
    top = (
        cnt.orderBy(F.desc("c"), "w")
        .limit(_ZIPF_TOP)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "w"))
            .alias("rank"),
        )
    )
    pts = top.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    moms = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    return moms.select(
        n.cast("bigint").alias("n_top"),
        quant(num / (n * sxx - sx * sx), 4).alias("zipf_slope"),
        quant(
            num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4
        ).alias("pearson_r"),
    )


#: BM25 parameters (the Robertson/Lucene defaults) and the fixed demo
#: query — three mid-frequency corpus terms so scores discriminate.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("spark", "join", "window")
_BM25_TOPK = 10


@register(
    "bm25_search_topk",
    oracle=f"""
WITH per_doc AS (
  SELECT doc_id,
         len(toks) AS dl,
         {", ".join(
             f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
             for i, t in enumerate(_BM25_TERMS)
         )}
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) q
), corpus AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {", ".join(
             f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
             f" AS df{i}"
             for i in range(len(_BM25_TERMS))
         )}
  FROM per_doc
)
SELECT doc_id,
       {quant_sql(
           " + ".join(
               f"(LN((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
               f" * tf{i} / (tf{i} + {_BM25_K1} * (1 - {_BM25_B}"
               f" + {_BM25_B} * dl / avgdl)))"
               for i in range(len(_BM25_TERMS))
           ),
           6,
       )} AS bm25
FROM per_doc CROSS JOIN corpus
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_TOPK}
""",
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text relevance: the top 10 documents for a fixed
    multi-term query under the Robertson scoring function — the search
    primitive `tfidf_top_terms` (term ranking) and the cosine family
    (doc-doc similarity) don't cover: QUERY-doc ranking with tf
    saturation (k1) and length normalization (b).

    MAP-ONLY feature pass: doc length and each query term's tf come
    from per-row array functions (`size`/`filter` over the token
    array) — no explode, no shuffle, and crucially no dropped rows: an
    explode+groupBy formulation silently loses zero-token documents
    (explode of an empty array emits nothing), shifting N and avgdl
    away from the oracle, which keeps them with dl=0. Corpus stats
    (N, avgdl, per-term df) are one aggregate over that frame,
    broadcast back as one row; scoring is map-side arithmetic and the
    cut is a distributed top-k. At 100 TB this costs one scan plus a
    1-row aggregate regardless of query length — the
    inverted-index-free shape for ad-hoc scoring (a standing search
    service would materialize the postings table instead,
    `shingle_idf_similarity_topk`'s layout).
    """
    from functools import reduce
    from operator import add

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("toks")
    )
    def _tf(term: str):
        # a dedicated closure: a 2-arg lambda with a default would be
        # read by PySpark as the (element, index) higher-order form
        return F.size(F.filter("toks", lambda x: x == term)).cast("long")

    per_doc = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    ).localCheckpoint(eager=False)  # feeds corpus stats AND scoring
    corpus = F.broadcast(
        per_doc.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long"))
                .cast("double")
                .alias(f"df{i}")
                for i in range(len(_BM25_TERMS))
            ],
        )
    )
    scored = per_doc.crossJoin(corpus)
    parts = []
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf{i}")
        denom = tf + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        parts.append(idf * tf / denom)
    score = reduce(add, parts)
    return (
        scored.select("doc_id", quant(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


#: Keyness: minimum in-source term count before a term is scored, and
#: how many top terms to keep per source.
_KEYNESS_MIN_COUNT = 5
_KEYNESS_TOPK = 5

#: ``x * ln(x)`` with the 0 ln 0 = 0 convention — every ln argument is
#: an INTEGER count, where both engines' libm agree bit-for-bit (the
#: doc_unigram_entropy discipline, see its docstring).
_XLX_SQL = "(CASE WHEN {x} > 0 THEN {x} * LN(CAST({x} AS DOUBLE)) ELSE 0.0 END)"


def _xlx(c: Column) -> Column:
    return F.when(c > 0, c * F.log(c.cast("double"))).otherwise(F.lit(0.0))


@register(
    "term_keyness_llr",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
), st AS (
  SELECT source, term, COUNT(*) AS a FROM tok GROUP BY source, term
), tt AS (
  SELECT term, CAST(SUM(a) AS BIGINT) AS t_tot FROM st GROUP BY term
), srct AS (
  SELECT source, CAST(SUM(a) AS BIGINT) AS n_s FROM st GROUP BY source
), corp AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n FROM st
), cells AS (
  SELECT st.source, st.term, st.a,
         tt.t_tot - st.a          AS b,
         srct.n_s - st.a          AS c,
         corp.n - srct.n_s - (tt.t_tot - st.a) AS d,
         srct.n_s, corp.n
  FROM st JOIN tt USING (term) JOIN srct USING (source) CROSS JOIN corp
  WHERE st.a >= {_KEYNESS_MIN_COUNT}
    AND st.a * (corp.n - srct.n_s) > (tt.t_tot - st.a) * srct.n_s
), scored AS (
  SELECT source, term, a,
         {quant_sql(
             "2.0 * ("
             + _XLX_SQL.format(x="a") + " + "
             + _XLX_SQL.format(x="b") + " + "
             + _XLX_SQL.format(x="c") + " + "
             + _XLX_SQL.format(x="d") + " - "
             + _XLX_SQL.format(x="(a + b)") + " - "
             + _XLX_SQL.format(x="(c + d)") + " - "
             + _XLX_SQL.format(x="(a + c)") + " - "
             + _XLX_SQL.format(x="(b + d)") + " + "
             + _XLX_SQL.format(x="n") + ")", 4)} AS keyness
  FROM cells
)
SELECT source, term, a AS n_in_source, keyness FROM (
  SELECT source, term, a, keyness,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY keyness DESC, term) AS rn
  FROM scored)
WHERE rn <= {_KEYNESS_TOPK}
ORDER BY source, keyness DESC, term
""",
)
def term_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood-ratio keyness (Dunning's G²): the terms most
    over-represented in each source vs the rest of the corpus.

    G² for the 2x2 contingency (term-in-source a, term-elsewhere b,
    other-in-source c, other-elsewhere d) in the entropy form
    ``2*(Σ O ln O - Σ row ln row - Σ col ln col + N ln N)`` — every
    ln argument is an integer count, so both engines produce
    bit-identical doubles and the fixed left-to-right sum keeps the
    total deterministic; quantized once before the per-source ranking
    (ties break by term).

    Over-representation is tested with the exact integer
    cross-multiply ``a*(N-n_s) > b*n_s`` — no float ratio compare.

    Plan: (source,term) counts reduced from the WRITTEN token index
    (map-side combined over post-agg rows), term totals read from the
    vocabulary side table, broadcast per-source totals and the 1-row
    corpus total, then a partitioned top-k window. Candidate cells are
    pre-pruned to a >= 5, bounding the ranking input.
    """
    st = (
        token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
        .select("source", F.col("word").alias("term"), "tf")
        .groupBy("source", "term")
        .agg(F.sum("tf").alias("a"))
    )
    st = st.localCheckpoint(eager=False)  # feeds two aggregates below
    tt = token_df_frame(spark, sf_dir).select(
        F.col("word").alias("term"), F.col("cf").alias("t_tot")
    )
    srct = st.groupBy("source").agg(F.sum("a").alias("n_s"))
    corp = st.agg(F.sum("a").alias("n"))
    cells = (
        st.join(tt, "term")
        .join(F.broadcast(srct), "source")
        .crossJoin(F.broadcast(corp))
        .withColumn("b", F.col("t_tot") - F.col("a"))
        .withColumn("c", F.col("n_s") - F.col("a"))
        .withColumn("d", F.col("n") - F.col("n_s") - F.col("b"))
        .filter(
            (F.col("a") >= _KEYNESS_MIN_COUNT)
            & (F.col("a") * (F.col("n") - F.col("n_s")) > F.col("b") * F.col("n_s"))
        )
    )
    a, b, c, d, n = (F.col(x) for x in "abcdn")
    g2 = quant(
        2.0
        * (
            _xlx(a)
            + _xlx(b)
            + _xlx(c)
            + _xlx(d)
            - _xlx(a + b)
            - _xlx(c + d)
            - _xlx(a + c)
            - _xlx(b + d)
            + _xlx(n)
        ),
        4,
    )
    scored = cells.select("source", "term", "a", g2.alias("keyness"))
    w = Window.partitionBy("source").orderBy(F.col("keyness").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KEYNESS_TOPK)
        .select("source", "term", F.col("a").alias("n_in_source"), "keyness")
        .orderBy("source", F.col("keyness").desc(), "term")
    )


@register(
    "source_simpson_diversity",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS term FROM documents
), st AS (
  SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab,
       {quant_sql(
           "1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)"
           " / (CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1))", 6)}
         AS simpson_diversity
FROM st
GROUP BY source
ORDER BY source
""",
)
def source_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity (1 - Σc(c-1)/(n(n-1))) of each source's token
    distribution — the probability two tokens drawn without
    replacement differ. Complements the entropy family with the
    collision-probability view (same form as a dedup collision rate).

    Both the numerator and denominator are exact BIGINTs (one
    map-side-combined (source,term) reduce over the WRITTEN token
    index, one per-source reduce); the single division is quantized.
    """
    st = (
        token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
        .select("source", F.col("word").alias("term"), "tf")
        .groupBy("source", "term")
        .agg(F.sum("tf").alias("c"))
    )
    return (
        st.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            quant(
                1.0
                - F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
                / (F.sum("c").cast("double") * (F.sum("c") - 1)),
                6,
            ).alias("simpson_diversity"),
        )
        .orderBy("source")
    )


def _source_vocab_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, term) vocabulary read from the written token
    index (the layout's rows are (doc, word)-unique, so the distinct
    dedupes tf rows, not raw tokens). Module-level so the plan test can
    pin the layout scan BELOW ``source_vocab_jaccard``'s lineage-erasing
    localCheckpoint (the ``_sig_index_frame`` pin pattern)."""
    return (
        token_counts_frame(spark, sf_dir, ("source", "word"))
        .select("source", F.col("word").alias("term"))
        .distinct()
    )


@register(
    "source_vocab_jaccard",
    oracle=f"""
WITH vocab AS (
  SELECT DISTINCT source, unnest({_TOKS_SQL}) AS term FROM documents
), sizes AS (
  SELECT source, COUNT(*) AS v FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
  GROUP BY s1, s2
)
SELECT i.s1, i.s2, i.inter,
       za.v + zb.v - i.inter AS uni,
       {quant_sql("i.inter * 1.0 / (za.v + zb.v - i.inter)", 6)} AS jaccard
FROM inter i
JOIN sizes za ON za.source = i.s1
JOIN sizes zb ON zb.source = i.s2
ORDER BY i.s1, i.s2
""",
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — which domains
    share a lexicon (the corpus-level view of the per-doc
    ``ngram_jaccard_topk``; complements ``source_dup_cross_matrix``,
    which needs verbatim duplication to fire).

    |A∩B| from ONE term-keyed equi-join of the distinct (source, term)
    frame — read from the WRITTEN token index, whose rows are already
    (doc, word)-unique, so the distinct dedupes tf rows, not raw
    tokens — with itself (source-pair fanout per term is bounded by
    the source-domain size, never by corpus rows); |A∪B| =
    |A|+|B|-|A∩B| by inclusion-exclusion — no union materialized.
    Exact integers until one quantized division.
    """
    vocab = _source_vocab_frame(spark, sf_dir)
    vocab = vocab.localCheckpoint(eager=False)  # sizes + both join sides
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    b = vocab.select(F.col("source").alias("s2"), F.col("term").alias("t2"))
    inter = (
        vocab.join(
            b, (F.col("term") == F.col("t2")) & (F.col("source") < F.col("s2"))
        )
        .groupBy(F.col("source").alias("s1"), "s2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("source").alias("s1"), F.col("v").alias("va"))
    zb = sizes.select(F.col("source").alias("s2"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(za), "s1")
        .join(F.broadcast(zb), "s2")
        .select(
            "s1",
            "s2",
            "inter",
            (F.col("va") + F.col("vb") - F.col("inter")).alias("uni"),
            quant(
                F.col("inter") * 1.0 / (F.col("va") + F.col("vb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


#: Calibration: probability grid, bin count, and the en-marker
#: multiplier that maps marker share onto [0, 1].
_CAL_GRID = 1_000_000
_CAL_BINS = 10
_CAL_BOOST = 5


def _en_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, p_s): en label + the probabilistic marker score on the 1e6
    integer grid — shared by the calibration and AUC evaluations so
    the two report the SAME classifier."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tok = F.size(toks)
    markers = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "is"))
    )
    return docs.filter(n_tok > 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.least(
            F.lit(_CAL_GRID),
            F.floor(
                float(_CAL_BOOST)
                * _CAL_GRID
                * markers
                / n_tok
                + 0.5
            ).cast("long"),
        ).alias("p_s"),
    )


#: The scored CTE shared by the calibration and AUC oracles — MUST stay
#: the SQL twin of :func:`_en_scored`.
_EN_SCORED_SQL = f"""
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         LEAST({_CAL_GRID}, CAST(floor(
           {_CAL_BOOST}.0 * {_CAL_GRID}
           * len(list_filter({_TOKS_SQL},
                 x -> x IN ('the', 'a', 'and', 'of', 'is')))
           / len({_TOKS_SQL}) + 0.5) AS BIGINT)) AS p_s
  FROM documents
  WHERE len({_TOKS_SQL}) > 0
"""


@register(
    "quality_score_calibration",
    oracle=f"""
WITH scored AS ({_EN_SCORED_SQL}), binned AS (
  SELECT LEAST({_CAL_BINS - 1}, p_s * {_CAL_BINS} // {_CAL_GRID}) AS bin,
         p_s, y
  FROM scored
), tot AS (SELECT COUNT(*) AS n FROM binned)
SELECT bin,
       COUNT(*) AS n_docs,
       {quant_sql(f"SUM(p_s) * 1.0 / COUNT(*) / {_CAL_GRID}", 6)} AS avg_conf,
       {quant_sql("SUM(y) * 1.0 / COUNT(*)", 6)} AS obs_rate,
       {quant_sql(
           f"abs(SUM(p_s) * 1.0 / {_CAL_GRID} - SUM(y))"
           " / ANY_VALUE(tot.n)", 6)} AS ece_term
FROM binned CROSS JOIN tot
GROUP BY bin
ORDER BY bin
""",
)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bin ECE terms for a probabilistic
    English-detector: p(en) = min(1, 5 * en-marker-token-share),
    labeled against the ground-truth ``lang`` column. The standard
    evaluation for any learned quality/language filter in a data
    pipeline — here the 'model' is the same marker heuristic the
    registered ``lang_id_heuristic`` scores with, made probabilistic.

    Determinism: the score is an integer on a 1e6 grid (one floor of
    an identical rational), binning is integer division, and both the
    confidence average and the ECE term are single quantized divisions
    of exact integer sums. Plan: one map-side score pass, one 10-bin
    aggregate, a broadcast 1-row total. ECE = sum of ece_term.
    """
    scored = _en_scored(spark, sf_dir)
    binned = scored.select(
        F.least(
            F.lit(_CAL_BINS - 1),
            (F.col("p_s") * _CAL_BINS / F.lit(_CAL_GRID)).cast("long"),
        ).alias("bin"),
        "p_s",
        "y",
    )
    tot = binned.agg(F.count(F.lit(1)).alias("n"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            quant(
                F.sum("p_s") * 1.0 / F.count(F.lit(1)) / _CAL_GRID, 6
            ).alias("avg_conf"),
            quant(F.sum("y") * 1.0 / F.count(F.lit(1)), 6).alias("obs_rate"),
            quant(
                F.abs(F.sum("p_s") * 1.0 / _CAL_GRID - F.sum("y"))
                / F.first("n"),
                6,
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


#: Bigram LM scoring grid (terms floored onto 1e-9 nats before the
#: per-doc sum, so summation order cannot move the result).
_BLM_GRID = 1_000_000_000


def _bigram_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t_s): each bigram's add-one-smoothed log-prob floored
    onto the 1e-9-nat integer grid — shared by ``doc_bigram_logprob``
    and ``source_bigram_perplexity`` so the two score under the SAME
    language model. SQL twin: :data:`_BLM_TERMS_CTES`."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("toks")
    )
    pairs = (
        docs.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    pairs = pairs.localCheckpoint(eager=False)  # stream + its own counts
    paircnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    unicnt = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # marginal join + vocab size
    )
    vocab = F.broadcast(unicnt.agg(F.count(F.lit(1)).alias("v")))
    return (
        pairs.join(paircnt, ["w1", "w2"])
        .join(unicnt.select(F.col("w").alias("w1"), "c"), "w1")
        .crossJoin(vocab)
        .select(
            "doc_id",
            F.floor(
                (
                    F.log((F.col("c_ab") + 1).cast("double"))
                    - F.log((F.col("c") + F.col("v")).cast("double"))
                )
                * _BLM_GRID
                + 0.5
            )
            .cast("long")
            .alias("t_s"),
        )
    )


@session_memo("blm_doc_scores", sources=("documents",))
def _bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM score sums ``(doc_id, n, s)`` — n bigrams and
    the BIGINT sum of the 1e-9-nat grid terms — a session memo (r13
    optimization round): all THREE consumers of :func:`_bigram_terms`
    (``doc_bigram_logprob``, ``source_bigram_perplexity``,
    ``doc_fluency_outlier_gate``) reduce the term stream to exactly
    these per-doc integer sums, and each
    previously re-ran the whole LM pipeline (bigram explode + two count
    shuffles + two joins) per run (guide §2.4). Integer grid sums are
    order-free, so every downstream roll-up (per-source sums = sums of
    per-doc sums) is bit-identical to the inline formulation. Bounded:
    one short row per doc."""
    return (
        _bigram_terms(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t_s").cast("long").alias("s"),
        )
        .localCheckpoint(eager=False)
    )


#: Bigram-LM term CTEs shared by ``doc_bigram_logprob`` and
#: ``source_bigram_perplexity`` — MUST stay the SQL twin of
#: :func:`_bigram_terms`.
_BLM_TERMS_CTES = f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), uni AS (
  SELECT unnest(toks) AS w FROM toks
), unicnt AS (
  SELECT w, COUNT(*) AS c FROM uni GROUP BY w
), vocab AS (
  SELECT COUNT(*) AS v FROM unicnt
), pairs AS (
  SELECT doc_id, toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
), paircnt AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2
), terms AS (
  SELECT p.doc_id,
         CAST(floor((LN(CAST(pc.c_ab + 1 AS DOUBLE))
                     - LN(CAST(u.c + vb.v AS DOUBLE)))
                    * {_BLM_GRID} + 0.5) AS BIGINT) AS t_s
  FROM pairs p
  JOIN paircnt pc ON pc.w1 = p.w1 AND pc.w2 = p.w2
  JOIN unicnt u ON u.w = p.w1
  CROSS JOIN vocab vb
)"""


@register(
    "doc_bigram_logprob",
    oracle=f"""
WITH {_BLM_TERMS_CTES}
SELECT doc_id, COUNT(*) AS n_bigrams,
       {quant_sql(f"CAST(SUM(t_s) AS BIGINT) * 1.0 / COUNT(*) / {_BLM_GRID}",
                  6)} AS avg_logp
FROM terms
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus
    bigram LM with add-one smoothing: ln((c(w1,w2)+1)/(c(w1)+V)).
    The bigram upgrade of ``doc_unigram_logprob`` — fluency scoring
    that penalizes improbable TRANSITIONS, the stronger quality proxy.

    Every ln argument is an integer (engine-stable); each bigram's
    term is floored onto a 1e-9-nat grid before the per-doc sum, so
    per-doc aggregation order cannot move the result. Plan: map-side
    bigram stream (zip_with on the shifted self), one pair-count and
    one unigram-count shuffle, two vocabulary-keyed equi-joins back
    onto the stream, a 1-row broadcast vocabulary size.
    """
    return (
        # shared memoized per-doc (n, s) integer sums — see
        # _bigram_doc_scores; identical values to the inline groupBy
        _bigram_doc_scores(spark, sf_dir)
        .select(
            "doc_id",
            F.col("n").alias("n_bigrams"),
            quant(F.col("s") * 1.0 / F.col("n") / _BLM_GRID, 6).alias(
                "avg_logp"
            ),
        )
        .orderBy("doc_id")
    )


def _lang_kappa_oracle() -> str:
    from hadoop_cs4225_spark.registry import ORACLES

    po = quant_sql("CAST(diag AS DOUBLE) / n", 6)
    pe = quant_sql("s / (CAST(n AS DOUBLE) * n)", 6)
    kap = quant_sql(
        "(CAST(n AS DOUBLE) * diag - s) / (CAST(n AS DOUBLE) * n - s)", 6
    )
    return f"""
WITH pred AS ({ORACLES["lang_id_heuristic"]}),
cells AS (
  SELECT actual, predicted, COUNT(*) AS o FROM pred GROUP BY actual, predicted
),
rm AS (SELECT actual AS k, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY actual),
cm AS (SELECT predicted AS k, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY predicted),
s AS (SELECT SUM(CAST(rm.r AS DOUBLE) * cm.c) AS s FROM rm JOIN cm USING (k)),
t AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN actual = predicted THEN o ELSE 0 END) AS BIGINT)
           AS diag
  FROM cells
)
SELECT n AS n_docs, diag AS n_agree,
       {po} AS p_observed, {pe} AS p_expected, {kap} AS kappa
FROM t CROSS JOIN s
"""


@register("lang_id_agreement_kappa", oracle=_lang_kappa_oracle())
def lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the language-ID heuristic and the labeled
    ``lang`` column — chance-corrected agreement, the one-number answer
    to "is this classifier better than guessing the label marginals?"
    that the raw diagonal of ``lang_confusion_matrix`` cannot give.

    Identity: kappa = (N·diag − Σ_k r_k·c_k) / (N² − Σ_k r_k·c_k) —
    every term an integer-valued double (exact below 2^53; margins are
    cast to double BEFORE the product per the chi2 discipline so both
    engines degrade together beyond that), one final division,
    quantized at 6dp. Composes the REGISTERED ``lang_id_heuristic`` on
    both sides (the audit-composition discipline). Plan: the scoring
    scan is map-only; everything after the |langs|² cell count is
    constant-size.
    """
    pred = lang_id_heuristic(spark, sf_dir).select("actual", "predicted")
    cells = (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)  # feeds margins + totals
    )
    rm = cells.groupBy("actual").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("predicted").agg(F.sum("o").cast("long").alias("c"))
    s = (
        rm.join(cm, rm["actual"] == cm["predicted"])
        .agg(F.sum(F.col("r").cast("double") * F.col("c")).alias("s"))
    )
    t = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("o")).otherwise(0)
        )
        .cast("long")
        .alias("diag"),
    )
    nd = F.col("n").cast("double")
    return t.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_docs"),
        F.col("diag").alias("n_agree"),
        quant(F.col("diag").cast("double") / F.col("n"), 6).alias("p_observed"),
        quant(F.col("s") / (nd * F.col("n")), 6).alias("p_expected"),
        quant(
            (nd * F.col("diag") - F.col("s")) / (nd * F.col("n") - F.col("s")),
            6,
        ).alias("kappa"),
    )


def _auc_oracle() -> str:
    num = "(CAST(s2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1))"
    den = "(2.0 * CAST(n1 AS DOUBLE) * n0)"
    return f"""
WITH scored AS ({_EN_SCORED_SQL}),
h AS (
  SELECT p_s, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY p_s
),
r AS (
  SELECT pos,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY p_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2
  FROM h
),
t AS (
  SELECT (SELECT CAST(SUM(pos) AS BIGINT) FROM h) AS n1,
         (SELECT CAST(SUM(cnt - pos) AS BIGINT) FROM h) AS n0,
         CAST(SUM(pos * r2) AS BIGINT) AS s2
  FROM r
)
SELECT n1 AS n_pos, n0 AS n_neg,
       {quant_sql(f"{num} / {den}", 6)} AS auc,
       {quant_sql(f"{num} / {den} * 2.0 - 1.0", 6)} AS gini_coef
FROM t
"""


@register("quality_score_auc", oracle=_auc_oracle())
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (and Gini coefficient) of the probabilistic en-detector
    against the ``lang`` label — the threshold-free ranking-quality
    number completing the classifier-eval trio (confusion matrix →
    calibration/ECE → AUC). Shares the EXACT scorer with
    ``quality_score_calibration`` (``_en_scored`` / its SQL twin), so
    the two always evaluate the same model.

    AUC via the rank-sum identity AUC = (R⁺ − n₁(n₁+1)/2) / (n₁n₀)
    with full midrank tie handling — and since the score lives on the
    bounded 1e6 integer grid, the midranks come from the score
    HISTOGRAM (the ``source_length_mannwhitney`` / spearman
    discipline): doubled midranks 2r = 2·cnt_less + cnt + 1 are exact
    BIGINTs off a histogram-sized cumulative window, never a
    corpus-sized sort. One scan, one bounded histogram, cast-first
    products, one quantized division.
    """
    scored = _en_scored(spark, sf_dir)
    h = (
        scored.groupBy("p_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
        .localCheckpoint(eager=False)  # feeds ranks + totals
    )
    from pyspark.sql import Window

    w = Window.orderBy("p_s").rowsBetween(Window.unboundedPreceding, -1)
    # histogram-sized frame: rows = distinct scores on the bounded grid
    r = h.select(
        "pos",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    t = (
        r.agg(F.sum(F.col("pos") * F.col("r2")).cast("long").alias("s2"))
        .crossJoin(
            F.broadcast(
                h.agg(
                    F.sum("pos").cast("long").alias("n1"),
                    F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n0"),
                )
            )
        )
    )
    num = F.col("s2").cast("double") - F.col("n1").cast("double") * (
        F.col("n1") + 1
    )
    den = 2.0 * F.col("n1").cast("double") * F.col("n0")
    return t.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        quant(num / den, 6).alias("auc"),
        quant(num / den * 2.0 - 1.0, 6).alias("gini_coef"),
    )


@register(
    "source_bigram_perplexity",
    oracle=f"""
WITH {_BLM_TERMS_CTES}, agg AS (
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(t.t_s) AS BIGINT) AS s
  FROM terms t JOIN documents d ON t.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_bigrams,
       {quant_sql(f"s * 1.0 / n_bigrams / {_BLM_GRID}", 6)} AS avg_logp,
       {quant_sql(f"EXP(-(s * 1.0 / n_bigrams / {_BLM_GRID}))", 4)}
         AS perplexity
FROM agg
ORDER BY source
""",
)
def source_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram perplexity under the corpus LM — THE headline
    number an LLM-data pipeline quotes per source: ppl = exp(-mean
    bigram log-prob over all of the source's transitions). A source
    whose perplexity spikes relative to the corpus is either a domain
    shift or a quality regression; this is the per-source roll-up of
    ``doc_bigram_logprob``'s per-document fluency score, under the
    SAME model by construction (:func:`_bigram_terms` /
    :data:`_BLM_TERMS_CTES` shared with that query).

    Determinism: per-bigram terms are exact integers on the 1e-9-nat
    grid, the per-source sum is a BIGINT (order-free), the mean is one
    quantized division, and EXP runs on an identical double in both
    engines (quantized at 4 dp, the coarser grid absorbing any last-ulp
    libm disagreement). Plan: the terms stream's own shuffles plus ONE
    extra doc_id-keyed join to fetch sources and a per-source partial
    agg — nothing new that scales with corpus size beyond the join.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    agg = (
        # shared memoized per-doc (n, s) sums (_bigram_doc_scores): the
        # per-source totals are sums of per-doc BIGINT sums — order-free
        # integers, bit-identical to aggregating the raw term stream
        _bigram_doc_scores(spark, sf_dir)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("s"),
        )
    )
    avg_logp = F.col("s") * 1.0 / F.col("n_bigrams") / _BLM_GRID
    return agg.select(
        "source",
        "n_bigrams",
        quant(avg_logp, 6).alias("avg_logp"),
        quant(F.exp(-avg_logp), 4).alias("perplexity"),
    ).orderBy("source")


#: Integer grid for the Brier decomposition's per-bin terms: each
#: bin's contribution snaps to 1e-9 before the 10-bin sum, so the sum
#: is exact BIGINT arithmetic in both engines (term <= N, so
#: term * 1e9 <= 5e13 at sf0.1 — far inside BIGINT; the same
#: bound argument as the bigram-LM grid).
_BRIER_GRID = 1_000_000_000


@register(
    "quality_brier_decomposition",
    oracle=f"""
WITH scored AS ({_EN_SCORED_SQL}), binned AS (
  SELECT LEAST({_CAL_BINS - 1}, p_s * {_CAL_BINS} // {_CAL_GRID}) AS bin,
         p_s, y
  FROM scored
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(p_s) AS BIGINT) AS sp,
         CAST(SUM(p_s * p_s) AS BIGINT) AS spp,
         CAST(SUM(p_s * y) AS BIGINT) AS spy
  FROM binned
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(p_s) AS BIGINT) AS sp_b,
         CAST(SUM(p_s * p_s) AS BIGINT) AS spp_b,
         CAST(SUM(y) AS BIGINT) AS sy_b,
         CAST(SUM(p_s * y) AS BIGINT) AS spy_b
  FROM binned GROUP BY bin
), terms AS (
  SELECT
    CAST(floor(n_b * (CAST(sp_b AS DOUBLE) / n_b / {_CAL_GRID}
                      - CAST(sy_b AS DOUBLE) / n_b)
               * (CAST(sp_b AS DOUBLE) / n_b / {_CAL_GRID}
                  - CAST(sy_b AS DOUBLE) / n_b)
               * {_BRIER_GRID} + 0.5) AS BIGINT) AS t_rel,
    CAST(floor(n_b * (CAST(sy_b AS DOUBLE) / n_b
                      - CAST(t.sy AS DOUBLE) / t.n)
               * (CAST(sy_b AS DOUBLE) / n_b
                  - CAST(t.sy AS DOUBLE) / t.n)
               * {_BRIER_GRID} + 0.5) AS BIGINT) AS t_res,
    CAST(floor((spp_b - CAST(sp_b AS DOUBLE) * sp_b / n_b)
               / {_CAL_GRID} / {_CAL_GRID}
               * {_BRIER_GRID} + 0.5) AS BIGINT) AS t_wb,
    CAST(floor((spy_b - CAST(sp_b AS DOUBLE) * sy_b / n_b)
               / {_CAL_GRID}
               * {_BRIER_GRID} + 0.5) AS BIGINT) AS t_cov
  FROM bins CROSS JOIN tot t
), sums AS (
  SELECT CAST(SUM(t_rel) AS BIGINT) AS rel_s,
         CAST(SUM(t_res) AS BIGINT) AS res_s,
         CAST(SUM(t_wb) AS BIGINT) AS wb_s,
         CAST(SUM(t_cov) AS BIGINT) AS cov_s
  FROM terms
)
SELECT t.n AS n_docs,
       {quant_sql(
           f"(CAST(t.spp AS DOUBLE) / {_CAL_GRID} / {_CAL_GRID}"
           f" - 2.0 * t.spy / {_CAL_GRID} + t.sy) / t.n", 6)} AS brier,
       {quant_sql(f"CAST(s.rel_s AS DOUBLE) / {_BRIER_GRID} / t.n", 6)}
         AS reliability,
       {quant_sql(f"CAST(s.res_s AS DOUBLE) / {_BRIER_GRID} / t.n", 6)}
         AS resolution,
       {quant_sql(f"CAST(s.wb_s AS DOUBLE) / {_BRIER_GRID} / t.n", 6)}
         AS within_bin,
       {quant_sql(f"CAST(s.cov_s AS DOUBLE) / {_BRIER_GRID} / t.n", 6)}
         AS cov_py,
       {quant_sql(
           "(CAST(t.sy AS DOUBLE) / t.n) * (1.0 - CAST(t.sy AS DOUBLE) / t.n)",
           6)} AS uncertainty
FROM tot t CROSS JOIN sums s
""",
)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the English-detector's Brier score:
    brier = reliability - resolution + uncertainty + within-bin
    variance - 2 * within-bin forecast/outcome covariance (the exact
    identity when forecasts VARY inside a bin — the textbook three-term
    form silently assumes bin-constant forecasts), over the SAME
    scored frame and 10 bins as
    ``quality_score_calibration`` (shared ``_en_scored`` /
    ``_EN_SCORED_SQL``). Calibration answered "how far off is each
    bin"; this answers WHY the score is what it is — a miscalibrated
    model (reliability) reads very differently from an
    undiscriminating one (low resolution), and the within-bin term is
    the part binning hides. The exact additive identity is pinned in
    tests/test_round8_ops.py.

    Determinism: every aggregate is an exact BIGINT (scores live on
    the 1e6 integer grid), each bin's three decomposition terms snap
    to the 1e-9 grid BEFORE the 10-bin sum (exact integer sum in both
    engines — the pagerank per-iteration-snap discipline), and the
    raw Brier score is one composition of five global integer sums.
    Plan: one map-side score pass, one 10-row bin aggregate plus a
    1-row total, all joins broadcast.
    """
    scored = _en_scored(spark, sf_dir)
    binned = scored.select(
        F.least(
            F.lit(_CAL_BINS - 1),
            (F.col("p_s") * _CAL_BINS / F.lit(_CAL_GRID)).cast("long"),
        ).alias("bin"),
        "p_s",
        "y",
    )
    tot = F.broadcast(
        binned.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
            F.sum("p_s").cast("long").alias("sp"),
            F.sum(F.col("p_s") * F.col("p_s")).cast("long").alias("spp"),
            F.sum(F.col("p_s") * F.col("y")).cast("long").alias("spy"),
        )
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("p_s").cast("long").alias("sp_b"),
        F.sum(F.col("p_s") * F.col("p_s")).cast("long").alias("spp_b"),
        F.sum("y").cast("long").alias("sy_b"),
        F.sum(F.col("p_s") * F.col("y")).cast("long").alias("spy_b"),
    )
    pbar = F.col("sp_b").cast("double") / F.col("n_b") / _CAL_GRID
    obar_b = F.col("sy_b").cast("double") / F.col("n_b")
    obar = F.col("sy").cast("double") / F.col("n")
    snap = lambda c: F.floor(c * _BRIER_GRID + 0.5).cast("long")  # noqa: E731
    terms = bins.crossJoin(tot).select(
        snap(F.col("n_b") * (pbar - obar_b) * (pbar - obar_b)).alias("t_rel"),
        snap(F.col("n_b") * (obar_b - obar) * (obar_b - obar)).alias("t_res"),
        snap(
            (F.col("spp_b") - F.col("sp_b").cast("double") * F.col("sp_b") / F.col("n_b"))
            / _CAL_GRID
            / _CAL_GRID
        ).alias("t_wb"),
        snap(
            (F.col("spy_b") - F.col("sp_b").cast("double") * F.col("sy_b") / F.col("n_b"))
            / _CAL_GRID
        ).alias("t_cov"),
    )
    sums = F.broadcast(
        terms.agg(
            F.sum("t_rel").cast("long").alias("rel_s"),
            F.sum("t_res").cast("long").alias("res_s"),
            F.sum("t_wb").cast("long").alias("wb_s"),
            F.sum("t_cov").cast("long").alias("cov_s"),
        )
    )
    return tot.crossJoin(sums).select(
        F.col("n").alias("n_docs"),
        quant(
            (
                F.col("spp").cast("double") / _CAL_GRID / _CAL_GRID
                - 2.0 * F.col("spy") / _CAL_GRID
                + F.col("sy")
            )
            / F.col("n"),
            6,
        ).alias("brier"),
        quant(F.col("rel_s").cast("double") / _BRIER_GRID / F.col("n"), 6).alias(
            "reliability"
        ),
        quant(F.col("res_s").cast("double") / _BRIER_GRID / F.col("n"), 6).alias(
            "resolution"
        ),
        quant(F.col("wb_s").cast("double") / _BRIER_GRID / F.col("n"), 6).alias(
            "within_bin"
        ),
        quant(F.col("cov_s").cast("double") / _BRIER_GRID / F.col("n"), 6).alias(
            "cov_py"
        ),
        quant(obar * (1.0 - obar), 6).alias("uncertainty"),
    )


#: Kneser-Ney absolute-discount mass. 0.75 is the textbook default;
#: spelled as a clean decimal so the rendered SQL literal is exact.
_KN_D = 0.75
_KN_TOPK = 20

#: Bigram-count CTEs shared wording for the KN oracle: distinct-pair
#: continuation counts + left-context totals, all exact BIGINTs.
_KN_CTES = f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), pairs AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
), paircnt AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM pairs GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_w1,
         CAST(COUNT(*) AS BIGINT) AS n1p_w1
  FROM paircnt GROUP BY w1
), cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_w2 FROM paircnt GROUP BY w2
), bigt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM paircnt
)"""


@register(
    "bigram_kneser_ney_topk",
    oracle=f"""
WITH {_KN_CTES}
SELECT w1, w2, c_ab,
       {quant_sql(
           f"(GREATEST(c_ab - {_KN_D}, 0.0)"
           f" + {_KN_D} * n1p_w1 * n1p_w2 / t.t) / c_w1", 9)} AS p_kn
FROM paircnt JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN bigt t
ORDER BY p_kn DESC, w1, w2
LIMIT {_KN_TOPK}
""",
)
def bigram_kneser_ney_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams by interpolated Kneser-Ney probability —
    absolute discounting plus the continuation-probability backoff
    (how many distinct contexts a word follows, not how often it
    occurs), the smoothing that actually ships in n-gram LMs, next to
    the module's add-one bigram LM (``doc_bigram_logprob``).

    P(w2|w1) = (max(c(w1w2) - D, 0) + D * N1+(w1,.) * N1+(.,w2) / N1+(..))
               / c(w1), D = 0.75.

    All five count frames are exact BIGINT aggregates of the one
    distinct-pair table; the probability is a single identically-
    composed IEEE expression quantized to 9 dp, with (w1, w2) breaking
    ties — a total order, so the top-k is deterministic. Plan: the
    pair scan feeds one partial-agg shuffle; ctx/cont re-aggregate the
    ALREADY-REDUCED pair-count frame (vocab-bounded, not corpus-
    bounded); the final ranking is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("toks")
    )
    pairs = (
        docs.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    paircnt = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .localCheckpoint(eager=False)  # feeds ctx, cont, bigt + itself
    )
    ctx = paircnt.groupBy("w1").agg(
        F.sum("c_ab").cast("long").alias("c_w1"),
        F.count(F.lit(1)).cast("long").alias("n1p_w1"),
    )
    cont = paircnt.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_w2")
    )
    bigt = F.broadcast(paircnt.agg(F.count(F.lit(1)).cast("long").alias("t")))
    p_kn = quant(
        (
            F.greatest(F.col("c_ab") - _KN_D, F.lit(0.0))
            + F.lit(_KN_D) * F.col("n1p_w1") * F.col("n1p_w2") / F.col("t")
        )
        / F.col("c_w1"),
        9,
    )
    return (
        paircnt.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(bigt)
        .select("w1", "w2", "c_ab", p_kn.alias("p_kn"))
        .orderBy(F.desc("p_kn"), "w1", "w2")
        .limit(_KN_TOPK)
    )


#: TextRank: damped weighted power iteration over the token
#: co-occurrence graph (adjacent-pair edges, symmetrized, self-loops
#: dropped). Same DAMPING/N_ITERS discipline as graph.py's PageRank —
#: per-iteration 12-dp snap, final 9-dp quantize — but the WEIGHTED
#: variant: contributions are r_src * w / wdeg_src.
_TR_DAMPING = 0.85
_TR_TELEPORT = 0.15
_TR_ITERS = 3
_TR_TOPK = 20

_TR_EDGES_SQL = f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), adj AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
  WHERE toks[g.i] <> toks[g.i + 1]
), sym AS (
  SELECT w1 AS src, w2 AS dst FROM adj
  UNION ALL
  SELECT w2 AS src, w1 AS dst FROM adj
), edges AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM sym GROUP BY src, dst
), wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wd FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM wdeg)"""


def _tr_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT e.dst AS node,
         {quant_sql(
             f"{_TR_TELEPORT} / (SELECT n FROM nn)"
             f" + {_TR_DAMPING} * SUM({prev}.r * e.w / wdeg.wd)",
             12,
         )} AS r
  FROM edges e
  JOIN {prev} ON e.src = {prev}.node
  JOIN wdeg ON e.src = wdeg.src
  GROUP BY e.dst
)"""


@register(
    "textrank_keywords_topk",
    oracle=f"""
WITH {_TR_EDGES_SQL},
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM wdeg)
,{_tr_iter_sql("r0", "r1")}
,{_tr_iter_sql("r1", "r2")}
,{_tr_iter_sql("r2", "r3")}
SELECT node AS token, {quant_sql("r", 9)} AS rank_q
FROM r3
ORDER BY rank_q DESC, token
LIMIT {_TR_TOPK}
""",
)
def textrank_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: top-20 tokens by damped WEIGHTED
    power iteration over the corpus co-occurrence graph (adjacent
    token pairs, symmetrized, weight = pair frequency) — the unsup-
    ervised keyword ranker from Mihalcea & Tarau (2004), and the
    weighted complement to graph.py's unweighted ``pagerank_trade_
    network`` (contributions scale by edge weight over weighted
    degree).

    Determinism: edge weights and weighted degrees are exact BIGINTs;
    each iteration's rank snaps to the 12-dp grid (the pagerank
    per-iteration discipline — engines sum per-node contributions in
    different orders), the final rank quantizes to 9 dp with the
    token as tiebreak. Plan: the pair fanout reduces to a vocab-
    bounded edge list materialized ONCE (localCheckpoint) for the
    degree frame and all three iteration joins; each iteration is one
    equi-join shuffle on the token key — |edges| rows per round,
    |vocab| state, same shape at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks().alias("toks")
    )
    adj = (
        docs.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1), "
                    "slice(toks, 2, size(toks) - 1), "
                    "(a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .where(F.col("w1") != F.col("w2"))
    )
    edges = (
        adj.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(adj.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wd"))
    nn = wdeg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    edges_deg = edges.join(wdeg, "src").select("src", "dst", "w", "wd")
    ranks = wdeg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_TR_ITERS):
        ranks = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("r") * F.col("w") / F.col("wd")).alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                quant(
                    F.lit(_TR_TELEPORT) / F.col("n")
                    + F.lit(_TR_DAMPING) * F.col("s"),
                    12,
                ).alias("r"),
            )
        )
    return (
        ranks.select(F.col("node").alias("token"), quant("r", 9).alias("rank_q"))
        .orderBy(F.col("rank_q").desc(), "token")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# Round-8 batch 3: vocabulary coverage estimation (Good-Turing / Chao1)
# ---------------------------------------------------------------------------

@register(
    "vocab_good_turing_chao1",
    oracle=f"""
WITH tc AS (
  SELECT source, tok, COUNT(*) AS cnt
  FROM (SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents) t
  GROUP BY source, tok
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       {quant_sql(
           "CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
           " / SUM(cnt)", 8)} AS gt_unseen_mass,
       {quant_sql(
           "COUNT(*) + CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)"
           " AS DOUBLE) * (SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1)"
           " / (2.0 * (SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + 1))",
           4)} AS chao1_richness
FROM tc
GROUP BY source
ORDER BY source
""",
)
def vocab_good_turing_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary coverage: Good-Turing unseen-token mass
    (N1/N — the probability the NEXT token drawn is a type never seen
    in this source) and the bias-corrected Chao1 richness estimate
    (V + N1*(N1-1) / (2*(N2+1)) — how many types the source would show
    at infinite sampling). The curation question these answer: has a
    source's vocabulary been exhausted, or does more crawl budget buy
    genuinely new text? (Gaps vs the Zipf/Heaps fits in this module:
    those fit curves; these are the nonparametric frequency-of-
    frequencies estimators.)

    Everything up to the two final divisions is exact BIGINT counting
    ((source, token) reduce over the WRITTEN token index ->
    frequency-of-frequency rollup); the divisions are quantized. Two
    partial-agg shuffles, both map-side combined; no joins, no windows
    — the 100 TB plan is layout scan -> two hash aggregates.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    tc = (
        token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
        .select("source", F.col("word").alias("tok"), "tf")
        .groupBy("source", "tok")
        .agg(F.sum("tf").alias("cnt"))
    )
    n1 = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("long")
    n2 = F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast("long")
    return (
        tc.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            n1.alias("n1"),
            n2.alias("n2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n1",
            "n2",
            quant(
                F.col("n1").cast("double") / F.col("n_tokens"), 8
            ).alias("gt_unseen_mass"),
            quant(
                F.col("vocab")
                + F.col("n1").cast("double")
                * (F.col("n1") - 1)
                / (2.0 * (F.col("n2") + 1)),
                4,
            ).alias("chao1_richness"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-8 batch 3: Naive Bayes language classifier with held-out accuracy
# ---------------------------------------------------------------------------

#: Log-prob snap grid: each per-token log-likelihood is snapped to this
#: integer grid BEFORE summation, so the per-document score is an exact
#: BIGINT sum (reassociation-proof). |ln p| <= ~15 for Laplace floors at
#: these corpus sizes -> |term| <= 1.5e10; x 1e9 x doc tokens (<= 4096)
#: stays far inside BIGINT.
_NB_GRID = 1_000_000_000

#: Train split percentage (mirrors sampling.TRAIN_PCT's 90/10 rule).
_NB_TRAIN_PCT = 90


def _nb_split_sql(train: bool) -> str:
    op = "<" if train else ">="
    return f"{hash60_sql('CAST(doc_id AS VARCHAR)')} % 100 {op} {_NB_TRAIN_PCT}"


@register(
    "nb_lang_classifier_acc",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
  WHERE len({_TOKS_SQL}) >= 1
), train_toks AS (
  SELECT lang, unnest(toks) AS tok FROM base WHERE {_nb_split_sql(True)}
), test_toks AS (
  SELECT doc_id, lang, unnest(toks) AS tok FROM base WHERE {_nb_split_sql(False)}
), vocab AS (
  SELECT COUNT(DISTINCT tok) AS v FROM train_toks
), lang_tot AS (
  SELECT lang, COUNT(*) AS tot FROM train_toks GROUP BY lang
), lang_tok AS (
  SELECT lang, tok, COUNT(*) AS cnt FROM train_toks GROUP BY lang, tok
), prior AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(COUNT(*)) OVER () AS n_all
  FROM base WHERE {_nb_split_sql(True)} GROUP BY lang
), term AS (
  SELECT t.doc_id, t.lang AS true_lang, lt.lang AS model_lang,
         CAST(floor(ln((COALESCE(k.cnt, 0) + 1.0) / (lt.tot + v.v))
                    * {_NB_GRID} + 0.5) AS BIGINT) AS lp
  FROM test_toks t
  CROSS JOIN vocab v
  JOIN lang_tot lt ON TRUE
  LEFT JOIN lang_tok k ON k.lang = lt.lang AND k.tok = t.tok
), scored AS (
  SELECT s.doc_id, s.true_lang, s.model_lang,
         s.s + CAST(floor(ln(CAST(p.n_docs AS DOUBLE) / p.n_all)
                          * {_NB_GRID} + 0.5) AS BIGINT) AS score
  FROM (SELECT doc_id, true_lang, model_lang, SUM(lp) AS s
        FROM term GROUP BY doc_id, true_lang, model_lang) s
  JOIN prior p ON p.lang = s.model_lang
), pred AS (
  SELECT doc_id, true_lang, model_lang AS pred_lang FROM (
    SELECT doc_id, true_lang, model_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, model_lang) AS rn
    FROM scored) z WHERE rn = 1
)
SELECT true_lang,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       {quant_sql(
           "CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)"
           " AS DOUBLE) / COUNT(*)", 6)} AS acc
FROM pred
GROUP BY true_lang
ORDER BY true_lang
""",
)
def nb_lang_classifier_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained on the 90%
    hash split and scored on the held-out 10%: Laplace-smoothed token
    likelihoods + doc-count priors, per-language held-out accuracy.
    The SUPERVISED complement to ``lang_id_heuristic`` (fixed marker
    lists) — this is the train/predict/evaluate loop expressed as
    dataframe algebra, the smallest honest instance of "fit a text
    classifier on 100 TB with one scan per phase".

    Honesty note: the synthetic corpus draws every language's TEXT
    from one shared token distribution (lang is metadata-only), so the
    reported held-out accuracy is chance-level BY CONSTRUCTION — the
    audit measures that honestly rather than inventing signal; on a
    real multilingual corpus the same plan separates languages easily.

    Determinism: every per-token log-likelihood ln((cnt+1)/(tot+V)) is
    computed from exact BIGINT counts, snapped to the 1e-9 grid, and
    summed as BIGINTs (reassociation-proof); argmax ties break to the
    alphabetically first language via row_number (per-doc 5-row
    window, partitioned by doc).

    Scale: train pass = two hash aggregates over the token stream;
    scoring fans the test token stream out x|langs| (a constant) and
    joins the broadcast-size (lang, token) probability table — one
    (doc, lang)-keyed partial agg, no all-pairs anywhere.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", _toks().alias("toks"))
        .where(F.size("toks") >= 1)
    )
    is_train = hash60(F.col("doc_id").cast("string")) % 100 < _NB_TRAIN_PCT
    train = docs.where(is_train)
    test = docs.where(~is_train)
    train_toks = train.select("lang", F.explode("toks").alias("tok"))
    vocab = F.broadcast(
        train_toks.agg(F.countDistinct("tok").alias("v"))
    )
    lang_tot = train_toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("tot")
    )
    lang_tok = train_toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    prior = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n_all = F.broadcast(train.agg(F.count(F.lit(1)).alias("n_all")))

    test_toks = test.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode("toks").alias("tok"),
    )
    snap = lambda c: F.floor(c * _NB_GRID + 0.5).cast("long")  # noqa: E731
    term = (
        test_toks.crossJoin(
            F.broadcast(lang_tot.select(F.col("lang").alias("model_lang"), "tot"))
        )
        .crossJoin(vocab)
        .join(
            F.broadcast(
                lang_tok.select(
                    F.col("lang").alias("model_lang"), "tok", "cnt"
                )
            ),
            ["model_lang", "tok"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "model_lang",
            snap(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("tot") + F.col("v"))
                )
            ).alias("lp"),
        )
    )
    prior_lp = (
        prior.crossJoin(n_all)
        .select(
            F.col("lang").alias("model_lang"),
            snap(
                F.log(F.col("n_docs").cast("double") / F.col("n_all"))
            ).alias("prior_lp"),
        )
    )
    scored = (
        term.groupBy("doc_id", "true_lang", "model_lang")
        .agg(F.sum("lp").alias("s"))
        .join(F.broadcast(prior_lp), "model_lang")
        .select(
            "doc_id",
            "true_lang",
            "model_lang",
            (F.col("s") + F.col("prior_lp")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "model_lang"
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("model_lang").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_lang",
            "n_test",
            "n_correct",
            quant(
                F.col("n_correct").cast("double") / F.col("n_test"), 6
            ).alias("acc"),
        )
        .orderBy("true_lang")
    )


# ---------------------------------------------------------------------------
# Round-8 batch 4: branching (context) entropy per token
# ---------------------------------------------------------------------------

#: Entropy-term grid and the number of high-frequency tokens reported.
_CTX_GRID = 1_000_000_000
_CTX_TOP_K = 20


@register(
    "token_context_entropy",
    oracle=f"""
WITH toks AS (
  SELECT {_TOKS_SQL} AS toks FROM documents
), pairs AS (
  SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) g
), paircnt AS (
  SELECT w1, w2, COUNT(*) AS c FROM pairs GROUP BY w1, w2
), pp AS (
  SELECT w1, w2, c,
         CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY w1) AS pr,
         CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY w2) AS pl
  FROM paircnt
), rent AS (
  SELECT w1 AS w, CAST(SUM(CAST(floor(-pr * ln(pr) * {_CTX_GRID} + 0.5)
                               AS BIGINT)) AS BIGINT) AS ent_q
  FROM pp GROUP BY w1
), lent AS (
  SELECT w2 AS w, CAST(SUM(CAST(floor(-pl * ln(pl) * {_CTX_GRID} + 0.5)
                               AS BIGINT)) AS BIGINT) AS ent_q
  FROM pp GROUP BY w2
), uni AS (
  SELECT unnest(toks) AS w FROM toks
), unicnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY w
)
SELECT u.w AS token, u.n,
       {quant_sql(f"COALESCE(r.ent_q, 0) / {_CTX_GRID}.0", 6)}
         AS right_entropy,
       {quant_sql(f"COALESCE(l.ent_q, 0) / {_CTX_GRID}.0", 6)}
         AS left_entropy
FROM unicnt u
LEFT JOIN rent r ON r.w = u.w
LEFT JOIN lent l ON l.w = u.w
ORDER BY u.n DESC, u.w
LIMIT {_CTX_TOP_K}
""",
)
def token_context_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branching entropy per token: the entropy of the NEXT-token
    distribution (right) and PREVIOUS-token distribution (left) for
    the corpus's 20 most frequent tokens. The unsupervised-
    segmentation statistic (Harris/Tanaka-Ishii): entropy stays high
    inside free context and DROPS inside a multi-word unit, so low
    branching entropy marks tokens a tokenizer should glue to their
    neighbors (the information-theoretic complement to
    ``bigram_pmi_topk``'s pairwise score and ``bpe_pair_counts``'
    raw frequencies).

    Exactness: pair counts are exact; each -p*ln(p) term is snapped to
    the 1e-9 grid and summed as BIGINTs inside the token's partition.
    Plan: one map-side zip_with pair stream (never a self-join), one
    pair-count shuffle, two vocabulary-partitioned window passes over
    the PAIR VOCABULARY (not the corpus), a unigram count, two
    vocab-keyed left joins, distributed top-k.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents").select(_toks().alias("toks"))
    pairs = docs.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    paircnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))

    def ent(side: str) -> DataFrame:
        w = Window.partitionBy(side)
        p = F.col("c").cast("double") / F.sum("c").over(w)
        return (
            paircnt.select(
                F.col(side).alias("w"),
                F.floor(-p * F.log(p) * _CTX_GRID + 0.5)
                .cast("long")
                .alias("t"),
            )
            .groupBy("w")
            .agg(F.sum("t").cast("long").alias("ent_q"))
        )

    unicnt = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        unicnt.join(
            ent("w1").withColumnRenamed("ent_q", "r_q"), "w", "left"
        )
        .join(ent("w2").withColumnRenamed("ent_q", "l_q"), "w", "left")
        .select(
            F.col("w").alias("token"),
            "n",
            quant(
                F.coalesce(F.col("r_q"), F.lit(0)) / float(_CTX_GRID), 6
            ).alias("right_entropy"),
            quant(
                F.coalesce(F.col("l_q"), F.lit(0)) / float(_CTX_GRID), 6
            ).alias("left_entropy"),
        )
        .orderBy(F.col("n").desc(), "token")
        .limit(_CTX_TOP_K)
    )


# ---------------------------------------------------------------------------
# Round-8 batch 4: isotonic calibration (PAV via the minimax identity)
# ---------------------------------------------------------------------------

@register(
    "quality_isotonic_calibration",
    oracle=f"""
WITH scored AS ({_EN_SCORED_SQL}), binned AS (
  SELECT LEAST({_CAL_BINS - 1}, p_s * {_CAL_BINS} // {_CAL_GRID}) AS bin, y
  FROM scored
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS ys
  FROM binned GROUP BY bin
), ival AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(SUM(m.ys) AS DOUBLE) / SUM(m.n) AS r
  FROM bins j JOIN bins k ON j.bin <= k.bin
  JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
), mn AS (
  SELECT i.bin, v.jb, MIN(v.r) AS lo
  FROM bins i JOIN ival v ON v.jb <= i.bin AND v.kb >= i.bin
  GROUP BY i.bin, v.jb
), iso AS (
  SELECT bin, MAX(lo) AS iso_r FROM mn GROUP BY bin
)
SELECT b.bin, b.n AS n_docs,
       {quant_sql("CAST(b.ys AS DOUBLE) / b.n", 6)} AS raw_rate,
       {quant_sql("i.iso_r", 6)} AS iso_rate
FROM bins b JOIN iso i USING (bin)
ORDER BY b.bin
""",
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the probabilistic English
    detector via pool-adjacent-violators, computed through PAVA's
    minimax identity: the isotonic fit at bin i equals
    max_(j<=i) min_(k>=i) mean(y[j..k]). ``quality_score_calibration``
    DIAGNOSES miscalibration (reliability/ECE); this query FIXES it —
    the monotone mapping a pipeline applies before thresholding a
    learned quality score.

    Why minimax instead of the sequential pooling loop: PAVA is
    inherently order-dependent, but on the B=10 score bins the closed
    form is three bounded self-joins of a 10-row frame (<= B^3
    interval terms, constant regardless of corpus size) — fully
    relational, no driver loop, and each interval mean is an exact
    integer ratio so MIN/MAX order can't diverge between engines.

    Plan: one map-side score pass + a 10-row bin aggregate (corpus
    grain), then constant-size algebra. Monotonicity of iso_rate and
    its MSE improvement over raw_rate are pytest-pinned.

    No reference analogue; extends the SURVEY §2 calibration family.
    """
    scored = _en_scored(spark, sf_dir)
    binned = scored.select(
        F.least(
            F.lit(_CAL_BINS - 1),
            (F.col("p_s") * _CAL_BINS / F.lit(_CAL_GRID)).cast("long"),
        ).alias("bin"),
        "y",
    )
    bins = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("ys"),
        )
        .localCheckpoint(eager=False)  # 10-row frame, read 4x below
    )
    j = bins.select(F.col("bin").alias("jb"))
    k = bins.select(F.col("bin").alias("kb"))
    m = bins.select(F.col("bin").alias("mb"), "n", "ys")
    ival = (
        j.crossJoin(k)
        .where(F.col("jb") <= F.col("kb"))
        .join(
            m,
            (F.col("mb") >= F.col("jb")) & (F.col("mb") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(
            (F.sum("ys").cast("double") / F.sum("n")).alias("r")
        )
    )
    mn = (
        bins.select(F.col("bin").alias("i"))
        .join(
            ival,
            (F.col("jb") <= F.col("i")) & (F.col("kb") >= F.col("i")),
        )
        .groupBy("i", "jb")
        .agg(F.min("r").alias("lo"))
    )
    iso = mn.groupBy("i").agg(F.max("lo").alias("iso_r"))
    return (
        bins.join(iso, bins["bin"] == iso["i"])
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            quant(F.col("ys").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            quant(F.col("iso_r"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Round-8 batch 5: readability scoring (Flesch-style, syllable proxy)
# ---------------------------------------------------------------------------

#: Flesch reading-ease constants (injected as CAST('..' AS DOUBLE) so
#: DuckDB does not parse them as DECIMAL) and the vowel-run regex used
#: as the syllable proxy.
_FLESCH_BASE = 206.835
_FLESCH_WPS = 1.015
_FLESCH_SPW = 84.6
_VOWEL_RE = "[aeiouy]+"


@register(
    "doc_readability_scores",
    oracle=f"""
WITH tok AS (
  SELECT source, doc_id, unnest({_TOKS_SQL}) AS w FROM documents
), syl AS (
  SELECT source, doc_id,
         CAST(length(regexp_replace(w, '{_VOWEL_RE}', '#', 'g'))
              - length(regexp_replace(w, '{_VOWEL_RE}', '', 'g'))
              AS BIGINT) AS runs,
         CAST(length(w) AS BIGINT) AS wlen
  FROM tok
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(GREATEST(runs, 1)) AS BIGINT) AS n_syllables,
         CAST(SUM(wlen) AS BIGINT) AS n_chars
  FROM syl GROUP BY source
)
SELECT source, n_docs, n_words, n_syllables,
       {quant_sql("CAST(n_chars AS DOUBLE) / n_words", 4)} AS avg_word_len,
       {quant_sql(
           f"CAST('{_FLESCH_BASE!r}' AS DOUBLE)"
           f" - CAST('{_FLESCH_WPS!r}' AS DOUBLE)"
           "   * (CAST(n_words AS DOUBLE) / n_docs)"
           f" - CAST('{_FLESCH_SPW!r}' AS DOUBLE)"
           "   * (CAST(n_syllables AS DOUBLE) / n_words)", 4)}
         AS flesch_ease
FROM agg
ORDER BY source
""",
)
def doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style reading-ease per source, with vowel RUNS as the
    syllable proxy (each maximal [aeiouy]+ group ≈ one syllable, floor
    1 per word — the standard cheap estimator when no dictionary is
    shippable) and documents standing in for sentences (the corpus
    carries no terminal punctuation). Readability is a stock quality-
    filter feature: training mixes are routinely reweighted away from
    degenerate low/high-complexity sources, and this gives the per-
    source knob. Complements ``doc_quality_scores`` (per-doc
    composite) with the corpus-level linguistic-complexity view.

    Exactness: the syllable count is a LENGTH DIFFERENCE of two
    regexp_replace outputs (global-flagged in DuckDB; Spark replaces
    globally by default) — integer arithmetic end to end; the Flesch
    constants are repr-injected doubles; two quantized divisions at
    the end. Plan: one map-side regex pass over the WRITTEN token
    index (per distinct word per doc, tf-weighted — the regex runs
    once per TYPE occurrence row instead of once per token) -> one
    per-source partial agg; no joins, no windows.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    tok = token_counts_frame(spark, sf_dir).select(
        "source", "doc_id", F.col("word").alias("w"), "tf"
    )
    runs = (
        F.length(F.regexp_replace("w", _VOWEL_RE, "#"))
        - F.length(F.regexp_replace("w", _VOWEL_RE, ""))
    ).cast("long")
    syl = tok.select(
        "source",
        "doc_id",
        "tf",
        runs.alias("runs"),
        F.length("w").cast("long").alias("wlen"),
    )
    agg = syl.groupBy("source").agg(
        F.sum("tf").cast("long").alias("n_words"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.col("tf") * F.greatest(F.col("runs"), F.lit(1)))
        .cast("long")
        .alias("n_syllables"),
        F.sum(F.col("tf") * F.col("wlen")).cast("long").alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_syllables",
        quant(F.col("n_chars").cast("double") / F.col("n_words"), 4).alias(
            "avg_word_len"
        ),
        quant(
            F.lit(_FLESCH_BASE)
            - F.lit(_FLESCH_WPS)
            * (F.col("n_words").cast("double") / F.col("n_docs"))
            - F.lit(_FLESCH_SPW)
            * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch_ease"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Round-9 batch 1: corpus token-distribution diagnostics
# ---------------------------------------------------------------------------

#: Burstiness top-k and the lambda quantization scale (the per-token
#: Poisson rate is quantized BEFORE exp so both engines exponentiate an
#: identical double — the source_bigram_perplexity discipline).
_BURST_TOPK = 20

_BURST_LAM_SQL = quant_sql("CAST(c AS DOUBLE) / n_docs", 9)
_BURST_EXPECTED_SQL = f"n_docs * (1 - exp(-({_BURST_LAM_SQL})))"


@register(
    "token_burstiness",
    oracle=f"""
WITH n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents),
agg AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY w
), top AS (SELECT * FROM agg ORDER BY c DESC, w LIMIT {_BURST_TOPK})
SELECT w AS token, c, df,
       {quant_sql("CAST(c AS DOUBLE) / df", 6)} AS tokens_per_doc,
       {quant_sql(_BURST_EXPECTED_SQL, 4)} AS poisson_expected_df,
       {quant_sql(f"df / ({_BURST_EXPECTED_SQL})", 6)} AS burstiness
FROM top CROSS JOIN n1
ORDER BY c DESC, token
""",
)
def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness of the heaviest tokens: a token whose
    occurrences were Poisson-scattered across documents would appear in
    ``n_docs * (1 - exp(-c/n_docs))`` documents; content words CLUMP
    (they recur within the documents that use them at all), so their
    observed document frequency falls well below that and
    ``burstiness = df_observed / df_poisson < 1``, while function words
    sit near 1. This is the standard diagnostic for telling topical
    vocabulary from glue vocabulary WITHOUT a stopword list — the
    data-driven complement to the fixed lists in ``word_count`` (O4)
    and ``doc_quality_scores``, and the term-weighting rationale behind
    ``tfidf_top_terms``.

    Determinism: c/df/n_docs are exact BIGINTs from one map-side-
    combined shuffle; the Poisson rate is quantized to the 1e-9 grid
    BEFORE exp so both engines exponentiate an identical double (the
    ``source_bigram_perplexity`` discipline), and every reported ratio
    is one quantized expression of those values.

    Scale: c and df come straight from the WRITTEN vocabulary side
    table (zero shuffles — the (token, doc) re-key happened once at
    index build); the top-20 cut is a distributed
    TakeOrderedAndProject with (count, token) total order.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    n1 = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    agg = token_df_frame(spark, sf_dir).select(
        F.col("word").alias("w"), F.col("cf").alias("c"), "df"
    )
    top = agg.orderBy(F.desc("c"), "w").limit(_BURST_TOPK)
    lam = quant(F.col("c").cast("double") / F.col("n_docs"), 9)
    expected = F.col("n_docs") * (1 - F.exp(-lam))
    return (
        top.crossJoin(n1)
        .select(
            F.col("w").alias("token"),
            "c",
            "df",
            quant(F.col("c").cast("double") / F.col("df"), 6).alias(
                "tokens_per_doc"
            ),
            quant(expected, 4).alias("poisson_expected_df"),
            quant(F.col("df") / expected, 6).alias("burstiness"),
        )
        .orderBy(F.desc("c"), "token")
    )


#: Coverage-curve cut points: share of total token mass covered by the
#: top-K vocabulary entries. The 10k cap bounds the global window.
_COVERAGE_KS = (10, 100, 1000, 10000)


@register(
    "token_coverage_curve",
    oracle=f"""
WITH cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM cnt
), top AS (SELECT c FROM cnt ORDER BY c DESC, w LIMIT {_COVERAGE_KS[-1]}),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC) AS rk,
         SUM(c) OVER (ORDER BY c DESC ROWS UNBOUNDED PRECEDING) AS cumc
  FROM top
), ks AS (SELECT CAST(unnest([{', '.join(str(k) for k in _COVERAGE_KS)}]) AS BIGINT) AS k)
SELECT k, CAST(LEAST(k, vocab_size) AS BIGINT) AS k_effective,
       CAST(cumc AS BIGINT) AS covered_tokens, total_tokens, vocab_size,
       {quant_sql("CAST(cumc AS DOUBLE) / total_tokens", 6)} AS coverage
FROM ks CROSS JOIN tot JOIN ranked ON ranked.rk = LEAST(k, vocab_size)
ORDER BY k
""",
)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of the corpus token mass
    covered by the top-K vocabulary entries at K = 10/100/1000/10000 —
    THE number a tokenizer-budget decision reads (how much of the
    stream a K-entry vocab explains) and the empirical face of the
    Zipf fit in ``doc_zipf_fit`` (slope -1 implies ~harmonic coverage
    growth). ``k_effective`` exposes small-corpus truncation honestly
    instead of extrapolating.

    Window discipline: the ONLY global window runs over the
    ALREADY-LIMITed top-10k frame (allowlisted, ceiling 10_000); the
    full vocabulary is never rank-sorted. Note the cumulative is
    ordered by count alone (not the (c, w) tie-break): row k's
    cumulative sum is tie-order-invariant because every tied token
    contributes the identical c, so the sum over ANY k highest-count
    rows is equal — the rank cut is deterministic even where the row
    order is not. Counts and cumulative sums are exact BIGINTs; the
    one division is quantized.

    Scale: token counts come straight from the WRITTEN vocabulary side
    table (zero shuffles); the 10k cut is a distributed
    TakeOrderedAndProject; everything after is <= 10k rows.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    cnt = token_df_frame(spark, sf_dir).select(
        F.col("word").alias("w"), F.col("cf").alias("c")
    )
    tot = F.broadcast(
        cnt.agg(
            F.sum("c").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
        )
    )
    top = cnt.orderBy(F.desc("c"), "w").limit(_COVERAGE_KS[-1]).select("c")
    w_rank = Window.orderBy(F.desc("c"))
    ranked = top.select(
        "c",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("c")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cumc"),
    )
    ks = spark.createDataFrame(
        [(int(k),) for k in _COVERAGE_KS], "k long"
    )
    return (
        ks.crossJoin(tot)
        .join(
            ranked,
            F.col("rk") == F.least(F.col("k"), F.col("vocab_size")),
        )
        .select(
            "k",
            F.least(F.col("k"), F.col("vocab_size"))
            .cast("long")
            .alias("k_effective"),
            F.col("cumc").cast("long").alias("covered_tokens"),
            "total_tokens",
            "vocab_size",
            quant(
                F.col("cumc").cast("double") / F.col("total_tokens"), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


#: Segmental type-token-ratio segment length (tokens). STTR compares
#: lexical diversity at a FIXED window so it is length-unbiased, unlike
#: the naive TTR which mechanically falls as docs grow.
_STTR_SEG = 25


@register(
    "source_segmental_ttr",
    oracle=f"""
WITH tok AS (
  SELECT source, doc_id, t.w, t.i - 1 AS pos
  FROM (SELECT source, doc_id, {_TOKS_SQL} AS toks FROM documents) d,
       LATERAL (SELECT unnest(toks) AS w,
                       generate_subscripts(toks, 1) AS i) t
), seg AS (
  SELECT source, doc_id, pos // {_STTR_SEG} AS seg,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
  FROM tok GROUP BY source, doc_id, seg
), sttr AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(n_types) AS BIGINT) AS sum_types
  FROM seg WHERE n_tok = {_STTR_SEG} GROUP BY source
), naive AS (
  SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab,
         CAST(COUNT(*) AS BIGINT) AS total_tokens
  FROM tok GROUP BY source
)
SELECT source, n_segments,
       {quant_sql(f"CAST(sum_types AS DOUBLE) / ({_STTR_SEG} * n_segments)", 6)}
         AS sttr,
       vocab, total_tokens,
       {quant_sql("CAST(vocab AS DOUBLE) / total_tokens", 6)} AS ttr_naive
FROM sttr JOIN naive USING (source)
ORDER BY source
""",
)
def source_segmental_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmental type-token ratio per source: mean distinct-token share
    over fixed 25-token segments. Naive TTR (also reported) falls
    mechanically with document length — a long low-diversity source and
    a short rich one can tie — so corpus-quality comparisons use the
    FIXED-window variant (STTR/MATTR family): segment each document
    into consecutive 25-token windows, score distinct/25 per full
    segment, average per source. The honest lexical-diversity
    comparison behind the per-doc signals in ``doc_token_stats`` and
    ``doc_repetition_signals``.

    Determinism: segment membership is integer position division
    (posexplode 0-based == DuckDB generate_subscripts - 1); per-segment
    type counts and their per-source sums are exact BIGINTs; the two
    ratios are one quantized division each.

    Scale: the segment aggregation keys on (source, doc, seg) — partial
    agg collapses each segment locally since tokens of a document
    arrive together in the scan; the per-source distinct keys on
    (source, token). No window, no collect, no per-doc state.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "doc_id", F.posexplode(_toks()).alias("pos", "w")
    )
    seg = (
        tok.select(
            "source",
            "doc_id",
            F.expr(f"pos DIV {_STTR_SEG}").alias("seg"),
            "w",
        )
        .groupBy("source", "doc_id", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.countDistinct("w").cast("long").alias("n_types"),
        )
    )
    sttr = (
        seg.where(F.col("n_tok") == _STTR_SEG)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("n_types").cast("long").alias("sum_types"),
        )
    )
    naive = tok.groupBy("source").agg(
        F.countDistinct("w").cast("long").alias("vocab"),
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
    )
    return (
        sttr.join(naive, "source")
        .select(
            "source",
            "n_segments",
            quant(
                F.col("sum_types").cast("double")
                / (_STTR_SEG * F.col("n_segments")),
                6,
            ).alias("sttr"),
            "vocab",
            "total_tokens",
            quant(
                F.col("vocab").cast("double") / F.col("total_tokens"), 6
            ).alias("ttr_naive"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-9 batch 5: RAKE keyphrase extraction
# ---------------------------------------------------------------------------

#: RAKE: phrases are maximal stopword-free token runs (capped at
#: _RAKE_MAXLEN to bound the fanout; longer runs are boilerplate in
#: this corpus). Word scores deg/freq snap to the 1e-9 grid so phrase
#: scores are order-free BIGINT sums.
_RAKE_MAXLEN = 6
_RAKE_TOPK = 20
_RAKE_GRID = 1_000_000_000

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)


@register(
    "doc_rake_keyphrases",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.i - 1 AS pos, t.w,
         CASE WHEN t.w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) d,
       LATERAL (SELECT unnest(toks) AS w,
                       generate_subscripts(toks, 1) AS i) t
), marked AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM tok
), words AS (
  SELECT doc_id, pid, pos, w FROM marked WHERE is_stop = 0
), plen AS (
  SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen,
         string_agg(w, ' ' ORDER BY pos) AS phrase
  FROM words GROUP BY doc_id, pid
  HAVING COUNT(*) <= {_RAKE_MAXLEN}
), wstats AS (
  SELECT w.w, CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(p.plen) AS BIGINT) AS deg
  FROM words w JOIN plen p ON p.doc_id = w.doc_id AND p.pid = w.pid
  GROUP BY w.w
), wscore AS (
  SELECT w, CAST(floor(CAST(deg AS DOUBLE) / freq * {_RAKE_GRID} + 0.5)
                 AS BIGINT) AS s_grid
  FROM wstats
), pscore AS (
  SELECT p.doc_id, p.pid, ANY_VALUE(p.phrase) AS phrase,
         CAST(SUM(s.s_grid) AS BIGINT) AS score_grid
  FROM words w
  JOIN plen p ON p.doc_id = w.doc_id AND p.pid = w.pid
  JOIN wscore s ON s.w = w.w
  GROUP BY p.doc_id, p.pid
), agg AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(MAX(score_grid) AS BIGINT) AS score_grid
  FROM pscore GROUP BY phrase
)
SELECT phrase, n_occurrences,
       {quant_sql(f"CAST(score_grid AS DOUBLE) / {_RAKE_GRID}", 6)} AS rake_score
FROM agg
ORDER BY score_grid DESC, phrase
LIMIT {_RAKE_TOPK}
""",
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: phrases are maximal stopword-free
    token runs; each word scores deg/freq (deg = total length of the
    phrases it appears in — words that live in LONG collocations score
    high, words that appear everywhere alone score low) and a phrase
    scores the sum of its words. The co-occurrence-window-free
    counterpart of ``textrank_keywords_topk`` — RAKE needs one pass
    and no graph iteration, which is why extraction pipelines run it
    first — and the MULTI-WORD unit the unigram scorers
    (``tfidf_top_terms``) can't produce.

    Determinism: phrase segmentation is an integer prefix-sum of
    stopword flags (partitioned per doc); phrase text is assembled in
    explicit pos order on both engines; deg/freq are exact BIGINTs;
    word scores snap to the 1e-9 grid so phrase scores are order-free
    BIGINT sums; identical phrases have identical word multisets hence
    identical scores (MAX = the value), and top-20 ties break on the
    phrase text.

    Scale: one posexplode pass, a per-doc prefix-sum window (massively
    parallel), and three (key, phrase-id)-keyed aggregates — all
    partial-agg shuffles; the cap bounds the per-phrase fanout.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_toks()).alias("pos", "w")
    ).withColumn(
        "is_stop",
        F.col("w").isin(*QUALITY_STOPWORDS).cast("long"),
    )
    wmark = Window.partitionBy("doc_id").orderBy("pos")
    marked = tok.withColumn("pid", F.sum("is_stop").over(wmark))
    words = marked.where(F.col("is_stop") == 0).select(
        "doc_id", "pid", "pos", "w"
    ).localCheckpoint(eager=False)  # feeds plen, wstats and pscore
    plen = (
        words.groupBy("doc_id", "pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("plen"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .where(F.col("plen") <= _RAKE_MAXLEN)
        .localCheckpoint(eager=False)  # feeds wstats and pscore
    )
    wstats = (
        words.join(plen.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    wscore = wstats.select(
        "w",
        F.floor(
            F.col("deg").cast("double") / F.col("freq") * _RAKE_GRID + 0.5
        )
        .cast("long")
        .alias("s_grid"),
    )
    pscore = (
        words.join(plen, ["doc_id", "pid"])
        .join(wscore, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.first("phrase").alias("phrase"),
            F.sum("s_grid").cast("long").alias("score_grid"),
        )
    )
    agg = pscore.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_grid").cast("long").alias("score_grid"),
    )
    return (
        agg.orderBy(F.desc("score_grid"), "phrase")
        .limit(_RAKE_TOPK)
        .select(
            "phrase",
            "n_occurrences",
            quant(
                F.col("score_grid").cast("double") / _RAKE_GRID, 6
            ).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
    )


# ---------------------------------------------------------------------------
# Round-9 batch 6: pairwise source Jensen-Shannon divergence
# ---------------------------------------------------------------------------

#: JS terms snap to this grid (nats) before the per-pair sums.
_JS_GRID = 1_000_000_000_000


@register(
    "source_js_divergence_matrix",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS w FROM documents
), cnt AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, w
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source
), common AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(SUM(CAST(floor(
           (CAST(a.c AS DOUBLE) / ta.t)
           * ln(2.0 * (CAST(a.c AS DOUBLE) / ta.t)
                / (CAST(a.c AS DOUBLE) / ta.t + CAST(b.c AS DOUBLE) / tb.t))
           * {_JS_GRID} + 0.5) AS BIGINT)
           + CAST(floor(
           (CAST(b.c AS DOUBLE) / tb.t)
           * ln(2.0 * (CAST(b.c AS DOUBLE) / tb.t)
                / (CAST(a.c AS DOUBLE) / ta.t + CAST(b.c AS DOUBLE) / tb.t))
           * {_JS_GRID} + 0.5) AS BIGINT)) AS BIGINT) AS cterms,
         {quant_sql("SUM(CAST(a.c AS DOUBLE)) / ANY_VALUE(ta.t)", 12)}
           AS mass_a,
         {quant_sql("SUM(CAST(b.c AS DOUBLE)) / ANY_VALUE(tb.t)", 12)}
           AS mass_b
  FROM cnt a JOIN cnt b ON a.w = b.w AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
  GROUP BY sa, sb
)
SELECT sa AS source_a, sb AS source_b,
       {quant_sql(
           f"0.5 * (CAST(cterms AS DOUBLE) / {_JS_GRID}"
           "        + ln(2) * (1.0 - mass_a) + ln(2) * (1.0 - mass_b))",
           6)} AS js_divergence
FROM common
ORDER BY source_a, source_b
""",
)
def source_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the sources' unigram
    distributions — the SYMMETRIC, bounded (<= ln 2) source-similarity
    matrix a mixture designer reads when deciding which sources are
    near-duplicates of each other in DISTRIBUTION (``source_kl_
    divergence`` compares each source to the corpus, which can't say
    "web1 and web2 are the same thing"; this compares sources to each
    other). JS(p, q) = 0.5 KL(p||m) + 0.5 KL(q||m), m the midpoint.

    Shared-vocabulary decomposition keeps the join INNER: tokens
    present in both sources contribute their exact midpoint terms;
    each source's mass on tokens the OTHER source lacks contributes
    ln 2 * (1 - shared_mass) in closed form — so no outer join and no
    null-probability branches, and the identity is exact, not an
    approximation.

    Determinism: counts/totals are exact BIGINTs; each per-token term
    snaps to the 1e-12 grid so per-pair sums are order-free BIGINTs;
    shared masses are ratios of exact integers quantized once.

    Scale: the token-keyed self-join fans out at most |sources| per
    token (source count is domain-bounded); one partial-agg shuffle
    each side. Never doc-pairwise.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(_toks()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    a = cnt.select(
        F.col("source").alias("sa"), "w", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("sb"), F.col("w").alias("wb"), F.col("c").alias("cb")
    )
    ta = F.broadcast(tot.select(F.col("source").alias("sa"), F.col("t").alias("tta")))
    tb = F.broadcast(tot.select(F.col("source").alias("sb"), F.col("t").alias("ttb")))
    pa = F.col("ca").cast("double") / F.col("tta")
    pb = F.col("cb").cast("double") / F.col("ttb")
    term_a = F.floor(pa * F.log(2.0 * pa / (pa + pb)) * _JS_GRID + 0.5).cast("long")
    term_b = F.floor(pb * F.log(2.0 * pb / (pa + pb)) * _JS_GRID + 0.5).cast("long")
    common = (
        a.join(b, (F.col("w") == F.col("wb")) & (F.col("sa") < F.col("sb")))
        .join(ta, "sa")
        .join(tb, "sb")
        .groupBy("sa", "sb")
        .agg(
            F.sum(term_a + term_b).cast("long").alias("cterms"),
            quant(
                F.sum(F.col("ca").cast("double")) / F.first("tta"), 12
            ).alias("mass_a"),
            quant(
                F.sum(F.col("cb").cast("double")) / F.first("ttb"), 12
            ).alias("mass_b"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    return common.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        quant(
            0.5
            * (
                F.col("cterms").cast("double") / _JS_GRID
                + ln2 * (1.0 - F.col("mass_a"))
                + ln2 * (1.0 - F.col("mass_b"))
            ),
            6,
        ).alias("js_divergence"),
    ).orderBy("source_a", "source_b")


@register(
    "doc_hapax_by_source",
    oracle=f"""
WITH cnt AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({_TOKS_SQL}) AS w FROM documents) t
  GROUP BY source, w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       {quant_sql(
           "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)",
           6)} AS hapax_vocab_share,
       {quant_sql(
           "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / SUM(c)",
           6)} AS hapax_token_share
FROM cnt
GROUP BY source
ORDER BY source
""",
)
def doc_hapax_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax/dis legomena profile per source: how much of each
    source's vocabulary occurs exactly once (or twice). The per-source
    face of ``vocab_good_turing_chao1``'s corpus-level N1/N2 counts —
    Good-Turing says the hapax TOKEN share estimates the unseen-word
    probability, so a source whose hapax share is elevated is the one
    whose vocabulary a tokenizer/model hasn't saturated yet (and the
    first to benefit from more data), while a depressed share signals
    templated text.

    Determinism: pure integer counts from one (source, token)
    partial-agg shuffle; two quantized ratios.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(_toks()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
            F.sum((F.col("c") == 2).cast("long")).cast("long").alias("dis"),
            quant(
                F.sum((F.col("c") == 1).cast("long")) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_vocab_share"),
            quant(
                F.sum((F.col("c") == 1).cast("long")) * 1.0 / F.sum("c"),
                6,
            ).alias("hapax_token_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-10 backlog: windowed-PMI collocations
# ---------------------------------------------------------------------------

#: Collocation window (skip distances 1..2), minimum pair count, and
#: the NPMI snap grid. Pairs are ORDERED (left, right) within the
#: window, the convention co-occurrence LMs use.
_WPMI_MAXSKIP = 2
_WPMI_MINC = 5
_WPMI_TOPK = 20
_WPMI_GRID = 1_000_000_000


@register(
    "token_window_pmi_topk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.i - 1 AS pos, t.w
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) d,
       LATERAL (SELECT unnest(toks) AS w,
                       generate_subscripts(toks, 1) AS i) t
), tok_m AS MATERIALIZED (SELECT doc_id, pos, w FROM tok),
pairs AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok_m a JOIN tok_m b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  UNION ALL
  SELECT a.w AS w1, b.w AS w2
  FROM tok_m a JOIN tok_m b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + {_WPMI_MAXSKIP}
), pairs_m AS MATERIALIZED (SELECT w1, w2 FROM pairs),
pcnt AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs_m GROUP BY w1, w2
  HAVING COUNT(*) >= {_WPMI_MINC}
), ucnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok_m GROUP BY w
), tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok_m) AS nu,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_m) AS np
), scored AS (
  SELECT p.w1, p.w2, p.c,
         CAST(floor(
           ln((CAST(p.c AS DOUBLE) / t.np)
              / ((CAST(u1.c AS DOUBLE) / t.nu) * (CAST(u2.c AS DOUBLE) / t.nu)))
           / (-ln(CAST(p.c AS DOUBLE) / t.np))
           * {_WPMI_GRID} + 0.5) AS BIGINT) AS npmi_grid
  FROM pcnt p
  JOIN ucnt u1 ON u1.w = p.w1
  JOIN ucnt u2 ON u2.w = p.w2
  CROSS JOIN tot t
)
SELECT w1, w2, c,
       {quant_sql(f"CAST(npmi_grid AS DOUBLE) / {_WPMI_GRID}", 6)} AS npmi
FROM scored
ORDER BY npmi_grid DESC, w1, w2
LIMIT {_WPMI_TOPK}
""",
)
def token_window_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed collocations: top-20 ordered token pairs by NORMALIZED
    PMI over co-occurrences within a 2-token window. Adjacent-bigram
    PMI (``bigram_pmi_topk``) misses collocates separated by one word
    ("new ... york" patterns); the window join catches them, and NPMI
    (PMI / -ln p(pair)) removes plain PMI's rare-pair bias so the
    ranking is comparable across frequencies — the collocation list a
    tokenizer-merge or phrase-vocabulary step consumes.

    Determinism: pair/unigram counts are exact BIGINTs; each NPMI is
    ONE quantized expression of integer ratios snapped to the 1e-9
    grid BEFORE ranking (ties then break on the pair text).

    Scale: the window join is position-keyed per doc with fanout
    exactly {_WPMI_MAXSKIP} per token (never all-pairs); counts are
    map-side-combined shuffles; the min-count filter prunes the long
    tail before the marginal joins (df-pruning discipline).

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(_toks()).alias("pos", "w")
    ).localCheckpoint(eager=False)  # both sides of the window join
    # Position-KEYED pair generation: for each skip k the left side is
    # re-keyed to (doc_id, pos + k) and equi-joined to the token at
    # exactly that position — a hash join whose key carries the window
    # constraint, so the executed fanout is exactly _WPMI_MAXSKIP per
    # token. (A doc_id-only self-join with a post-filter would
    # enumerate O(T^2) pairs per document before filtering.)
    right = tok.select(
        "doc_id", F.col("pos").alias("jpos"), F.col("w").alias("w2")
    )
    shifted = [
        tok.select(
            "doc_id",
            (F.col("pos") + F.lit(k)).alias("jpos"),
            F.col("w").alias("w1"),
        )
        for k in range(1, _WPMI_MAXSKIP + 1)
    ]
    left = shifted[0]
    for s in shifted[1:]:
        left = left.unionByName(s)
    pairs = left.join(right, ["doc_id", "jpos"]).select("w1", "w2")
    np_tot = F.broadcast(
        pairs.agg(F.count(F.lit(1)).cast("long").alias("np"))
    )
    pcnt = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .where(F.col("c") >= _WPMI_MINC)
    )
    ucnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nu_tot = F.broadcast(
        tok.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    )
    p_pair = F.col("c").cast("double") / F.col("np")
    p1 = F.col("c1").cast("double") / F.col("nu")
    p2 = F.col("c2").cast("double") / F.col("nu")
    scored = (
        pcnt.join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
            ),
            "w2",
        )
        .crossJoin(np_tot)
        .crossJoin(nu_tot)
        .select(
            "w1",
            "w2",
            "c",
            F.floor(
                F.log(p_pair / (p1 * p2))
                / (-F.log(p_pair))
                * _WPMI_GRID
                + 0.5
            )
            .cast("long")
            .alias("npmi_grid"),
        )
    )
    return (
        scored.orderBy(F.desc("npmi_grid"), "w1", "w2")
        .limit(_WPMI_TOPK)
        .select(
            "w1",
            "w2",
            "c",
            quant(F.col("npmi_grid").cast("double") / _WPMI_GRID, 6).alias(
                "npmi"
            ),
        )
        .orderBy(F.desc("npmi"), "w1", "w2")
    )


# ---------------------------------------------------------------------------
# Round-10: chi-square feature selection (characteristic tokens per source)
# ---------------------------------------------------------------------------

#: Minimum global document frequency before a token may enter the
#: chi-square ranking (prunes the hapax tail BEFORE the marginal join),
#: top-k per source, and the ranking snap grid.
_CHI2_MIN_DF = 10
_CHI2_TOPK = 10
_CHI2_GRID = 1_000_000


@register(
    "token_chi2_feature_topk",
    oracle=f"""
WITH pres AS (
  SELECT DISTINCT doc_id, source, t.w
  FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents) d,
       LATERAL (SELECT unnest(list_distinct(toks)) AS w) t
), pres_m AS MATERIALIZED (SELECT * FROM pres),
a_cnt AS (
  SELECT w, source, CAST(COUNT(*) AS BIGINT) AS a
  FROM pres_m GROUP BY w, source
), df_w AS (
  SELECT w, CAST(SUM(a) AS BIGINT) AS df
  FROM a_cnt GROUP BY w HAVING SUM(a) >= {_CHI2_MIN_DF}
), n_s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM documents
  GROUP BY source
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
cells AS (
  SELECT a.source, a.w, a.a, f.df, s.n_src, t.n,
         CAST(f.df - a.a AS BIGINT) AS b,
         CAST(s.n_src - a.a AS BIGINT) AS c,
         CAST(t.n - s.n_src - (f.df - a.a) AS BIGINT) AS d
  FROM a_cnt a
  JOIN df_w f ON f.w = a.w
  JOIN n_s s ON s.source = a.source
  CROSS JOIN tot t
  WHERE CAST(a.a AS DOUBLE) * t.n > CAST(f.df AS DOUBLE) * s.n_src
), scored AS (
  SELECT source, w, a, df,
         CAST(floor(
           CAST(n AS DOUBLE)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
           / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
           * {_CHI2_GRID} + 0.5) AS BIGINT) AS chi2_grid
  FROM cells
), ranked AS (
  SELECT source, w, a, df, chi2_grid,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2_grid DESC, w) AS rk
  FROM scored
)
SELECT source, w AS token, a AS df_in_source, df AS df_global,
       {quant_sql(f"CAST(chi2_grid AS DOUBLE) / {_CHI2_GRID}", 4)} AS chi2
FROM ranked WHERE rk <= {_CHI2_TOPK}
ORDER BY source, chi2 DESC, token
""",
)
def token_chi2_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the {_CHI2_TOPK} tokens most
    CHARACTERISTIC of each source by the 2x2 presence chi-square
    (token-in-doc x doc-in-source), restricted to positive association
    (observed presence above expectation) — the vocabulary a quality
    classifier or domain tagger trains on. ``term_keyness_llr`` ranks
    by log-likelihood ratio over token FREQUENCIES for one source pair;
    this ranks document PRESENCE across all sources simultaneously, the
    standard text-categorization feature score (Yang & Pedersen 1997).

    Determinism: all four contingency cells are exact BIGINTs; the
    chi-square is ONE double expression of those integers snapped to a
    1e-6 grid BEFORE ranking; the positive-association filter
    cross-multiplies in double identically in both engines; ties break
    on the token text.

    Scale: doc-presence pairs ARE the written token index's rows (the
    layout is (doc, word)-unique), so presence counting is one
    partial-agg shuffle over the layout scan and the global df comes
    from the vocabulary side table — the df >= {_CHI2_MIN_DF} filter
    prunes the hapax tail before the marginal join, and the rank
    window is partitioned by source over the pruned cells.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    pres = token_counts_frame(spark, sf_dir, ("source", "word")).select(
        "source", F.col("word").alias("w")
    )
    a_cnt = pres.groupBy("w", "source").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    df_w = token_df_frame(spark, sf_dir).select(
        F.col("word").alias("w"), "df"
    ).where(F.col("df") >= _CHI2_MIN_DF)
    n_s = F.broadcast(
        docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_src")
        )
    )
    tot = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ad_bc = F.col("a").cast("double") * F.col("d") - F.col("b").cast(
        "double"
    ) * F.col("c")
    chi2_grid = F.floor(
        F.col("n").cast("double")
        * ad_bc
        * ad_bc
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        )
        * _CHI2_GRID
        + 0.5
    ).cast("long")
    cells = (
        a_cnt.join(df_w, "w")
        .join(n_s, "source")
        .crossJoin(tot)
        .where(
            F.col("a").cast("double") * F.col("n")
            > F.col("df").cast("double") * F.col("n_src")
        )
        .select(
            "source",
            "w",
            "a",
            "df",
            (F.col("df") - F.col("a")).alias("b"),
            (F.col("n_src") - F.col("a")).alias("c"),
            (F.col("n") - F.col("n_src") - (F.col("df") - F.col("a"))).alias(
                "d"
            ),
            "n",
        )
    )
    wrk = Window.partitionBy("source").orderBy(
        F.desc("chi2_grid"), "w"
    )
    return (
        cells.withColumn("chi2_grid", chi2_grid)
        .withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") <= _CHI2_TOPK)
        .select(
            "source",
            F.col("w").alias("token"),
            F.col("a").alias("df_in_source"),
            F.col("df").alias("df_global"),
            quant(F.col("chi2_grid").cast("double") / _CHI2_GRID, 4).alias(
                "chi2"
            ),
        )
        .orderBy("source", F.desc("chi2"), "token")
    )


# ---------------------------------------------------------------------------
# Round-10: within-document repetition filter (Gopher/MassiveText rules)
# ---------------------------------------------------------------------------

#: Repetition-rule thresholds on the 1e-6 grid: flag a document when
#: its most frequent bigram carries more than 18% of all bigram slots
#: OR duplicate trigrams fill more than 30% of trigram slots — the
#: Gopher (Rae et al. 2021) style intra-document repetition gate.
_REP_GRID = 1_000_000
_REP_TOP_BG = 180_000
_REP_DUP_TG = 300_000


@register(
    "doc_repetition_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id, toks FROM
    (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) d
  WHERE len(toks) >= 3
), bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM t
), bgc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g
), bstat AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
         CAST(COUNT(*) AS BIGINT) AS n_bg_distinct,
         CAST(MAX(c) AS BIGINT) AS max_bg
  FROM bgc GROUP BY doc_id
), tg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
  FROM t
), tgc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g
), tstat AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tg,
         CAST(COUNT(*) AS BIGINT) AS n_tg_distinct
  FROM tgc GROUP BY doc_id
), m AS (
  SELECT b.doc_id, b.n_bg, b.n_bg_distinct, b.max_bg,
         ts.n_tg, ts.n_tg_distinct,
         CAST(floor(CAST(b.max_bg AS DOUBLE) / b.n_bg
                    * {_REP_GRID} + 0.5) AS BIGINT) AS top_bg_grid,
         CAST(floor((1.0 - CAST(ts.n_tg_distinct AS DOUBLE) / ts.n_tg)
                    * {_REP_GRID} + 0.5) AS BIGINT) AS dup_tg_grid,
         CAST(floor((1.0 - CAST(b.n_bg_distinct AS DOUBLE) / b.n_bg)
                    * {_REP_GRID} + 0.5) AS BIGINT) AS dup_bg_grid
  FROM bstat b JOIN tstat ts ON ts.doc_id = b.doc_id
)
SELECT doc_id, n_bg AS n_bigrams,
       {quant_sql(f"CAST(dup_bg_grid AS DOUBLE) / {_REP_GRID}", 6)}
         AS dup_bigram_frac,
       {quant_sql(f"CAST(dup_tg_grid AS DOUBLE) / {_REP_GRID}", 6)}
         AS dup_trigram_frac,
       {quant_sql(f"CAST(top_bg_grid AS DOUBLE) / {_REP_GRID}", 6)}
         AS top_bigram_share,
       (top_bg_grid > {_REP_TOP_BG} OR dup_tg_grid > {_REP_DUP_TG})
         AS repetition_flag
FROM m
ORDER BY doc_id
""",
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scores, the Gopher/MassiveText quality
    rules (Rae et al. 2021 §A1.1): duplicate-bigram fraction,
    duplicate-trigram fraction, and the share of bigram slots taken by
    the single most frequent bigram — the gate that removes
    keyword-stuffed and loop-generated pages which PERPLEXITY misses
    (repetitive text scores artificially fluent).
    ``duplicate_ngram_coverage`` measures repetition ACROSS documents;
    this measures repetition WITHIN each document.

    Determinism: all counts are exact BIGINTs; each ratio snaps to the
    1e-6 grid in one double expression, and the flag compares GRID
    INTEGERS against integer thresholds (no float boundary can flip it
    between engines).

    Scale: two explode -> (doc_id, gram) partial-agg shuffles (map-side
    combined; keys are doc-local so no skew beyond document length) and
    a doc_id-keyed join of the two per-doc stat frames. The max-count
    aggregation replaces a per-row O(n * distinct) array fold — the
    shuffle IS the scale-safe way to find a per-doc mode.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _toks().alias("toks")).where(
        F.size("toks") >= 3
    )

    def grams(n: int):
        return F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at("toks", i + j + 1) for j in range(n)],
                ),
            )
        ).alias("g")

    bstat = (
        t.select("doc_id", grams(2))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bg"),
            F.count(F.lit(1)).cast("long").alias("n_bg_distinct"),
            F.max("c").cast("long").alias("max_bg"),
        )
    )
    tstat = (
        t.select("doc_id", grams(3))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tg"),
            F.count(F.lit(1)).cast("long").alias("n_tg_distinct"),
        )
    )
    grid = lambda e: F.floor(e * _REP_GRID + 0.5).cast("long")
    m = bstat.join(tstat, "doc_id").select(
        "doc_id",
        "n_bg",
        grid(F.col("max_bg").cast("double") / F.col("n_bg")).alias(
            "top_bg_grid"
        ),
        grid(
            1.0 - F.col("n_tg_distinct").cast("double") / F.col("n_tg")
        ).alias("dup_tg_grid"),
        grid(
            1.0 - F.col("n_bg_distinct").cast("double") / F.col("n_bg")
        ).alias("dup_bg_grid"),
    )
    share = lambda c: quant(F.col(c).cast("double") / _REP_GRID, 6)
    return (
        m.select(
            "doc_id",
            F.col("n_bg").alias("n_bigrams"),
            share("dup_bg_grid").alias("dup_bigram_frac"),
            share("dup_tg_grid").alias("dup_trigram_frac"),
            share("top_bg_grid").alias("top_bigram_share"),
            (
                (F.col("top_bg_grid") > _REP_TOP_BG)
                | (F.col("dup_tg_grid") > _REP_DUP_TG)
            ).alias("repetition_flag"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-11 backlog: character-level entropy (compressibility proxy)
# ---------------------------------------------------------------------------

#: Per-character plogp snap grid (the l-diversity entropy discipline).
_CHENT_GRID = 1_000_000_000


@register(
    "source_char_entropy",
    oracle=f"""
WITH ch AS (
  SELECT doc_id, source, unnest(list_transform(
           range(1, length(text) + 1), i -> substr(text, i, 1))) AS c
  FROM documents WHERE length(text) > 0
), cnt AS (
  SELECT doc_id, source, c, CAST(COUNT(*) AS BIGINT) AS k
  FROM ch GROUP BY doc_id, source, c
), cells AS (
  SELECT doc_id, source, k,
         CAST(floor(
             -(CAST(k AS DOUBLE) / SUM(k) OVER (PARTITION BY doc_id))
             * ln(CAST(k AS DOUBLE) / SUM(k) OVER (PARTITION BY doc_id))
             * {_CHENT_GRID} + 0.5) AS BIGINT) AS t
  FROM cnt
), docl AS (
  SELECT doc_id, source,
         CAST(SUM(k) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS hg
  FROM cells GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {quant_sql(
           f"SUM(CAST(hg AS DOUBLE)) / COUNT(*) / {_CHENT_GRID}"
           " / 0.6931471805599453", 6)} AS mean_char_entropy_bits,
       {quant_sql(
           f"MIN(hg) / CAST({_CHENT_GRID} AS DOUBLE) / 0.6931471805599453",
           6)} AS min_char_entropy_bits,
       {quant_sql(
           f"MAX(hg) / CAST({_CHENT_GRID} AS DOUBLE) / 0.6931471805599453",
           6)} AS max_char_entropy_bits
FROM docl
GROUP BY source
ORDER BY source
""",
)
def source_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level order-0 entropy per document, profiled per
    source: the Shannon lower bound (bits/char) on what ANY entropy
    coder could compress each document to — the compressibility quality
    signal (low-entropy documents are boilerplate/repetition; extreme
    high entropy is encoded junk or wrong-charset noise). Token-level
    entropies (``doc_unigram_entropy``) miss both failure modes when
    the tokens themselves are garbage.

    Determinism: per-(doc, char) counts are exact; each -p·ln p term
    snaps to the 1e-9 grid and per-doc entropies sum as BIGINTs; the
    per-source mean/min/max divide exact integer operands once.

    Scale: one explode -> (doc, char) partial-agg shuffle (keys are
    doc-local, alphabet-bounded per doc), a doc-partitioned window over
    alphabet-sized frames, then a source rollup. Map-side combine does
    the heavy lifting; no global windows.

    Wait-free at 100 TB: nothing here is corpus-global except the
    final |sources|-row aggregate.

    No reference analogue; extends the SURVEY §2 text-analysis family.
    """
    # The per-char substr explode is ~100x the scan cost and the
    # corpus arrives as one row group: repartition first so the map
    # uses every core (the winnowing discipline; explicit width
    # survives AQE coalescing). At 100 TB the many-file scan
    # parallelizes naturally and this exchange is noise.
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ch = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.col("text").substr(i, F.lit(1)),
            )
        ).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "source", "c").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    wdoc = Window.partitionBy("doc_id")
    p = F.col("k").cast("double") / F.sum("k").over(wdoc)
    term = F.floor(-p * F.log(p) * _CHENT_GRID + 0.5).cast("long")
    docl = (
        cnt.withColumn("t", term)
        .groupBy("doc_id", "source")
        .agg(
            F.sum("k").cast("long").alias("n"),
            F.sum("t").cast("long").alias("hg"),
        )
    )
    ln2 = 0.6931471805599453
    return (
        docl.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            quant(
                F.sum(F.col("hg").cast("double"))
                / F.count(F.lit(1))
                / _CHENT_GRID
                / F.lit(ln2),
                6,
            ).alias("mean_char_entropy_bits"),
            quant(
                F.min("hg") / F.lit(float(_CHENT_GRID)) / F.lit(ln2), 6
            ).alias("min_char_entropy_bits"),
            quant(
                F.max("hg") / F.lit(float(_CHENT_GRID)) / F.lit(ln2), 6
            ).alias("max_char_entropy_bits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-11: iterative BPE merge rounds (tokenizer training, unrolled)
# ---------------------------------------------------------------------------

#: Unrolled BPE merge rounds. Each word is a SYMBOL ARRAY
#: ('cat' -> ['c','a','t','</w>']) and the merge step operates at
#: symbol-array grain in BOTH engines — never substring replace over a
#: delimited rendering. (The previous '|x|y' -> '|xy' string replace
#: had no right-boundary anchor: when the winning pair's right symbol
#: is a strict prefix of a longer symbol — e.g. pair (i, n) hitting
#: [i, n</w>] — the replace glued across the boundary and produced a
#: non-BPE merge; ADVICE r10.) Greedy left-to-right non-overlapping
#: semantics: Spark folds the array with an ``aggregate`` lambda
#: holding a one-symbol lookbehind; DuckDB computes match positions
#: and resolves x=y run overlaps by island parity (two independent
#: formulations of the same contract, pinned equal on adversarial
#: arrays in tests/test_round11_batch4.py and against the plain-Python
#: replica trainer). Words containing '|' are excluded in both
#: engines (legacy of the string rendering, kept so results are
#: stable across rounds).
_BPE_ROUNDS = 3

#: Spark-side greedy merge of adjacent (x, y) symbol pairs, as one
#: ``aggregate`` fold over `syms` with a struct accumulator: `pend`
#: holds a just-seen x awaiting its y; a match emits the fused symbol
#: and clears `pend`, so an x consumed by a merge can never start
#: another (left-to-right non-overlapping, exactly the reference BPE
#: trainer's behavior — including x=y runs: [a,a,a] + (a,a) -> [aa,a]).
#: COST BOUND (ADVICE r11): the fold appends via concat(acc.out,
#: array(...)), copying the accumulator each step — O(n^2) in the
#: word's SYMBOL COUNT. That is bounded here by construction: the
#: trainer's eligible-word filter (no '|', whitespace-delimited tokens
#: from `documents.text`) keeps symbols-per-word at natural-language
#: word length (observed max ~30 at every test SF), so the quadratic
#: term is a small constant per word. If URL-like/agglutinated tokens
#: ever become eligible, cap word length AT THE FILTER (e.g.
#: length(word) <= 64) rather than rewriting the fold.
_BPE_MERGE_SPARK = """
aggregate(
  syms,
  named_struct('out', cast(array() as array<string>),
               'pend', cast(null as string)),
  (acc, z) -> CASE
    WHEN acc.pend IS NOT NULL AND z = y THEN
      named_struct('out', concat(acc.out, array(concat(acc.pend, z))),
                   'pend', cast(null as string))
    WHEN z = x THEN
      named_struct('out', CASE WHEN acc.pend IS NULL THEN acc.out
                          ELSE concat(acc.out, array(acc.pend)) END,
                   'pend', z)
    ELSE
      named_struct('out', CASE WHEN acc.pend IS NULL
                          THEN concat(acc.out, array(z))
                          ELSE concat(acc.out, array(acc.pend, z)) END,
                   'pend', cast(null as string))
  END,
  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
         ELSE concat(acc.out, array(acc.pend)) END
)
"""

#: DuckDB-side greedy merge, staged as three expressions (DuckDB 1.0
#: has no general fold, but supports indexed + nested lambdas):
#: 1. match positions i with syms[i]=x, syms[i+1]=y;
#: 2. greedy overlap resolution — consecutive match positions occur
#:    only when x = y (a run of x's); within each island of
#:    consecutive positions (v - k constant over the sorted match
#:    list) keep every other match starting from the first, which IS
#:    left-to-right greedy;
#: 3. rebuild the array, fusing at taken positions and dropping the
#:    consumed right symbol.
_BPE_DUCK_MATCHES = (
    "list_filter(range(1, len(syms)),"
    " i -> syms[i] = x AND syms[i + 1] = y)"
)
_BPE_DUCK_TAKEN = (
    "list_filter(m, (v, k) ->"
    " len(list_filter(m[:k-1], (u, j) -> u - j = v - k)) % 2 = 0)"
)
_BPE_DUCK_MERGED = (
    "list_transform("
    "list_filter(range(1, len(syms) + 1),"
    " i -> NOT list_contains(taken, i - 1)),"
    " i -> CASE WHEN list_contains(taken, i)"
    " THEN syms[i] || syms[i + 1] ELSE syms[i] END)"
)


def _bpe_oracle() -> str:
    head = f"""
w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
         list_filter(string_split(
             regexp_replace(word, '(.)', '|\\1', 'g') || '|</w>', '|'),
           z -> z <> '') AS syms
  FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents) t
  WHERE word NOT LIKE '%|%'
  GROUP BY word
)"""
    parts = [head]
    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
p{r} AS MATERIALIZED (
  SELECT syms[g.i] AS x, syms[g.i + 1] AS y,
         CAST(SUM(cnt) AS BIGINT) AS tot
  FROM w{r - 1} t,
       LATERAL (SELECT unnest(range(1, len(syms))) AS i) g
  GROUP BY x, y
), t{r} AS MATERIALIZED (
  SELECT x, y, tot FROM p{r} ORDER BY tot DESC, x, y LIMIT 1
), mr{r} AS (
  SELECT word, cnt, syms, {_BPE_DUCK_MATCHES} AS m
  FROM w{r - 1} CROSS JOIN t{r}
), tk{r} AS (
  SELECT word, cnt, syms, {_BPE_DUCK_TAKEN} AS taken FROM mr{r}
), w{r} AS MATERIALIZED (
  SELECT word, cnt, {_BPE_DUCK_MERGED} AS syms FROM tk{r}
), v{r} AS (
  SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab
  FROM (SELECT unnest(syms) AS sym FROM w{r}) u
)""")
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round, x AS merge_left,"
            f" y AS merge_right, tot AS pair_count, vocab AS vocab_size"
            f" FROM t{r} CROSS JOIN v{r}"
        )
    return (
        "WITH " + ",".join(parts) + "\nSELECT * FROM ("
        + " UNION ALL ".join(rows) + ") ORDER BY round"
    )


def _bpe_train_ctes() -> str:
    """The w0..w{_BPE_ROUNDS} training CTE chain (same text as
    :func:`_bpe_oracle` minus the per-round report rows) — reused by
    the fertility oracle so apply-side tokenization CANNOT drift from
    the trainer."""
    full = _bpe_oracle()
    return full[len("WITH ") : full.index("\nSELECT * FROM (")]


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the {_BPE_ROUNDS}-round BPE trainer; returns (final word
    frame with merged symbol strings, list of per-round report
    frames). Shared by ``bpe_merge_rounds`` and
    ``tokenizer_fertility_by_source``."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(_toks()).alias("word"))
        .where(~F.col("word").contains("|"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "word",
            "cnt",
            F.expr(
                "filter(split(concat(regexp_replace(word, '(.)', '|$1'),"
                " '|</w>'), '\\\\|'), z -> z != '')"
            ).alias("syms"),
        )
        .localCheckpoint(eager=False)  # read by every round
    )
    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            w.where(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1), "
                        "slice(syms, 2, size(syms) - 1), "
                        "(a, b) -> struct(a AS x, b AS y))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("cnt").cast("long").alias("tot"))
        )
        top = (
            pairs.orderBy(F.desc("tot"), "x", "y")
            .limit(1)
            .localCheckpoint(eager=False)  # feeds the merge + the row
        )
        w = (
            w.crossJoin(F.broadcast(top))
            .select(
                "word",
                "cnt",
                F.expr(_BPE_MERGE_SPARK).alias("syms"),
            )
            .localCheckpoint(eager=False)  # next round + vocab count
        )
        vocab = w.select(F.explode("syms").alias("sym")).agg(
            F.countDistinct("sym").cast("long").alias("vocab")
        )
        rows.append(
            top.crossJoin(F.broadcast(vocab)).select(
                F.lit(r).cast("long").alias("round"),
                F.col("x").alias("merge_left"),
                F.col("y").alias("merge_right"),
                F.col("tot").alias("pair_count"),
                F.col("vocab").alias("vocab_size"),
            )
        )
    return w, rows


@register("bpe_merge_rounds", oracle=_bpe_oracle())
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, {_BPE_ROUNDS} merge rounds unrolled: per
    round, count adjacent symbol pairs weighted by word frequency, pick
    the most frequent pair ((count desc, left, right) total order),
    merge it in every word, and report (round, merged pair, its count,
    corpus symbol-vocabulary size after the merge). ``bpe_pair_counts``
    registers the single counting pass; this closes the LOOP — the
    actual train step every subword tokenizer (BPE/WordPiece-style)
    runs before a corpus can be tokenized for an LLM.

    The key scale property (and why this is feasible at 100 TB): after
    ONE corpus-grain word count, every round operates on the
    VOCABULARY-grain (word, count, symbols) frame — real BPE trainers
    iterate over word types exactly the same way. Symbols live in an
    array column and each merge rewrites the array at SYMBOL grain
    (``_BPE_MERGE_SPARK`` fold / the DuckDB match-position stages —
    never substring replace, which glued across boundaries when the
    right symbol prefixed a longer one; ADVICE r10). The oracle
    unrolls the identical rounds as MATERIALIZED CTEs, and both
    formulations are pinned equal on adversarial arrays and the
    plain-Python replica. The top pair is a distributed
    TakeOrderedAndProject over the bounded pair vocabulary, broadcast
    back for the merge — no driver-side collect anywhere.

    No reference analogue; extends SURVEY §2's LLM-pipeline family.
    """
    _, rows = _bpe_train(spark, sf_dir)
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out.orderBy("round")


@register(
    "tokenizer_fertility_by_source",
    oracle=f"""
WITH {_bpe_train_ctes()},
tok AS MATERIALIZED (
  SELECT source, unnest({_TOKS_SQL}) AS word FROM documents
), final_w AS MATERIALIZED (
  SELECT word, CAST(len(syms) AS BIGINT) AS n_sym
  FROM w{_BPE_ROUNDS}
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(length(t.word) + 1) AS BIGINT) AS n_sym_before,
       CAST(SUM(f.n_sym) AS BIGINT) AS n_sym_after,
       {quant_sql("SUM(f.n_sym) * 1.0 / COUNT(*)", 6)} AS fertility,
       {quant_sql(
           "SUM(f.n_sym) * 1.0 / SUM(length(t.word) + 1)", 6)}
         AS compression
FROM tok t JOIN final_w f ON f.word = t.word
WHERE t.word NOT LIKE '%|%'
GROUP BY t.source
ORDER BY t.source
""",
)
def tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPLY the trained BPE merges and measure per-source tokenizer
    fertility: run the same {_BPE_ROUNDS}-round trainer as
    ``bpe_merge_rounds`` (shared :func:`_bpe_train` / CTE chain, so
    apply can never drift from train), then score each source by
    symbols-per-word after the merges vs the character baseline
    (chars + the </w> marker). Fertility is THE tokenizer-quality
    metric a multilingual curation pipeline tracks per source — a
    source whose fertility stays near the character baseline is one
    the learned vocabulary serves badly (and will cost that many more
    sequence positions at training time).

    Plan: the trainer's vocabulary-grain rounds, then the WRITTEN
    token index's tf rows joined to the final (word -> symbol count)
    frame — a vocabulary-keyed equi-join over TYPE rows (not
    occurrences), tf-weighted in the rollup. Exact integer counts; two
    quantized divisions.

    No reference analogue; extends SURVEY §2's LLM-pipeline family.
    """
    w_final, _ = _bpe_train(spark, sf_dir)
    final_w = w_final.select(
        "word", F.size("syms").cast("long").alias("n_sym")
    )
    tok = token_counts_frame(spark, sf_dir, ("source", "word", "tf")).where(
        ~F.col("word").contains("|")
    )
    sym_w = F.col("tf") * F.col("n_sym")
    before_w = F.col("tf") * (F.length("word") + 1)
    return (
        tok.join(final_w, "word")
        .groupBy("source")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(before_w).cast("long").alias("n_sym_before"),
            F.sum(sym_w).cast("long").alias("n_sym_after"),
            quant(
                F.sum(sym_w) * 1.0 / F.sum("tf"), 6
            ).alias("fertility"),
            quant(
                F.sum(sym_w) * 1.0 / F.sum(before_w), 6
            ).alias("compression"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-11: T5-style span-corruption masking manifest
# ---------------------------------------------------------------------------

#: Span-corruption geometry: positions partition into fixed blocks of
#: _SPAN_LEN tokens; a block is masked iff hash60(doc:block) % 100 <
#: _SPAN_PCT. Deterministic (seedless reruns identical), non-
#: overlapping by construction, expected mask rate = _SPAN_PCT% with
#: mean span _SPAN_LEN (tail blocks shorter).
_SPAN_LEN = 3
_SPAN_PCT = 15


def _span_oracle() -> str:
    from hadoop_cs4225_spark.functions.hashing import hash60_sql

    h = hash60_sql(
        "CAST(doc_id AS VARCHAR) || ':' "
        f"|| CAST((g.i - 1) // {_SPAN_LEN} AS VARCHAR)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
), pos AS (
  SELECT doc_id, source, (g.i - 1) // {_SPAN_LEN} AS block,
         {h} % 100 < {_SPAN_PCT} AS masked
  FROM toks, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) g
), blocks AS (
  SELECT doc_id, source, block, ANY_VALUE(masked) AS masked,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM pos GROUP BY doc_id, source, block
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN masked THEN n_tok ELSE 0 END) AS BIGINT)
         AS masked_tokens,
       {quant_sql(
           "SUM(CASE WHEN masked THEN n_tok ELSE 0 END) * 1.0"
           " / SUM(n_tok)", 6)} AS mask_rate,
       {quant_sql(
           "CASE WHEN SUM(CASE WHEN masked THEN 1 ELSE 0 END) > 0 THEN"
           " SUM(CASE WHEN masked THEN n_tok ELSE 0 END) * 1.0"
           " / SUM(CASE WHEN masked THEN 1 ELSE 0 END) END", 6)}
         AS avg_span_len
FROM blocks
GROUP BY source
ORDER BY source
"""


@register("span_corruption_manifest", oracle=_span_oracle())
def span_corruption_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masking plan, summarized per source:
    token positions partition into fixed {_SPAN_LEN}-token blocks and
    a block is masked iff hash60(doc_id:block) lands under
    {_SPAN_PCT}%, giving deterministic, seedlessly-reproducible,
    non-overlapping corruption spans — the denoising-objective
    preprocessing step (mask spans, emit sentinel targets) a T5/UL2
    training pipeline runs over the whole corpus. The manifest reports
    docs, tokens, span count, masked-token count, realized mask rate
    and mean span length (tail blocks run short, so the mean sits just
    under {_SPAN_LEN}) per source — the numbers one checks BEFORE
    launching a run whose loss depends on them.

    Determinism: the mask decision is the cross-engine md5 hash60 on
    (doc, block), counts are exact BIGINTs, two quantized divisions.
    Plan: one posexplode + a (doc, block)-grain map-side-combined
    rollup + a per-source fold — corpus-linear, no windows, no joins.

    No reference analogue; extends SURVEY §2's LLM-pipeline family.
    """
    from hadoop_cs4225_spark.functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "source",
        F.posexplode(_toks()).alias("i", "tok"),
    ).select(
        "doc_id",
        "source",
        F.expr(f"i div {_SPAN_LEN}").alias("block"),
        (
            hash60(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.expr(f"i div {_SPAN_LEN}").cast("string"),
                )
            )
            % 100
            < _SPAN_PCT
        ).alias("masked"),
    )
    blocks = pos.groupBy("doc_id", "source", "block").agg(
        F.first("masked").alias("masked"),
        F.count(F.lit(1)).cast("long").alias("n_tok"),
    )
    masked_tok = F.sum(F.when(F.col("masked"), F.col("n_tok")).otherwise(0))
    n_spans = F.sum(F.when(F.col("masked"), 1).otherwise(0))
    return (
        blocks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            n_spans.cast("long").alias("n_spans"),
            masked_tok.cast("long").alias("masked_tokens"),
            quant(masked_tok * 1.0 / F.sum("n_tok"), 6).alias("mask_rate"),
            quant(
                F.when(n_spans > 0, masked_tok * 1.0 / n_spans), 6
            ).alias("avg_span_len"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-11: perplexity-outlier quality gate (the classic LLM data filter)
# ---------------------------------------------------------------------------

#: Fluency bins are CENTINATS of mean bigram log-prob (floor(avg*100))
#: — the value-domain-bounded axis the median/MAD run on (the
#: doc_mad_outliers histogram discipline; ~2k bins whatever the corpus
#: size). Gate: mean log-prob more than _FLU_K MADs BELOW the corpus
#: median — the model-based "perplexity filter" every LLM curation
#: pipeline runs (gibberish and wrong-language text score far less
#: fluent than the corpus bulk).
_FLU_K = 3


@register(
    "doc_fluency_outlier_gate",
    oracle=f"""
WITH {_BLM_TERMS_CTES}, perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t_s) AS BIGINT) AS s
  FROM terms GROUP BY doc_id
), binned AS MATERIALIZED (
  SELECT doc_id,
         CAST(floor(CAST(s AS DOUBLE) * 100.0 / n / {_BLM_GRID})
              AS BIGINT) AS bin
  FROM perdoc
), hist AS MATERIALIZED (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY bin
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM hist),
med AS MATERIALIZED (
  SELECT MIN(bin) AS med FROM (
    SELECT bin, SUM(c) OVER (ORDER BY bin
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist) h CROSS JOIN tot
  WHERE 2 * cum >= nn
), devhist AS (
  SELECT abs(bin - med) AS dev, CAST(SUM(c) AS BIGINT) AS c
  FROM hist CROSS JOIN med GROUP BY dev
), mad AS MATERIALIZED (
  SELECT MIN(dev) AS mad FROM (
    SELECT dev, SUM(c) OVER (ORDER BY dev
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM devhist) x CROSS JOIN tot
  WHERE 2 * cum >= nn
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN b.bin < med.med - {_FLU_K} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low_fluency,
       {quant_sql(
           f"SUM(CASE WHEN b.bin < med.med - {_FLU_K} * mad.mad"
           " THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6)} AS low_rate,
       ANY_VALUE(med.med) AS median_centinats,
       ANY_VALUE(mad.mad) AS mad_centinats
FROM binned b
JOIN documents d USING (doc_id)
CROSS JOIN med CROSS JOIN mad
GROUP BY d.source
ORDER BY d.source
""",
)
def doc_fluency_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-outlier quality gate per source: score every document
    by mean bigram log-probability under the SHARED corpus LM
    (:func:`_bigram_terms` — the same model ``doc_bigram_logprob`` and
    ``source_bigram_perplexity`` score with, so the gate cannot drift
    from the scores), bin scores into centinats, and flag documents
    more than {_FLU_K} MADs below the corpus MEDIAN — the model-based
    fluency filter (the "perplexity filter") that sits beside the
    rule-based ``quality_filter_funnel`` in every LLM curation
    pipeline. Reports per-source flag counts and rates plus the
    corpus median/MAD thresholds on every row.

    Determinism: per-doc scores are BIGINT grid sums; binning is one
    floor; median and MAD are integer order statistics read off
    VALUE-DOMAIN-BOUNDED histograms (the ``doc_mad_outliers``
    discipline — the cumulative windows scan ~2k centinat bins, never
    corpus rows; allowlisted), and the gate compare is pure integer.
    Docs with fewer than 2 tokens have no bigrams and are not scored
    (both engines).

    Scale: the LM joins are the shared ``_bigram_terms`` plan; the
    gate adds one doc-grain rollup, two bounded histogram walks, a
    broadcast threshold join and a source rollup.

    No reference analogue; extends SURVEY §2's LLM-pipeline family.
    """
    # shared memoized per-doc (n, s) sums — see _bigram_doc_scores
    perdoc = _bigram_doc_scores(spark, sf_dir)
    binned = perdoc.select(
        "doc_id",
        F.floor(
            F.col("s").cast("double") * 100.0 / F.col("n") / _BLM_GRID
        )
        .cast("long")
        .alias("bin"),
    ).localCheckpoint(eager=False)  # hist + the gate join
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)  # tot + med + devhist
    tot = F.broadcast(hist.agg(F.sum("c").cast("long").alias("nn")))
    w_bin = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    med = F.broadcast(
        hist.select("bin", F.sum("c").over(w_bin).alias("cum"))
        .crossJoin(tot)
        .where(2 * F.col("cum") >= F.col("nn"))
        .agg(F.min("bin").alias("med"))
    )
    devhist = (
        hist.crossJoin(med)
        .groupBy(F.abs(F.col("bin") - F.col("med")).alias("dev"))
        .agg(F.sum("c").cast("long").alias("c"))
    )
    w_dev = Window.orderBy("dev").rowsBetween(Window.unboundedPreceding, 0)
    mad = F.broadcast(
        devhist.select("dev", F.sum("c").over(w_dev).alias("cum"))
        .crossJoin(tot)
        .where(2 * F.col("cum") >= F.col("nn"))
        .agg(F.min("dev").alias("mad"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    low = F.col("bin") < F.col("med") - _FLU_K * F.col("mad")
    return (
        binned.join(docs, "doc_id")
        .crossJoin(med)
        .crossJoin(mad)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(low.cast("int")).cast("long").alias("n_low_fluency"),
            quant(
                F.sum(low.cast("int")) * 1.0 / F.count(F.lit(1)), 6
            ).alias("low_rate"),
            F.first("med").alias("median_centinats"),
            F.first("mad").alias("mad_centinats"),
        )
        .orderBy("source")
    )


#: Fixed content-taxonomy dictionary for the tagging query: tag ->
#: literal term list, injected into BOTH engines (the PLANES/Benford
#: injected-literal discipline). Terms are exact-match tokens (the
#: reference's case-sensitive G5 semantics).
_TAG_DICT = (
    ("compute", ("join", "merge", "sort", "hash", "agg")),
    ("storage", ("table", "column", "row", "scan", "part")),
    ("streaming", ("stream", "window", "batch", "dup")),
    ("engine", ("spark", "query", "filter", "key")),
)


def _tag_values_sql() -> str:
    rows = ", ".join(
        f"('{tag}', '{term}')" for tag, terms in _TAG_DICT for term in terms
    )
    return f"(VALUES {rows}) AS dict(tag, term)"


@register(
    "doc_keyword_tag_counts",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, unnest(toks) AS term
  FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents) t
),
hits AS (
  SELECT dict.tag, t.doc_id, t.source
  FROM toks t JOIN {_tag_values_sql()} ON t.term = dict.term
),
per_tag AS (
  SELECT tag,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM hits GROUP BY tag
),
by_source AS (
  SELECT tag, source, COUNT(*) AS c,
         ROW_NUMBER() OVER (
           PARTITION BY tag ORDER BY COUNT(*) DESC, source
         ) AS rn
  FROM hits GROUP BY tag, source
)
SELECT p.tag, p.n_docs, p.n_hits,
       {quant_sql("CAST(p.n_hits AS DOUBLE) / p.n_docs", 4)}
         AS hits_per_doc,
       s.source AS top_source
FROM per_tag p JOIN by_source s ON p.tag = s.tag AND s.rn = 1
ORDER BY p.tag
""",
)
def doc_keyword_tag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-driven content tagging — the taxonomy-labeling pass
    a corpus pipeline runs to route documents to topical mixtures:
    exact-match a fixed tag->terms dictionary (broadcast; at 100 TB
    the dictionary is the side input every mapper holds, the
    reference's DistributedCache pattern O4) against the token stream
    and report, per tag, matched-doc count, total hits, hits per
    matched doc, and the source contributing the most hits
    (count-desc, source-asc deterministic tie).

    Plan: broadcast hash join of the dictionary against the WRITTEN
    token index's tf rows (the stopword anti-join's positive twin —
    the join probes TYPE rows, tf carries the occurrence weight) ->
    two map-side-combined aggregates on bounded key spaces (tags x
    sources). Nothing scales past the index scan at any SF.

    No reference analogue; extends SURVEY §2's text-analysis family
    (r12) — the dictionary side input restates the reference's
    DistributedCache (TopkCommonWords.java:41-57,170) as a broadcast
    inner join.
    """
    dict_df = spark.createDataFrame(
        [(tag, term) for tag, terms in _TAG_DICT for term in terms],
        "tag string, term string",
    )
    toks = token_counts_frame(spark, sf_dir).select(
        "doc_id", "source", F.col("word").alias("term"), "tf"
    )
    hits = toks.join(F.broadcast(dict_df), "term").select(
        "tag", "doc_id", "source", "tf"
    )
    per_tag = hits.groupBy("tag").agg(
        F.sum("tf").cast("bigint").alias("n_hits"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    w = Window.partitionBy("tag").orderBy(F.desc("c"), "source")
    top_src = (
        hits.groupBy("tag", "source")
        .agg(F.sum("tf").alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("tag", F.col("source").alias("top_source"))
    )
    return (
        per_tag.join(top_src, "tag")
        .select(
            "tag",
            "n_docs",
            "n_hits",
            quant(F.col("n_hits").cast("double") / F.col("n_docs"), 4).alias(
                "hits_per_doc"
            ),
            "top_source",
        )
        .orderBy("tag")
    )


@register(
    "newcrawl_oov_rate",
    oracle=f"""
WITH tok AS (
  SELECT source, {SRC_NO_SQL} AS src_no,
         unnest({_TOKS_SQL}) AS word
  FROM documents
),
train AS (SELECT DISTINCT word FROM tok WHERE src_no < {NEWCRAWL_MIN_SRC}),
new_side AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE src_no >= {NEWCRAWL_MIN_SRC}
  GROUP BY source, word
)
SELECT n.source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN t.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov_types,
       CAST(SUM(n.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN t.word IS NULL THEN n.tf ELSE 0 END) AS BIGINT)
         AS n_oov_tokens,
       {quant_sql(
           "CAST(SUM(CASE WHEN t.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)"
           " / COUNT(*)", 4)} AS oov_type_frac,
       {quant_sql(
           "CAST(SUM(CASE WHEN t.word IS NULL THEN n.tf ELSE 0 END)"
           " AS DOUBLE) / SUM(n.tf)", 4)} AS oov_token_frac
FROM new_side n LEFT JOIN train t ON t.word = n.word
GROUP BY n.source
ORDER BY n.source
""",
)
def newcrawl_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the NEW-CRAWL batch against the train
    corpus's unigram vocabulary — the tokenizer-coverage gate a
    pipeline runs before admitting a new source (a spike in OOV token
    mass means the incoming data is out of distribution for the
    trained tokenizer/vocab: new language, markup, or encoding junk).

    Companion to ``cross_corpus_decon_report`` (same src16..19 = new
    crawl convention, via the shared ``dedup.NEWCRAWL_MIN_SRC``): decon
    asks "is the new batch ALREADY IN the corpus?"; this asks the
    opposite-direction question "does the corpus's vocabulary COVER the
    new batch?".

    Both sides read the WRITTEN token-count layout
    (``ensure_token_counts`` — doc-grain tf rows with source riding
    along), so no query-time tokenization: the train vocabulary is a
    distinct over the layout's word column (vocabulary-sized), the new
    side is a (source, word) partial agg, and the OOV test is one
    word-keyed left join. At 100 TB the train vocab side would be the
    ``ensure_token_df`` side table maintained with the corpus — the
    join input is vocabulary-scale on both sides, never token-scale.

    Determinism: integer counts, quantized fractions, ordered by
    source.

    No reference analogue; extends the SURVEY §2 text-analysis family
    (r13).
    """
    tc = token_counts_frame(spark, sf_dir, ("source", "word", "tf"))
    src_no = src_no_col()
    train = tc.where(src_no < NEWCRAWL_MIN_SRC).select("word").distinct()
    new_side = (
        tc.where(src_no >= NEWCRAWL_MIN_SRC)
        .groupBy("source", "word")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    joined = new_side.join(train.withColumn("hit", F.lit(1)), "word", "left")
    oov = F.col("hit").isNull().cast("long")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(oov).cast("long").alias("n_oov_types"),
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(oov * F.col("tf")).cast("long").alias("n_oov_tokens"),
            quant(
                F.sum(oov).cast("double") / F.count(F.lit(1)), 4
            ).alias("oov_type_frac"),
            quant(
                F.sum(oov * F.col("tf")).cast("double") / F.sum("tf"), 4
            ).alias("oov_token_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-13: does near-duplication concentrate in low-quality docs?
# ---------------------------------------------------------------------------

#: Quality-band width on the 1e6 score grid (0.05 score units). The
#: composite score lives in [0, 1], so the band axis is bounded at 21
#: values whatever the corpus size.
_QBAND_GRID = 50_000

_QUALITY_SQL = (
    f"0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
    f" + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN ({_SW_ARR})))"
    f" AS DOUBLE) / len(toks))"
    f" + 0.3 * least(n_chars / 1000.0, 1.0)"
)


@register(
    "dup_quality_interaction",
    oracle=f"""
WITH {_lsh_pairs_cte()},
dup AS (
  SELECT DISTINCT d FROM (
    SELECT d1 AS d FROM verified UNION ALL SELECT d2 AS d FROM verified
  ) u
),
q AS (
  SELECT doc_id,
         CAST(floor(({_QUALITY_SQL}) * 1000000 + 0.5) AS BIGINT) AS qgrid
  FROM (SELECT doc_id, n_chars, {_TOKS_SQL} AS toks FROM documents) t
)
SELECT CAST(qgrid // {_QBAND_GRID} AS INT) AS quality_band,
       CAST(qgrid // {_QBAND_GRID} AS DOUBLE) / 20.0 AS band_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       {quant_sql("CAST(SUM(CASE WHEN dup.d IS NOT NULL THEN 1 ELSE 0 END)"
                  " AS DOUBLE) / COUNT(*)", 6)} AS dup_frac,
       {quant_sql("CAST(SUM(qgrid) AS DOUBLE) / 1000000.0 / COUNT(*)", 6)}
         AS mean_quality
FROM q LEFT JOIN dup ON dup.d = q.doc_id
GROUP BY qgrid // {_QBAND_GRID}
ORDER BY quality_band
""",
)
def dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation cross-check every pipeline runs before ordering its
    filter stages: near-duplicate membership rate BY quality band.
    If duplicates concentrate in low-quality bands, dedup-first starves
    the quality filter (and vice versa) — the stage-ordering evidence,
    per 0.05-wide band of the composite quality score: doc count,
    verified-near-dup member count, dup fraction, and mean quality.

    Composes the two families WITHOUT recomputation: near-dup
    membership projects the ``lsh_pairs`` session memo, and the quality score is the exact
    ``doc_quality_scores`` composite on the 1e6 integer grid (band
    assignment is pure integer division, so band edges cannot disagree
    cross-engine). The rollup is one map-side-combined aggregate over
    a <=21-value band axis; the LEFT JOIN against the dup-doc set is
    doc-keyed and the dup side is pair-set-sized (broadcastable).
    """
    from hadoop_cs4225_spark.operators.dedup import _verified_pairs

    pairs = _verified_pairs(spark, sf_dir)
    dup = (
        pairs.select(F.col("d1").alias("d"))
        .unionAll(pairs.select(F.col("d2").alias("d")))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("double")
    sw_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*QUALITY_STOPWORDS))).cast(
            "double"
        )
        / n_tokens
    )
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    length_norm = F.least(F.col("n_chars") / 1000.0, F.lit(1.0))
    quality = 0.4 * diversity + 0.3 * (1.0 - sw_ratio) + 0.3 * length_norm
    q = docs.select(
        "doc_id",
        F.floor(quality * 1000000 + 0.5).cast("long").alias("qgrid"),
    )
    joined = q.join(
        F.broadcast(dup.withColumnRenamed("d", "doc_id").withColumn(
            "is_dup", F.lit(1)
        )),
        "doc_id",
        "left",
    )
    band = F.expr(f"qgrid div {_QBAND_GRID}")
    return (
        joined.groupBy(band.cast("int").alias("quality_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
            quant(
                F.sum(F.coalesce("is_dup", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_frac"),
            quant(
                F.sum("qgrid").cast("double") / 1000000.0 / F.count(F.lit(1)),
                6,
            ).alias("mean_quality"),
        )
        .select(
            "quality_band",
            (F.col("quality_band").cast("double") / 20.0).alias("band_lo"),
            "n_docs",
            "n_dup_docs",
            "dup_frac",
            "mean_quality",
        )
        .orderBy("quality_band")
    )
