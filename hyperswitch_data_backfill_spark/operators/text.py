"""Text analysis — SURVEY §2.11 L4 (north-star mandate).

Everything here is pure Spark SQL expressions — split/explode/regexp/
higher-order functions — so the hot path is whole-stage codegen over the
string column, column-pruned to ``text``. No Python in the loop. At
100 TB the only shuffle is the final aggregate's (map-side combined).

Tokenization contract (shared with dedup.py and every oracle): tokens
are ``split(text, ' ')`` with empties removed — byte-identical between
Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyperswitch_data_backfill_spark import api
from hyperswitch_data_backfill_spark.catalog import load_table, spread_fanout
from hyperswitch_data_backfill_spark.registry import register

STOPWORDS = ("the", "a", "of", "and", "to")


def tokens(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda x: x != "")


def spread_docs(docs: DataFrame) -> DataFrame:
    """Spread the documents scan across cores BEFORE a token fan-out
    (shingles_df's rationale, applied to the ~200x explode sites here):
    a small parquet table arrives as a handful of row groups, and
    without the spread the whole explode serializes on those few scan
    tasks — measured 1.40 s -> 0.45 s on text_tokens at sf1. Row-wise
    ops without fan-out deliberately do NOT spread (the r10
    rebalance-after-scan A/B: an extra full-text shuffle is strictly
    harmful there). r16: routed through catalog.spread_fanout, which
    skips the repartition when the scan already has >= core-count
    partitions — the local spread is unchanged, and at 100 TB the
    explicit REPARTITION_BY_NUM no longer coalesces a many-split scan
    into core-count giant tasks (AQE cannot re-split a user-numbered
    repartition; not shuffling at all is the scale-correct shape)."""
    return spread_fanout(docs, "doc_id")


@register(
    "text_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ) t
    WHERE token <> ''
    GROUP BY token
    """,
    doc="L4a: corpus term + document frequencies (tokenize → explode → count).",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        spread_docs(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("df"))
    )


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), x -> x <> '')), 6) AS avg_token_len,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), x -> x <> '')), 6) AS stopword_ratio
    FROM documents
    """,
    doc="L4b: per-document quality signals — char/token counts, mean token "
        "length, stopword ratio (the quality-scoring features of a training-"
        "data pipeline). Integer inputs → single double division → exact.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
    )


@register(
    "text_quality",
    oracle="""
    SELECT doc_id, lang,
           (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1 ELSE 0 END
            + CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 10 THEN 1 ELSE 0 END
            + CASE WHEN CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
                        / len(list_filter(string_split(text, ' '), x -> x <> '')) >= 0.3
                   THEN 1 ELSE 0 END) AS quality_score,
           CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_unique_tokens
    FROM documents
    """,
    doc="L4c: rule-based quality score (length band, min tokens, lexical "
        "diversity) — the keep/drop gate of a pretraining data pipeline.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    score = (
        F.when(F.length("text").between(50, 10000), 1).otherwise(0)
        + F.when(n_tokens >= 10, 1).otherwise(0)
        + F.when(n_uniq.cast("double") / n_tokens >= 0.3, 1).otherwise(0)
    )
    return docs.select(
        "doc_id",
        "lang",
        score.alias("quality_score"),
        n_uniq.cast("bigint").alias("n_unique_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS content_fp
    FROM documents
    """,
    doc="L4d: document fingerprints — raw md5 plus an order/duplicate-"
        "insensitive content fingerprint (md5 of the sorted distinct token "
        "set), the cheap first pass of near-dup detection.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("content_fp"),
    )


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
             WHEN len(list_filter(string_split(text, ' '),
                      x -> x IN ('der','die','das','und','nicht'))) >
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','of','and','to')))
               THEN 'de'
             ELSE 'en'
           END AS lang_pred
    FROM documents
    """,
    doc="L4e: n-gram/marker-word language heuristic (CJK codepoint presence, "
        "stopword-list voting) — deterministic, expression-only language ID.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    de_marks = F.array(*[F.lit(s) for s in ("der", "die", "das", "und", "nicht")])
    en_marks = F.array(*[F.lit(s) for s in STOPWORDS])
    n_de = F.size(F.filter(toks, lambda x: F.array_contains(de_marks, x)))
    n_en = F.size(F.filter(toks, lambda x: F.array_contains(en_marks, x)))
    has_cjk = F.regexp_count(F.col("text"), F.lit(r"[\x{4e00}-\x{9fff}]")) > 0
    pred = (
        F.when(has_cjk, "zh").when(n_de > n_en, "de").otherwise("en")
    )
    return docs.select("doc_id", "lang", pred.alias("lang_pred"))


@register(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_ish,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_over_4
    FROM documents
    """,
    doc="L4f: token counting — a BPE-ish regex segmentation count plus the "
        "chars/4 heuristic LLM cost estimators use.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("bigint")
        .alias("n_bpe_ish"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_chars_over_4"),
    )


@register(
    "pipeline_clean_corpus",
    oracle="""
    WITH scored AS (
        SELECT doc_id, text, lang, n_chars,
               (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1 ELSE 0 END
                + CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 10 THEN 1 ELSE 0 END
                + CASE WHEN CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
                            / len(list_filter(string_split(text, ' '), x -> x <> '')) >= 0.3
                       THEN 1 ELSE 0 END) AS q
        FROM documents
    ), kept AS (
        SELECT * FROM scored WHERE q = 3
    ), deduped AS (
        SELECT doc_id, lang, n_chars
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM kept)
        WHERE rn = 1
    )
    SELECT doc_id, lang, n_chars,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM deduped
    """,
    doc="L7: the composed pretraining-data funnel — quality gate (all three "
        "rule checks pass) → exact dedup (lowest-id survivor) → "
        "deterministic train/eval split. One DataFrame lineage, so Catalyst "
        "fuses the quality gate into the scan and the only shuffle is the "
        "dedup key; the funnel ordering (cheap filters before the shuffle) "
        "is the 100 TB cost structure.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return api.clean_corpus(docs, splits={"train": 0.9, "eval": 0.1}).select(
        "doc_id", "lang", "n_chars", "split"
    )


TFIDF_TOP_K = 5


@register(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token
        ) AS rk FROM scored
    ) t WHERE rk <= {TFIDF_TOP_K}
    """,
    doc="L4f: per-document top-k TF-IDF terms — term frequency per "
        "(doc, token), smoothed idf = ln((N+1)/(df+1)), window top-k per "
        "doc. df (docs containing the token) is a count over the "
        "ALREADY-grouped tf table — tf has one row per (doc, token), so "
        "the count needs no distinct. It is a partial-aggregated groupBy "
        "plus a broadcast (vocabulary-sized) join back onto tf, NOT a "
        "token-keyed window: a stopword token appearing in every doc "
        "would put its whole posting list in one window partition, while "
        "the groupBy reduces it map-side — the skew-safe 100 TB shape. "
        "The standard keyword-extraction / relevance-weighting primitive.",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar job on a metadata-countable scan, not data motion
    tok = spread_docs(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TFIDF_TOP_K)


NGRAM_FREQ_TOP = 50


@register(
    "text_ngram_freq",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tokens FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tokens)),
                      i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
        FROM tok WHERE len(tokens) >= 2
    )
    SELECT bigram, n, df, rk FROM (
        SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rk
        FROM bg GROUP BY bigram
    ) t WHERE rk <= {NGRAM_FREQ_TOP}
    """,
    doc="L4h: corpus-level bigram frequency table (top-{50}) — the vocab/"
        "phrase-mining primitive (and the df side of the max-df skew cap in "
        "dedup). One explode + one hash-shuffled count; the global top-k is "
        "TakeOrdered over the (tiny) aggregated bigram table, never a "
        "single-partition sort of the corpus. count + doc-frequency ride "
        "the same aggregate.",
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize into a materialized column, then pair adjacent tokens by
    # zipping the two shifted slices — one split per document. (The
    # previous element_at(split(...), i) lambda inlined the split at
    # every element access: O(tokens²) per doc, measured 30× slower.)
    d = spread_fanout(docs, "doc_id").withColumn(
        "_toks", F.split(F.lower(F.col("text")), " ")
    )
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.zip_with(
            F.slice("_toks", 1, F.size("_toks") - 1),
            F.slice("_toks", 2, F.size("_toks") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array())
    bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    agg = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("df"),
    )
    w = Window.orderBy(F.col("n").desc(), "bigram")
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NGRAM_FREQ_TOP)
    )


@register(
    "text_length_quantile_gate",
    oracle="""
    WITH c AS (
        SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars
    ), r AS (
        SELECT n_chars,
               SUM(cnt) OVER (ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cnt) OVER () AS n
        FROM c
    ), keep AS (
        SELECT n_chars FROM r
        WHERE CAST(cum AS DOUBLE) / n >= 0.1 AND CAST(cum AS DOUBLE) / n <= 0.9
    )
    SELECT d.doc_id, d.n_chars, d.lang
    FROM documents d JOIN keep USING (n_chars)
    """,
    doc="length-quantile corpus gate: drop the shortest 10% and longest "
        "10% of documents by cumulative length distribution — a standard "
        "pretraining filter. Rank-based, not value-interpolated: the "
        "cumulative fraction is an integer ratio (exact in both engines), "
        "so the gate is deterministic where interpolated percentiles are "
        "last-ulp fragile. Scale shape: the distribution is computed on "
        "the DISTINCT-length table (tiny — one groupBy shuffle), its "
        "windows run over O(distinct lengths) rows, and the kept-lengths "
        "set broadcasts back onto the corpus — no global row window, no "
        "second scan of the documents.",
)
def text_length_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    frac = F.sum("cnt").over(w_cum).cast("double") / F.sum("cnt").over(w_all)
    keep = (
        counts.withColumn("_f", frac)
        .filter((F.col("_f") >= 0.1) & (F.col("_f") <= 0.9))
        .select("n_chars")
    )
    return docs.join(F.broadcast(keep), "n_chars").select("doc_id", "n_chars", "lang")


@register(
    "text_collapse_runs",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
        SELECT doc_id, toks,
               list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS kept
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_before,
           CAST(len(kept) AS BIGINT) AS n_after,
           array_to_string(kept, ' ') AS text_clean
    FROM c
    """,
    doc="L7c: token-stutter cleanup — collapse runs of consecutive "
        "identical tokens to one occurrence (the de-duplication CCNet-"
        "style pipelines apply to scraped text where boilerplate "
        "repetition survives extraction; the rewrite twin of the "
        "text_repetition_gate filter). Pure codegen: one indexed "
        "filter lambda over the token array, map-only, fuses into the "
        "scan; emitted before/after counts quantify the shrink.",
)
def text_collapse_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select("doc_id", toks.alias("toks"))
    # lambda i is 0-based, element_at is 1-based → element_at(toks, i) is
    # the PREVIOUS token. greatest(i, 1) keeps the index legal under ANSI
    # at i=0 without relying on OR short-circuit (the i==0 branch wins).
    kept = F.filter(
        F.col("toks"),
        lambda x, i: (i == 0) | (x != F.element_at(F.col("toks"), F.greatest(i, F.lit(1)))),
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_before"),
        F.size(kept).cast("bigint").alias("n_after"),
        F.array_join(kept, " ").alias("text_clean"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), uni AS (
        SELECT token, SUM(tf) AS cnt FROM tf GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM uni
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(-SUM(tf * ln(cnt / t)) / SUM(tf), 6) AS avg_neg_logprob
    FROM tf JOIN uni USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="L4i: corpus self-LM perplexity scoring — per-document average "
        "negative log-probability under the corpus's own unigram "
        "distribution (the CCNet/RedPajama LM-filtering primitive, with "
        "the corpus standing in for the external reference LM: high "
        "avg(-ln p) = rare-token-heavy = noise candidate, abnormally low "
        "= boilerplate). Plan: per-(doc,token) counts (one map-side-"
        "combined shuffle; checkpointed so the LM branch and the probe "
        "branch share ONE scan — without it Catalyst duplicates the "
        "whole subtree and reads the corpus 6x, verified by .explain), "
        "vocabulary-sized global counts reduced FROM tf (shuffles "
        "distinct pairs, not token occurrences), the total attached by a "
        "single-partition window over the VOCAB-sized aggregate (not the "
        "corpus), vocab broadcast-joined back. Float tail-sum error "
        "~1e-13 against round-6 — engine-safe.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_docs(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    # The stage table of this operator: both the LM (uni/total) branch
    # and the scoring probe consume tf. At 100 TB this is the frame
    # you'd land as a table; localCheckpoint is the in-session
    # equivalent (same pattern as dedup_clusters' pair graph).
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    uni = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    uni_t = uni.withColumn(
        "t", F.sum("cnt").over(Window.partitionBy()).cast("double")
    )
    scored = tf.join(F.broadcast(uni_t), "token")
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.round(
            -F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("t"))) / F.sum("tf"), 6
        ).alias("avg_neg_logprob"),
    )


VOCAB_TOP_K = 20  # fixture corpus has 31 distinct tokens; 20 leaves a real OOV tail


@register(
    "text_vocab_oov",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ), uni AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
    ), vocab AS (
        SELECT token FROM (
            SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
            FROM uni
        ) r WHERE rk <= {VOCAB_TOP_K}
    )
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY tok.doc_id
    """,
    doc=f"L4j: vocabulary build + per-document OOV rate — the tokenizer-"
        "coverage diagnostic run before committing a corpus to training: "
        f"top-{VOCAB_TOP_K} tokens by global frequency (deterministic "
        "tiebreak: count desc, token asc) form the vocabulary; each "
        "document reports what fraction of its token OCCURRENCES fall "
        "outside it. The global rank runs on the ALREADY-AGGREGATED "
        "vocabulary table (distinct tokens, not occurrences) — "
        "vocabulary-sized, so the single-partition rank window is a "
        "deliberate small-data step, same stance as text_ngram_freq's "
        "top-k; the vocab then broadcast-joins back to the token stream. "
        "At 100 TB with a noisy open vocabulary, swap the exact rank for "
        "a count-min/frequency-threshold cut — documented, not needed "
        "at any realistic vocab size (rank input is O(distinct tokens)).",
)
def text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_docs(docs).select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    rk = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "token"))
    vocab = (
        uni.withColumn("rk", rk).filter(F.col("rk") <= VOCAB_TOP_K).select("token")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left"
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov).cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("join", "filter", "scan")
BM25_TOP_K = 50


@register(
    "text_bm25",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), df AS (
        SELECT token, COUNT(*) AS df FROM tf
        WHERE token IN ('join', 'filter', 'scan') GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({BM25_K1} + 1.0))
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * dl.dl / s.avgdl))
               ), 6) AS score
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, score, rk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
        FROM scored
    ) t WHERE rk <= {BM25_TOP_K}
    """,
    doc="L4h: BM25 ranked retrieval (Robertson/Sparck-Jones Okapi "
        "scoring, the lexical-search baseline every RAG corpus ships "
        "next to its embeddings) for a fixed query term set — per-"
        "(doc,term) tf, doc length, corpus avgdl (1-row broadcast), "
        "query-term df (query-sized broadcast), k1=1.2 b=0.75, "
        "ROUND(·,6) for cross-engine float stability (the text_tfidf "
        "precedent). Plan: tf groupBy is the only corpus-sized "
        "shuffle; dl reuses tf's partitioning (doc_id ⊂ (doc_id,"
        "token) clustering), df filters to 3 terms BEFORE its "
        "aggregate, the score join is broadcast on both small sides, "
        "and the final top-k is TakeOrderedAndProject — never a full "
        "sort. At 100 TB the per-term posting shuffle is bounded by "
        "query-term document frequency, not corpus size.",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return api.bm25(docs, BM25_QUERY_TERMS, k1=BM25_K1, b=BM25_B, top_k=BM25_TOP_K)


INVIDX_MIN_DF = 2
INVIDX_POSTING_CAP = 20


@register(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
    ), idx AS (
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(list_sort(list(doc_id))[1:{INVIDX_POSTING_CAP}], ',')
                   AS postings_head
        FROM tok GROUP BY token
    )
    SELECT token, df, postings_head
    FROM idx WHERE df >= {INVIDX_MIN_DF}
    """,
    doc="L4i: inverted-index build (token → document frequency + "
        "posting-list head) — the search-engine primitive behind "
        "text_bm25's df table and span-level decontamination lookups. "
        "Postings are deduped map-side ((doc,token) distinct collapses "
        "before the token shuffle), sorted ascending, and CAPPED at "
        "{cap} entries per term (df floor {lo}) — the "
        "stopword guard: at 100 TB an uncapped stopword posting list "
        "is a single-reducer OOM, so production postings shard by "
        "(token, doc_id bucket) and this fixture emits the head shard. "
        "Emitted as a comma string (driver canonicalizer-safe, the "
        "emb_quantize_int8 precedent).".format(
            cap=INVIDX_POSTING_CAP, lo=INVIDX_MIN_DF
        ),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread_docs(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).distinct()
    idx = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, INVIDX_POSTING_CAP),
        ).alias("postings_head"),
    )
    return idx.filter(F.col("df") >= INVIDX_MIN_DF).select(
        "token", "df", "postings_head"
    )
