"""Text-analysis queries over the `documents` table: wordcount,
quality stats, language-ID heuristic, fingerprinting (SURVEY.md §2.3
T10-T13 + training-data extensions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import text as TX
from map_reduce_engine_cdps_spark.functions import vectors as V
from map_reduce_engine_cdps_spark.operators.state import memo
from map_reduce_engine_cdps_spark.sources.readers import load_parallel, load_table, table_rows


# ---------------------------------------------------------------------------
# Term statistics — the composable pieces every text query below is built
# from: the clean-token word stream, the corpus word count and its top-k
# cut, per-document term frequency and document frequency.
# ---------------------------------------------------------------------------

def _words(docs: DataFrame, *keys: str) -> DataFrame:
    """(keys…, word): one row per clean token of `docs.text`."""
    return docs.select(*keys, F.explode(TX.clean_tokens(F.col("text"))).alias("word"))


def _word_counts(words: DataFrame) -> DataFrame:
    """(word, cnt): occurrences of each word in a word stream."""
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def _top_words(counts: DataFrame, k: int) -> DataFrame:
    """The k rows of a (word, cnt) table with the highest cnt, ties
    broken on the word so the cut is engine-independent."""
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(k)


def _tf(words: DataFrame) -> DataFrame:
    """(doc_id, word, tf): occurrences of each word in each document."""
    return words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))


def _df(tf: DataFrame) -> DataFrame:
    """(word, df): the number of documents containing each word, from a
    frame with one row per (doc_id, word), such as `_tf`'s."""
    return tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))


# ---------------------------------------------------------------------------
# wordcount — the reference's hello query (tasks/example_wordcount.py:9-35),
# Spark-native: explode+groupBy gets map-side partial aggregation for free —
# the headline win over the reference, which ships one (word,1) JSON message
# per token over HTTP (BASELINE.md).
# ---------------------------------------------------------------------------

def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _word_counts(_words(load_parallel(spark, sf_dir, "documents")))


WORDCOUNT_SQL = """
WITH toks AS (
  SELECT regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
)
SELECT word, count(*) AS cnt FROM toks WHERE length(word) > 0 GROUP BY word
"""


# ---------------------------------------------------------------------------
# text_quality — per-doc quality scoring: token counts, distinct ratio,
# stopword ratio, average token length (training-data extension; the
# length/punct/stopword heuristics used by corpus-cleaning pipelines).
# One pass over the token array per row — no explode, no shuffle at all.
# ---------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    d = docs.withColumn("toks", tok)
    n = F.size("toks")
    return d.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.round(TX.stopword_ratio(F.col("toks")), 4).alias("stop_ratio"),
        F.round(TX.avg_token_len(F.col("toks")), 4).alias("avg_tok_len"),
        F.round(
            F.when(n > 0, F.size(F.array_distinct("toks")) / n).otherwise(0.0), 4
        ).alias("uniq_ratio"),
    )


TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
)
SELECT doc_id, lang,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq,
       round(CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> x IN
                  ('the','a','an','of','and','to','in','is','it','that')))::DOUBLE / len(toks)
             ELSE 0.0 END, 4) AS stop_ratio,
       round(CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x)::DOUBLE)) / len(toks)
             ELSE 0.0 END, 4) AS avg_tok_len,
       round(CASE WHEN len(toks) > 0
             THEN len(list_distinct(toks))::DOUBLE / len(toks)
             ELSE 0.0 END, 4) AS uniq_ratio
FROM t
"""


# ---------------------------------------------------------------------------
# lang_id_accuracy — n-gram/stopword language-ID heuristic scored against
# the labeled `lang` column (training-data extension). The heuristic is
# deliberately simple (English stopword density); the point is the shape:
# per-row classify → groupBy(actual) → accuracy aggregate (T34).
# ---------------------------------------------------------------------------

def lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    pred = F.when(TX.stopword_ratio(tok) >= 0.05, "en").otherwise("other")
    d = docs.withColumn("pred_lang", pred)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg((F.col("pred_lang") == F.col("lang")).cast("double")), 4).alias(
            "lang_id_accuracy"
        ),
    )


LANG_ID_ACCURACY_SQL = """
WITH t AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), scored AS (
  SELECT lang,
         CASE WHEN len(toks) > 0 AND
              len(list_filter(toks, x -> x IN
                  ('the','a','an','of','and','to','in','is','it','that')))::DOUBLE
                / len(toks) >= 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM t
)
SELECT lang, count(*) AS n_docs,
       round(avg(CASE WHEN pred_lang = lang THEN 1.0 ELSE 0.0 END), 4) AS lang_id_accuracy
FROM scored GROUP BY lang
"""


# ---------------------------------------------------------------------------
# doc_fingerprints — content fingerprinting via md5 + token stats
# (training-data extension: document fingerprinting for provenance).
# ---------------------------------------------------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fingerprint"),
        F.md5(F.concat_ws(" ", TX.clean_tokens(F.col("text")))).alias(
            "normalized_fingerprint"
        ),
        F.length("text").alias("len_chars"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(text) AS fingerprint,
       md5(array_to_string(list_filter(
             list_transform(
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> length(x) > 0),
               x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0), ' ')) AS normalized_fingerprint,
       length(text) AS len_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# tfidf_top_terms — per-document top-3 terms by TF-IDF (training-data
# extension: term weighting for corpus analysis / keyword extraction).
# Scale: tf and df are both partial-aggregated groupBys on (doc_id, word)
# / (word); the doc-count is a 1-row broadcast. The only wide exchange is
# on `word` — no collect, no vocabulary on the driver. Ranking ties are
# broken on rounded tfidf then word, so the top-3 cut is deterministic
# and engine-independent.
# ---------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One doc_id repartition up front serves the whole pipeline:
    # hash-partitioning on doc_id satisfies the (doc_id, word) groupBy
    # distribution AND the final per-doc window, and broadcasting the
    # vocabulary-sized df table keeps the big tf side un-shuffled — so
    # the token stream crosses the wire once instead of three times
    # (measured 3.3x at sf1, identical output). At web scale the df
    # table is ~vocabulary x 16 bytes; if it outgrows the broadcast
    # threshold AQE falls back to the shuffle join at runtime.
    #
    # Round 12 (guide §2.4): tf is localCheckpointed (lazy, fresh per
    # invocation — nothing survives across runs). Without it the tf
    # subtree is PLANNED TWICE (once under the dfreq branch, once as
    # the join's probe side) and — because the repartition exchange
    # sits BELOW the tokenize and column pruning makes the two copies'
    # scans differ — the corpus was tokenized twice per run. The
    # checkpoint materializes the (doc_id, word, tf) pairs once;
    # at 100 TB this is the same persisted-intermediate shape as the
    # LSH pair memo (a parquet of the tf table), and df stays a
    # partial-aggregated groupBy, immune to hot-word skew (a
    # df-as-window-over-word variant measured similarly but buffers a
    # stopword's whole document list in one window task at scale —
    # rejected). Interleaved A/B, one session, 5 passes, identical
    # output: sf0.1 1.345 -> 1.112 s median, sf1 1.825 -> 1.565 s.
    docs = load_table(spark, sf_dir, "documents")
    toks = _words(docs.repartition("doc_id"), "doc_id")
    # Fault-tolerance caveat (ADVICE r12): localCheckpoint stores the
    # tf blocks executor-locally and TRUNCATES lineage — on a cluster,
    # losing an executor fails the job instead of recomputing, and the
    # blocks are freed only when the driver GCs this DataFrame. The
    # cluster-scale analogue is a reliable checkpoint / persisted
    # parquet of the tf table (the LSH pair-memo shape). Lazy (not
    # eager): the first consumer materializes it; per-invocation, so
    # nothing crosses bench runs; if session storage growth ever shows
    # up across many invocations, switch to persist()+unpersist.
    tf = _tf(toks).localCheckpoint(eager=False)
    dfreq = _df(tf)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "tfidf", "rnk")
    )


TFIDF_TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks
  WHERE length(word) > 0 GROUP BY doc_id, word
), dfreq AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, t.tf,
         round(t.tf * ln(n_docs::DOUBLE / df), 6) AS tfidf
  FROM tf t JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, word, tf, tfidf, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, word ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# token_stats — BPE-ish regex token counting per source (training-data
# extension: token budgeting for corpus curation). The tokenizer is the
# classic pre-BPE split: runs of letters | runs of digits | single
# non-space symbol — all inside one regexp_extract_all + array ops, fully
# JVM-side; the aggregate is a partial-combinable groupBy on `source`.
# ---------------------------------------------------------------------------

_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_RE), 0)
    first = lambda t: F.substring(t, 1, 1)  # noqa: E731
    d = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: first(t).between("a", "z"))).alias("n_word"),
        F.size(F.filter(toks, lambda t: first(t).between("0", "9"))).alias("n_num"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_word").alias("word_tokens"),
        F.sum("n_num").alias("num_tokens"),
        F.sum(F.col("n_tokens") - F.col("n_word") - F.col("n_num")).alias(
            "punct_tokens"
        ),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens_per_doc"),
    )


TOKEN_STATS_SQL = """
WITH t AS (
  SELECT source,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS toks
  FROM documents
), d AS (
  SELECT source,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x[1] BETWEEN 'a' AND 'z')) AS n_word,
         len(list_filter(toks, x -> x[1] BETWEEN '0' AND '9')) AS n_num
  FROM t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_word) AS BIGINT) AS word_tokens,
       CAST(sum(n_num) AS BIGINT) AS num_tokens,
       CAST(sum(n_tokens - n_word - n_num) AS BIGINT) AS punct_tokens,
       round(avg(n_tokens), 4) AS avg_tokens_per_doc
FROM d GROUP BY source
"""


# ---------------------------------------------------------------------------
# top_bigrams — corpus-wide bigram frequencies (all occurrences, unlike
# the distinct shingles used for MinHash), top 30. The n-gram counting
# primitive under phrase mining / LM data prep. One narrow pass builds
# bigrams per doc (JVM array expressions), one hash-agg shuffles
# (bigram, partial_count) — O(distinct bigrams), not O(tokens).
# ---------------------------------------------------------------------------

def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pos_ngrams keeps this O(L) per doc (see functions/text.py); the
    # scan re-parallelizes because the gram build is the CPU stage.
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    return (
        docs.select(F.explode(TX.pos_ngrams(tok, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


TOP_BIGRAMS_SQL = """
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t
)
SELECT bigram, count(*) AS n
FROM g GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 30
"""


# ---------------------------------------------------------------------------
# doc_repetition_stats — Gopher-style within-document repetition gate:
# the fraction of a document's bigrams that are repeats of an earlier
# bigram in the same document (1 - distinct/total). High values mark
# boilerplate / template / spam text that poisons LM training data.
# Entirely per-row array math (no explode, no shuffle, whole-stage
# codegen) — at 100 TB this is a pure map over the corpus, so it runs at
# scan speed and composes with any downstream filter pushdown.
# ---------------------------------------------------------------------------

MAX_DUP_BIGRAM_FRAC = 0.5


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    grams = F.when(
        F.size(tok) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tok, i.cast("int")),
                F.element_at(tok, (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = docs.select("doc_id", grams.alias("grams"))
    n = F.size("grams")
    nd = F.size(F.array_distinct("grams"))
    dup_frac = F.when(n > 0, F.round((n - nd) / n, 6)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.alias("n_bigrams"),
        dup_frac.alias("dup_bigram_frac"),
        (dup_frac <= MAX_DUP_BIGRAM_FRAC).alias("pass_repetition_gate"),
    )


DOC_REPETITION_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS grams
  FROM t
)
SELECT doc_id,
       len(grams) AS n_bigrams,
       CASE WHEN len(grams) > 0
            THEN round((len(grams) - len(list_distinct(grams))) / len(grams), 6)
            ELSE 0.0 END AS dup_bigram_frac,
       (CASE WHEN len(grams) > 0
             THEN round((len(grams) - len(list_distinct(grams))) / len(grams), 6)
             ELSE 0.0 END) <= {MAX_DUP_BIGRAM_FRAC} AS pass_repetition_gate
FROM g
"""


# ---------------------------------------------------------------------------
# unigram_logprob_scores — CCNet-style LM quality scoring with a unigram
# model: vocabulary + frequencies from the corpus itself, each document
# scored by its mean token negative log-probability (low = fluent/common
# wording, high = rare/garbled). Two aggregations (vocab build, per-doc
# score) + one join of tokens→logp. At 100 TB the frequency table is
# top-V pruned (V ~ 1e6 rows) and broadcast, so the scoring pass is
# shuffle-free; here the full vocab is small enough to broadcast as-is.
# ---------------------------------------------------------------------------

def _unigram_scored(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """(doc_id, keys…, n_tokens, avg_neg_logp): each document's mean
    −log p of its tokens under the corpus unigram model."""
    toks = _words(load_parallel(spark, sf_dir, "documents"), "doc_id", *keys)
    freq = _word_counts(toks)
    total = freq.agg(F.sum("cnt").alias("t"))
    logp = freq.crossJoin(F.broadcast(total)).select(
        "word", (-F.log(F.col("cnt") / F.col("t"))).alias("neg_logp")
    )
    return (
        toks.join(F.broadcast(logp), "word")
        .groupBy("doc_id", *keys)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("neg_logp"), 4).alias("avg_neg_logp"),
        )
    )


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_scored(spark, sf_dir)


UNIGRAM_LOGPROB_SCORES_SQL = """
WITH toks AS (
  SELECT doc_id, w.word
  FROM (
    SELECT doc_id,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), unnest(words) AS w(word)
), freq AS (
  SELECT word, count(*) AS c FROM toks GROUP BY word
), tot AS (
  SELECT sum(c) AS t FROM freq
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(-ln(c::DOUBLE / t::DOUBLE)), 4) AS avg_neg_logp
FROM toks JOIN freq USING (word) CROSS JOIN tot
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# vocab_coverage_stats — tokenizer-vocabulary coverage: build the top-V
# corpus vocabulary (count desc, word asc tie-break), then per language
# measure what fraction of token occurrences the vocab covers (the
# OOV-rate check run before committing to a tokenizer). The vocab is
# O(V) and broadcast; coverage is a conditional aggregate on the token
# stream — no second shuffle on the corpus.
# ---------------------------------------------------------------------------

VOCAB_SIZE = 30


def vocab_coverage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _words(load_parallel(spark, sf_dir, "documents"), "lang")
    vocab = (
        _top_words(_word_counts(toks), VOCAB_SIZE)
        .select("word")
        .withColumn("in_vocab", F.lit(1))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).alias("n_covered"),
            F.round(
                F.sum(F.coalesce("in_vocab", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("coverage"),
        )
    )


VOCAB_COVERAGE_STATS_SQL = f"""
WITH toks AS (
  SELECT lang, w.word
  FROM (
    SELECT lang,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), unnest(words) AS w(word)
), vocab AS (
  SELECT word FROM (
    SELECT word, count(*) AS c FROM toks GROUP BY word
    ORDER BY c DESC, word ASC LIMIT {VOCAB_SIZE}
  )
)
SELECT lang, count(*) AS n_tokens,
       CAST(sum(CASE WHEN word IN (SELECT word FROM vocab) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_covered,
       round(sum(CASE WHEN word IN (SELECT word FROM vocab) THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 4) AS coverage
FROM toks GROUP BY lang
"""


# ---------------------------------------------------------------------------
# bm25_scores — Okapi BM25 retrieval against a deterministic query (the
# corpus's 3 highest-collection-frequency terms): the IR upgrade of
# tfidf_top_terms with document-length normalization (k1=1.2, b=0.75).
# Scale: tf/df/doclen are partial-combinable groupBys; avgdl and the
# 3-term query relation are tiny broadcasts, so the probe side never
# shuffles — the only wide exchange is tf's (doc_id, word) agg. Top-20
# is a single ordered limit (TakeOrdered, no global sort).
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25 rounded to 6 dp, n_query_terms_hit) for every doc
    hitting the 3-term max-cf query — the spine bm25_scores ranks and
    retrieval_ndcg_eval grades."""
    docs = load_parallel(spark, sf_dir, "documents")
    toks = _words(docs, "doc_id")
    tf = _tf(toks)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = _df(tf)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    avgdl = doclen.agg(F.avg("dl").alias("avgdl"))
    query = _top_words(_word_counts(toks), 3).select("word")
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    term_score = idf * F.col("tf") * (k1 + 1.0) / (F.col("tf") + norm)
    return (
        tf.join(F.broadcast(query), "word")
        .join(doclen, "doc_id")
        .join(F.broadcast(dfreq.join(F.broadcast(query), "word")), "word")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_query_terms_hit"),
        )
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


BM25_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), toks2 AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks2 GROUP BY 1, 2),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY 1),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM doclen),
query AS (
  SELECT word FROM toks2 GROUP BY word
  ORDER BY count(*) DESC, word ASC LIMIT 3
)
SELECT doc_id,
       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ({_BM25_K1} + 1.0)
                 / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))), 6)
         AS bm25,
       count(*) AS n_query_terms_hit
FROM tf JOIN query USING (word) JOIN doclen USING (doc_id)
     JOIN dfreq USING (word) CROSS JOIN n CROSS JOIN avgdl
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# inverted_index_stats — posting-list construction (the canonical
# map-reduce workload one step past wordcount, reference
# tasks/example_wordcount.py lineage): token → document frequency,
# collection frequency, and the head of the sorted posting list.
# Scale: collect_list is bounded per word by the posting-head slice
# only AFTER sorting — at 100 TB the full list per hot token is the
# skew risk, so the plan aggregates (word, doc_id) first (partial
# combine kills in-doc repeats), then builds the capped head; the
# full-index materialization would write bucketed-by-word parquet
# instead of collecting.
# ---------------------------------------------------------------------------

def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _tf(_words(load_parallel(spark, sf_dir, "documents"), "doc_id"))
    return per_doc.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5), ","
        ).alias("posting_head"),
    )


INVERTED_INDEX_STATS_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), per_doc AS (
  SELECT word, doc_id, count(*) AS tf FROM toks
  WHERE length(word) > 0 GROUP BY 1, 2
)
SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string((list_sort(list(doc_id)))[1:5], ',') AS posting_head
FROM per_doc GROUP BY word
"""


# ---------------------------------------------------------------------------
# bpe_merges / bpe_token_compression — byte-pair-encoding tokenizer
# training (the merge-table learning step of GPT-style tokenizers).
#
# Architecture mirrors production BPE trainers (e.g. HuggingFace
# tokenizers): the corpus-sized pass is a distributed word-frequency
# aggregate; merge learning then runs on the O(vocab) word-frequency
# dict — driver-sized state by construction, like kmeans_lloyd's
# centroids — and the learned merge list broadcasts back for
# distributed application. The corpus is never re-scanned per merge.
#
# No SQL oracle: iterative argmax-and-rewrite is not expressible in
# one DuckDB query (driver records rows-only; golden-sequence unit
# tests in tests/test_analytics.py pin the semantics).
# ---------------------------------------------------------------------------

_BPE_VOCAB = 300
_BPE_MERGES = 8


def _bpe_word_freqs(spark: SparkSession, sf_dir: str, top_v: int) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    return _top_words(_word_counts(_words(docs)), top_v)


def _bpe_train(word_freqs: list[tuple[str, int]], n_merges: int):
    """Driver-side merge learning over the aggregated word-freq dict.
    Deterministic: best pair = max count, ties broken lexicographically."""
    words = [(tuple(w), c) for w, c in word_freqs]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                counts[syms[i], syms[i + 1]] = counts.get((syms[i], syms[i + 1]), 0) + c
        if not counts:
            break
        top = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top)
        merges.append((best_pair[0], best_pair[1], top))
        a, b = best_pair
        merged = a + b

        def apply(syms: tuple) -> tuple:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            return tuple(out)

        words = [(apply(s), c) for s, c in words]
    return merges, words


def _bpe_sql_ctes() -> str:
    """Shared DuckDB CTE chain replaying BPE merge learning (VERDICT r5
    item 4: the rows-only BPE pair gains real oracle entries).
    _BPE_MERGES is a small fixed constant, so the driver-side training
    loop unrolls into SQL: per round, count adjacent symbol pairs
    weighted by word frequency, pick max count with lexicographic
    (left, right) tie-break — exactly `min(p for p, c ... if c == top)`
    — then apply the merge. The greedy left-to-right single-pass merge
    (`out[-1] == a and s == b`) is exactly a non-overlapping string
    replace() once each symbol is delimited on BOTH sides
    ("|sym|" units): replace("|a||b|" → "|ab|") consumes matches
    left-to-right without overlap, the same traversal as the fold, and
    the double delimiter makes partial-symbol matches ("at|h" vs
    pair t,h) impossible. Symbols are [a-z0-9]+ so '|' never collides.

    Produces CTEs: wf(word, cnt) full corpus freq; w0..wN the top-V
    symbolized table per round; m1..mN(a, b, c) the learned merges."""
    parts = [
        """wf AS MATERIALIZED (
  SELECT word, count(*) AS cnt FROM (
    SELECT regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
    FROM documents,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
    WHERE length(t.tok) > 0
  ) WHERE length(word) > 0 GROUP BY word
)""",
        f"""w0 AS MATERIALIZED (
  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS s, cnt
  FROM wf ORDER BY cnt DESC, word ASC LIMIT {_BPE_VOCAB}
)""",
    ]
    for k in range(1, _BPE_MERGES + 1):
        prev = f"w{k - 1}"
        parts.extend((
            f"""p{k} AS (
  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT sy[i] AS a, sy[i + 1] AS b, cnt FROM (
      SELECT sy, cnt, unnest(generate_series(1, len(sy) - 1)) AS i
      FROM (SELECT string_split(trim(s, '|'), '||') AS sy, cnt FROM {prev})
    )
  ) GROUP BY a, b
)""",
            f"m{k} AS MATERIALIZED (SELECT a, b, c FROM p{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1)",
            f"""w{k} AS MATERIALIZED (
  SELECT word,
         replace(s, (SELECT '|' || a || '||' || b || '|' FROM m{k}),
                    (SELECT '|' || a || b || '|' FROM m{k})) AS s,
         cnt
  FROM {prev}
)""",
        ))
    return ",\n".join(parts)


def _bpe_merges_sql() -> str:
    ranks = "\nUNION ALL ".join(
        f'SELECT {k} AS merge_rank, a AS "left", b AS "right", c AS pair_count '
        f"FROM m{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"WITH {_bpe_sql_ctes()}\nSELECT * FROM ({ranks}) ORDER BY merge_rank"


def _bpe_token_compression_sql() -> str:
    # Apply the learned merges to EVERY distinct corpus word (a0..aN),
    # then aggregate frequency-weighted symbol counts — the same
    # broadcast-encode the Spark pandas_udf performs.
    parts = [
        "a0 AS MATERIALIZED (SELECT word, cnt, "
        "regexp_replace(word, '(.)', '|\\1|', 'g') AS s FROM wf)"
    ]
    for k in range(1, _BPE_MERGES + 1):
        parts.append(
            f"""a{k} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s, (SELECT '|' || a || '||' || b || '|' FROM m{k}),
                    (SELECT '|' || a || b || '|' FROM m{k})) AS s
  FROM a{k - 1}
)"""
        )
    return f"""WITH {_bpe_sql_ctes()},
{",".join(parts)}
SELECT CAST(sum(cnt) AS BIGINT) AS n_words,
       count(*) AS n_distinct_words,
       round(sum(length(word) * cnt) / CAST(sum(cnt) AS DOUBLE), 4)
         AS avg_syms_before,
       round(sum(len(string_split(trim(s, '|'), '||')) * cnt)
             / CAST(sum(cnt) AS DOUBLE), 4) AS avg_syms_after
FROM a{_BPE_MERGES}
"""


BPE_MERGES_SQL = _bpe_merges_sql
BPE_TOKEN_COMPRESSION_SQL = _bpe_token_compression_sql


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table: rank, pair, weighted pair count."""
    freqs = [
        (r["word"], r["cnt"])
        for r in _bpe_word_freqs(spark, sf_dir, _BPE_VOCAB).collect()
    ]
    merges, _ = _bpe_train(freqs, _BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, a, b, int(c)) for i, (a, b, c) in enumerate(merges)],
        "merge_rank int, left string, right string, pair_count long",
    )


def bpe_token_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges corpus-wide (per distinct word,
    frequency-weighted — the distributed application path): symbols per
    word before vs after, corpus-weighted. The merge list is broadcast;
    the word table never leaves the executors."""
    full = _word_counts(_words(load_parallel(spark, sf_dir, "documents")))
    freqs = [
        (r["word"], r["cnt"])
        for r in _bpe_word_freqs(spark, sf_dir, _BPE_VOCAB).collect()
    ]
    merges, _ = _bpe_train(freqs, _BPE_MERGES)
    merge_list = [(a, b) for a, b, _ in merges]
    bc = spark.sparkContext.broadcast(merge_list)

    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def n_tokens_after(words: pd.Series) -> pd.Series:
        ms = bc.value

        def encode(w: str) -> int:
            syms = list(w)
            for a, b in ms:
                merged, out = a + b, []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = merged
                    else:
                        out.append(s)
                syms = out
            return len(syms)

        return words.map(encode).astype("int32")

    return (
        full.withColumn("after", n_tokens_after("word"))
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.round(
                F.sum(F.length("word") * F.col("cnt")) / F.sum("cnt"), 4
            ).alias("avg_syms_before"),
            F.round(F.sum(F.col("after") * F.col("cnt")) / F.sum("cnt"), 4).alias(
                "avg_syms_after"
            ),
        )
    )


# ---------------------------------------------------------------------------
# zipf_fit — Zipf's-law fit of the corpus unigram distribution:
# log-log regression of frequency on rank (slope ≈ -1 for natural
# language; a strong deviation flags synthetic/templated text — a
# real corpus-health check for training data). The ranking window runs
# over the *vocabulary* table (O(distinct words) — already aggregated,
# orders of magnitude smaller than the corpus), and the fit is a
# one-pass regr_* moment aggregate.
# ---------------------------------------------------------------------------


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = _word_counts(_words(load_parallel(spark, sf_dir, "documents")))
    w = W.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = wc.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.round(F.expr("regr_slope(ln(cnt), ln(rnk))"), 4).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(cnt), ln(rnk))"), 4).alias("r2"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").alias("corpus_tokens"),
    )


ZIPF_FIT_SQL = """
WITH toks AS (
  SELECT regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), wc AS (
  SELECT word, count(*) AS cnt FROM toks WHERE length(word) > 0 GROUP BY word
), ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word ASC) AS rnk FROM wc
)
SELECT round(regr_slope(ln(cnt), ln(rnk)), 4) AS zipf_slope,
       round(regr_r2(ln(cnt), ln(rnk)), 4) AS r2,
       count(*) AS vocab_size,
       CAST(sum(cnt) AS BIGINT) AS corpus_tokens
FROM ranked
"""


# ---------------------------------------------------------------------------
# vocab_growth_heaps — Heaps'-law vocabulary growth curve: cumulative
# distinct vocabulary vs cumulative tokens at corpus deciles. Each
# word's contribution point is its FIRST document (min doc_id — one
# vocabulary-sized aggregate); deciles are fixed arithmetic buckets of
# the doc_id range, so per-bucket sums partial-aggregate and the only
# running window is over the 10 bucket rows — never over docs.
# ---------------------------------------------------------------------------


def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), (F.max("doc_id") - F.min("doc_id") + 1).alias("span")
    )
    toks = _words(docs, "doc_id")
    bucket = lambda c: F.floor((F.col(c) - F.col("lo")) * 10 / F.col("span")).cast("int")

    tok_buckets = (
        toks.crossJoin(F.broadcast(bounds))
        .groupBy(bucket("doc_id").alias("decile"))
        .agg(F.count(F.lit(1)).alias("toks"))
    )
    first_seen = toks.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    new_words = (
        first_seen.crossJoin(F.broadcast(bounds))
        .groupBy(bucket("first_doc").alias("decile"))
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        tok_buckets.join(new_words, "decile", "left")
        .select(
            "decile",
            F.sum("toks").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("new_words", F.lit(0))).over(w).alias("cum_vocab"),
        )
    )


VOCAB_GROWTH_HEAPS_SQL = """
WITH bounds AS (
  SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS span FROM documents
), toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), toks2 AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
tok_buckets AS (
  SELECT CAST(floor((doc_id - lo) * 10 / span) AS INT) AS decile, count(*) AS toks
  FROM toks2, bounds GROUP BY 1
), first_seen AS (
  SELECT word, min(doc_id) AS first_doc FROM toks2 GROUP BY word
), new_words AS (
  SELECT CAST(floor((first_doc - lo) * 10 / span) AS INT) AS decile,
         count(*) AS new_words
  FROM first_seen, bounds GROUP BY 1
)
SELECT decile,
       CAST(sum(toks) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       CAST(sum(COALESCE(new_words, 0)) OVER (ORDER BY decile
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM tok_buckets LEFT JOIN new_words USING (decile)
"""


# ---------------------------------------------------------------------------
# sentiment_scores — lexicon-based sentiment scoring (SURVEY.md §7 step
# 7's "sentiment-lexicon" item; the AFINN/VADER-lexicon family). The
# valence lexicon is a broadcast map applied token-wise with a
# higher-order aggregate — no explode, no shuffle until the per-source
# rollup; at 100 TB the lexicon (thousands of entries) broadcasts
# exactly like this 12-entry one. Doc score = mean token valence.
# ---------------------------------------------------------------------------

_SENT_LEXICON = {
    "fast": 2.0, "big": 1.0, "small": -1.0, "slow": -2.0,
    "dup": -2.0, "stream": 1.0, "spark": 2.0, "hash": 0.5,
    "scan": -0.5, "merge": 0.5, "filter": 0.5, "batch": -0.5,
}


def sentiment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    lex = F.create_map(
        *[F.lit(x) for kv in sorted(_SENT_LEXICON.items()) for x in kv]
    )
    toks = TX.clean_tokens(F.col("text"))
    score_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(lex[t], F.lit(0.0)),
    )
    d = docs.select(
        "source",
        F.size(toks).alias("n_toks"),
        score_sum.alias("ssum"),
    ).withColumn(
        "doc_score",
        F.when(F.col("n_toks") > 0, F.col("ssum") / F.col("n_toks")).otherwise(0.0),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_score"), 6).alias("avg_sentiment"),
        F.sum((F.col("doc_score") > 0).cast("long")).alias("n_positive"),
        F.sum((F.col("doc_score") < 0).cast("long")).alias("n_negative"),
    )


def _sentiment_sql() -> str:
    cases = " ".join(
        f"WHEN '{w}' THEN {v}" for w, v in sorted(_SENT_LEXICON.items())
    )
    return f"""
WITH t AS (
  SELECT source,
         list_filter(list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0),
           x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
           x -> length(x) > 0) AS toks
  FROM documents
), scored AS (
  SELECT source, len(toks) AS n_toks,
         list_sum(list_transform(toks,
           x -> CASE x {cases} ELSE 0.0 END)) AS ssum
  FROM t
), d AS (
  SELECT source,
         CASE WHEN n_toks > 0 THEN ssum / n_toks ELSE 0.0 END AS doc_score
  FROM scored
)
SELECT source, count(*) AS n_docs,
       round(avg(doc_score), 6) AS avg_sentiment,
       CAST(sum(CASE WHEN doc_score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(sum(CASE WHEN doc_score < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM d GROUP BY source
"""


SENTIMENT_SCORES_SQL = _sentiment_sql()


# ---------------------------------------------------------------------------
# kwic_snippets — keyword-in-context extraction: for documents
# mentioning the query term, capture the ±2-token window around the
# FIRST occurrence with one anchored regex (no tokenize-explode-rejoin
# round trip), then count the distinct context patterns. The regex
# evaluates row-local in whole-stage codegen; the only shuffle is the
# O(distinct contexts) count.
# ---------------------------------------------------------------------------

_KWIC_TERM = "spark"
_KWIC_RE = (
    r"((?:[a-z0-9]+ ){0,2})" + _KWIC_TERM + r"((?: [a-z0-9]+){0,2})"
)


def kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    hit = docs.filter(F.col("text").rlike(rf"\b{_KWIC_TERM}\b"))
    ctx = hit.select(
        F.concat(
            F.regexp_extract("text", _KWIC_RE, 1),
            F.lit("[" + _KWIC_TERM + "]"),
            F.regexp_extract("text", _KWIC_RE, 2),
        ).alias("context")
    )
    return (
        ctx.groupBy("context")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("context"))
        .limit(20)
    )


KWIC_SNIPPETS_SQL = f"""
WITH hit AS (
  SELECT text FROM documents WHERE regexp_matches(text, '\\b{_KWIC_TERM}\\b')
), ctx AS (
  SELECT regexp_extract(text, '{_KWIC_RE}', 1) ||
         '[{_KWIC_TERM}]' ||
         regexp_extract(text, '{_KWIC_RE}', 2) AS context
  FROM hit
)
SELECT context, count(*) AS n FROM ctx
GROUP BY context ORDER BY n DESC, context ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# ccnet_perplexity_buckets — CCNet-style perplexity bucketing (Wenzek et
# al. 2020, arXiv:1911.00359): score every document with the language
# model (here the corpus unigram LM — same scorer as
# unigram_logprob_scores), then split each language into head / middle
# / tail terciles by score; downstream pipelines keep head+middle and
# drop or downweight tail. The tercile is ntile(3) over (score, doc_id)
# so the cut is deterministic across engines.
#
# Scale: the LM table is O(vocab) and broadcast; scoring is the same
# one-shuffle token aggregate as unigram_logprob_scores; the ntile is a
# per-language window — with thousands of languages the partitioning is
# wide, and a skewed giant language is handled the standard way
# (approx percentile cutoffs instead of an exact window; SCALE.md).
# ---------------------------------------------------------------------------

def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _unigram_scored(spark, sf_dir, "lang")
    w = W.partitionBy("lang").orderBy(F.asc("avg_neg_logp"), F.asc("doc_id"))
    bucketed = scored.withColumn(
        "bucket",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.ntile(3).over(w),
        ),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("avg_neg_logp"), 4).alias("mean_score"),
    )


CCNET_PERPLEXITY_BUCKETS_SQL = """
WITH toks AS (
  SELECT doc_id, lang, w.word
  FROM (
    SELECT doc_id, lang,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), unnest(words) AS w(word)
), freq AS (
  SELECT word, count(*) AS c FROM toks GROUP BY word
), tot AS (
  SELECT sum(c) AS t FROM freq
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens,
         round(avg(-ln(c::DOUBLE / t::DOUBLE)), 4) AS avg_neg_logp
  FROM toks JOIN freq USING (word) CROSS JOIN tot
  GROUP BY doc_id, lang
), bucketed AS (
  SELECT lang, n_tokens, avg_neg_logp,
         (['head', 'middle', 'tail'])[
           ntile(3) OVER (PARTITION BY lang
                          ORDER BY avg_neg_logp ASC, doc_id ASC)] AS bucket
  FROM scored
)
SELECT lang, bucket, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(avg_neg_logp), 4) AS mean_score
FROM bucketed
GROUP BY lang, bucket
"""


# ---------------------------------------------------------------------------
# nb_lang_confusion — multinomial Naive Bayes language ID, trained AND
# applied distributed: training is nothing but two aggregations (per-
# (lang, word) counts and per-lang doc priors with Laplace smoothing),
# so "fit" costs one shuffle and the model is a broadcastable table —
# the pattern for every counting-based classifier (fastText-style
# lang-ID, spam/quality NB gates) at corpus scale. Docs with
# doc_id % 5 == 4 are the held-out test fold; output is the per-
# (true, predicted) confusion matrix. The argmax compares scores
# rounded to 6 decimals with a lexicographic language tie-break so
# both engines pick identical winners.
#
# Scale: model size is O(vocab × langs) — aggregated, then broadcast;
# scoring joins the test token stream against the broadcast model and
# reduces per (doc, lang): two narrow shuffles total, no iteration.
# ---------------------------------------------------------------------------

NB_TEST_FOLD = 4
NB_FOLDS = 5


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = _words(docs, "doc_id", "lang")
    train = toks.filter(F.col("doc_id") % NB_FOLDS != NB_TEST_FOLD)
    test = toks.filter(F.col("doc_id") % NB_FOLDS == NB_TEST_FOLD)

    counts = train.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    c_lang = counts.groupBy("lang").agg(F.sum("c").alias("cl"))
    vocab_n = counts.select("word").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    doc_prior = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    tot_docs = doc_prior.agg(F.sum("nd").alias("td"))
    langs = (
        doc_prior.crossJoin(F.broadcast(tot_docs))
        .join(c_lang, "lang")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            F.col("lang").alias("cand_lang"),
            F.log(F.col("nd") / F.col("td")).alias("log_prior"),
            "cl",
            "v",
        )
    )

    scored = (
        test.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(
                counts.select(
                    F.col("lang").alias("cand_lang"), "word", "c"
                )
            ),
            ["cand_lang", "word"],
            "left",
        )
        .withColumn(
            "ll",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1)
                / (F.col("cl") + F.col("v")).cast("double")
            ),
        )
        .groupBy("doc_id", "cand_lang")
        .agg(
            F.round(F.first("log_prior") + F.sum("ll"), 6).alias("score")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"))
    )
    truth = docs.filter(F.col("doc_id") % NB_FOLDS == NB_TEST_FOLD).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


NB_LANG_CONFUSION_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, w.word
  FROM (
    SELECT doc_id, lang,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), unnest(words) AS w(word)
), train AS (
  SELECT * FROM toks WHERE doc_id % {NB_FOLDS} != {NB_TEST_FOLD}
), test AS (
  SELECT * FROM toks WHERE doc_id % {NB_FOLDS} = {NB_TEST_FOLD}
), counts AS (
  SELECT lang, word, count(*) AS c FROM train GROUP BY lang, word
), c_lang AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM counts GROUP BY lang
), vocab_n AS (
  SELECT count(DISTINCT word) AS v FROM counts
), doc_prior AS (
  SELECT lang, count(DISTINCT doc_id) AS nd FROM train GROUP BY lang
), tot AS (
  SELECT CAST(sum(nd) AS BIGINT) AS td FROM doc_prior
), langs AS (
  SELECT p.lang AS cand_lang, ln(p.nd::DOUBLE / t.td::DOUBLE) AS log_prior,
         l.cl, v.v
  FROM doc_prior p CROSS JOIN tot t JOIN c_lang l ON p.lang = l.lang
  CROSS JOIN vocab_n v
), scored AS (
  SELECT te.doc_id, g.cand_lang,
         round(any_value(g.log_prior) +
               sum(ln((coalesce(c.c, 0) + 1)::DOUBLE / (g.cl + g.v)::DOUBLE)),
               6) AS score
  FROM test te CROSS JOIN langs g
  LEFT JOIN counts c ON c.lang = g.cand_lang AND c.word = te.word
  GROUP BY te.doc_id, g.cand_lang
), pred AS (
  SELECT doc_id, cand_lang AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cand_lang ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n_docs
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
WHERE d.doc_id % {NB_FOLDS} = {NB_TEST_FOLD}
GROUP BY d.lang, p.pred_lang
"""

# ---------------------------------------------------------------------------
# doc_shingle_cosine_pairs — similarity join via a df-pruned inverted
# index (the AllPairs/PPJoin family): idf-weighted cosine over distinct
# 3-token shingles, computed by joining posting lists on the shingle
# key instead of crossing documents. Training-data extension in the
# spirit of the reference's pairwise workloads (tasks/
# plants_classifier.py:57-63 builds C(n,2) pairs; here the pairing is
# index-driven so only documents sharing a rare shingle ever meet).
# Scale shape: the token stream crosses one exchange as (shingle,
# doc_id) postings; terms with df > DF_CAP are dropped BEFORE the
# self-join (boilerplate shingles are exactly the ones that carry no
# signal and would fan out df²/2 pairs), so per-term pair fan-out is
# bounded by DF_CAP²/2; the pair aggregation shuffles scalar
# (doc_a, doc_b, w²) triples only — same contract the dedup plan gate
# enforces (no array payloads on exchanges). Cosine is over the PRUNED
# idf vectors (norms computed post-prune), so the metric is
# self-consistent and ≤ 1 by construction.
# ---------------------------------------------------------------------------

COSINE_DF_CAP = 50
COSINE_MIN_SIM = 0.5


# The tokenize+explode pass is the expensive stage and THREE branches
# of the cosine pipeline consume it (document frequencies, postings
# probe, per-doc norms). Catalyst's ReusedExchange cannot deduplicate
# them — each branch prunes to a different column set, so the canonical
# subtrees never match — so the exploded shingle stream is memoized
# once per session, the _lsh_pairs_cached pattern (plans/dedup.py). At
# 100 TB this is the persisted shingle-posting parquet every AllPairs
# system materializes first.
def _shingle_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(TX.shingles(TX.clean_tokens(F.col("text")), 3)).alias("shingle"),
    )


_shingle_stream_cached = memo(_shingle_stream, ("documents",))


def doc_shingle_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    sh = _shingle_stream_cached(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = dfreq.filter((F.col("df") >= 2) & (F.col("df") <= COSINE_DF_CAP))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # kept is vocabulary-sized: small enough to broadcast at bench SF,
    # but at corpus scale Catalyst/AQE falls back to a shuffle join —
    # no broadcast() hint on purpose.
    postings = (
        sh.join(kept, "shingle")
        .crossJoin(F.broadcast(n))
        .select("shingle", "doc_id", F.log(F.col("n_docs") / F.col("df")).alias("idf"))
    )
    # Pairs are generated BUCKET-LOCALLY (the minhash_lsh_pairs
    # pattern, plans/dedup.py:191): attach each doc's norm² to its
    # postings, group by shingle into a sorted member list — bounded
    # at DF_CAP structs because the df prune already ran — and explode
    # the C(df,2) ordered pairs inside the bucket row, norms riding
    # along as scalars. A posting self-join plus two norm joins would
    # re-evaluate the scan+tokenize+dfreq lineage once per consumer
    # (measured 9-12 parquet scans in the joined plans); this shape
    # tokenizes twice (postings + its norm branch) and every exchange
    # downstream of the bucket carries scalars only.
    norms = postings.groupBy("doc_id").agg(
        F.sum(F.col("idf") * F.col("idf")).alias("norm_sq")
    )
    buckets = postings.join(norms, "doc_id").groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "norm_sq"))).alias("members"),
        F.max("idf").alias("idf"),
    )
    pair_expr = F.expr(
        """
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members)), n ->
            struct(m.doc_id AS da, n.doc_id AS db,
                   m.norm_sq AS na, n.norm_sq AS nb))))
        """
    )
    return (
        buckets.select("idf", F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.da").alias("doc_a"), F.col("p.db").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("idf") * F.col("idf")).alias("dot"),
            F.max(F.col("p.na")).alias("na"),
            F.max(F.col("p.nb")).alias("nb"),
        )
        .withColumn(
            "cos_sim",
            F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos_sim") >= COSINE_MIN_SIM)
        .select("doc_a", "doc_b", "n_shared", "cos_sim")
    )


DOC_SHINGLE_COSINE_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0),
           x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
           x -> length(x) > 0) AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM t WHERE len(toks) >= 3
), dfreq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), kept AS (
  SELECT shingle, df FROM dfreq WHERE df BETWEEN 2 AND {COSINE_DF_CAP}
), n AS (SELECT count(*) AS n_docs FROM documents),
postings AS (
  SELECT sh.doc_id, sh.shingle, ln(n_docs::DOUBLE / df) AS idf
  FROM sh JOIN kept USING (shingle) CROSS JOIN n
), norms AS (
  SELECT doc_id, sqrt(sum(idf * idf)) AS norm FROM postings GROUP BY doc_id
), wtd AS (
  SELECT p.shingle, p.doc_id, p.idf, m.norm
  FROM postings p JOIN norms m USING (doc_id)
)
SELECT doc_a, doc_b, n_shared, cos_sim FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared,
         round(sum(a.idf * b.idf) / (max(a.norm) * max(b.norm)), 6) AS cos_sim
  FROM wtd a JOIN wtd b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
) WHERE cos_sim >= {COSINE_MIN_SIM}
"""


# ---------------------------------------------------------------------------
# bigram_logprob_scores — corpus bigram language model with add-k
# smoothing, scoring every document by its average bigram
# log-probability (the bigram upgrade of unigram_logprob_scores; the
# standard fluency signal for training-data quality gates — word salad
# scores far below template text even when unigram frequencies match).
# P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V) with c(w1·) counted from
# the bigram-first position so the conditional normalizes exactly.
# Scale shape: the LM tables are aggregates of the token stream (one
# shuffle on the gram key, map-side combined); scoring joins doc
# bigrams to the bigram table on the gram key — at corpus scale that
# table outgrows any broadcast threshold, so this is written as a
# plain co-partitioned hash join (AQE may still broadcast it when
# small). No per-row Python anywhere.
# ---------------------------------------------------------------------------

BIGRAM_ADD_K = 0.5


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(TX.pos_ngrams(TX.clean_tokens(F.col("text")), 2)).alias("bigram"),
    )
    c2 = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        c2.groupBy(F.substring_index("bigram", " ", 1).alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = _words(docs).agg(F.countDistinct("word").alias("v"))
    lm = (
        c2.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.log(
                (F.col("c2") + F.lit(BIGRAM_ADD_K))
                / (F.col("c1") + F.lit(BIGRAM_ADD_K) * F.col("v"))
            ).alias("lp"),
        )
    )
    return (
        grams.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
    )


BIGRAM_LOGPROB_SCORES_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(list_transform(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0),
           x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
           x -> length(x) > 0) AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t WHERE len(toks) >= 2
), c2 AS (
  SELECT bigram, count(*) AS c2 FROM g GROUP BY bigram
), c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, sum(c2) AS c1
  FROM c2 GROUP BY 1
), v AS (
  SELECT count(DISTINCT w.word) AS v
  FROM t, unnest(toks) AS w(word)
), lm AS (
  SELECT bigram,
         ln((c2 + {BIGRAM_ADD_K}) /
            (c1 + {BIGRAM_ADD_K} * v)) AS lp
  FROM c2 JOIN c1 ON split_part(c2.bigram, ' ', 1) = c1.w1
  CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS avg_logprob
FROM g JOIN lm USING (bigram)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# rake_keyword_scores — RAKE keyword extraction (Rose et al. 2010):
# candidate phrases are maximal stopword-free token runs (segmented by
# the gaps-and-islands trick — phrase_id = running count of stopwords
# before each token, the same pattern user_sessions applies to time
# gaps); each word scores deg(w)/freq(w) where deg sums the lengths of
# phrases containing w; a phrase scores the sum of its words' scores.
# The corpus-level keyword table is the top-25 phrases by score.
#
# Scale shape: one doc_id-partitioned window pass segments the token
# stream, two hash aggregates build the O(vocab) word-stat table
# (broadcast back), and the phrase rollup is a groupBy on phrase
# strings — map-side combined, no self-joins. Float stability: the
# per-word ratio is quantized to integer MICROS once (identical IEEE
# division + round in both engines), then summed — integer sums are
# order-free, so partial-agg ordering cannot flip a rounded digit
# (the quantize-then-sum rule from SCALE.md's oracle notes).
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = ("the", "a")
RAKE_TOP_K = 25


def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(TX.clean_tokens(F.col("text"))).alias("pos", "word"),
    )
    is_stop = F.col("word").isin(*RAKE_STOPWORDS)
    w = W.partitionBy("doc_id").orderBy("pos")
    seg = toks.withColumn(
        "phrase_id", F.sum(is_stop.cast("long")).over(w)
    ).filter(~is_stop)
    # collect_list order is not guaranteed under partial aggregation —
    # build each phrase from a sorted (pos, word) struct array instead.
    phrases = seg.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    words = seg.join(
        phrases.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"]
    )
    stats = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    ).withColumn(
        "micros",
        F.round(F.col("deg") * F.lit(1000000.0) / F.col("freq")).cast("long"),
    )
    scored = (
        seg.join(F.broadcast(stats.select("word", "micros")), "word")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("micros").alias("phrase_micros"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.max("phrase_micros").alias("m"),
        )
        .select(
            "phrase",
            "n_occ",
            (F.col("m") / F.lit(1000000.0)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
    )


RAKE_KEYWORD_SCORES_SQL = f"""
WITH toks AS (
  SELECT doc_id, w.pos, w.word FROM (
    SELECT doc_id,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), (SELECT unnest(words) AS word,
             generate_subscripts(words, 1) - 1 AS pos) AS w
), seg AS (
  SELECT doc_id, pos, word,
         sum(CASE WHEN word IN {RAKE_STOPWORDS} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
  FROM toks
), body AS (
  SELECT * FROM seg WHERE word NOT IN {RAKE_STOPWORDS}
), phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM body GROUP BY doc_id, phrase_id
), stats AS (
  SELECT word,
         CAST(round(sum(plen) * 1000000.0 / count(*)) AS BIGINT) AS micros
  FROM body b JOIN phrases p USING (doc_id, phrase_id)
  GROUP BY word
), scored AS (
  SELECT b.doc_id, b.phrase_id,
         CAST(sum(s.micros) AS BIGINT) AS phrase_micros
  FROM body b JOIN stats s USING (word)
  GROUP BY b.doc_id, b.phrase_id
)
SELECT phrase, count(*) AS n_occ,
       max(phrase_micros) / 1000000.0 AS score
FROM scored JOIN phrases USING (doc_id, phrase_id)
GROUP BY phrase
ORDER BY score DESC, phrase ASC
LIMIT {RAKE_TOP_K}
"""


# ---------------------------------------------------------------------------
# ngram_novelty_scores — corpus-level trigram novelty per source: what
# fraction of each source's distinct-per-doc trigram occurrences are
# FIRST occurrences in the corpus (global first = min doc_id owning the
# trigram). The corpus twin of doc_repetition_stats' within-doc view —
# low novelty means a source is re-serving n-grams the corpus already
# has (the memorization/duplication signal used when weighing sources
# for training mixes). Reference dedup intent: tasks/dedup_docs.py.
#
# Scale shape: trigrams are deduped WITHIN each row first
# (array_distinct — no shuffle), so the explode emits each (doc,
# trigram) once; the only trigram-keyed exchange is the min(doc_id)
# hash aggregate (map-side combined). First-occurrence credit joins
# back on doc_id — never a second trigram-keyed shuffle. Ratios are
# derived from integer sums only (micro-average), so the one division
# happens once per source row, identically in both engines.
# ---------------------------------------------------------------------------


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", TX.shingles(TX.tokens(F.col("text"))).alias("sh")
    )
    slots = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("sh")).alias("n_trigram_slots"),
    )
    ex = d.select("doc_id", F.explode("sh").alias("g"))
    first = ex.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = (
        first.join(d.select("doc_id", "source"), first.first_doc == F.col("doc_id"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        slots.join(novel, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_trigram_slots",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0))
                / F.col("n_trigram_slots").cast("double"),
                4,
            ).alias("novelty_rate"),
        )
    )


NGRAM_NOVELTY_SCORES_SQL = """
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(
             range(1, greatest(len(toks) - 1, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [] END AS sh
  FROM (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS toks
    FROM documents
  )
), slots AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(sh)) AS BIGINT) AS n_trigram_slots
  FROM d GROUP BY source
), ex AS (
  SELECT doc_id, unnest(sh) AS g FROM d
), first AS (
  SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g
), novel AS (
  SELECT d.source, count(*) AS n_novel
  FROM first JOIN d ON first.first_doc = d.doc_id
  GROUP BY d.source
)
SELECT slots.source, n_docs, n_trigram_slots,
       coalesce(n_novel, 0) AS n_novel,
       round(coalesce(n_novel, 0) / CAST(n_trigram_slots AS DOUBLE), 4)
         AS novelty_rate
FROM slots LEFT JOIN novel ON slots.source = novel.source
"""


# ---------------------------------------------------------------------------
# source_vocab_jaccard — pairwise vocabulary overlap between sources:
# Jaccard of distinct-token sets for every source pair. The mix
# designer's redundancy matrix — two sources with ~1.0 vocabulary
# Jaccard probably shouldn't both be upweighted. Intersections come
# from ONE self-join of the (source, token) distinct table on token
# (vocabulary-sized, orders below the token stream); unions from the
# per-source sizes by inclusion-exclusion — no pairwise set
# materialization. Output is bounded by (#sources choose 2).
# ---------------------------------------------------------------------------


def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tk"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = st.select(F.col("source").alias("src_a"), "tk")
    b = st.select(F.col("source").alias("src_b"), "tk")
    inter = (
        a.join(b, "tk")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("nv", "nv_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")), "src_b")
        .withColumnRenamed("nv", "nv_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.round(
                F.col("inter")
                / (F.col("nv_a") + F.col("nv_b") - F.col("inter")).cast(
                    "double"
                ),
                4,
            ).alias("vocab_jaccard"),
        )
    )


SOURCE_VOCAB_JACCARD_SQL = """
WITH st AS (
  SELECT DISTINCT source, unnest(list_filter(
    regexp_split_to_array(lower(trim(text)), '\\s+'),
    x -> length(x) > 0)) AS tk
  FROM documents
), sizes AS (
  SELECT source, count(*) AS nv FROM st GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM st a JOIN st b ON a.tk = b.tk AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, inter,
       round(inter / CAST(sa.nv + sb.nv - inter AS DOUBLE), 4)
         AS vocab_jaccard
FROM inter
JOIN sizes sa ON inter.src_a = sa.source
JOIN sizes sb ON inter.src_b = sb.source
"""


# ---------------------------------------------------------------------------
# rrf_fusion_topk — hybrid retrieval fusion (Cormack et al.'s
# reciprocal-rank fusion, the default fusion in modern lexical+vector
# search stacks): the BM25 top-20 (lexical list, corpus-top-cf query
# as in bm25_scores) is fused with a semantic more-like-this list —
# every doc ranked by embedding cosine to the lexical rank-1 doc's
# embedding (pseudo-relevance feedback with the md5 stand-in embedder
# of doc_embeddings, which is exactly SQL-reconstructable) — via
# rrf = Σ 1/(RRF_K + rank). Ranks are integers, so the fused score is
# the same double in any engine.
#
# Scale shape: lexical side is the existing BM25 plan; semantic side
# is one map-only cosine pass against a broadcast 16-float seed + a
# TakeOrdered(20); fusion joins two 20-row lists. Nothing corpus-sized
# shuffles beyond what BM25 already does.
# ---------------------------------------------------------------------------

RRF_K = 60


def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.multimodal.binary import text_embedder_udf

    embed = text_embedder_udf()
    wl = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_r = bm25_scores(spark, sf_dir).select(
        "doc_id", F.row_number().over(wl).alias("r_lex")
    )
    docs = load_parallel(spark, sf_dir, "documents")
    # one row: the embedding of the lexical rank-1 doc, embedded alone
    seed = docs.join(F.broadcast(lex_r.filter(F.col("r_lex") == 1)), "doc_id").select(
        embed(F.col("text")).alias("s")
    )
    cos = V.dot(F.col("e"), F.col("s")) / (V.norm(F.col("e")) * V.norm(F.col("s")))
    ws = W.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem_r = (
        docs.select("doc_id", embed(F.col("text")).alias("e"))
        .crossJoin(F.broadcast(seed))
        .select("doc_id", cos.alias("cos"))
        .withColumn("r_sem", F.row_number().over(ws))
        .filter(F.col("r_sem") <= 20)
        .select("doc_id", "r_sem")
    )
    fused = lex_r.join(sem_r, "doc_id", "full").select(
        "doc_id",
        F.coalesce("r_lex", F.lit(0)).alias("r_lex"),
        F.coalesce("r_sem", F.lit(0)).alias("r_sem"),
        F.round(
            F.coalesce(1.0 / (F.col("r_lex") + RRF_K), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("r_sem") + RRF_K), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


def _rrf_sql() -> str:
    from map_reduce_engine_cdps_spark.multimodal.binary import (
        _md5_component_sql,
        _sq_norm_sql,
    )

    comp = _md5_component_sql
    dot = " + ".join(
        f"CAST({comp(i)} AS DOUBLE) * sd.s{i}" for i in range(16)
    )
    seed_comps = ", ".join(
        f"CAST({comp(i)} AS DOUBLE) AS s{i}" for i in range(16)
    )
    return (
        "WITH lex AS ("
        + BM25_SCORES_SQL
        + f"""),
lexr AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
  FROM lex
), h AS (
  SELECT doc_id, md5(text) AS h FROM documents
), sd AS (
  SELECT {seed_comps},
         {_sq_norm_sql()} AS snrm
  FROM h WHERE doc_id = (SELECT doc_id FROM lexr WHERE r_lex = 1)
), cosr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY ({dot})
           / (sqrt({_sq_norm_sql()}) * sqrt(sd.snrm)) DESC, doc_id ASC)
           AS r_sem
  FROM h, sd
), semr AS (
  SELECT doc_id, r_sem FROM cosr WHERE r_sem <= 20
), fused AS (
  SELECT coalesce(lexr.doc_id, semr.doc_id) AS doc_id,
         coalesce(r_lex, 0) AS r_lex, coalesce(r_sem, 0) AS r_sem,
         round(coalesce(CAST(1.0 AS DOUBLE) / (r_lex + {RRF_K}), 0)
               + coalesce(CAST(1.0 AS DOUBLE) / (r_sem + {RRF_K}), 0), 6)
           AS rrf
  FROM lexr FULL JOIN semr ON lexr.doc_id = semr.doc_id
)
SELECT doc_id, r_lex, r_sem, rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""
    )


RRF_FUSION_TOPK_SQL = _rrf_sql


# ---------------------------------------------------------------------------
# wand_pruned_retrieval — WAND-style upper-bound pruning power for
# top-k retrieval (Broder et al., CIKM'03): per query term, the max
# per-doc tf-idf contribution is that term's upper bound; any doc
# whose matching terms' UBs sum below the exact k-th best score can be
# skipped without scoring. The query reports the prune rate (how much
# of the candidate set a WAND iterator would never fully score) plus
# the top-k mass — the index-design number that decides whether
# impact-ordered postings are worth building. Exact scoring is the
# same tf-idf shape as tfidf_top_terms; everything else is bounded
# aggregates over the 3-term query's postings.
# ---------------------------------------------------------------------------

_WAND_K = 10


# Row bound for the k-th-score global window below: its input is one
# row per candidate doc (docs containing a top-3 query term), which the
# plan gate (test_eval_global_windows_are_row_bounded) counts at the
# test SF against this cap — the guard that keeps the one-partition
# rank an eval-scale object if the query-term count or corpus shape
# ever changes.
WAND_WINDOW_ROW_CAP = 100_000


def _wand_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, doc_ub) per candidate doc of the WAND eval: its
    exact tf-idf score over the query terms it contains and the sum of
    those terms' upper bounds. This is the frame the k-th-score global
    window ranks."""
    docs = load_parallel(spark, sf_dir, "documents")
    # cf == Σ tf per word, so the query terms come from the same tf
    # aggregate as the postings, whose exchange both consumers reuse
    tf = _tf(_words(docs, "doc_id"))
    n_docs = table_rows(spark, sf_dir, "documents")
    query = _top_words(
        tf.groupBy("word").agg(F.sum("tf").alias("cnt")), 3
    ).select("word")
    by_word = W.partitionBy("word")
    contrib = tf.join(F.broadcast(query), "word").select(
        "doc_id",
        (
            F.col("tf")
            * F.log(F.lit(float(n_docs)) / F.count(F.lit(1)).over(by_word))
        ).alias("c"),
        "word",
    )
    return (
        contrib.withColumn("ub", F.max("c").over(by_word))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("score"), F.sum("ub").alias("doc_ub"))
    )


def wand_pruned_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    wk = W.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = _wand_doc_scores(spark, sf_dir).withColumn(
        "rn", F.row_number().over(wk)
    )
    # the k-th best score (0 below k candidates) beside every candidate
    s_k = F.max(F.when(F.col("rn") == _WAND_K, F.col("score"))).over(
        W.partitionBy()
    )
    skip = F.when(F.col("doc_ub") < F.col("s_k"), 1).otherwise(0)
    # each top-k score rounded before the sum, as the oracle does
    score4 = F.when(F.col("rn") <= _WAND_K, F.round(F.col("score"), 4))
    return ranked.withColumn("s_k", F.coalesce(s_k, F.lit(0.0))).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(skip).cast("long").alias("n_skippable"),
        F.round(F.sum(skip) / F.count(F.lit(1)).cast("double"), 4).alias(
            "prune_rate"
        ),
        F.round(F.coalesce(F.sum(score4), F.lit(0.0)), 4).alias("topk_mass"),
    )


WAND_PRUNED_RETRIEVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents,
       unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), toks2 AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks2 GROUP BY 1, 2),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
query AS (
  SELECT word FROM (
    SELECT word, count(*) AS cf FROM toks2 GROUP BY 1
    ORDER BY cf DESC, word ASC LIMIT 3
  )
), contrib AS (
  SELECT doc_id, tf.word, tf * ln(n_docs / df) AS c
  FROM tf JOIN query USING (word) JOIN dfreq USING (word) CROSS JOIN n
), scores AS (
  SELECT doc_id, sum(c) AS score FROM contrib GROUP BY doc_id
), ranked AS (
  SELECT score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM scores
), sk AS (
  SELECT coalesce(
    (SELECT score FROM ranked WHERE rn = {_WAND_K}), 0.0) AS s_k
), ub AS (
  SELECT word, max(c) AS ub FROM contrib GROUP BY word
), doc_ub AS (
  SELECT doc_id, sum(ub) AS doc_ub
  FROM contrib JOIN ub USING (word) GROUP BY doc_id
), mass AS (
  SELECT sum(round(score, 4)) AS topk_mass FROM ranked WHERE rn <= {_WAND_K}
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN doc_ub < s_k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_skippable,
       round(sum(CASE WHEN doc_ub < s_k THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS prune_rate,
       round(topk_mass, 4) AS topk_mass
FROM doc_ub, sk, mass
GROUP BY s_k, topk_mass
"""


# ---------------------------------------------------------------------------
# term_burstiness — Church-Gale burstiness of the top-20
# collection-frequency terms: variance-to-mean ratio of per-doc counts
# (docs without the term count as zeros, handled via integer sums +
# the corpus doc count, never a dense matrix). VMR ≈ 1 = Poisson-like
# function word; VMR ≫ 1 = bursty content word — the signal behind
# tf normalization choices and stopword induction. All moments are
# exact integer sums; two divisions at the end.
# ---------------------------------------------------------------------------


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    n_docs = table_rows(spark, sf_dir, "documents")
    tf = _tf(docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")))
    stats = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).alias("cf2"),
    )
    top = stats.orderBy(F.desc("cf"), F.asc("word")).limit(20)
    mean = F.col("cf") / F.lit(float(n_docs))
    var = (
        F.col("cf2") - F.col("cf") * F.col("cf") / F.lit(float(n_docs))
    ) / F.lit(float(n_docs - 1))
    return top.select(
        "word",
        "df",
        "cf",
        F.round(var / mean, 4).alias("vmr"),
    )


TERM_BURSTINESS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(lower(trim(text)), '\\s+'),
    x -> length(x) > 0)) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
), n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
stats AS (
  SELECT word, count(*) AS df,
         CAST(sum(tf) AS BIGINT) AS cf,
         CAST(sum(tf * tf) AS BIGINT) AS cf2
  FROM tf GROUP BY word
), top AS (
  SELECT * FROM stats ORDER BY cf DESC, word ASC LIMIT 20
)
SELECT word, df, cf,
       round(((cf2 - cf * cf / nd) / (nd - 1)) / (cf / nd), 4) AS vmr
FROM top, n
"""


# ---------------------------------------------------------------------------
# query_expansion_pmi — association-based query expansion (the classic
# pre-embedding recall lever, still the cheap first move in lexical
# stacks): for each of the corpus-top-cf query terms, the top-3
# expansion candidates by document-level PMI, df-pruned (min DF 5) so
# rare-term flukes can't win. PMI from exact integer doc counts —
# log((co·N)/(df_q·df_c)) — computed on the (query-term × vocabulary)
# co-occurrence table, which is 3×|V|-bounded, never |V|².
# ---------------------------------------------------------------------------

_QE_MIN_DF = 5


def query_expansion_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    n_docs = table_rows(spark, sf_dir, "documents")
    # The distinct doc-term frame has four consumers, which share its
    # exchange only while their plans below it are identical: its keys
    # are filtered non-null here, so no join pushes its own inferred
    # filter into one consumer's copy.
    dt = (
        _words(docs, "doc_id")
        .filter(F.col("doc_id").isNotNull() & F.col("word").isNotNull())
        .distinct()
    )
    dfreq = _df(dt)
    query = _top_words(_word_counts(_words(docs)), 3).select(F.col("word").alias("q"))
    qd = dt.join(F.broadcast(query), dt.word == F.col("q")).select(
        "doc_id", "q"
    )
    # dt is corpus-sized: adaptive execution would broadcast it once its
    # exchange reads small
    co = (
        qd.join(dt.hint("shuffle_hash"), "doc_id")
        .filter(F.col("word") != F.col("q"))
        .groupBy("q", "word")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    scored = (
        co.join(dfreq.withColumnRenamed("word", "q").withColumnRenamed("df", "df_q"), "q")
        .join(dfreq.filter(F.col("df") >= _QE_MIN_DF), "word")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("co")
                    * F.lit(float(n_docs))
                    / (F.col("df_q") * F.col("df"))
                ),
                4,
            ),
        )
    )
    w = W.partitionBy("q").orderBy(F.desc("pmi"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("q").alias("query_term"),
            F.col("word").alias("expansion"),
            F.col("co").alias("n_co_docs"),
            "pmi",
            "rn",
        )
    )


QUERY_EXPANSION_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents,
       unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), toks2 AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
dt AS (SELECT DISTINCT doc_id, word FROM toks2),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
dfreq AS (SELECT word, count(*) AS df FROM dt GROUP BY 1),
query AS (
  SELECT word AS q FROM (
    SELECT word, count(*) AS cf FROM toks2 GROUP BY 1
    ORDER BY cf DESC, word ASC LIMIT 3
  )
), qd AS (
  SELECT dt.doc_id, query.q FROM dt JOIN query ON dt.word = query.q
), co AS (
  SELECT qd.q, dt.word, count(*) AS co
  FROM qd JOIN dt ON qd.doc_id = dt.doc_id
  WHERE dt.word <> qd.q
  GROUP BY 1, 2
), scored AS (
  SELECT co.q, co.word, co.co,
         round(ln(co.co * nd / (dq.df * dc.df)), 4) AS pmi
  FROM co
  JOIN dfreq dq ON co.q = dq.word
  JOIN dfreq dc ON co.word = dc.word
  CROSS JOIN n
  WHERE dc.df >= {_QE_MIN_DF}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q
                               ORDER BY pmi DESC, word ASC) AS rn
  FROM scored
)
SELECT q AS query_term, word AS expansion,
       CAST(co AS BIGINT) AS n_co_docs, pmi, rn
FROM ranked WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# quality_score_auc — ROC-AUC of the stopword-ratio quality signal as a
# classifier of lang='en': the standard bias diagnostic for any
# English-stopword-based quality filter (the score SHOULD separate
# English — that's the measured extent to which a "quality" threshold
# is actually a language gate; cf. Gopher/CCNet filter analyses). AUC
# via the Mann-Whitney midrank identity: AUC = (R1 − n1(n1+1)/2) /
# (n1·n0) with average ranks over ties. The score is quantized to 4
# decimals first, so the rank table is grouped by VALUE — the global
# ordering window runs over ≤10001 distinct scores regardless of
# corpus size (the eval-query cap pattern; plan-gate friendly), while
# counts per value stay exact integers.
# ---------------------------------------------------------------------------

def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    d = docs.select(
        F.round(TX.stopword_ratio(tok), 4).alias("s"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    per_v = d.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("c1")
    )
    wv = W.orderBy("s")
    ranked = per_v.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("c").over(wv.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ),
    ).withColumn(
        "midrank", F.col("cum_before") + (F.col("c") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum(F.col("c1") * F.col("midrank")).alias("r1"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n0"),
    )
    return agg.select(
        F.col("n1").alias("n_en"),
        F.col("n0").alias("n_other"),
        F.round(
            (F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0)
            / (F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("auc"),
    )


QUALITY_SCORE_AUC_SQL = """
WITH t AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), d AS (
  SELECT round(CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN
                    ('the','a','an','of','and','to','in','is','it','that')))::DOUBLE
                  / len(toks)
               ELSE 0.0 END, 4) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM t
), per_v AS (
  SELECT s, count(*) AS c, CAST(sum(pos) AS BIGINT) AS c1
  FROM d GROUP BY s
), ranked AS (
  SELECT c, c1,
         coalesce(CAST(sum(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           + (c + 1) / 2.0 AS midrank
  FROM per_v
)
SELECT CAST(sum(c1) AS BIGINT) AS n_en,
       CAST(sum(c - c1) AS BIGINT) AS n_other,
       round((sum(c1 * midrank) - sum(c1) * (sum(c1) + 1) / 2.0)
           / CAST(sum(c1) * sum(c - c1) AS DOUBLE), 6) AS auc
FROM ranked
"""


# ---------------------------------------------------------------------------
# chi2_term_selection — χ² feature selection of terms against the
# lang='en' label (the fastText/quality-classifier vocabulary step;
# Yang & Pedersen ICML'97): per term with document frequency ≥ 5, the
# 2×2 doc-level contingency vs the label, ranked by the χ² statistic.
# Everything up to the final ranking is exact-integer: distinct
# (doc, term) pairs → per-term positive/total df join a 1-row label
# census. The ranking window runs over the df-thresholded vocabulary
# (bounded: natural-language vocab grows ~O(corpus^0.5), Heaps' law —
# measured in vocab_growth_heaps), with a term tie-break.
# ---------------------------------------------------------------------------

_CHI2_MIN_DF = 5
_CHI2_TOP = 20


def chi2_term_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("pos"),
        F.explode(F.array_distinct(TX.clean_tokens(F.col("text")))).alias("term"),
    )
    per_term = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("pos").alias("df_en")
    ).filter(F.col("df") >= _CHI2_MIN_DF)
    census = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
    )
    j = per_term.crossJoin(F.broadcast(census))
    n11 = F.col("df_en")
    n10 = F.col("df") - F.col("df_en")
    n01 = F.col("n_en") - F.col("df_en")
    n00 = F.col("n_docs") - F.col("n_en") - n10
    num = F.col("n_docs").cast("double") * F.pow(n11 * n00 - n10 * n01, 2)
    den = (
        (n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00)
    ).cast("double")
    scored = j.select(
        "term",
        "df",
        n11.alias("df_en"),
        F.round(F.when(den > 0.0, num / den).otherwise(0.0), 4).alias("chi2"),
    )
    wr = W.orderBy(F.desc("chi2"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _CHI2_TOP)
        .select("rnk", "term", "df", "df_en", "chi2")
    )


CHI2_TERM_SELECTION_SQL = f"""
WITH t AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         unnest(list_distinct(list_filter(
             list_transform(
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> length(x) > 0),
               x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0))) AS term
  FROM documents
), per_term AS (
  SELECT term, count(*) AS df, CAST(sum(pos) AS BIGINT) AS df_en
  FROM t GROUP BY term HAVING count(*) >= {_CHI2_MIN_DF}
), census AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
  FROM documents
), scored AS (
  SELECT term, df, df_en,
         round(CASE WHEN (df) * (n_docs - df) * (n_en) * (n_docs - n_en) > 0
               THEN CAST(n_docs AS DOUBLE)
                  * ((df_en * (n_docs - n_en - (df - df_en))
                     - (df - df_en) * (n_en - df_en)) ** 2)
                  / CAST((df_en + (df - df_en)) * ((n_en - df_en) + (n_docs - n_en - (df - df_en)))
                       * (df_en + (n_en - df_en)) * ((df - df_en) + (n_docs - n_en - (df - df_en)))
                    AS DOUBLE)
               ELSE 0.0 END, 4) AS chi2
  FROM per_term CROSS JOIN census
)
SELECT row_number() OVER (ORDER BY chi2 DESC, term ASC) AS rnk,
       term, df, df_en, chi2
FROM scored
ORDER BY chi2 DESC, term ASC LIMIT {_CHI2_TOP}
"""


# ---------------------------------------------------------------------------
# mcnemar_lang_models — McNemar's paired test (McNemar 1947; the
# correct significance test for comparing two classifiers on the SAME
# examples — Dietterich, Neural Computation 1998) between the two
# dependency-free lang='en' detectors this engine ships: A = stopword
# ratio ≥ 0.05 (lang_id_accuracy's heuristic), B = average token
# length ≤ 5.0. The statistic uses only the discordant pair counts
# b = (A right, B wrong), c = (A wrong, B right) with continuity
# correction: (|b−c|−1)²/(b+c). One scan, one 1-row aggregate —
# every count exact-integer, the statistic a single scalar both
# engines compute identically.
# ---------------------------------------------------------------------------

def mcnemar_lang_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    d = docs.select(
        (F.col("lang") == "en").alias("y"),
        (TX.stopword_ratio(tok) >= 0.05).alias("pa"),
        (TX.avg_token_len(tok) <= 5.0).alias("pb"),
    ).select(
        (F.col("pa") == F.col("y")).cast("long").alias("a_ok"),
        (F.col("pb") == F.col("y")).cast("long").alias("b_ok"),
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("a_ok").alias("na"),
        F.sum("b_ok").alias("nb"),
        F.sum(
            (F.col("a_ok") == 1).cast("long") * (F.col("b_ok") == 0).cast("long")
        ).alias("b_disc"),
        F.sum(
            (F.col("a_ok") == 0).cast("long") * (F.col("b_ok") == 1).cast("long")
        ).alias("c_disc"),
    )
    return agg.select(
        "n_docs",
        F.round(F.col("na") / F.col("n_docs").cast("double"), 4).alias("acc_a"),
        F.round(F.col("nb") / F.col("n_docs").cast("double"), 4).alias("acc_b"),
        "b_disc",
        "c_disc",
        F.round(
            F.when(
                F.col("b_disc") + F.col("c_disc") > 0,
                F.pow(F.abs(F.col("b_disc") - F.col("c_disc")) - 1, 2)
                / (F.col("b_disc") + F.col("c_disc")).cast("double"),
            ).otherwise(0.0),
            4,
        ).alias("mcnemar_chi2"),
    )


MCNEMAR_LANG_MODELS_SQL = """
WITH t AS (
  SELECT lang = 'en' AS y,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), preds AS (
  SELECT y,
         (CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN
                    ('the','a','an','of','and','to','in','is','it','that')))::DOUBLE
                  / len(toks)
               ELSE 0.0 END) >= 0.05 AS pa,
         (CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                  / len(toks)
               ELSE 0.0 END) <= 5.0 AS pb
  FROM t
), oks AS (
  SELECT CASE WHEN pa = y THEN 1 ELSE 0 END AS a_ok,
         CASE WHEN pb = y THEN 1 ELSE 0 END AS b_ok
  FROM preds
)
SELECT count(*) AS n_docs,
       round(CAST(sum(a_ok) AS BIGINT) / CAST(count(*) AS DOUBLE), 4) AS acc_a,
       round(CAST(sum(b_ok) AS BIGINT) / CAST(count(*) AS DOUBLE), 4) AS acc_b,
       CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS b_disc,
       CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS c_disc,
       round(CASE WHEN sum(CASE WHEN a_ok <> b_ok THEN 1 ELSE 0 END) > 0
             THEN ((abs(CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      - CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END) AS BIGINT)) - 1) ** 2)
                / CAST(sum(CASE WHEN a_ok <> b_ok THEN 1 ELSE 0 END) AS DOUBLE)
             ELSE 0.0 END, 4) AS mcnemar_chi2
FROM oks
"""


# ---------------------------------------------------------------------------
# retrieval_ndcg_eval — graded-relevance ranking quality (nDCG@10,
# Järvelin & Kekäläinen 2002) of the BM25 ranker: the eval metric the
# retrieval stack (tfidf → bm25 → wand → rrf) still lacked — AUC grades
# a binary classifier, MRR a single-relevant ranking; nDCG grades a
# GRADED ranking. Relevance labels are deterministic pseudo-relevance
# independent of the ranker's scores: rel(doc) = number of distinct
# query terms present (1..3 over the same 3-term max-cf query bm25
# uses), gain = 2^rel − 1. nDCG@10 = DCG/IDCG where IDCG re-ranks the
# same candidate universe by rel itself.
#
# Cross-engine determinism: ranking is on the ROUNDED bm25 (6 dp —
# the exact values bm25_scores already certifies), ties by doc_id;
# each rank's gain/ln(rank+1) term is quantized to integer micros
# before summing (one round() of one double per term, then exact
# bigint sums — the integer-cents rule), so DCG/IDCG never ride a
# float accumulation. The ln-vs-log2 discount base cancels in the
# DCG/IDCG ratio, leaving standard nDCG.
#
# Scale shape: identical to bm25_scores (broadcast query/df/avgdl, one
# (doc_id, word) agg) plus two TakeOrdered(10)s — the rank windows see
# 10 rows each, never the corpus.
# ---------------------------------------------------------------------------

_NDCG_K = 10


def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir).withColumnRenamed("n_query_terms_hit", "rel")
    # Each candidate twice, ranked by bm25 for the DCG and by rel for the
    # IDCG: both top-k cuts are one windowed pass, and the candidate
    # count rides on the DCG rows.
    views = scored.select(
        "doc_id",
        "rel",
        F.inline(
            F.array(
                F.struct(F.lit(False).alias("ideal"), F.col("bm25").alias("key")),
                F.struct(F.lit(True).alias("ideal"), F.col("rel").cast("double").alias("key")),
            )
        ),
    )
    rn = F.row_number().over(W.partitionBy("ideal").orderBy(F.desc("key"), F.asc("doc_id")))
    gain = F.expr("shiftleft(1, cast(rel AS int))") - 1
    tm = F.round(gain.cast("double") / F.log(F.col("rn") + 1.0) * 1e6).cast("long")
    top = views.withColumn("rn", rn).filter(F.col("rn") <= _NDCG_K).withColumn("tm", tm)
    n = views.agg(F.count(F.when(~F.col("ideal"), 1)).alias("n_candidates"))
    sums = top.agg(
        F.sum(F.when(~F.col("ideal"), F.col("tm"))).alias("dcg_micros"),
        F.sum(F.when(F.col("ideal"), F.col("tm"))).alias("idcg_micros"),
    )
    return n.crossJoin(sums).select(
        "n_candidates",
        "dcg_micros",
        "idcg_micros",
        F.round(F.col("dcg_micros") / F.col("idcg_micros").cast("double"), 6).alias(
            "ndcg_at_10"
        ),
    )


RETRIEVAL_NDCG_EVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_replace(t.tok, '[^a-z0-9]', '', 'g') AS word
  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t(tok)
  WHERE length(t.tok) > 0
), toks2 AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks2 GROUP BY 1, 2),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY 1),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM doclen),
query AS (
  SELECT word FROM toks2 GROUP BY word
  ORDER BY count(*) DESC, word ASC LIMIT 3
), scored AS (
  SELECT doc_id,
         round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ({_BM25_K1} + 1.0)
                   / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))), 6)
           AS bm25,
         count(*) AS rel
  FROM tf JOIN query USING (word) JOIN doclen USING (doc_id)
       JOIN dfreq USING (word) CROSS JOIN n CROSS JOIN avgdl
  GROUP BY doc_id
), dcg AS (
  SELECT CAST(sum(CAST(round((2 ** rel - 1) / ln(rn + 1.0) * 1e6) AS BIGINT))
              AS BIGINT) AS dcg_micros
  FROM (
    SELECT rel, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
    FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {_NDCG_K}
  )
), idcg AS (
  SELECT CAST(sum(CAST(round((2 ** rel - 1) / ln(rn + 1.0) * 1e6) AS BIGINT))
              AS BIGINT) AS idcg_micros
  FROM (
    SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rn
    FROM scored ORDER BY rel DESC, doc_id ASC LIMIT {_NDCG_K}
  )
), nr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM scored
)
SELECT n_candidates, dcg_micros, idcg_micros,
       round(CAST(dcg_micros AS DOUBLE) / idcg_micros, 6) AS ndcg_at_10
FROM dcg CROSS JOIN idcg CROSS JOIN nr
"""
