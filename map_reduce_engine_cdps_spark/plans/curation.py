"""Training-data curation operators over `documents`: rule-based quality
filtering (C4/Gopher-style heuristic gates) and benchmark decontamination
(n-gram-overlap anti-join) — north-star extensions beyond the reference's
own surface (SURVEY.md §7 step 7).

Scale design: every rule input is a per-document scalar computed in one
pass with built-in collection functions (no Python UDFs, no shuffle until
the final agg-free projection — quality flags are embarrassingly
parallel). Decontamination shuffles only (shingle_hash, doc_id) pairs on
the shingle key — the standard contaminated-span detection shape — and
the distinct benchmark-shingle side is the small relation, so at 100 TB
it broadcasts (benchmark suites are MBs, the corpus is the big side).
"""

from __future__ import annotations

import tempfile

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import exact as EX
from map_reduce_engine_cdps_spark.functions import text as TX
from map_reduce_engine_cdps_spark.operators.state import _checkpoint
from map_reduce_engine_cdps_spark.sources.readers import load_parallel, load_table, table_rows

# Stopword set shared by the Spark and DuckDB sides (tiny on purpose:
# the synthetic corpus vocabulary is small; real deployments swap in a
# per-language list).
STOPWORDS = ("the", "a", "of", "and", "to", "in")

MIN_TOKENS = 20
MAX_TOKENS = 2000
MIN_MEAN_LEN = 2.0
MAX_MEAN_LEN = 10.0
MAX_TOP_TOKEN_RATIO = 0.25


def _scratch_dir(prefix: str) -> str:
    """A new dir for files a query writes and its DataFrame reads lazily:
    under the driver's SparkFiles root, which Spark deletes when the
    session stops, so the files live exactly as long as the session."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def quality_filter_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality gates with per-rule flags + overall verdict.

    Inputs per doc: token count, mean token length, stopword ratio, and
    the frequency ratio of the most repeated token (repetition gate, the
    Gopher-style "most common word" rule). All computed via built-in
    higher-order functions over the token array — one narrow stage, no
    shuffle (beyond load_parallel's local-mode width exchange).

    Round 12: load_parallel, not load_table — the modal-token HOF is
    O(distinct×tokens) interpreted work per row, and a single small
    parquet file pinned the whole pass to one thread (guide §2.6
    stragglers): isolated noop A/B sf1 5.889 → 0.697 s (8.4×), sf0.1
    0.829 → 0.435 s, identical output. A sorted run-length rewrite of
    the modal count was also tried and measured SLOWER than the
    existing expressions once parallel (sf1 1.034 vs 0.697 s) — the
    struct-accumulator fold allocates per element; rejected. On a real
    cluster the 128 MB scan splits provide this width for free.
    """
    docs = load_parallel(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", TX.tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    mean_len = F.aggregate(
        "toks", F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
    ) / n
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x))) / n
    # most-repeated-token ratio: count of the modal token / n, computed
    # per row from the token array (no explode, no shuffle).
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda t: F.size(F.filter("toks", lambda x: x == t)),
        )
    )
    d = d.select(
        "doc_id",
        "source",
        n.alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_tok_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(top_cnt / n, 4).alias("top_token_ratio"),
    )
    rule_len = (F.col("n_tokens") >= MIN_TOKENS) & (F.col("n_tokens") <= MAX_TOKENS)
    rule_mean = (F.col("mean_tok_len") >= MIN_MEAN_LEN) & (
        F.col("mean_tok_len") <= MAX_MEAN_LEN
    )
    rule_stop = F.col("stop_ratio") > 0
    rule_rep = F.col("top_token_ratio") <= MAX_TOP_TOKEN_RATIO
    return d.select(
        "doc_id",
        "n_tokens",
        "mean_tok_len",
        "stop_ratio",
        "top_token_ratio",
        rule_len.alias("pass_length"),
        rule_mean.alias("pass_mean_len"),
        rule_stop.alias("pass_stopwords"),
        rule_rep.alias("pass_repetition"),
        (rule_len & rule_mean & rule_stop & rule_rep).alias("passes"),
    )


_DUCK_TOKS = """
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
"""

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

QUALITY_FILTER_FLAGS_SQL = f"""
WITH t AS ({_DUCK_TOKS}),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / len(toks), 4) AS mean_tok_len,
         round(len(list_filter(toks, x -> x IN ({_STOP_SQL})))::DOUBLE
               / len(toks), 4) AS stop_ratio,
         round(list_max(list_transform(list_distinct(toks),
                 t2 -> len(list_filter(toks, x -> x = t2))))::DOUBLE
               / len(toks), 4) AS top_token_ratio
  FROM t
)
SELECT doc_id, n_tokens, mean_tok_len, stop_ratio, top_token_ratio,
       (n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}) AS pass_length,
       (mean_tok_len >= {MIN_MEAN_LEN} AND mean_tok_len <= {MAX_MEAN_LEN})
         AS pass_mean_len,
       (stop_ratio > 0) AS pass_stopwords,
       (top_token_ratio <= {MAX_TOP_TOKEN_RATIO}) AS pass_repetition,
       (n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS}
        AND mean_tok_len >= {MIN_MEAN_LEN} AND mean_tok_len <= {MAX_MEAN_LEN}
        AND stop_ratio > 0
        AND top_token_ratio <= {MAX_TOP_TOKEN_RATIO}) AS passes
FROM m
"""


# ---------------------------------------------------------------------------
# decontamination — flag training docs sharing any 3-token shingle with a
# held-out benchmark slice (source = 'src0' stands in for the eval suite).
# Spark shape: explode-distinct shingles on both sides, broadcast the
# benchmark shingle set (the small relation), semi-join, left-join the
# flag back. No O(n·m) comparison, no Python.
# ---------------------------------------------------------------------------

BENCH_SOURCE = "src0"
DECON_SHINGLE_N = 3


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            TX.shingles(TX.tokens(F.col("text")), DECON_SHINGLE_N)
        ).alias("shingle"),
    )
    bench_shingles = (
        sh.filter(F.col("source") == BENCH_SOURCE).select("shingle").distinct()
    )
    contaminated = (
        sh.filter(F.col("source") != BENCH_SOURCE)
        .join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.filter(F.col("source") != BENCH_SOURCE)
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


DECONTAMINATION_SQL = f"""
WITH t AS ({_DUCK_TOKS}),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - {DECON_SHINGLE_N - 2}, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM t
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{BENCH_SOURCE}'),
hits AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.source != '{BENCH_SOURCE}'
)
SELECT d.doc_id, d.source,
       (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.source != '{BENCH_SOURCE}'
"""


# ---------------------------------------------------------------------------
# token_budget_sample — deterministic per-language sampling to a token
# budget: order docs by a content-independent hash (reproducible
# "random"), take docs while the running token count stays within
# budget. The data-mixing primitive for "X tokens of language L".
# One shuffle on lang; the running sum is a per-partition window.
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 3000


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(TX.tokens(F.col("text"))).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = W.partitionBy("lang").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_SAMPLE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0)) AS n_tokens,
         md5(doc_id::VARCHAR) AS h
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# source_mixing_weights — per-source resampling weights to reach a
# uniform target mix: weight = target_share / observed_share. The
# domain-mixing calculation done before weighted sampling of a training
# corpus. Tiny aggregate (O(sources) rows); the window total runs on
# the already-aggregated counts, not the corpus.
# ---------------------------------------------------------------------------

def source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(W.partitionBy())
    n_sources = F.count(F.lit(1)).over(W.partitionBy())
    return counts.select(
        "source",
        "n_docs",
        F.round(
            (F.lit(1.0) / n_sources) / (F.col("n_docs") / total), 4
        ).alias("weight"),
    )


SOURCE_MIXING_WEIGHTS_SQL = """
WITH c AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
)
SELECT source, n_docs,
       round((1.0 / (count(*) OVER ())) /
             (n_docs::DOUBLE / (sum(n_docs) OVER ())), 4) AS weight
FROM c
"""


# ---------------------------------------------------------------------------
# csv_roundtrip_counts — sink + source exercised through the oracle gate:
# write the (doc_id, lang, n_chars) projection to CSV (T6/T9-style sink),
# read it back through the typed CSV reader (T2/T3, explicit schema, ';'
# sep like the reference's plants scan), aggregate. The oracle runs on
# the original table, so the round-trip must be lossless for the gate to
# pass. Scratch dir per run; the write is partitioned (one file per
# partition), the read re-plans splits — no single-file bottleneck.
# ---------------------------------------------------------------------------

def csv_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.sources.readers import read_csv_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = _scratch_dir("csv_roundtrip_")
    (
        docs.write.mode("overwrite")
        .option("header", "true")
        .option("sep", ";")
        .csv(out)
    )
    back = read_csv_dir(
        spark,
        out,
        schema="doc_id bigint, lang string, n_chars bigint",
        sep=";",
        header=True,
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


CSV_ROUNDTRIP_COUNTS_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# doc_chunks — context-window chunking: slice each document's token
# array into fixed-size chunks (the tokenize→chunk step in front of any
# LM training run). Pure built-in array ops (sequence + slice over the
# token array), one narrow stage; the per-chunk hash keeps the output
# comparable without shipping chunk text.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 50


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_parallel: per-row cost here is tokenize + per-chunk slice +
    # md5 (interpreted HOFs) — the full-registry slope sweep flagged
    # this query at 4.8x for 10x data because the work rode a 2-file
    # scan; on a real cluster the 128 MB splits provide the width.
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    n_chunks = F.ceil(F.size(tok) / F.lit(CHUNK_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(tok, (i * CHUNK_TOKENS + 1).cast("int"), CHUNK_TOKENS).alias(
                "toks"
            ),
        ),
    )
    return (
        docs.select("doc_id", "lang", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            "lang",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.toks").alias("chunk_len"),
            F.md5(F.concat_ws(" ", "c.toks")).alias("chunk_hash"),
        )
    )


DOC_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), c AS (
  SELECT doc_id, lang, toks,
         unnest(range(0, cast(ceil(len(toks)::DOUBLE / {CHUNK_TOKENS}) AS BIGINT)))
           AS chunk_idx
  FROM t
)
SELECT doc_id, lang, chunk_idx,
       len(toks[chunk_idx * {CHUNK_TOKENS} + 1 : (chunk_idx + 1) * {CHUNK_TOKENS}])
         AS chunk_len,
       md5(array_to_string(
           toks[chunk_idx * {CHUNK_TOKENS} + 1 : (chunk_idx + 1) * {CHUNK_TOKENS}],
           ' ')) AS chunk_hash
FROM c
"""


# ---------------------------------------------------------------------------
# pack_chunks_bins — sequence packing: assign chunks (in deterministic
# doc order) to fixed-capacity token bins per language via running-total
# offset (bin = floor(start_offset / capacity) — the standard
# offset-based packing approximation). One shuffle on lang; the packing
# itself is a window cumsum, no driver loop.
# ---------------------------------------------------------------------------

BIN_CAPACITY = 128


def pack_chunks_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    chunks = doc_chunks(spark, sf_dir)
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = chunks.withColumn(
        "start_offset", F.sum("chunk_len").over(w) - F.col("chunk_len")
    ).withColumn(
        "bin_id", F.floor(F.col("start_offset") / F.lit(BIN_CAPACITY))
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("bin_tokens"),
    )


PACK_CHUNKS_BINS_SQL = (
    "WITH chunks AS (" + DOC_CHUNKS_SQL + f"""
), packed AS (
  SELECT lang,
         cast(floor((sum(chunk_len) OVER (PARTITION BY lang
                                          ORDER BY doc_id, chunk_idx
                                          ROWS UNBOUNDED PRECEDING) - chunk_len)
                    / {BIN_CAPACITY}) AS BIGINT) AS bin_id,
         chunk_len
  FROM chunks
)
SELECT lang, bin_id, count(*) AS n_chunks, CAST(sum(chunk_len) AS BIGINT) AS bin_tokens
FROM packed GROUP BY lang, bin_id
"""
)


# ---------------------------------------------------------------------------
# incremental_dedup — cross-run exact dedup: a "new batch" of documents
# (doc_id % 10 == 0 stands in for today's crawl) is deduplicated first
# within itself, then anti-joined on content fingerprint against the
# already-ingested corpus (the other 90%). This is the standard
# incremental-ingest shape for a training-data pipeline: the corpus side
# is only ever touched as a distinct-fingerprint projection, so at 100 TB
# it's a hash semi/anti join on a 16-byte key — no text ever shuffles,
# and AQE picks broadcast when the batch is small.
# ---------------------------------------------------------------------------

def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    existing = docs.filter(F.col("doc_id") % 10 != 0).select(fp).distinct()
    batch = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "source", fp)
    batch_unique = batch.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_batch_dups"),
    )
    return batch_unique.join(existing, "fp", "left_anti").select(
        "doc_id", "fp", "n_batch_dups"
    )


INCREMENTAL_DEDUP_SQL = """
WITH fps AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
), existing AS (
  SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 0
), batch_unique AS (
  SELECT fp, min(doc_id) AS doc_id, count(*) AS n_batch_dups
  FROM fps WHERE doc_id % 10 = 0 GROUP BY fp
)
SELECT doc_id, fp, n_batch_dups
FROM batch_unique
WHERE fp NOT IN (SELECT fp FROM existing)
"""


# ---------------------------------------------------------------------------
# jsonl_roundtrip_stats — JSON-lines sink + typed reader exercised
# through the oracle gate (companion to csv_roundtrip_counts): write a
# projection of `documents` as JSONL, read it back with an explicit
# schema (never inferSchema at scale — schema inference is a full extra
# pass over 100 TB), aggregate. The oracle runs on the original table,
# so the round-trip must be lossless.
# ---------------------------------------------------------------------------

def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = _scratch_dir("jsonl_roundtrip_")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id bigint, lang string, source string, n_chars bigint"
    ).json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
    )


JSONL_ROUNDTRIP_STATS_SQL = """
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# weighted_doc_sample — weighted priority sampling: each document gets a
# deterministic pseudo-uniform key from a Knuth multiplicative hash of
# its id, scaled down by its weight (n_chars), and the k smallest keys
# win — so longer documents are proportionally more likely to be kept.
# The distributed shape is exactly top-k (TakeOrderedAndProject): each
# partition keeps its k best candidates, the driver merges k-sized
# heaps — no global sort, no shuffle of the corpus. All arithmetic is
# integer ops + one IEEE double division (bit-identical across engines;
# deliberately NO libm pow/log, which are not cross-engine-stable).
# ---------------------------------------------------------------------------

SAMPLE_K = 100
_KNUTH = 2654435761
_TWO32 = 4294967296


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (F.col("doc_id") * F.lit(_KNUTH)) % F.lit(_TWO32)
    priority = u.cast("double") / (F.col("n_chars") + F.lit(1)).cast("double")
    return (
        docs.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(SAMPLE_K)
    )


WEIGHTED_DOC_SAMPLE_SQL = f"""
SELECT doc_id, n_chars,
       CAST((doc_id * {_KNUTH}) % {_TWO32} AS DOUBLE)
         / CAST(n_chars + 1 AS DOUBLE) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT {SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# partitioned_pruned_stats — hive-partitioned parquet sink + pruned
# re-read (reference distribute_to_nodes, scripts/plants_dataset.ipynb
# cell 18, done the Spark way): write events partitioned by event_type,
# read back ONE partition and aggregate. The re-read scan lists only
# the event_type=click directory — at 100 TB the layout turns a full
# corpus scan into a single-partition scan, which is the whole point of
# choosing a partition column that matches the query predicates.
# tests/test_sources_sinks_metrics.py asserts the pruning structurally
# (PartitionFilters in the scan node); this query pins the semantics.
# ---------------------------------------------------------------------------

def partitioned_pruned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = _scratch_dir("part_events_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    clicks = spark.read.parquet(out).filter(F.col("event_type") == "click")
    return clicks.groupBy((F.col("user_id") % 10).alias("user_bucket")).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("event_id").alias("max_event_id"),
    )


PARTITIONED_PRUNED_STATS_SQL = """
SELECT user_id % 10 AS user_bucket, count(*) AS n_clicks,
       round(sum(value), 2) AS total_value,
       max(event_id) AS max_event_id
FROM events WHERE event_type = 'click'
GROUP BY user_id % 10
"""


# ---------------------------------------------------------------------------
# orc_roundtrip_stats — ORC sink + typed re-read (third columnar/text
# format after parquet and CSV/JSONL; Spark ships the ORC reader —
# vectorized, predicate-pushdown-capable — with no extra deps). Same
# loss-check contract as the other roundtrips: aggregate the re-read
# data and let the oracle compare against the parquet original.
# ---------------------------------------------------------------------------

def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    out = _scratch_dir("orc_roundtrip_")
    ords.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact-cents sum (functions/exact.py)
        EX.sum_money("o_totalprice").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


ORC_ROUNDTRIP_STATS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS total_price,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------------------
# bucketed_join_stats — co-located join via table bucketing, the
# pre-shuffle technique the reference approximates by manually placing
# data per worker (reference docker-compose.yml:20-23,
# scripts/plants_dataset.ipynb cell 18 distribute_to_nodes). Both sides
# are written `bucketBy(N, join_key)` + sortBy, so the subsequent
# sort-merge join reads bucket i of each table into the same task — NO
# Exchange on either side (locked by
# tests/test_plan_quality.py::test_bucketed_join_has_no_exchange).
# At 100 TB this is the difference between re-shuffling the fact table
# on every join and paying the partitioning cost once at write time for
# every downstream consumer. The merge hint keeps the demonstration
# honest at test scale (where orders would otherwise broadcast).
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    base = _scratch_dir("bucketed_join_")
    for name, df, key in (
        ("bucketed_lineitem", li, "l_orderkey"),
        ("bucketed_orders", ords, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(N_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .saveAsTable(name)
        )
    bl = spark.table("bucketed_lineitem")
    bo = spark.table("bucketed_orders")
    return (
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # exact 1e-4-dollar units (functions/exact.py)
            EX.sum_disc_price().alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


BUCKETED_JOIN_STATS_SQL = """
SELECT o_orderstatus, count(*) AS n_items,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) / 10000.0, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# source_lang_entropy — per-source language-mix profile: Shannon entropy
# of the language histogram, distinct-language count, majority language
# (deterministic tie-break on lang desc). The corpus-balance diagnostic
# behind mixing decisions: a source whose entropy collapses between
# crawls changed its composition. Two chained groupBys, shuffles carry
# only (source, lang, count) rows — O(sources × langs), never documents.
# ---------------------------------------------------------------------------

def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source")
    p = F.col("n") / F.sum("n").over(w)
    ranked = counts.withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.desc("n"), F.desc("lang"))
        ),
    ).withColumn("plogp", -p * F.log2(p))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.sum("plogp"), 4).alias("lang_entropy"),
            F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias(
                "majority_lang"
            ),
        )
        .orderBy("source")
    )


SOURCE_LANG_ENTROPY_SQL = """
WITH counts AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY source, lang
), ranked AS (
  SELECT source, lang, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, lang DESC) AS rn,
         n * 1.0 / sum(n) OVER (PARTITION BY source) AS p
  FROM counts
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       round(sum(-p * log2(p)), 4) AS lang_entropy,
       max(CASE WHEN rn = 1 THEN lang END) AS majority_lang
FROM ranked GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# winsorized_price_stats — per-group percentile clipping (winsorization),
# the standard numeric-outlier containment before stats/training. Two
# passes: an exact-percentile aggregate to O(groups) cutoff rows
# (broadcast back — dimension-sized), then a clipped re-aggregate of the
# fact. At 100 TB swap pass 1 to approx_percentile for a single-scan
# sketch; kept exact here so the DuckDB oracle matches bit-for-bit.
# ---------------------------------------------------------------------------

def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    cuts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    clipped = li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        F.greatest(F.least(F.col("l_extendedprice"), F.col("hi")), F.col("lo"))
        .alias("clipped_price"),
        (
            (F.col("l_extendedprice") < F.col("lo"))
            | (F.col("l_extendedprice") > F.col("hi"))
        ).cast("long").alias("is_clipped"),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("is_clipped").alias("n_clipped"),
            # exact-cents raw mean (functions/exact.py); the winsorized
            # mean stays double — clip bounds are approx-percentile
            # doubles, so clipped values are off-grid by construction
            # (disposition table in SCALE.md)
            F.round(
                F.sum(EX.cents("l_extendedprice"))
                / (100.0 * F.count(F.lit(1))),
                4,
            ).alias("mean_raw"),
            F.round(F.avg("clipped_price"), 4).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


WINSORIZED_PRICE_STATS_SQL = """
WITH cuts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.01) AS lo,
         quantile_cont(l_extendedprice, 0.99) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 4) AS mean_raw,
       round(avg(greatest(least(l_extendedprice, hi), lo)), 4)
         AS mean_winsorized
FROM lineitem l JOIN cuts USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# ---------------------------------------------------------------------------
# xml_roundtrip_stats — Spark 4 native XML sink + source through the
# oracle gate (same pattern as csv/jsonl/orc roundtrips: the oracle runs
# on the original table, so the round-trip must be lossless). XML is the
# interchange format of legacy enterprise feeds; the scan parallelizes
# per-file like any text source, so ingest width = file count.
# ---------------------------------------------------------------------------

def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = _scratch_dir("xml_roundtrip_")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id bigint, source string, n_chars bigint")
        .load(out)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


XML_ROUNDTRIP_STATS_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# epoch_shuffle — deterministic per-epoch training-data shuffle. Every
# epoch gets an independent, reproducible pseudo-random permutation of
# the corpus keyed by md5(doc_id:epoch) — the standard seeded-shuffle
# used by dataloaders, restated as a relational plan (the reference's
# shuffle_func contract, engine/worker.py:93-99, is the same idea: a
# deterministic key→placement function).
#
# Scale: the registry query top-Ks per epoch for the oracle, but the
# real materialization path (epoch_shuffle_write below) never does a
# global sort — md5 keys are uniform, so repartitionByRange on the key
# gives balanced files and sortWithinPartitions finishes the order
# per-file; readers stream files in name order. One shuffle per epoch,
# no driver bottleneck, works at 100 TB.
# ---------------------------------------------------------------------------

N_EPOCHS = 3
EPOCH_TOPK = 64


def _epoch_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    return docs.crossJoin(epochs).withColumn(
        "shuffle_key", F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch")))
    )


def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    keyed = _epoch_keyed(spark, sf_dir)
    w = Window.partitionBy("epoch").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("position", F.row_number().over(w).cast("long"))
        .where(F.col("position") <= EPOCH_TOPK)
        .select("epoch", "position", "doc_id")
    )


EPOCH_SHUFFLE_SQL = f"""
WITH epochs AS (SELECT CAST(range AS INTEGER) AS epoch FROM range({N_EPOCHS})),
keyed AS (
  SELECT e.epoch, d.doc_id,
         md5(concat(CAST(d.doc_id AS VARCHAR), ':', CAST(e.epoch AS VARCHAR))) AS k
  FROM documents d CROSS JOIN epochs e
)
SELECT epoch, position, doc_id FROM (
  SELECT epoch, doc_id,
         row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS position
  FROM keyed
) WHERE position <= {EPOCH_TOPK}
"""


def epoch_shuffle_write(spark: SparkSession, sf_dir: str, out_dir: str,
                        epoch: int, n_files: int = 8) -> None:
    """Materialize one fully-shuffled epoch without a global sort:
    range-partition on the uniform md5 key (balanced by construction),
    sort within each partition only. Readers consume files in name
    order for a globally shuffled stream."""
    keyed = _epoch_keyed(spark, sf_dir).where(F.col("epoch") == epoch)
    (
        keyed.repartitionByRange(n_files, "shuffle_key")
        .sortWithinPartitions("shuffle_key")
        .drop("epoch")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# source_interleave — deterministic weighted interleave of sources for a
# training mixture (stride scheduling): source s with weight w_s emits
# its i-th document at virtual time (i - 0.5) / w_s, so a weight-2
# source appears twice as often as a weight-1 source at every prefix of
# the stream. Within a source, order is the seeded md5 shuffle. This is
# the deterministic restatement of weighted-sampling dataloaders
# (cf. source_mixing_weights, which computes the weights).
#
# Scale: stride position is a per-source window (shuffle partitioned by
# source — bounded cardinality, no skew since sources are balanced);
# the global top-K is the only total order and is bounded by K. A full
# materialization would repartitionByRange on vtime like epoch_shuffle.
# ---------------------------------------------------------------------------

INTERLEAVE_TOPK = 200


def source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # weight = 1 + (numeric source suffix mod 3): deterministic 1/2/3 mix
    weight = 1 + F.regexp_extract("source", r"(\d+)", 1).cast("long") % 3
    keyed = docs.withColumn("w", weight).withColumn(
        "k", F.md5(F.col("doc_id").cast("string"))
    )
    per_src = Window.partitionBy("source").orderBy("k", "doc_id")
    vtime = (F.row_number().over(per_src) - F.lit(0.5)) / F.col("w")
    glob = Window.orderBy("vtime", "source", "doc_id")
    return (
        keyed.withColumn("vtime", vtime)
        .withColumn("rank", F.row_number().over(glob).cast("long"))
        .where(F.col("rank") <= INTERLEAVE_TOPK)
        .select("rank", "doc_id", "source", F.round("vtime", 6).alias("vtime"))
    )


SOURCE_INTERLEAVE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         1 + CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 3 AS w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), timed AS (
  SELECT doc_id, source,
         (row_number() OVER (PARTITION BY source ORDER BY k, doc_id) - 0.5) / w
           AS vtime
  FROM keyed
)
SELECT rank, doc_id, source, round(vtime, 6) AS vtime FROM (
  SELECT doc_id, source, vtime,
         row_number() OVER (ORDER BY vtime, source, doc_id) AS rank
  FROM timed
) WHERE rank <= {INTERLEAVE_TOPK}
"""


# ---------------------------------------------------------------------------
# schema_drift_union — schema-evolution roundtrip: two parquet batches
# written with different schemas (batch 2 adds a `score` column), read
# back as one dataset with mergeSchema=true — the lakehouse answer to
# "a producer added a field mid-stream". Old rows surface NULL for the
# drifted column; the per-batch null accounting proves the merge read
# both physical schemas. At 100 TB mergeSchema's footer-sampling cost
# is the concern — production pins the unified schema in a metastore —
# but the read semantics verified here are identical.
# ---------------------------------------------------------------------------


def schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = _scratch_dir("schema_drift_")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).withColumn("batch", F.lit(1))
    v2 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn("batch", F.lit(2))
        .withColumn("score", F.round(F.col("n_chars") / 100.0, 2))
    )
    v1.write.mode("overwrite").parquet(f"{out}/b=1")
    v2.write.mode("overwrite").parquet(f"{out}/b=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/b=1", f"{out}/b=2"
    )
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("score").isNull().cast("long")).alias("n_null_score"),
        F.round(F.sum(F.coalesce("score", F.lit(0.0))), 2).alias("total_score"),
    )


SCHEMA_DRIFT_UNION_SQL = """
WITH v AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS batch,
         CASE WHEN doc_id % 2 = 1 THEN round(n_chars / 100.0, 2) END AS score
  FROM documents
)
SELECT batch, count(*) AS n_docs,
       CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_score,
       round(sum(COALESCE(score, 0.0)), 2) AS total_score
FROM v GROUP BY batch
"""


# ---------------------------------------------------------------------------
# file_provenance_stats — the hidden `_metadata` file columns (Spark
# ≥3.4): after writing a hive-partitioned dataset (one file per
# partition, forced by repartitioning on the partition key), read back
# with `_metadata.file_name` / `file_size` and account rows per
# physical file. File provenance is how incremental pipelines attribute
# bad records to their source object at 100 TB; sizes/names are
# environment-dependent, so the oracle-checked columns are the
# invariants (rows per partition, file count, size positivity).
# ---------------------------------------------------------------------------


def file_provenance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = _scratch_dir("provenance_")
    (
        docs.repartition("lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "doc_id",
        "lang",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("fname").alias("n_files"),
        (F.min("fsize") > 0).alias("sizes_positive"),
    )


FILE_PROVENANCE_STATS_SQL = """
SELECT lang, count(*) AS n_rows, 1 AS n_files, TRUE AS sizes_positive
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# multi_format_union — heterogeneous-source federation: the same
# logical table materialized as parquet, CSV, and JSONL slices, read
# back through three format-specific readers with one pinned schema and
# unioned into a single plan. Real pipelines land data in whatever the
# producer emits; the engine-side guarantee tested here is that the
# union is loss-free and type-consistent across formats (per-format
# counts + checksums must agree with the source partition).
# ---------------------------------------------------------------------------


def multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _scratch_dir("multifmt_")
    slice_of = lambda r: docs.filter(F.col("doc_id") % 3 == r)
    slice_of(0).write.mode("overwrite").parquet(f"{base}/p")
    slice_of(1).write.mode("overwrite").option("header", True).csv(f"{base}/c")
    slice_of(2).write.mode("overwrite").json(f"{base}/j")
    schema = "doc_id bigint, lang string, n_chars bigint"
    parts = [
        spark.read.parquet(f"{base}/p").withColumn("fmt", F.lit("parquet")),
        spark.read.schema(schema)
        .option("header", True)
        .csv(f"{base}/c")
        .withColumn("fmt", F.lit("csv")),
        spark.read.schema(schema).json(f"{base}/j").withColumn("fmt", F.lit("jsonl")),
    ]
    allf = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return allf.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


MULTI_FORMAT_UNION_SQL = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'parquet' WHEN 1 THEN 'csv' ELSE 'jsonl' END AS fmt,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stable_row_ids — contiguous global row ids WITHOUT a single-partition
# window: range-repartition on the order key, sort within partitions,
# then RDD zipWithIndex (two passes: per-partition counts, then offset
# addition — no data moves to one task). This is THE scalable
# replacement for row_number() OVER (ORDER BY ...) when materializing
# training-example ids over billions of rows; the range partitioner
# makes partition order align with key order, so the assignment equals
# the oracle's global row_number. monotonically_increasing_id() is the
# non-contiguous cousin; this one is dense and deterministic.
# ---------------------------------------------------------------------------


def stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    arranged = docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    with_ids = arranged.rdd.zipWithIndex().map(
        lambda t: (t[0]["doc_id"], t[0]["n_chars"], t[1])
    )
    out = spark.createDataFrame(with_ids, "doc_id long, n_chars long, row_id long")
    return out.select("doc_id", "n_chars", "row_id")


STABLE_ROW_IDS_SQL = """
SELECT doc_id, n_chars,
       row_number() OVER (ORDER BY doc_id) - 1 AS row_id
FROM documents
"""


# ---------------------------------------------------------------------------
# pii_redaction_stats — PII scrubbing, the privacy pass every
# training-data pipeline runs before tokenization: regex-redact emails
# and phone numbers, report per-segment match counts and bytes removed.
# The synthetic corpus carries no PII, so the redaction input is a
# deterministic contact card derived from the customer key — the
# operator itself (regexp_count + global regexp_replace, JVM-side) is
# exactly what runs over raw text at 100 TB: an embarrassingly
# parallel map with a tiny final aggregate, zero extra shuffle. Both
# regexes are RE2-and-Java-compatible so the DuckDB oracle runs the
# byte-identical patterns.
# ---------------------------------------------------------------------------

PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE_RE = "\\+1-[0-9]{3}-555-[0-9]{4}"


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com> +1-"),
        F.lpad((F.col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    d = cust.select("c_mktsegment", contact.alias("contact"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("contact"), F.lit(PII_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(PII_PHONE_RE),
        F.lit("[PHONE]"),
    )
    per_row = d.select(
        "c_mktsegment",
        F.regexp_count(F.col("contact"), F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count(F.col("contact"), F.lit(PII_PHONE_RE)).alias("n_phone"),
        (F.length("contact") - F.length(redacted)).alias("removed"),
    )
    return per_row.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_email").cast("long").alias("emails_redacted"),
        F.sum("n_phone").cast("long").alias("phones_redacted"),
        F.sum("removed").cast("long").alias("chars_removed"),
    )


PII_REDACTION_STATS_SQL = f"""
WITH c AS (
  SELECT c_mktsegment,
         c_name || ' <' || lower(replace(c_name, '#', '.')) ||
         '@example.com> +1-' ||
         lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') ||
         '-555-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
  FROM customer
), r AS (
  SELECT c_mktsegment,
         len(regexp_extract_all(contact, '{PII_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(contact, '{PII_PHONE_RE}')) AS n_phone,
         length(contact) - length(
           regexp_replace(
             regexp_replace(contact, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_PHONE_RE}', '[PHONE]', 'g')) AS removed
  FROM c
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(n_email) AS BIGINT) AS emails_redacted,
       CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
       CAST(sum(removed) AS BIGINT) AS chars_removed
FROM r
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# dsir_importance_weights — DSIR data selection (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by the log importance
# ratio ln(p_target(f)/p_raw(f)) averaged over its hashed token
# features; resampling by this weight selects raw data that looks like
# the target domain. Target here = the English slice (the usual
# "select web data resembling curated English" setup); features are
# 256-way hashed unigrams — the first md5 hex byte, so both engines
# bucket identically. Laplace 0.5-smoothing keeps target-unseen
# features finite.
#
# Scale: the two feature histograms are 256 rows each — computed with
# one conditional aggregate over the token stream (no second corpus
# pass for the target side) and broadcast back; per-doc scoring is the
# token-stream group-by that every other text op already pays. Nothing
# grows with corpus size except the two streaming aggregates.
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"
DSIR_B = 256          # hashed-feature buckets (first md5 hex byte)
DSIR_ALPHA = 0.5      # Laplace smoothing


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(TX.clean_tokens(F.col("text"))).alias("word"),
    ).withColumn("f", F.substring(F.md5(F.col("word")), 1, 2))
    hist = toks.groupBy("f").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")).alias("c_tgt"),
    )
    tot = hist.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    logw = hist.crossJoin(F.broadcast(tot)).select(
        "f",
        (
            F.log(
                ((F.col("c_tgt") + DSIR_ALPHA) / (F.col("t_tgt") + DSIR_ALPHA * DSIR_B))
                / ((F.col("c_raw") + DSIR_ALPHA) / (F.col("t_raw") + DSIR_ALPHA * DSIR_B))
            )
        ).alias("lw"),
    )
    return (
        toks.join(F.broadcast(logw), "f")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lw"), 4).alias("dsir_logw"),
        )
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, lang, substr(md5(w.word), 1, 2) AS f
  FROM (
    SELECT doc_id, source, lang,
           list_filter(list_transform(
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0),
             x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
             x -> length(x) > 0) AS words
    FROM documents
  ), unnest(words) AS w(word)
), hist AS (
  SELECT f, count(*) AS c_raw,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
  FROM toks GROUP BY f
), tot AS (
  SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw, CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM hist
), logw AS (
  SELECT f,
         ln(((c_tgt + {DSIR_ALPHA}) / (t_tgt + {DSIR_ALPHA * DSIR_B}))
            / ((c_raw + {DSIR_ALPHA}) / (t_raw + {DSIR_ALPHA * DSIR_B}))) AS lw
  FROM hist CROSS JOIN tot
)
SELECT doc_id, source, lang, count(*) AS n_tokens,
       round(avg(lw), 4) + 0.0 AS dsir_logw
FROM toks JOIN logw USING (f)
GROUP BY doc_id, source, lang
"""


# ---------------------------------------------------------------------------
# length_bucket_batches — length-bucketed batching: sort each language's
# docs by token count and cut consecutive batches of BATCH_B, so batch
# members have similar lengths and per-batch padding (to the batch max)
# collapses. The query quantifies the win: padding-waste ratio of
# length-sorted batches vs naive arrival-order batches — the metric
# every inference/training batcher optimizes. All integer arithmetic;
# two window passes per language partition (the same bounded-partition
# shape as pack_chunks_bins; a skewed giant language range-partitions
# on length first, exactly like epoch_shuffle_write's materialization).
# ---------------------------------------------------------------------------

BATCH_B = 16


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(TX.tokens(F.col("text"))).alias("n_tokens")
    )
    w_sorted = W.partitionBy("lang").orderBy("n_tokens", "doc_id")
    w_naive = W.partitionBy("lang").orderBy("doc_id")
    b = d.select(
        "lang",
        "n_tokens",
        ((F.row_number().over(w_sorted) - 1) / BATCH_B).cast("long").alias("sb"),
        ((F.row_number().over(w_naive) - 1) / BATCH_B).cast("long").alias("nb"),
    )

    def waste(batch_col: str, tag: str) -> DataFrame:
        per_batch = b.groupBy("lang", batch_col).agg(
            F.count(F.lit(1)).alias("k"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").cast("long").alias("sm"),
        )
        return per_batch.groupBy("lang").agg(
            F.count(F.lit(1)).alias(f"{tag}_batches"),
            F.sum(F.col("k") * F.col("mx") - F.col("sm")).cast("long").alias(f"{tag}_pad"),
            F.sum(F.col("k") * F.col("mx")).cast("long").alias(f"{tag}_slots"),
        )

    s = waste("sb", "sorted")
    n = waste("nb", "naive")
    return (
        s.join(n, "lang")
        .select(
            "lang",
            F.col("sorted_batches").alias("n_batches"),
            F.round(F.col("sorted_pad") / F.col("sorted_slots"), 4).alias(
                "sorted_waste_ratio"
            ),
            F.round(F.col("naive_pad") / F.col("naive_slots"), 4).alias(
                "naive_waste_ratio"
            ),
        )
    )


LENGTH_BUCKET_BATCHES_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0)) AS n_tokens
  FROM documents
), b AS (
  SELECT lang, n_tokens,
         (row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) - 1)
           // {BATCH_B} AS sb,
         (row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
           // {BATCH_B} AS nb
  FROM d
), ps AS (
  SELECT lang, sb, count(*) AS k, max(n_tokens) AS mx,
         CAST(sum(n_tokens) AS BIGINT) AS sm
  FROM b GROUP BY lang, sb
), pn AS (
  SELECT lang, nb, count(*) AS k, max(n_tokens) AS mx,
         CAST(sum(n_tokens) AS BIGINT) AS sm
  FROM b GROUP BY lang, nb
), ws AS (
  SELECT lang, count(*) AS n_batches,
         CAST(sum(k * mx - sm) AS BIGINT) AS pad,
         CAST(sum(k * mx) AS BIGINT) AS slots
  FROM ps GROUP BY lang
), wn AS (
  SELECT lang,
         CAST(sum(k * mx - sm) AS BIGINT) AS pad,
         CAST(sum(k * mx) AS BIGINT) AS slots
  FROM pn GROUP BY lang
)
SELECT ws.lang, ws.n_batches,
       round(ws.pad / ws.slots, 4) AS sorted_waste_ratio,
       round(wn.pad / wn.slots, 4) AS naive_waste_ratio
FROM ws JOIN wn ON ws.lang = wn.lang
"""


# ---------------------------------------------------------------------------
# kanon_release_stats — k-anonymity release gate, the structured-data
# privacy step that pairs with pii_redaction_stats's text scrub: an
# aggregate over quasi-identifiers (segment × nation) may only be
# published for groups of at least K individuals; smaller groups are
# suppressed entirely. Output is the release audit — published vs
# suppressed group counts and the population coverage of the release.
# One hash aggregate + a broadcast scalar; nothing scales with rows
# but the first group-by.
# ---------------------------------------------------------------------------

KANON_K = 12


def kanon_release_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("bal_cents"),
    )
    flagged = groups.withColumn("released", F.col("n") >= KANON_K)
    return flagged.groupBy("c_mktsegment").agg(
        F.sum(F.col("released").cast("long")).alias("groups_released"),
        F.sum((~F.col("released")).cast("long")).alias("groups_suppressed"),
        F.sum(F.when(F.col("released"), F.col("n")).otherwise(0)).cast("long").alias("people_covered"),
        F.sum("n").cast("long").alias("people_total"),
        F.sum(F.when(F.col("released"), F.col("bal_cents")).otherwise(0)).cast("long").alias("released_bal_cents"),
    )


KANON_RELEASE_STATS_SQL = f"""
WITH g AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS n,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT c_mktsegment,
       CAST(sum(CASE WHEN n >= {KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS groups_released,
       CAST(sum(CASE WHEN n < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS groups_suppressed,
       CAST(sum(CASE WHEN n >= {KANON_K} THEN n ELSE 0 END) AS BIGINT) AS people_covered,
       CAST(sum(n) AS BIGINT) AS people_total,
       CAST(sum(CASE WHEN n >= {KANON_K} THEN bal_cents ELSE 0 END) AS BIGINT) AS released_bal_cents
FROM g GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# cdc_chunk_stats — content-defined chunking (the rsync/LBFS rolling-
# hash technique; Muthitacharoen et al., SOSP'01) over the token
# stream: a chunk boundary falls after token p whenever the hash of
# the 3-token window ending at p starts with a low nibble (< '2' →
# 1/8 cut probability, ~8-token expected chunks). Unlike fixed-width
# doc_chunks, CDC boundaries RESYNCHRONIZE after insertions — two
# near-identical docs share most chunk hashes even when one has extra
# tokens — which is what makes chunk-level dedup storage work. Reports
# the per-source chunk dedup ratio (corpus-global distinct within
# source).
#
# Scale shape: boundary detection and chunk hashing are row-local
# higher-order expressions (no shuffle, no explode until the final
# chunk-hash stream); the only wide stages are the per-source count
# and count-distinct hash aggregates. Averages derive from integer
# sums.
# ---------------------------------------------------------------------------

_CDC_W = 3           # rolling window width (tokens)
_CDC_CUT = "2"       # first-hex-char < this → boundary (2/16 = 1/8)


def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        TX.tokens(F.col("text")).alias("tok"),
    ).withColumn("wh", TX.window_hashes(F.col("tok"), _CDC_W))
    d = d.withColumn("n", F.size("tok")).filter(F.col("n") > 0)
    cuts = F.expr(
        f"""filter(
          transform(wh, (h, j) -> CASE WHEN substring(h, 1, 1) < '{_CDC_CUT}'
                                  THEN j + {_CDC_W} ELSE 0 END),
          x -> x > 0 AND x < n)"""
    )
    d = d.withColumn(
        "bnd", F.concat(F.array(F.lit(0)), cuts, F.array(F.col("n")))
    )
    hashes = F.expr(
        """transform(sequence(2, size(bnd)),
             i -> md5(array_join(
                    slice(tok, element_at(bnd, i - 1) + 1,
                          element_at(bnd, i) - element_at(bnd, i - 1)),
                    ' ')))"""
    )
    # One row per chunk (every doc has at least one); the doc's own
    # counts ride on its first chunk
    first = F.col("pos") == 0
    chunks = d.select("source", "n", F.posexplode(hashes).alias("pos", "h"))
    return chunks.groupBy("source").agg(
        F.count(F.when(first, 1)).alias("n_docs"),
        F.sum(F.when(first, F.col("n"))).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct_chunks"),
    ).select(
        "source",
        "n_docs",
        "n_chunks",
        "n_distinct_chunks",
        F.round(
            1 - F.col("n_distinct_chunks") / F.col("n_chunks").cast("double"), 4
        ).alias("dedup_ratio"),
        F.round(
            F.col("total_tokens") / F.col("n_chunks").cast("double"), 4
        ).alias("avg_chunk_tokens"),
    )


CDC_CHUNK_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), c AS (
  SELECT doc_id, source, toks, len(toks) AS n,
         CASE WHEN len(toks) >= {_CDC_W} THEN
           list_filter(list_transform(
             range(1, len(toks) - {_CDC_W} + 2),
             j -> CASE WHEN substr(md5(toks[j] || ' ' || toks[j+1]
                                       || ' ' || toks[j+2]), 1, 1) < '{_CDC_CUT}'
                       THEN j + {_CDC_W} - 1 ELSE 0 END),
             x -> x > 0 AND x < len(toks))
         ELSE [] END AS cuts
  FROM t
), b AS (
  SELECT doc_id, source, toks, n,
         list_concat(list_concat([0], cuts), [n]) AS bnd
  FROM c WHERE n > 0
), ch AS (
  SELECT doc_id, source, n, len(bnd) - 1 AS n_chunks,
         list_transform(range(2, len(bnd) + 1),
           i -> md5(array_to_string(toks[bnd[i-1] + 1 : bnd[i]], ' ')))
           AS hashes
  FROM b
), slots AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(n_chunks) AS BIGINT) AS n_chunks
  FROM ch GROUP BY source
), dist AS (
  SELECT source, count(DISTINCT h) AS n_distinct_chunks
  FROM (SELECT source, unnest(hashes) AS h FROM ch)
  GROUP BY source
)
SELECT slots.source, n_docs, n_chunks, n_distinct_chunks,
       round(1 - n_distinct_chunks / CAST(n_chunks AS DOUBLE), 4)
         AS dedup_ratio,
       round(total_tokens / CAST(n_chunks AS DOUBLE), 4) AS avg_chunk_tokens
FROM slots JOIN dist ON slots.source = dist.source
"""


# ---------------------------------------------------------------------------
# length_emd_by_source — 1-D earth-mover's distance between each
# source's doc-length distribution and the corpus-wide one, over fixed
# length bins: EMD_1d = Σ_bins |CDF_source − CDF_corpus| (unit: bins).
# The distribution-shift ranking a mix designer reads before reweighing
# sources — chi2/KS flag ANY difference, EMD weights by HOW FAR the
# mass moved. CDFs are exact integer prefix sums over a fixed 8-bin
# table; one division per (source, bin).
# ---------------------------------------------------------------------------

_LEN_EDGES = [100, 150, 200, 250, 300, 350, 400]  # 8 bins


def length_emd_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binc = F.when(F.col("n_chars") < _LEN_EDGES[0], 0)
    for i, e in enumerate(_LEN_EDGES[1:], start=1):
        binc = binc.when(F.col("n_chars") < e, i)
    binc = binc.otherwise(len(_LEN_EDGES))
    d = docs.select("source", binc.alias("bin"))
    per = d.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = d.groupBy("bin").agg(F.count(F.lit(1)).alias("ct"))
    bins = spark.range(len(_LEN_EDGES) + 1).select(F.col("id").alias("bin"))
    grid = per.select("source").distinct().crossJoin(bins)
    j = (
        grid.join(per, ["source", "bin"], "left")
        .join(F.broadcast(tot), "bin", "left")
        .select(
            "source",
            "bin",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("source").orderBy("bin")
    ns = F.sum("c").over(W.partitionBy("source"))
    nt = F.sum("ct").over(W.partitionBy("source"))
    cdf_s = F.sum("c").over(w) / ns
    cdf_t = F.sum("ct").over(w) / nt
    e = j.select("source", F.abs(cdf_s - cdf_t).alias("gap"))
    return e.groupBy("source").agg(
        F.round(F.sum("gap"), 6).alias("emd_bins")
    )


def _length_emd_sql() -> str:
    k = len(_LEN_EDGES) + 1
    case = "CASE " + " ".join(
        f"WHEN n_chars < {e} THEN {i}" for i, e in enumerate(_LEN_EDGES)
    ) + f" ELSE {len(_LEN_EDGES)} END"
    return f"""
WITH d AS (
  SELECT source, {case} AS bin FROM documents
), per AS (
  SELECT source, bin, count(*) AS c FROM d GROUP BY 1, 2
), tot AS (
  SELECT bin, count(*) AS ct FROM d GROUP BY 1
), grid AS (
  SELECT s.source, b.bin
  FROM (SELECT DISTINCT source FROM d) s
  CROSS JOIN (SELECT unnest(range(0, {k})) AS bin) b
), j AS (
  SELECT grid.source, grid.bin,
         coalesce(per.c, 0) AS c, coalesce(tot.ct, 0) AS ct
  FROM grid
  LEFT JOIN per ON grid.source = per.source AND grid.bin = per.bin
  LEFT JOIN tot ON grid.bin = tot.bin
), e AS (
  SELECT source,
         abs(sum(c) OVER (PARTITION BY source ORDER BY bin)
             / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE)
             - sum(ct) OVER (PARTITION BY source ORDER BY bin)
               / CAST(sum(ct) OVER (PARTITION BY source) AS DOUBLE)) AS gap
  FROM j
)
SELECT source, round(sum(gap), 6) AS emd_bins FROM e GROUP BY source
"""


LENGTH_EMD_BY_SOURCE_SQL = _length_emd_sql()


# ---------------------------------------------------------------------------
# quantile_normalized_quality — cross-source score calibration: a raw
# per-doc score (doc length here) is replaced by the CORPUS value at
# the same quantile the doc occupies WITHIN its source, so a "long doc
# for source A" and a "long doc for source B" get comparable numbers
# even when the sources' raw distributions differ wildly (the standard
# fix before pooling per-source quality scores into one training-mix
# threshold). The quantile→rank mapping is pure integer arithmetic —
# target global rank = 1 + (r_s−1)·(N−1) // (n_s−1) — so both engines
# agree exactly (no interpolated-percentile knife edges).
#
# Scale: one source-partitioned rank window (scales), one corpus-grain
# rank (single-partition here; at 100 TB swap the exact global rank
# for an approx-percentile lookup table — semantics identical up to
# sketch error), one join on the integer rank.
# ---------------------------------------------------------------------------


def quantile_normalized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    n_total = table_rows(spark, sf_dir, "documents")
    ws = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rs"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("ns"),
    )
    # `div` = exact integer division (all operands nonnegative)
    g = F.expr(
        f"1 + ((rs - 1) * {n_total - 1}) div greatest(ns - 1, 1)"
    ).cast("long")
    wg = W.orderBy("n_chars", "doc_id")
    corpus = docs.select(
        F.row_number().over(wg).alias("g"), F.col("n_chars").alias("norm_chars")
    )
    return (
        ranked.withColumn("g", g)
        .join(corpus, "g")
        .select("doc_id", "source", "n_chars", "norm_chars")
    )


QUANTILE_NORMALIZED_QUALITY_SQL = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rs,
         count(*) OVER (PARTITION BY source) AS ns,
         count(*) OVER () AS nt
  FROM documents
), corpus AS (
  SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS g,
         n_chars AS norm_chars
  FROM documents
)
SELECT d.doc_id, d.source, d.n_chars, corpus.norm_chars
FROM d JOIN corpus
  ON corpus.g = 1 + (d.rs - 1) * (d.nt - 1) // greatest(d.ns - 1, 1)
"""


# ---------------------------------------------------------------------------
# submodular_coverage_sample — greedy maximum-coverage subset selection
# (the monotone-submodular (1−1/e) greedy; the coverage member of the
# facility-location family used for training-data subset selection):
# pick SUBMOD_K docs one at a time, each maximizing the number of
# corpus trigrams NOT covered by the docs already picked (ties to min
# doc_id). Complements kcenter_seeds (geometric diversity) with
# set-coverage diversity.
#
# Scale shape: per round, ONE distributed anti-join of the per-doc
# trigram stream against the covered-set table (hashed trigram longs
# crossing once) + a count/argmax; driver state is k rows, the covered
# set stays a DataFrame. Greedy is k passes by construction — for
# one-pass selection at extreme scale you'd switch to stochastic
# greedy (different estimator). Oracle: mechanically unrolled rounds
# with NOT IN covered-set CTEs.
# ---------------------------------------------------------------------------

SUBMOD_K = 5


def _doc_trigram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    sh = TX.shingles(TX.tokens(F.col("text")))
    ex = docs.select("doc_id", F.explode(sh).alias("g"))
    # 60-bit hash of the trigram — set identity only needs uniqueness
    return ex.select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("gh"),
    )


def submodular_coverage_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = _checkpoint(_doc_trigram_hashes(spark, sf_dir))
    covered = None
    picks = []
    for rnd in range(SUBMOD_K):
        cand = tri
        if covered is not None:
            cand = tri.join(covered, "gh", "left_anti")
        gain = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        top = gain.orderBy(F.desc("gain"), F.asc("doc_id")).limit(1).collect()
        if not top or top[0]["gain"] == 0:
            break
        pick = top[0]
        picks.append((rnd, int(pick["doc_id"]), int(pick["gain"])))
        newly = tri.filter(F.col("doc_id") == pick["doc_id"]).select("gh")
        covered = _checkpoint(
            newly if covered is None else covered.union(newly).distinct()
        )
    return spark.createDataFrame(
        picks, "sel_round int, doc_id long, marginal_gain long"
    )


def _submod_sql() -> str:
    sql = [
        """WITH tri AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS gh
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3 THEN
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           ELSE [] END) AS g
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0) AS toks
      FROM documents
    )
  )
)"""
    ]
    prev_cov = None
    for t in range(SUBMOD_K):
        anti = (
            f" WHERE gh NOT IN (SELECT gh FROM {prev_cov})" if prev_cov else ""
        )
        sql.append(
            f""", g{t} AS MATERIALIZED (
  SELECT doc_id, count(*) AS gain
  FROM tri{anti}
  GROUP BY doc_id
), p{t} AS MATERIALIZED (
  SELECT {t} AS sel_round, doc_id, CAST(gain AS BIGINT) AS marginal_gain
  FROM g{t} ORDER BY gain DESC, doc_id ASC LIMIT 1
), c{t} AS MATERIALIZED (
  SELECT gh FROM tri WHERE doc_id = (SELECT doc_id FROM p{t})
  {"UNION SELECT gh FROM " + prev_cov if prev_cov else ""}
)"""
        )
        prev_cov = f"c{t}"
    union = "\nUNION ALL\n".join(
        f"SELECT sel_round, doc_id, marginal_gain FROM p{t}"
        for t in range(SUBMOD_K)
    )
    return "\n".join(sql) + "\n" + union + "\nORDER BY sel_round"


SUBMODULAR_COVERAGE_SAMPLE_SQL = _submod_sql


# ---------------------------------------------------------------------------
# l_diversity_audit — the homogeneity-attack audit on the k-anonymous
# release (Machanavajjhala et al., "l-Diversity", ICDE 2006): a
# released equivalence class that satisfies k-anonymity can still leak
# its sensitive attribute if every member shares one value. For each
# released QI class (same quasi-identifiers as kanon_release_stats:
# mktsegment × nation, n ≥ KANON_K), l = count of distinct sensitive
# values (the account-balance tier). Reports, per segment, how many
# released classes fail l ≥ 2 / l ≥ 3 plus the min and exact average
# l. Shape: one grouped distinct-count over the release — O(classes)
# shuffle rows; the audit costs no more than the release itself.
# ---------------------------------------------------------------------------

_LDIV_TIERS = "CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 3000 THEN 'low' WHEN c_acctbal < 7000 THEN 'mid' ELSE 'high' END"


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "tier", F.expr(_LDIV_TIERS)
    )
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("tier").alias("l"),
    )
    rel = F.col("n") >= KANON_K
    return classes.groupBy("c_mktsegment").agg(
        F.sum(rel.cast("long")).alias("released_classes"),
        F.sum((rel & (F.col("l") < 2)).cast("long")).alias("fails_l2"),
        F.sum((rel & (F.col("l") < 3)).cast("long")).alias("fails_l3"),
        F.min(F.when(rel, F.col("l"))).alias("min_l"),
        F.round(
            F.sum(F.when(rel, F.col("l")))
            / F.sum(rel.cast("long")).cast("double"),
            4,
        ).alias("avg_l"),
    )


L_DIVERSITY_AUDIT_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS n,
         count(DISTINCT {_LDIV_TIERS}) AS l
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT c_mktsegment,
       CAST(sum(CASE WHEN n >= {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS released_classes,
       CAST(sum(CASE WHEN n >= {KANON_K} AND l < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS fails_l2,
       CAST(sum(CASE WHEN n >= {KANON_K} AND l < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS fails_l3,
       min(CASE WHEN n >= {KANON_K} THEN l END) AS min_l,
       round(CAST(sum(CASE WHEN n >= {KANON_K} THEN l END) AS BIGINT)
           / CAST(sum(CASE WHEN n >= {KANON_K} THEN 1 ELSE 0 END) AS DOUBLE), 4)
         AS avg_l
FROM classes
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# temporal_split_stats — time-based train/eval holdout + leakage audit
# (the temporal complement to the hash-based train_test_split): split
# the event stream at the 80% point of its time RANGE and report split
# sizes plus the user-overlap leakage a sessionized model would see
# (users with events on both sides of the cutoff — for per-user
# modeling those eval rows are not out-of-sample).
#
# The cutoff is INTEGER arithmetic on epoch microseconds
# (min + (max-min)*4/5 with bigint division) — exact and identical in
# both engines, no quantile interpolation knife-edge (a percentile
# cutoff computed in doubles can land within an ulp of a real event
# timestamp and flip its side between engines).
#
# Scale shape: one min/max scalar agg (broadcast as a literal), one
# conditional-agg pass, and one groupBy(user_id) for the overlap set —
# no global sort, no window.
# ---------------------------------------------------------------------------

TEMPORAL_SPLIT_NUM = 4  # train fraction = NUM/DEN of the time range
TEMPORAL_SPLIT_DEN = 5


def temporal_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "user_id"
    )
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]  # 1-row scalar
    cutoff = lo + (hi - lo) * TEMPORAL_SPLIT_NUM // TEMPORAL_SPLIT_DEN
    tagged = ev.select("user_id", (F.col("us") <= F.lit(cutoff)).alias("tr"))
    per_user = tagged.groupBy("user_id").agg(
        F.max(F.col("tr").cast("int")).alias("has_train"),
        F.max((~F.col("tr")).cast("int")).alias("has_test"),
    )
    sizes = tagged.agg(
        F.sum(F.col("tr").cast("long")).alias("n_train"),
        F.sum((~F.col("tr")).cast("long")).alias("n_test"),
    )
    users = per_user.agg(
        F.sum("has_train").cast("long").alias("n_train_users"),
        F.sum("has_test").cast("long").alias("n_test_users"),
        F.sum(
            ((F.col("has_train") == 1) & (F.col("has_test") == 1)).cast("long")
        ).alias("n_overlap_users"),
    )
    return sizes.crossJoin(F.broadcast(users)).select(
        "n_train",
        "n_test",
        "n_train_users",
        "n_test_users",
        "n_overlap_users",
        F.round(
            F.col("n_overlap_users") / F.col("n_test_users").cast("double"), 4
        ).alias("test_user_leak_ratio"),
    )


TEMPORAL_SPLIT_STATS_SQL = f"""
WITH b AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
), tagged AS (
  SELECT user_id,
         epoch_us(ts) <= b.lo + (b.hi - b.lo) * {TEMPORAL_SPLIT_NUM}
                                 // {TEMPORAL_SPLIT_DEN} AS tr
  FROM events, b
), per_user AS (
  SELECT user_id,
         max(CASE WHEN tr THEN 1 ELSE 0 END) AS has_train,
         max(CASE WHEN tr THEN 0 ELSE 1 END) AS has_test
  FROM tagged GROUP BY user_id
), sizes AS (
  SELECT CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_test
  FROM tagged
), users AS (
  SELECT CAST(sum(has_train) AS BIGINT) AS n_train_users,
         CAST(sum(has_test) AS BIGINT) AS n_test_users,
         CAST(sum(CASE WHEN has_train = 1 AND has_test = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap_users
  FROM per_user
)
SELECT n_train, n_test, n_train_users, n_test_users, n_overlap_users,
       round(CAST(n_overlap_users AS DOUBLE) / n_test_users, 4)
         AS test_user_leak_ratio
FROM sizes, users
"""


# ---------------------------------------------------------------------------
# t_closeness_audit — the distribution-skew audit that closes the
# k-anonymity → l-diversity → t-closeness privacy ladder (Li, Li &
# Venkatasubramanian, "t-Closeness", ICDE 2007): an equivalence class
# can be k-anonymous AND l-diverse yet still leak if its sensitive-
# attribute DISTRIBUTION differs sharply from the table-wide one
# (e.g. a class that is 90% 'debt' where the corpus is 5%). For each
# released QI class (same quasi-identifiers and release rule as
# kanon_release_stats: mktsegment × nation, n ≥ KANON_K), t = the Earth
# Mover's Distance between the class's balance-tier distribution and
# the global one over the ORDERED tiers debt < low < mid < high:
# EMD = (1/(m-1)) · Σ_{i<m-1} |cumP_i − cumQ_i|.
#
# Cross-engine determinism: the cumulative counts are exact integers
# (conditional sums over the fixed 4-tier CASE), so each |cumP−cumQ|
# term is one bigint-ratio subtraction in doubles, summed in a fixed
# written order — no window, no float accumulation ambiguity.
#
# Scale shape: one conditional-agg pass over customer (partial
# combine, O(classes) shuffle rows), the global distribution as a
# broadcast 1-row frame — the audit costs one scan, same as the
# release it audits.
# ---------------------------------------------------------------------------

T_CLOSENESS_T = 0.2  # release threshold on EMD

_TIER_IDX = (
    "CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 3000 THEN 1 "
    "WHEN c_acctbal < 7000 THEN 2 ELSE 3 END"
)


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "tier", F.expr(_TIER_IDX)
    )

    def _cums(df, keys):
        aggs = [F.count(F.lit(1)).alias("n")] + [
            F.sum((F.col("tier") <= i).cast("long")).alias(f"c{i}")
            for i in range(3)
        ]
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    cls = _cums(cust, ["c_mktsegment", "c_nationkey"])
    glob = _cums(cust, []).select(
        F.col("n").alias("gn"), *[F.col(f"c{i}").alias(f"g{i}") for i in range(3)]
    )
    term = lambda i: F.abs(
        F.col(f"c{i}").cast("double") / F.col("n")
        - F.col(f"g{i}").cast("double") / F.col("gn")
    )
    return (
        cls.filter(F.col("n") >= KANON_K)
        .crossJoin(F.broadcast(glob))
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.col("n").cast("long").alias("n_members"),
            F.round((term(0) + term(1) + term(2)) / F.lit(3.0), 4).alias(
                "t_emd"
            ),
            (
                F.round((term(0) + term(1) + term(2)) / F.lit(3.0), 4)
                > T_CLOSENESS_T
            ).alias("breaches_t"),
        )
    )


T_CLOSENESS_AUDIT_SQL = f"""
WITH t AS (
  SELECT c_mktsegment, c_nationkey, {_TIER_IDX} AS tier FROM customer
), cls AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS n,
         sum(CASE WHEN tier <= 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN tier <= 1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN tier <= 2 THEN 1 ELSE 0 END) AS c2
  FROM t GROUP BY c_mktsegment, c_nationkey
), gl AS (
  SELECT count(*) AS gn,
         sum(CASE WHEN tier <= 0 THEN 1 ELSE 0 END) AS g0,
         sum(CASE WHEN tier <= 1 THEN 1 ELSE 0 END) AS g1,
         sum(CASE WHEN tier <= 2 THEN 1 ELSE 0 END) AS g2
  FROM t
)
SELECT c_mktsegment, c_nationkey, CAST(n AS BIGINT) AS n_members,
       round((abs(CAST(c0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)
            + abs(CAST(c1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn)
            + abs(CAST(c2 AS DOUBLE) / n - CAST(g2 AS DOUBLE) / gn)) / 3.0, 4)
         AS t_emd,
       round((abs(CAST(c0 AS DOUBLE) / n - CAST(g0 AS DOUBLE) / gn)
            + abs(CAST(c1 AS DOUBLE) / n - CAST(g1 AS DOUBLE) / gn)
            + abs(CAST(c2 AS DOUBLE) / n - CAST(g2 AS DOUBLE) / gn)) / 3.0, 4)
         > {T_CLOSENESS_T} AS breaches_t
FROM cls CROSS JOIN gl
WHERE n >= {KANON_K}
"""


# ---------------------------------------------------------------------------
# group_holdout_split — leakage-safe GROUP-level train/val/test split
# (round 9): every event of a user lands in exactly one split, decided
# by a content-independent hash of the GROUP key (user_id), not the
# row. The complement of temporal_split_stats: row-wise or time-range
# splits put one user's behaviour on both sides, so any per-user model
# evaluates on users it trained on; hashing the group key makes the
# holdout users truly unseen. train_test_split (plans/relational.py)
# is the row-rank variant; this is the grouped variant a training-data
# pipeline needs for user-level modeling.
#
# Split rule: first hex char of md5(user_id) — '0'-'b' train (12/16),
# 'c'-'d' val (2/16), 'e'-'f' test (2/16). md5 of the decimal string
# is engine-identical (proven by negative_sampling_pairs), needs no
# RNG, and is stable under re-runs and incremental appends (a new
# user's split never depends on what else arrived).
#
# Scale shape: one projection (hash is per-row, no pre-agg on user
# needed — the split is a pure function of user_id) and one 3-group
# aggregate; count_distinct(user_id) is the only shuffle-heavy part
# and shuffles (split, user_id) pairs only. The event-share divide is
# integers-into-double once per output row (3 rows), not a per-row
# float path.
# ---------------------------------------------------------------------------


def group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    h = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
    split = (
        F.when(h.between("0", "b"), "train")
        .when(h.between("c", "d"), "val")
        .otherwise("test")
    )
    agg = ev.select(split.alias("split"), "user_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    total = F.sum("n_events").over(W.partitionBy())
    return agg.select(
        "split",
        "n_events",
        "n_users",
        F.round(F.col("n_events").cast("double") / total, 6).alias("event_share"),
    )


GROUP_HOLDOUT_SPLIT_SQL = """
WITH tagged AS (
  SELECT event_id, user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   BETWEEN '0' AND 'b' THEN 'train'
              WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   BETWEEN 'c' AND 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM events
), agg AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM tagged GROUP BY split
)
SELECT split, n_events, n_users,
       round(CAST(n_events AS DOUBLE) / sum(n_events) OVER (), 6)
         AS event_share
FROM agg
"""
