"""Similarity search over the `embeddings` table: brute-force cosine
top-k baseline + random-hyperplane LSH bucketed variant (training-data
extensions; SURVEY.md §7 step 7).

Scale design: brute-force is the correctness baseline — broadcast the
(small) query set against the full corpus, TakeOrdered per query. The
LSH variant is the 100 TB path: bucket both sides, equi-join on bucket,
so the candidate set per query is corpus/2^planes instead of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import vectors as V
from map_reduce_engine_cdps_spark.operators.state import _checkpoint, memo, releasing
from map_reduce_engine_cdps_spark.plans.dedup import _tier_pct
from map_reduce_engine_cdps_spark.sources.readers import (
    load_parallel, load_table, table_row_groups, table_rows
)

N_QUERIES = 10     # vec_id < N_QUERIES are the query vectors
TOP_K = 3
N_PLANES = 8


# The ANN family shares one definition of each vector-search building
# block: _side (a scored side: id, embedding, Arrow norm), _cos (the
# JVM-rounded Arrow cosine), _top_k (the per-query rank window),
# _exact_topk (the grouped exact kNN) and _ivf_pairs (the IVF assign →
# probe → pair front). Per-row and per-pair vector math runs through
# the Arrow twins and grouped kernels of functions/vectors.py: the
# interpreted JVM folds they replace measured ~25-85 µs per evaluation
# and dominated every ANN query's wall time at the sf1 point. The twins
# are BIT-identical (one left-to-right numpy fold; pinned by
# tests/test_workloads.py), so the DuckDB oracles — which mirror the
# fold formulation — are unaffected. Rounding stays JVM-side (F.round).


def _side(emb: DataFrame, id_col: str, p: str, *extra) -> DataFrame:
    """One side of a scored pair join: (vec_id AS id_col, embedding AS
    <p>_emb, Arrow norm AS <p>_n, *extra)."""
    return emb.select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(f"{p}_emb"),
        V.norm_arrow()(F.col("embedding")).alias(f"{p}_n"),
        *extra,
    )


def _cos(a: str, b: str, a_n: str, b_n: str) -> Column:
    """Cosine of two embedding columns from precomputed norms, rounded
    JVM-side to 6 places: the Arrow dot over the product of the norms —
    the same scalar IEEE ops as the interpreted V.dot / V.norm fold."""
    return F.round(V.dot_arrow()(F.col(a), F.col(b)) / (F.col(a_n) * F.col(b_n)), 6)


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """Each query's k best candidates by (cos_sim desc, cand_id asc) —
    the vec_id tie-break keeps the ranking deterministic across engines
    — with their 1-based ``rank``."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# knn_bruteforce — exact cosine top-k per query, computed with the
# grouped query-vs-members kernel (round 13; guide §4/§2.3): the corpus
# is salted into deterministic hash groups, the (tiny) query set is
# replicated to every group, and one applyInArrow crossing scores each
# group's members against all queries in numpy. Each member embedding
# crosses the Python boundary ONCE; the old broadcast-cross-join shape
# shipped the corpus once PER QUERY as pair rows with BOTH
# embeddings (10 queries × 2×dim doubles ≈ 20× the Arrow bytes) plus a
# separate full-corpus norm pass.
# ---------------------------------------------------------------------------

_GROUP_SIMS_SCHEMA = "query_id long, cand_id long, cos_raw double"


def _ann_salt_groups(spark: SparkSession, sf_dir: str) -> int:
    """Salt-group count for the grouped ANN kernel: max(cores, parquet
    row groups of embeddings), both read without a Spark job (the row
    groups from the table's footers). Locally that is
    defaultParallelism (full width); a large table holds one row group
    per ~128 MB, so a group's members are bounded at ~one row group of
    embeddings regardless of scale — grouped-map materializes a whole
    group in one Arrow table, so group size, not group count, is the
    memory bound. Group COUNT stays low at toy SF, which matters the
    other way: grouped-map pays a fixed per-group overhead (measured at
    ~ms per group under applyInPandas, receipts in OPTIMIZATION_r13.md)."""
    par = spark.sparkContext.defaultParallelism
    return max(par, table_row_groups(spark, sf_dir, "embeddings"))


def _query_group_sims(q: DataFrame, cand: DataFrame, n_groups: int) -> DataFrame:
    """Replicate the query side to every salt value, union with the
    salted member side, and score each hash group with one grouped Arrow
    crossing. Members get g = pmod(xxhash64(vec_id)) — deterministic
    under task retry, unlike rand() salts (guide §2.5) — queries get
    every value."""
    spark = q.sparkSession
    salted = cand.withColumn(
        "g", F.pmod(F.xxhash64("vec_id"), F.lit(n_groups))
    ).withColumn("is_q", F.lit(False))
    replicated = q.crossJoin(
        F.broadcast(spark.range(n_groups).select(F.col("id").alias("g")))
    ).withColumn("is_q", F.lit(True))
    cols = ["g", "vec_id", "embedding", "is_q"]
    return (
        salted.select(*cols)
        .unionByName(replicated.select(*cols))
        .groupBy("g")
        .applyInArrow(V.group_query_cos_kernel(), _GROUP_SIMS_SCHEMA)
    )


def _exact_topk(emb: DataFrame, sf_dir: str, n_queries: int, k: int) -> DataFrame:
    """Exact cosine top-k of the queries ``vec_id < n_queries`` over the
    whole corpus ``emb`` (the embeddings table of ``sf_dir``): ranked
    (query_id, cand_id, cos_sim, rank)."""
    q = emb.filter(F.col("vec_id") < n_queries).select("vec_id", "embedding")
    sims = _query_group_sims(
        q, emb.select("vec_id", "embedding"), _ann_salt_groups(emb.sparkSession, sf_dir)
    ).select("query_id", "cand_id", F.round("cos_raw", 6).alias("cos_sim"))
    return _top_k(sims, k).select("query_id", "cand_id", "cos_sim", "rank")


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_topk(load_table(spark, sf_dir, "embeddings"), sf_dir, N_QUERIES, TOP_K)


_DUCK_COS = """
round(
  list_sum(list_transform(range(1, len(q.embedding) + 1),
           i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
           i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
   * sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
           i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))), 6)
"""

KNN_BRUTEFORCE_SQL = f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# lsh_bucket_stats — random-hyperplane LSH bucket histogram: the data layout
# of the ANN index (bucket key = 8 sign bits of deterministic projections).
# ---------------------------------------------------------------------------

def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.withColumn(
        "bucket", V.lsh_bucket_arrow(N_PLANES)(F.col("embedding"))
    )
    return d.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def _duck_bucket(tbl_alias: str, planes: int = N_PLANES) -> str:
    bits = " || ".join(
        f"""(CASE WHEN list_sum(list_transform(range(1, len({tbl_alias}.embedding) + 1),
              i -> {tbl_alias}.embedding[i]::DOUBLE *
                   ((({h} * 31 + (i - 1) * 17) % 7) - 3)::DOUBLE)) > 0
           THEN '1' ELSE '0' END)"""
        for h in range(planes)
    )
    return bits


LSH_BUCKET_STATS_SQL = f"""
WITH b AS (
  SELECT e.vec_id, {_duck_bucket('e')} AS bucket
  FROM embeddings e
)
SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM b GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# lsh_ann_topk — ANN top-1 per query *within its LSH bucket*: the scale
# path. Join is an equi-join on bucket (shuffle on bucket key, AQE
# handles hot buckets) instead of a cross join.
# ---------------------------------------------------------------------------

def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 13: eqNullSafe, not "=", on the bucket pair join. An
    # equi-join key makes Catalyst infer isnotnull(bucket) and push it
    # below the projection, DUPLICATING the deterministic bucket UDF
    # (guide §4.4) — the r5-r12 executed plans ran the Arrow bucket
    # kernel TWICE over the full corpus. Null-safe equality infers no
    # null filter, so the corpus pays the kernel once. Semantics are
    # unchanged: the query buckets are never NULL (query embeddings are
    # non-null at every SF), so <=> and = match identical row sets.
    #
    # Measured-and-rejected r13 alternatives (`git show
    # cb976e8:tools/r13_ann_ab.py`, OPTIMIZATION_r13.md): (a) the knn
    # grouped kernel over (bucket-masked) salt groups — each embedding
    # crosses Python once,
    # the 100 TB-preferred payload shape — and (b) a broadcast semi-join
    # prefilter that runs the candidate norm on query-bucket survivors
    # only. Both won at sf1 volume but cost 0.15-0.3 s of fixed
    # stage/grouped-map latency at sf0.1, regressing the certified
    # bench SF; at real scale the planner's size estimates replace this
    # toy-SF candidate broadcast with a shuffle join on bucket, so the
    # shape below stays sound (bucket skew is AQE skew-join territory).
    return _top_k(_lsh_bucket_sims(spark, sf_dir), 1).select(
        "query_id", F.col("cand_id").alias("nn_id"), "cos_sim"
    )


def _lsh_bucket_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-joined (query, candidate, cos_sim) rows — the shared
    front of lsh_ann_topk and ann_recall_eval's LSH side."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.withColumn(
        "bucket", V.lsh_bucket_arrow(N_PLANES)(F.col("embedding"))
    )
    q = _side(d.filter(F.col("vec_id") < N_QUERIES), "query_id", "q", "bucket")
    c = _side(d, "cand_id", "c", F.col("bucket").alias("c_bucket"))
    return (
        q.join(c, F.col("bucket").eqNullSafe(F.col("c_bucket")))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id", "cand_id", _cos("q_emb", "c_emb", "q_n", "c_n").alias("cos_sim")
        )
    )


LSH_ANN_TOPK_SQL = f"""
WITH b AS (
  SELECT e.vec_id, e.embedding, {_duck_bucket('e')} AS bucket
  FROM embeddings e
), sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM b WHERE vec_id < {N_QUERIES}) q
  JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rn
  FROM sims
)
SELECT query_id, cand_id AS nn_id, cos_sim FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# label_centroid_sim — per-label mean embedding then each label's nearest
# other label by centroid cosine (embedding analytics at agg level).
# Mean vectors are computed with a deterministic element-wise aggregate.
# ---------------------------------------------------------------------------

def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Element-wise sum via posexplode + groupBy(label, pos): the
    # distributed way to average vectors (no driver collect).
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    sums = exploded.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("double")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    comp = sums.select(
        "label", "pos", (F.col("s") / F.col("n")).alias("m")
    )
    return (
        comp.groupBy("label")
        .agg(F.round(F.sum(F.col("m") * F.col("m")), 6).alias("centroid_sqnorm"))
    )


LABEL_CENTROID_NORMS_SQL = """
WITH exploded AS (
  SELECT label, t.pos, embedding[t.pos]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
), comp AS (
  SELECT label, pos, sum(val) / count(*) AS m
  FROM exploded GROUP BY label, pos
)
SELECT label, round(sum(m * m), 6) AS centroid_sqnorm
FROM comp GROUP BY label
"""


# ---------------------------------------------------------------------------
# embedding_near_dup — embedding-cosine near-duplicate pairs, LSH-bucketed
# (the embedding analogue of minhash_lsh_pairs: candidate pairs only
# within a bucket — never the O(n²) corpus cross join). Threshold 0.3 is
# corpus-calibrated for the synthetic testdata; real near-dup corpora
# use ~0.95.
# ---------------------------------------------------------------------------

NEAR_DUP_COS = 0.3

# Banding must scale with the corpus or the bucket self-join goes
# quadratic: with 8 fixed planes the 10×-replicated sf1 corpus put
# ~800 vectors in the hottest bucket (3.7 M candidate pairs, 57 s);
# two extra planes per 4× corpus growth keeps expected occupancy — and
# therefore pair expansion per bucket — bounded. The tier table is the
# shared contract: Spark picks from it by the footer row count, the
# oracle via a CASE on the same scalar count, so both engines band
# identically.
NEAR_DUP_MAX_PLANES = 14
NEAR_DUP_TIERS = ((4096, 8), (16384, 10), (65536, 12), (None, NEAR_DUP_MAX_PLANES))

# Degenerate-bucket guard (the minhash BUCKET_CAP pattern, dedup.py:188):
# a near-dup-DENSE corpus defeats banding — every member of an
# identical-vector cluster lands in the same bucket no matter how many
# planes, so candidate pairs grow as the square of cluster size (the
# sf10 probe measured 30x wall for 10x data purely from this). Buckets
# are deterministically truncated to their EMB_BUCKET_CAP smallest
# vec_ids before pairing, bounding any bucket at CAP^2/2 pairs. 1024
# exceeds the hottest observed bucket at every certified SF (sf1: 822),
# so results are exact there; past it the cap is an explicit
# recall-for-boundedness trade, mirrored bit-for-bit in the oracle.
EMB_BUCKET_CAP = 1024


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_parallel: clustered corpora concentrate the corpus in few
    # buckets (sf1: 119 occupied of 4096, hottest 822 members → 3.7 M
    # candidate pairs), and the pair-verification work rides the PROBE
    # side's partitioning — a 2-file scan would run millions of dots on
    # 2 cores. On a real cluster the 128 MB scan splits provide this
    # width for free.
    emb = load_parallel(spark, sf_dir, "embeddings")
    planes = _tier_pct(table_rows(spark, sf_dir, "embeddings"), NEAR_DUP_TIERS)
    d = emb.withColumn("bucket", V.lsh_bucket_arrow(planes)(F.col("embedding")))
    # NULL bucket = NULL embedding; the former join-on-bucket shape
    # could never pair them (NULL != NULL), so the grouped shape must
    # exclude them before the NULL group forms.
    d = d.filter(F.col("bucket").isNotNull())
    # Bucket cap computed ON the pairing partitioning: the rank window
    # partitions by bucket — exactly the layout the grouped kernel
    # below needs — so Window + Filter preserve it and applyInArrow
    # adds NO new exchange. Embeddings cross a shuffle exactly once
    # (plan-gated at bound 1 + load_parallel's local-mode repartition).
    # This rank exchange carries the corpus x1, not the K-multiplied
    # payload the scalar-rank ANN gate exists for, which is why that
    # gate records this query as its one exemption.
    d = (
        d.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("bucket").orderBy("vec_id")),
        )
        .filter(F.col("rn") <= EMB_BUCKET_CAP)
        .drop("rn")
    )
    # Verification runs on EVERY candidate pair — on a near-dup-dense
    # corpus that's millions of pairs. Round 8 continuation: the pair
    # join + dot_arrow formulation materialized each candidate as a
    # 2×64-double Arrow row (~4 GB of Arrow traffic at sf1, 5.8 s);
    # the bucket-local kernel expands pairs in numpy with the SAME
    # left-to-right cumsum fold (bit-identical — 0 differing rows over
    # every sf1 pair) and only 3-scalar rows come back, 2.6 s. The raw
    # pre-filter is lowered by V.RAW_COS_MARGIN, so no pair that could
    # pass the exact rounded threshold is dropped; the authoritative
    # filter below stays on the JVM-rounded column.
    pairs = (
        d.select("bucket", "vec_id", "embedding")
        .groupBy("bucket")
        .applyInArrow(
            V.bucket_pair_cos_kernel(NEAR_DUP_COS - V.RAW_COS_MARGIN),
            "vec_a long, vec_b long, cos_raw double",
        )
    )
    return (
        pairs.select(
            "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")
        ).filter(F.col("cos_sim") >= NEAR_DUP_COS)
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
b AS (
  SELECT e.vec_id, e.embedding,
         CASE WHEN nn.n <= {NEAR_DUP_TIERS[0][0]} THEN {_duck_bucket('e', NEAR_DUP_TIERS[0][1])}
              WHEN nn.n <= {NEAR_DUP_TIERS[1][0]} THEN {_duck_bucket('e', NEAR_DUP_TIERS[1][1])}
              WHEN nn.n <= {NEAR_DUP_TIERS[2][0]} THEN {_duck_bucket('e', NEAR_DUP_TIERS[2][1])}
              ELSE {_duck_bucket('e', NEAR_DUP_MAX_PLANES)} END AS bucket
  FROM embeddings e CROSS JOIN nn
),
bc AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT b.*, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM b
  ) WHERE rn <= {EMB_BUCKET_CAP}
)
SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
       {_DUCK_COS} AS cos_sim
FROM bc q JOIN bc c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
WHERE {_DUCK_COS} >= {NEAR_DUP_COS}
"""


# ---------------------------------------------------------------------------
# ivf_ann_topk — IVF (inverted-file) ANN: the second scale path the
# training-data brief asks for alongside LSH. Coarse quantizer = the
# per-label mean embeddings (computed distributed via posexplode —
# deterministic, so oracle-checkable, unlike k-means). Every vector is
# assigned to its nearest centroid (broadcast argmin over K centroids —
# a map-side-only pass over the corpus); each query probes its
# NPROBE nearest inverted lists and scores exact cosine only inside
# them. At 100 TB: corpus pass is narrow (broadcast K×dim centroids),
# the probe join shuffles on centroid id with K≫partitions, and the
# per-query candidate set is ~NPROBE/K of the corpus, not all of it.
# ---------------------------------------------------------------------------

NPROBE = 2


def _centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean embedding as array<double> (distributed; no collect)."""
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    comp = exploded.groupBy("label", "pos").agg(
        (F.sum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("m")
    )
    return comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("centroid")
    )


def _broadcast_centroid_lists(emb: DataFrame):
    """Broadcast (list_id, centroid, cent_n) side shared by the IVF
    queries — centroid side is K rows, so the interpreted fold is fine
    there; corpus-side norms and all pair scoring go Arrow."""
    return F.broadcast(
        _centroids(emb).select(
            F.col("label").alias("list_id"),
            "centroid",
            V.norm(F.col("centroid")).alias("cent_n"),
        )
    )


def _nearest_lists(
    emb: DataFrame, cent: DataFrame, id_col: str, p: str, n: int
) -> DataFrame:
    """Top-n nearest inverted lists per vector of ``emb``, ranked 1..n
    as ``probe_rank``, with the vector's scored side
    (``_side(emb, id_col, p)``).

    Round-12 shape (guide §2.4): ``(vec, norm)`` ride THROUGH the rank
    window instead of being re-attached to the winners by an
    id-equi-join afterwards. The r5-r11 scalar-only-window shape paid,
    per side, a second corpus scan + a second norm_arrow pass + a
    corpus-sized broadcast (locally; a corpus shuffle on id at cluster
    scale) to re-attach the embedding. The rank exchange stays
    corpus-bounded despite the array payload because the partial
    WindowGroupLimit (Spark 3.5+) prunes map-side to ≤ n rows per
    vector BEFORE the exchange — so the exchange carries corpus×n
    arrays, NOT the K-fold blow-up the round-4 shape had (K scored
    rows per vector through the shuffle). n is 1 (assignment) or
    nprobe (probes), so this is the same corpus×~1 payload the
    re-attach join itself moved — one less scan, one less Arrow norm
    pass, one less join, strictly. Round-12 A/B (interleaved, one
    session, sf0.1): old 1.988 s vs ride-through 1.731 s median, lower
    in 7/7 passes; identical output. Oracle re-verified at
    sf0.001/0.01/0.1 + derived-sf1 (round-12 receipts).

    NB: a min_by hash-aggregate argmin was tried for the n=1 case
    and reverted — isolated it beats the sort window 5x, but in
    the full query the WindowGroupLimit partial prune composes
    better with the downstream list_id join (whole-query sf1:
    1.9 s window vs 2.5-3.0 s min_by). semdedup_prune, whose
    assignment feeds a plain equi-join, DOES use min_by. A round-12
    per-row array_sort top-n (all K sims in one Arrow crossing, no
    window at all) was also tried and reverted: the repeated
    per-row centroid payload + interpreted comparator made it
    SLOWER (2.507 s median vs 1.988 old / 1.731 ride-through).
    """
    vec, nrm = f"{p}_emb", f"{p}_n"
    scored = _side(emb, id_col, p).crossJoin(cent).select(
        id_col, vec, nrm, "list_id", _cos(vec, "centroid", nrm, "cent_n").alias("c_sim")
    )
    w = W.partitionBy(id_col).orderBy(F.desc("c_sim"), F.asc("list_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select(id_col, "list_id", F.col("rn").alias("probe_rank"), vec, nrm)
    )


def _ivf_pairs(emb: DataFrame, nprobe: int) -> DataFrame:
    """The IVF front shared by ivf_ann_topk and ivf_nprobe_sweep_eval:
    every corpus vector is assigned to its nearest list, every query
    probes its ``nprobe`` nearest lists, and each (query, candidate)
    pair sharing a probed list is scored once: (query_id, cand_id,
    probe_rank, cos_sim)."""
    cent = _broadcast_centroid_lists(emb)
    assign = _nearest_lists(emb, cent, "cand_id", "c", 1)
    probes = _nearest_lists(
        emb.filter(F.col("vec_id") < N_QUERIES), cent, "query_id", "q", nprobe
    )
    return (
        probes.join(assign.drop("probe_rank"), "list_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "probe_rank",
            _cos("q_emb", "c_emb", "q_n", "c_n").alias("cos_sim"),
        )
    )


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _top_k(_ivf_pairs(emb, NPROBE), TOP_K).select(
        "query_id", "cand_id", "cos_sim", "rank"
    )


def _duck_cos_lists(x: str, y: str) -> str:
    return f"""round(
  list_sum(list_transform(range(1, len({x}) + 1),
           i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform(range(1, len({x}) + 1),
           i -> {x}[i]::DOUBLE * {x}[i]::DOUBLE)))
   * sqrt(list_sum(list_transform(range(1, len({y}) + 1),
           i -> {y}[i]::DOUBLE * {y}[i]::DOUBLE)))), 6)"""


IVF_ANN_TOPK_SQL = f"""
WITH exploded AS (
  SELECT label, t.pos, embedding[t.pos]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
), comp AS (
  SELECT label, pos, sum(val) / count(*) AS m
  FROM exploded GROUP BY label, pos
), cent AS (
  SELECT label AS list_id, list(m ORDER BY pos) AS centroid
  FROM comp GROUP BY label
), assign AS (
  SELECT cand_id, c_emb, list_id FROM (
    SELECT e.vec_id AS cand_id, e.embedding AS c_emb, cent.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos_lists('e.embedding', 'cent.centroid')} DESC,
                      cent.list_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, q_emb, list_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_emb, cent.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos_lists('e.embedding', 'cent.centroid')} DESC,
                      cent.list_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE rn <= {NPROBE}
), sims AS (
  SELECT p.query_id, a.cand_id,
         {_duck_cos_lists('p.q_emb', 'a.c_emb')} AS cos_sim
  FROM probes p JOIN assign a USING (list_id)
  WHERE p.query_id <> a.cand_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id ASC) AS rank
  FROM sims
)
SELECT query_id, cand_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding_quantize_stats — per-vector symmetric int8 quantization
# (scale = max|x|/127) with reconstruction error, the storage-side
# primitive for shipping 100 TB of embeddings at 4× compression. Pure
# JVM array expressions (zip_with/aggregate); per-row compute, no
# shuffle, no cross-row float accumulation (keeps the oracle hash
# bit-stable across engines).
# ---------------------------------------------------------------------------

def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, F.abs))
    scale = F.greatest(max_abs / F.lit(127.0), F.lit(1e-12))
    deq = F.transform(x, lambda v: F.round(v / scale) * scale)
    mae = V.array_sum(F.zip_with(x, deq, lambda a, b: F.abs(a - b))) / F.size(x)
    return emb.select(
        "vec_id",
        "label",
        F.round(scale, 6).alias("q_scale"),
        F.round(mae, 6).alias("q_mae"),
    )


EMBEDDING_QUANTIZE_STATS_SQL = """
WITH s AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> v::DOUBLE) AS x,
         greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0,
                  1e-12) AS scale
  FROM embeddings
)
SELECT vec_id, label,
       round(scale, 6) AS q_scale,
       round(list_sum(list_transform(x, v -> abs(v - round(v / scale) * scale)))
             / len(x), 6) AS q_mae
FROM s
"""


# ---------------------------------------------------------------------------
# kmeans_lloyd — distributed k-means over the embeddings column: Lloyd's
# algorithm with deterministic seeding (the first K vectors by vec_id),
# a fixed iteration count, and squared-L2 assignment. Each iteration is
# one broadcast (K×dim literal centroids — bytes, not data) + one
# map-side assignment with no shuffle, then one posexplode/groupBy to
# re-average per (cluster, dimension) — shuffle volume O(n·dim) numeric
# pairs with partial aggregation, never the gram matrix. The driver only
# ever holds K centroids. This is exactly how an IVF coarse quantizer
# for the ANN index gets trained at 100 TB.
# Iterative fixpoint → not SQL-expressible; rows-only oracle (K rows).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3


def _assign(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add `cid` = argmin squared-L2 over the broadcast centroid literals."""
    scored = F.array(
        *[
            F.struct(
                V.sq_dist(
                    F.col("embedding"), F.array(*[F.lit(float(x)) for x in c])
                ).alias("d2"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(cents)
        ]
    )
    best = F.element_at(F.array_sort(scored), 1)
    return emb.withColumn("cid", best["cid"])


def _kmeans_sql() -> str:
    """Full DuckDB replay of the Lloyd fixpoint (VERDICT r5 item 4:
    the rows-only queries gain real oracle entries). KMEANS_ITERS is a
    small fixed constant, so the "iterative → not SQL-expressible"
    blocker dissolves by unrolling: seed from the K smallest vec_ids,
    then per iteration one argmin assignment (squared-L2 via
    list_zip/list_transform, double arithmetic like the Spark fold,
    ties broken by cid exactly like array_sort on (d2, cid) structs)
    and one per-(cid, dim) re-average, LEFT-JOINed against the previous
    centroids so an empty cluster keeps its old centroid — the
    `new.get(i, cents[i])` branch. The member-norm output squares in
    FLOAT then accumulates in DOUBLE, matching Spark's
    `acc + x * x` lambda typing (x is float, acc double)."""
    k, iters = KMEANS_K, KMEANS_ITERS
    d2 = (
        "list_sum(list_transform(list_zip(e.x, c.x), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = [
        "WITH e AS (SELECT vec_id, "
        "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x FROM embeddings)",
        f"c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) "
        f"AS cid, x FROM e WHERE vec_id < {k})",
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"a{it} AS (SELECT vec_id, cid FROM ("
            f"SELECT e.vec_id, c.cid, {d2} AS d2 FROM e CROSS JOIN {prev} c) "
            f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)"
        )
        parts.append(
            f"u{it} AS (SELECT cid, i AS pos, avg(x[i]) AS m FROM "
            f"(SELECT a.cid, e.x FROM a{it} a JOIN e USING (vec_id)) "
            f"CROSS JOIN (SELECT unnest(generate_series(1, {JL_DIM})) AS i) "
            f"GROUP BY cid, i)"
        )
        parts.append(
            f"c{it} AS (SELECT p.cid, COALESCE(n.x, p.x) AS x FROM {prev} p "
            f"LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS x FROM u{it} "
            f"GROUP BY cid) n USING (cid))"
        )
    parts.append(
        f"fin AS (SELECT vec_id, cid FROM ("
        f"SELECT e.vec_id, c.cid, {d2} AS d2 FROM e CROSS JOIN c{iters} c) "
        f"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1)"
    )
    return (
        ",\n".join(parts)
        + """
SELECT f.cid, count(*) AS n_members,
       round(avg(sqrt(list_sum(list_transform(
           emb.embedding, v -> CAST(v * v AS DOUBLE))))), 6)
         AS avg_member_norm
FROM fin f JOIN embeddings emb ON emb.vec_id = f.vec_id
GROUP BY f.cid ORDER BY f.cid
"""
    )


KMEANS_LLOYD_SQL = _kmeans_sql


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The embedding table is scanned KMEANS_ITERS+2 times (seed pick,
    # one assign per iteration, final assign) — checkpoint it once per
    # call instead of re-reading parquet per Lloyd round (3.6 vs 3.9 s
    # at sf0.1 without it). A localCheckpoint, not a persist: a session
    # cache would match the next call's plan and serve seeds from a
    # rewritten embeddings file; the blocks go when the result does.
    # load_parallel before the checkpoint: assignment evaluates K
    # interpreted 64-dim distance folds per row, and the checkpointed
    # partitioning IS the scan partitioning — a 2-file scan would pin
    # every Lloyd round to 2 cores (slope sweep: 7.6-8.2 s at sf1
    # before, 3.3 s after).
    emb = _checkpoint(load_parallel(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    seeds = emb.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    cents = [[float(x) for x in r.embedding] for r in seeds]
    for _ in range(KMEANS_ITERS):
        assigned = _assign(emb, cents)
        comp = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("centroid")
            )
        )
        new = {r.cid: list(r.centroid) for r in comp.collect()}
        cents = [new.get(i, cents[i]) for i in range(KMEANS_K)]
    final = _assign(emb, cents)
    norm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg(norm), 6).alias("avg_member_norm"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension distribution profile of the
# embedding table: mean, std, min/max per coordinate. The embedding-
# table health check (dead dimensions, scale drift between encoder
# versions, un-normalized batches) run before any ANN index build.
# posexplode + groupBy(pos): one shuffle of (pos, val) pairs, output
# cardinality = vector width — the same distributed-vector-stats shape
# as label_centroid_norms, but corpus-global and moment-complete.
# ---------------------------------------------------------------------------

def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    return (
        exploded.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("dim_mean"),
            F.round(F.stddev_pop("val"), 6).alias("dim_std"),
            F.round(F.min("val"), 6).alias("dim_min"),
            F.round(F.max("val"), 6).alias("dim_max"),
        )
        .orderBy("pos")
    )


EMBEDDING_DIM_STATS_SQL = """
WITH e AS (
  SELECT t.pos - 1 AS pos, embedding[t.pos]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
)
SELECT pos, count(*) AS n,
       round(avg(val), 6) AS dim_mean,
       round(stddev_pop(val), 6) AS dim_std,
       round(min(val), 6) AS dim_min,
       round(max(val), 6) AS dim_max
FROM e GROUP BY pos ORDER BY pos
"""

# ---------------------------------------------------------------------------
# ann_recall_eval — the ANN completeness metric: recall@K of the LSH
# bucketed path against the exact brute-force top-K, per query. This is
# the query every ANN deployment runs before trusting the index; at
# 100 TB the exact side runs on a small held-out query sample (here: the
# same N_QUERIES sample) while the LSH side is the production path.
# Shape: both rankings reuse the shared single-pass formulations above;
# the comparison is a broadcast-sized join on (query_id, cand_id).
# ---------------------------------------------------------------------------

def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_bruteforce(spark, sf_dir)  # query_id, cand_id, cos_sim, rank
    # r13: shares lsh_ann_topk's sims front (eqNullSafe bucket keys —
    # one corpus bucket/norm pass instead of the duplicated pass the
    # inferred isnotnull(bucket) caused here too, guide §4.4).
    lshk = (
        _top_k(_lsh_bucket_sims(spark, sf_dir), TOP_K)
        .select("query_id", "cand_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(lshk, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(TOP_K), 4
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_EVAL_SQL = f"""
WITH sims_exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), exact AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id ASC) AS rank
    FROM sims_exact
  ) WHERE rank <= {TOP_K}
), b AS (
  SELECT e.vec_id, e.embedding, {_duck_bucket('e')} AS bucket
  FROM embeddings e
), sims_lsh AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM b WHERE vec_id < {N_QUERIES}) q
  JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
), lshk AS (
  SELECT query_id, cand_id, 1 AS hit FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id ASC) AS rn
    FROM sims_lsh
  ) WHERE rn <= {TOP_K}
)
SELECT e.query_id,
       CAST(sum(coalesce(l.hit, 0)) AS BIGINT) AS n_hits,
       round(sum(coalesce(l.hit, 0)) / {TOP_K}.0, 4) AS recall_at_k
FROM exact e
LEFT JOIN lshk l ON e.query_id = l.query_id AND e.cand_id = l.cand_id
GROUP BY e.query_id ORDER BY e.query_id
"""


# ---------------------------------------------------------------------------
# ivf_nprobe_sweep_eval — the IVF cost/recall tuning curve: recall@K
# and mean candidate count per query for nprobe in {1, 2, 4}. The IVF
# twin of lsh_band_tuning_eval (the LSH knob sweep): nprobe is THE
# 100 TB cost lever — candidates scored per query grow linearly with
# probed lists, so this curve is what decides the knob before paying
# for a full index scan-out. Shape: one assignment pass (each corpus
# vector → its single nearest list), one probe pass ranked once to
# max(nprobe), each (query, cand) pair scored ONCE; the sweep itself is
# a broadcast 3-row theta-join + per-config window over the already-
# scored front — no re-scan, no re-score per configuration.
# ---------------------------------------------------------------------------

_NPROBE_SWEEP = (1, 2, 4)


def ivf_nprobe_sweep_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _ivf_pairs(load_table(spark, sf_dir, "embeddings"), max(_NPROBE_SWEEP))
    sweep = F.broadcast(
        spark.createDataFrame([(n,) for n in _NPROBE_SWEEP], "nprobe int")
    )
    swept = pairs.join(sweep, pairs.probe_rank <= sweep.nprobe)
    w = W.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    ranked = swept.withColumn("rank", F.row_number().over(w))
    truth = knn_bruteforce(spark, sf_dir).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    topk_hit = (F.col("rank") <= TOP_K) & F.col("hit").isNotNull()
    return (
        ranked.join(truth, ["query_id", "cand_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("total_candidates"),
            F.round(
                F.count(F.lit(1)) / F.lit(float(N_QUERIES)), 4
            ).alias("mean_candidates"),
            F.sum(F.when(topk_hit, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum(F.when(topk_hit, 1).otherwise(0))
                / F.lit(float(N_QUERIES * TOP_K)),
                4,
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


IVF_NPROBE_SWEEP_EVAL_SQL = f"""
WITH exploded AS (
  SELECT label, t.pos, embedding[t.pos]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
), comp AS (
  SELECT label, pos, sum(val) / count(*) AS m
  FROM exploded GROUP BY label, pos
), cent AS (
  SELECT label AS list_id, list(m ORDER BY pos) AS centroid
  FROM comp GROUP BY label
), assign AS (
  SELECT cand_id, c_emb, list_id FROM (
    SELECT e.vec_id AS cand_id, e.embedding AS c_emb, cent.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos_lists('e.embedding', 'cent.centroid')} DESC,
                      cent.list_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, q_emb, list_id, rn AS probe_rank FROM (
    SELECT e.vec_id AS query_id, e.embedding AS q_emb, cent.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos_lists('e.embedding', 'cent.centroid')} DESC,
                      cent.list_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE rn <= {max(_NPROBE_SWEEP)}
), pairs AS (
  SELECT p.query_id, a.cand_id, p.probe_rank,
         {_duck_cos_lists('p.q_emb', 'a.c_emb')} AS cos_sim
  FROM probes p JOIN assign a USING (list_id)
  WHERE p.query_id <> a.cand_id
), sweep AS (
  SELECT unnest([{", ".join(str(n) for n in _NPROBE_SWEEP)}]) AS nprobe
), swept AS (
  SELECT s.nprobe, pr.query_id, pr.cand_id,
         row_number() OVER (PARTITION BY s.nprobe, pr.query_id
                            ORDER BY pr.cos_sim DESC, pr.cand_id ASC) AS rank
  FROM pairs pr JOIN sweep s ON pr.probe_rank <= s.nprobe
), sims_exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
  CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), truth AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, cand_id ASC) AS rank
    FROM sims_exact
  ) WHERE rank <= {TOP_K}
)
SELECT w.nprobe,
       count(*) AS total_candidates,
       round(count(*) / CAST({N_QUERIES} AS DOUBLE), 4) AS mean_candidates,
       CAST(sum(CASE WHEN w.rank <= {TOP_K} AND t.cand_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(sum(CASE WHEN w.rank <= {TOP_K} AND t.cand_id IS NOT NULL
                      THEN 1 ELSE 0 END)
             / CAST({N_QUERIES * TOP_K} AS DOUBLE), 4) AS recall_at_k
FROM swept w
LEFT JOIN truth t ON w.query_id = t.query_id AND w.cand_id = t.cand_id
GROUP BY w.nprobe ORDER BY w.nprobe
"""


# ---------------------------------------------------------------------------
# arrow_norm_stats — mapInArrow surface: per-batch pyarrow/numpy compute
# over the embedding column without pandas (the lowest-overhead Python
# escape hatch — RecordBatch in, RecordBatch out; the columns cross
# through vectors.py's Arrow↔numpy bridge, which never imports pandas).
# Per-label aggregation of L2 norms afterwards is plain DataFrame.
# At 100 TB the batch shape is the contract: O(batch) peak memory per
# task, no per-row Python calls, zero-copy Arrow buffers both ways.
# ---------------------------------------------------------------------------

def arrow_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def norms(batches):
        import numpy as np

        for batch in batches:
            # (n, dim) float64; a ragged batch raises (the embeddings
            # table is fixed-dimension, FIXTURES.md), a NULL row's norm
            # is NULL
            E, valid = V._arrow_to_numpy(batch.column("embedding"))
            l2 = np.sqrt((E**2).sum(axis=1))
            yield pa.RecordBatch.from_arrays(
                [batch.column("label"), V._numpy_to_arrow(l2, "double", valid)],
                ["label", "l2_norm"],
            )

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    out = emb.mapInArrow(norms, "label int, l2_norm double")
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("l2_norm"), 4).alias("avg_norm"),
        F.round(F.max("l2_norm"), 4).alias("max_norm"),
    )


ARROW_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS l2_norm
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       round(avg(l2_norm), 4) AS avg_norm,
       round(max(l2_norm), 4) AS max_norm
FROM n GROUP BY label
"""


# ---------------------------------------------------------------------------
# embedding_covariance — distributed second-moment statistics over the
# embedding matrix: per-dimension means plus the upper triangle of the
# 4×4 covariance (and correlation) of the leading dimensions. This is
# the X^T X building block of PCA / whitening, expressed as one
# partial-combinable aggregate: each partition accumulates sums /
# cross-products, one 1-row exchange merges them — the exact pattern
# that scales a full d×d Gram matrix to 100 TB (for large d, swap the
# per-pair built-ins for a mapInPandas partial outer-product with the
# same merge shape). Float32 elements are cast to double BEFORE any
# arithmetic so Spark and DuckDB accumulate identically.
# ---------------------------------------------------------------------------

_COV_DIMS = 4


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = [
        F.element_at("embedding", i + 1).cast("double").alias(f"x{i + 1}")
        for i in range(_COV_DIMS)
    ]
    proj = emb.select(*d)
    aggs = [
        F.round(F.avg(f"x{i + 1}"), 6).alias(f"mean_{i + 1}")
        for i in range(_COV_DIMS)
    ]
    for i in range(1, _COV_DIMS + 1):
        for j in range(i, _COV_DIMS + 1):
            aggs.append(
                F.round(F.covar_pop(f"x{i}", f"x{j}"), 6).alias(f"cov_{i}_{j}")
            )
            if i != j:
                aggs.append(
                    F.round(F.corr(f"x{i}", f"x{j}"), 6).alias(f"corr_{i}_{j}")
                )
    return proj.agg(*aggs)


def _cov_sql() -> str:
    cols = [
        f"round(avg(x{i}), 6) AS mean_{i}" for i in range(1, _COV_DIMS + 1)
    ]
    for i in range(1, _COV_DIMS + 1):
        for j in range(i, _COV_DIMS + 1):
            cols.append(f"round(covar_pop(x{i}, x{j}), 6) AS cov_{i}_{j}")
            if i != j:
                cols.append(f"round(corr(x{i}, x{j}), 6) AS corr_{i}_{j}")
    proj = ", ".join(
        f"embedding[{i}]::DOUBLE AS x{i}" for i in range(1, _COV_DIMS + 1)
    )
    return (
        "WITH proj AS (SELECT " + proj + " FROM embeddings)\n"
        "SELECT " + ",\n       ".join(cols) + "\nFROM proj"
    )


EMBEDDING_COVARIANCE_SQL = _cov_sql()


# ---------------------------------------------------------------------------
# arrow_label_centroids — Spark 4 `applyInArrow` (grouped-map over
# pyarrow Tables; the Arrow-native sibling of applyInPandas and of
# mapInArrow above): per-label embedding centroid norm computed with
# numpy on zero-copy Arrow buffers, read and written through
# vectors.py's bridge, so no pandas is loaded. Grouped-map semantics
# mean one Table per label lands in Python after the hash shuffle — the
# pattern for per-group native-code kernels (faiss, BLAS) without
# pandas. Oracle: plain per-dimension SQL aggregation.
# ---------------------------------------------------------------------------


def arrow_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def centroid(table: pa.Table) -> pa.Table:
        import numpy as np

        E, valid = V._arrow_to_numpy(table.column("embedding"))
        labels, _ = V._arrow_to_numpy(table.column("label"))
        mean = E[valid].mean(axis=0)
        norm = round(float(np.sqrt((mean**2).sum())), 6)
        return pa.Table.from_arrays(
            [
                V._numpy_to_arrow(labels[:1], "int32"),
                V._numpy_to_arrow(np.array([table.num_rows]), "int64"),
                V._numpy_to_arrow(np.array([norm]), "double"),
            ],
            ["label", "n_vecs", "centroid_norm"],
        )

    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return emb.groupBy("label").applyInArrow(
        centroid, "label int, n_vecs long, centroid_norm double"
    )


ARROW_LABEL_CENTROIDS_SQL = """
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim_i,
         unnest(embedding) AS x
  FROM embeddings
), per_dim AS (
  SELECT label, dim_i, avg(x) AS mean_x FROM exploded GROUP BY label, dim_i
), norms AS (
  SELECT label, sqrt(sum(mean_x * mean_x)) AS centroid_norm
  FROM per_dim GROUP BY label
), sizes AS (
  SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
)
SELECT label, n_vecs, round(centroid_norm, 6) AS centroid_norm
FROM sizes JOIN norms USING (label)
"""


# ---------------------------------------------------------------------------
# negative_sampling_pairs — contrastive-training data prep: for each
# anchor vector, k deterministic hard-ish negatives drawn from OTHER
# labels. Scalable shape: candidates are hash-bucketed once (256
# buckets — sized so every bucket holds all labels at this SF; at 100 TB
# the bucket count grows with the data), each anchor probes only its own
# bucket, and the per-anchor
# top-k is a window over md5(anchor, candidate) — so the join is
# O(n × bucket_size), never the O(n²) all-pairs cross join, and the
# selection is reproducible across engines and runs (hash order, not
# RNG). The same bucket-probe shape backs the LSH ANN queries above.
# ---------------------------------------------------------------------------

_NEG_K = 4

# Bucket count scales with the corpus (1 md5 hex char = 16 buckets per
# tier step, ×16 buckets per tier): a FIXED bucket count makes the
# bucket self-join O(n²/buckets) — at sf1 the 16-bucket version built
# 25 M pairs (24 s); two hex chars cut it 16×. Tier thresholds keep
# worst-case bucket occupancy ≥ ~16 so every anchor still finds
# >= _NEG_K cross-label negatives. Shared with the oracle via CASE on
# the same count, like NEAR_DUP_TIERS.
_NEG_MAX_CHARS = 3
_NEG_BUCKET_TIERS = ((4096, 1), (65536, 2), (None, _NEG_MAX_CHARS))


def _neg_bucket(spark: SparkSession, sf_dir: str) -> Column:
    """Tiered md5 bucket of vec_id: the first _NEG_BUCKET_TIERS hex
    chars for the embeddings row count (shared with
    hard_negative_mining)."""
    chars = _tier_pct(table_rows(spark, sf_dir, "embeddings"), _NEG_BUCKET_TIERS)
    return F.substring(F.md5(F.col("vec_id").cast("string")), 1, chars)


def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    bucket = _neg_bucket(spark, sf_dir)
    anchors = emb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        bucket.alias("bucket"),
    )
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        bucket.alias("bucket"),
    )
    joined = anchors.join(cands, "bucket").filter(
        F.col("anchor_label") != F.col("cand_label")
    )
    pick = F.md5(
        F.concat_ws("|", F.col("anchor_id").cast("string"), F.col("cand_id").cast("string"))
    )
    w = W.partitionBy("anchor_id").orderBy(pick, "cand_id")
    ranked = joined.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _NEG_K
    )
    return ranked.groupBy("anchor_id", "anchor_label").agg(
        F.count(F.lit(1)).alias("n_negatives"),
        F.count_distinct("cand_label").alias("n_neg_labels"),
        F.min(pick).alias("first_pick_hash"),
    )


NEGATIVE_SAMPLING_PAIRS_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
e AS (
  SELECT vec_id, label,
         substr(md5(CAST(vec_id AS VARCHAR)), 1,
                CASE WHEN nn.n <= {_NEG_BUCKET_TIERS[0][0]} THEN {_NEG_BUCKET_TIERS[0][1]}
                     WHEN nn.n <= {_NEG_BUCKET_TIERS[1][0]} THEN {_NEG_BUCKET_TIERS[1][1]}
                     ELSE {_NEG_MAX_CHARS} END) AS bucket
  FROM embeddings CROSS JOIN nn
),
joined AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         md5(CAST(a.vec_id AS VARCHAR) || '|' || CAST(c.vec_id AS VARCHAR)) AS pick
  FROM e a JOIN e c ON a.bucket = c.bucket AND a.label != c.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY pick, cand_id) AS rn
  FROM joined
)
SELECT anchor_id, anchor_label,
       count(*) AS n_negatives,
       count(DISTINCT cand_label) AS n_neg_labels,
       min(pick) AS first_pick_hash
FROM ranked WHERE rn <= {_NEG_K}
GROUP BY anchor_id, anchor_label
"""


# ---------------------------------------------------------------------------
# tree_covariance — the same covariance/correlation statistics computed
# through RDD treeReduce: per-partition numpy partials (n, Σx, Σxxᵀ)
# merged HIERARCHICALLY (depth 2) instead of all partials flowing to
# the driver. On 1000 executors a flat reduce makes the driver merge
# 1000 moment matrices; treeReduce inserts an intermediate merge round
# so the driver sees √-ish fan-in — the pattern for any wide mergeable
# state (large sketches, gradient blocks) whose partials are too big
# for a driver fan-in. Shares embedding_covariance's oracle, so the
# hierarchical merge must agree with the one-pass SQL aggregate.
# ---------------------------------------------------------------------------


def _tree_moments(spark: SparkSession, sf_dir: str, k: int):
    """(mean, population covariance) of the first ``k`` embedding dims:
    per-partition numpy partials (n, Σx, Σxxᵀ) merged by treeReduce
    depth 2, so the driver receives O(executors) k×k partials."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select(
        F.array(
            *[F.element_at("embedding", i + 1).cast("double") for i in range(k)]
        ).alias("x")
    )

    def partial(rows):
        n, s, sp = 0, np.zeros(k), np.zeros((k, k))
        for r in rows:
            v = np.asarray(r["x"], dtype=np.float64)
            n += 1
            s += v
            sp += np.outer(v, v)
        yield (n, s, sp)

    def merge(a, b):
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    n, s, sp = proj.rdd.mapPartitions(partial).treeReduce(merge, depth=2)
    mean = s / n
    return mean, sp / n - np.outer(mean, mean)


def tree_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    k = _COV_DIMS
    mean, cov = _tree_moments(spark, sf_dir, k)
    std = np.sqrt(np.diag(cov))
    names, vals = [], []
    for i in range(k):
        names.append(f"mean_{i + 1}")
        vals.append(round(float(mean[i]), 6))
    for i in range(k):
        for j in range(i, k):
            names.append(f"cov_{i + 1}_{j + 1}")
            vals.append(round(float(cov[i, j]), 6))
            if i != j:
                names.append(f"corr_{i + 1}_{j + 1}")
                vals.append(round(float(cov[i, j] / (std[i] * std[j])), 6))
    schema = ", ".join(f"{c} double" for c in names)
    return spark.createDataFrame([tuple(vals)], schema)


# ---------------------------------------------------------------------------
# semdedup_prune — SemDeDup-style semantic deduplication (Abbas et al.
# 2023, arXiv:2303.09540): cluster the embedding space with a coarse
# quantizer, then prune within-cluster semantic duplicates. The
# deterministic keep rule — a vector is pruned iff an earlier-id vector
# in its cluster has cosine >= SEMDEDUP_TAU — replaces the paper's
# "keep farthest from centroid" tie-break so both engines agree
# bit-for-bit. Clusters come from the same per-label-mean coarse
# quantizer as ivf_ann_topk (deterministic, unlike k-means, so the
# oracle can rebuild it).
#
# Scale: centroids are K×dim and broadcast; assignment is a map-side
# argmin pass; the duplicate join is an equi-join on cluster_id, so the
# pair expansion is bounded per cluster — at 100 TB K grows with the
# corpus (the paper uses ~0.1% of N) keeping clusters ~constant-size,
# which is precisely why SemDeDup scales where all-pairs cosine cannot.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.3


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _broadcast_centroid_lists(emb).withColumnRenamed("list_id", "cluster_id")
    embn = emb.withColumn("nrm", V.norm_arrow()(F.col("embedding")))
    scored = embn.crossJoin(cent).select(
        "vec_id",
        "embedding",
        "nrm",
        "cluster_id",
        _cos("embedding", "centroid", "nrm", "cent_n").alias("c_sim"),
    )
    # same hash-aggregate argmin as ivf_ann_topk's assignment (min_by
    # on the (-sim, cluster_id) tie-broken key) — no corpus × K sort.
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.expr(
                "min_by(struct(embedding, nrm, cluster_id), "
                "struct(-c_sim, cluster_id))"
            ).alias("_b")
        )
        .select(
            "vec_id",
            F.col("_b.embedding").alias("embedding"),
            F.col("_b.nrm").alias("nrm"),
            F.col("_b.cluster_id").alias("cluster_id"),
        )
    )
    a, b = assign.alias("a"), assign.alias("b")
    # pair cosine is projected (not a join-condition residual) so the
    # Arrow UDF evaluates once per candidate pair post-join.
    dup = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            _cos("a.embedding", "b.embedding", "a.nrm", "b.nrm").alias("pair_sim"),
        )
        .filter(F.col("pair_sim") >= SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("pruned", F.lit(True))
    )
    return assign.join(dup, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.coalesce(F.col("pruned"), F.lit(False)).alias("is_pruned"),
    )


SEMDEDUP_PRUNE_SQL = f"""
WITH exploded AS (
  SELECT label, t.pos, embedding[t.pos]::DOUBLE AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(pos)
), comp AS (
  SELECT label, pos, sum(val) / count(*) AS m
  FROM exploded GROUP BY label, pos
), cent AS (
  SELECT label AS cluster_id, list(m ORDER BY pos) AS centroid
  FROM comp GROUP BY label
), assign AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, cent.cluster_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos_lists('e.embedding', 'cent.centroid')} DESC,
                      cent.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent
  ) WHERE rn = 1
), dup AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_duck_cos_lists('a.embedding', 'b.embedding')} >= {SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cluster_id, (d.vec_id IS NOT NULL) AS is_pruned
FROM assign a LEFT JOIN dup d ON a.vec_id = d.vec_id
"""


# ---------------------------------------------------------------------------
# pq_quantize_stats — product quantization (Jégou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split each vector into
# PQ_M subvectors, quantize every subvector against a per-subspace
# codebook, report per-(subspace, codeword) usage and reconstruction
# error. PQ is how a 100 TB embedding corpus fits an ANN index in RAM —
# M codes of one byte replace D floats (here 64 floats → 8 bytes, 32×).
# The codebooks are the per-label mean subvectors (same deterministic
# coarse-quantizer trick as ivf_ann_topk, so the oracle rebuilds them);
# production swaps in k-means-per-subspace, which kmeans_lloyd already
# demonstrates.
#
# Scale: codebooks are M×K×(D/M) floats — broadcast; assignment is a
# map-side argmin per subvector; the only shuffles are the two tiny
# codebook aggregates and the final (M×K)-row stats rollup.
# ---------------------------------------------------------------------------

PQ_M = 8     # subspaces
PQ_D = 8     # dims per subspace (embeddings are 64-dim)


def pq_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_parallel: the reconstruction-distance fold runs per
    # (vector, subspace, candidate code) — M*K interpreted evaluations
    # per vector — and rides the scan partitioning (slope-sweep hit
    # 4.0x for 10x on a 2-file scan; cluster splits provide the width).
    emb = load_parallel(spark, sf_dir, "embeddings")
    subs = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda s: F.slice("embedding", s * PQ_D + 1, F.lit(PQ_D)),
            )
        ).alias("sub_id", "subvec"),
    )
    ex = subs.select("sub_id", "label", F.posexplode("subvec").alias("pos", "val"))
    comp = ex.groupBy("sub_id", "label", "pos").agg(
        F.avg(F.col("val").cast("double")).alias("m")
    )
    cb = comp.groupBy("sub_id", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("codeword")
    )
    cb2 = cb.select("sub_id", F.col("label").alias("code"), "codeword")
    j = subs.select("vec_id", "sub_id", "subvec").join(F.broadcast(cb2), "sub_id")
    d2 = F.round(V.sq_dist(F.col("subvec"), F.col("codeword")), 6)
    scored = j.select("vec_id", "sub_id", "code", d2.alias("d2"))
    w = W.partitionBy("vec_id", "sub_id").orderBy(F.asc("d2"), F.asc("code"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("sub_id", "code").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("d2"), 4).alias("avg_sq_err"),
    )


PQ_QUANTIZE_STATS_SQL = f"""
WITH subs AS (
  SELECT vec_id, label, t.s AS sub_id,
         list_transform(range(1, {PQ_D} + 1),
                        p -> embedding[t.s * {PQ_D} + p]::DOUBLE) AS subvec
  FROM embeddings, unnest(range(0, {PQ_M})) AS t(s)
), ex AS (
  SELECT sub_id, label, u.p AS pos, subvec[u.p] AS val
  FROM subs, unnest(range(1, {PQ_D} + 1)) AS u(p)
), comp AS (
  SELECT sub_id, label, pos, avg(val) AS m
  FROM ex GROUP BY sub_id, label, pos
), cb AS (
  SELECT sub_id, label AS code, list(m ORDER BY pos) AS codeword
  FROM comp GROUP BY sub_id, label
), scored AS (
  SELECT s.vec_id, s.sub_id, c.code,
         round(list_sum(list_transform(range(1, {PQ_D} + 1),
               i -> (s.subvec[i] - c.codeword[i]) * (s.subvec[i] - c.codeword[i]))),
               6) AS d2
  FROM subs s JOIN cb c USING (sub_id)
), best AS (
  SELECT vec_id, sub_id, code, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2 ASC, code ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT sub_id, code, count(*) AS n_vecs, round(avg(d2), 4) AS avg_sq_err
FROM best GROUP BY sub_id, code
"""


# ---------------------------------------------------------------------------
# pca_explained_variance — full-dimension PCA spectrum over the
# embedding table: the 64×64 covariance is built distributed (the
# tree_covariance pattern scaled to all dims — per-partition numpy
# moment partials, treeReduce depth-2 fan-in, so the driver receives
# O(executors) 64×64 partials, never rows), then the symmetric
# eigendecomposition runs driver-side on the 64×64 matrix — 33 KB of
# state, the same bounded-driver-state argument as k-means centroids
# and BPE vocab. Output: per-component eigenvalue, explained-variance
# ratio, cumulative ratio — the "how many dims does this embedding
# space really use" diagnostic run before choosing PQ subspaces or an
# IVF codebook.
#
# Rows-only: eigendecomposition is not one-query SQL (DuckDB has no
# eig), so the driver records the rows-only check; the pytest pins the
# spectrum against identities the SQL side CAN state — eigenvalue sum
# = covariance trace, non-negativity/PSD, descending order, and
# reconstruction ‖C − VΛVᵀ‖∞ ≈ 0. np.linalg.eigh is deterministic for
# a fixed input matrix, and the matrix itself is an exact integer-free
# float sum whose treeReduce merge order is fixed by partitioning.
# ---------------------------------------------------------------------------

_PCA_DIMS = 64


def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    _, cov = _tree_moments(spark, sf_dir, _PCA_DIMS)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    evals = np.maximum(evals, 0.0)  # clip numerical negatives
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for i, ev in enumerate(evals):
        cum += float(ev)
        rows.append(
            (
                i + 1,
                round(float(ev), 6),
                round(float(ev) / total, 6),
                round(cum / total, 6),
            )
        )
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained double, cumulative double"
    )


def pca_variance_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable projection of the PCA spectrum (VERDICT r6
    item 2): sum of eigenvalues == trace of the covariance == sum of
    per-dimension variances — the right-hand side is plain SQL, so a
    hash-match certifies the distributed moments pipeline
    (`_tree_moments`: treeReduce of per-partition (n, Σx, Σxxᵀ)) end to
    end. The eigendecomposition itself (driver-side LAPACK over the
    64×64 covariance) stays rows-only in `pca_explained_variance`;
    this identity pins everything distributed about it."""
    import numpy as np

    _, cov = _tree_moments(spark, sf_dir, _PCA_DIMS)
    evals = np.linalg.eigvalsh(cov)  # unclipped: Σλ == trace exactly
    return spark.createDataFrame(
        [(int(_PCA_DIMS), round(float(evals.sum()), 4) + 0.0)],
        "n_components int, eigenvalue_sum double",
    )


PCA_VARIANCE_IDENTITY_SQL = f"""
WITH e AS (
  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
d AS (SELECT unnest(generate_series(1, {_PCA_DIMS})) AS j),
v AS (
  SELECT j, avg(x[j] * x[j]) - avg(x[j]) * avg(x[j]) AS var_j
  FROM e CROSS JOIN d GROUP BY j
)
SELECT CAST({_PCA_DIMS} AS INTEGER) AS n_components,
       round(sum(var_j), 4) + 0.0 AS eigenvalue_sum
FROM v
"""


# ---------------------------------------------------------------------------
# jl_distance_distortion — Johnson-Lindenstrauss random projection with
# a DETERMINISTIC ±1 sign matrix (Achlioptas-style database-friendly
# projection; sign(i, p) = parity of the first md5 nibble of "i|p", the
# same engine-neutral hash convention as SimHash — measured 0.50
# within-25% vs 0.56 for a true random matrix, where cheap linear
# integer hashes collapse to ~0.2 on this corpus), projecting 64 → 16
# dims and measuring pairwise squared-distance distortion on a
# deterministic adjacent-id pair sample. The operational question it
# answers at 100 TB: how much ANN recall do we buy losing by shrinking
# the embedding payload 4x before the shuffle-heavy stages?
#
# Scale shape: the sign matrix is data-independent, precomputed once at
# import and embedded as literals (a production run broadcasts it);
# the projection itself is map-only — no shuffle, each row zips its own
# 64-vector against 16 literal sign rows. The pair join is an equi-join
# on vec_id+1 and the final aggregate is order-free (count/min/max
# only — no double accumulation across rows).
# ---------------------------------------------------------------------------

JL_PLANES = 16
JL_DIM = 64


def _jl_sign_matrix() -> list[list[float]]:
    """signs[p][i] = +1.0 / -1.0 from md5(f"{i}|{p}") first-nibble parity."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{i}|{p}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(JL_DIM)
        ]
        for p in range(JL_PLANES)
    ]


_JL_SIGNS = _jl_sign_matrix()


def jl_distance_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_parallel(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _proj(p: int):
        sgn = F.array(*[F.lit(s) for s in _JL_SIGNS[p]])
        return V.dot(F.col("embedding"), sgn).alias(f"pj{p}")

    pr = emb.select("vec_id", "embedding", *[_proj(p) for p in range(JL_PLANES)])
    a = pr.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        *[F.col(f"pj{p}").alias(f"pa{p}") for p in range(JL_PLANES)],
    ).filter(F.col("ida") % 2 == 0)
    b = pr.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        *[F.col(f"pj{p}").alias(f"pb{p}") for p in range(JL_PLANES)],
    )
    j = a.join(b, F.col("idb") == F.col("ida") + 1)
    d2_orig = V.sq_dist(F.col("ea"), F.col("eb"))
    d2_proj = None
    for p in range(JL_PLANES):
        term = (F.col(f"pa{p}") - F.col(f"pb{p}")) * (
            F.col(f"pa{p}") - F.col(f"pb{p}")
        )
        d2_proj = term if d2_proj is None else d2_proj + term
    dist = (d2_proj / F.lit(float(JL_PLANES))) / d2_orig
    pairs = (
        j.withColumn("d2o", d2_orig)
        .filter(F.col("d2o") > 0)
        .withColumn("distortion", F.round(dist, 4))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.abs(F.col("distortion") - 1.0) <= 0.25, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_within_25pct"),
        F.min("distortion").alias("min_distortion"),
        F.max("distortion").alias("max_distortion"),
    )


def _jl_sql() -> str:
    def lst(p):
        return "[" + ", ".join(str(s) for s in _JL_SIGNS[p]) + "]"

    proj = ", ".join(
        f"""list_sum(list_transform(range(1, len(embedding) + 1),
      i -> embedding[i]::DOUBLE * ({lst(p)}::DOUBLE[])[i])) AS pj{p}"""
        for p in range(JL_PLANES)
    )
    d2p = " + ".join(
        f"(a.pj{p} - b.pj{p}) * (a.pj{p} - b.pj{p})" for p in range(JL_PLANES)
    )
    return f"""
WITH pr AS (
  SELECT vec_id, embedding, {proj}
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS ida,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
              * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE))) AS d2o,
         ({d2p}) AS d2p
  FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN abs(round((d2p / {float(JL_PLANES)}) / d2o, 4) - 1.0)
                          <= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_25pct,
       min(round((d2p / {float(JL_PLANES)}) / d2o, 4)) AS min_distortion,
       max(round((d2p / {float(JL_PLANES)}) / d2o, 4)) AS max_distortion
FROM pairs WHERE d2o > 0
"""


JL_DISTANCE_DISTORTION_SQL = _jl_sql


# ---------------------------------------------------------------------------
# dbscan_clusters — density-based clustering (DBSCAN, Ester et al. 1996)
# over the embedding corpus, with the eps-neighborhood relation REUSING
# the bucketed near-dup pair front (cos_sim >= NEAR_DUP_COS): core
# points have >= DBSCAN_MIN_PTS neighbors, clusters are connected
# components of the core-core subgraph, border points attach to the
# MINIMUM cluster id among their core neighbors (classic DBSCAN leaves
# border assignment scan-order-dependent; the min rule makes it
# deterministic and oracle-checkable), everything else is noise.
#
# Scale shape: neighbor generation is the plan-gated LSH bucket join
# (embeddings cross one exchange); everything after moves (vec_id,
# vec_id) scalars — degree count, core filter, the O(log n)-round CC
# loop, and one attach join. Output is the per-vector assignment table,
# the same grain as near_dup_clusters.
# ---------------------------------------------------------------------------

DBSCAN_MIN_PTS = 3


# embedding_near_dup's verified cosine pair front is consumed by its
# own registry entry (bound to embedding_near_dup_cached below — ADVICE
# r7 caught the entry still paying the uncached pass) AND
# dbscan_clusters — memoized like the text-side _lsh_pairs_cached /
# _linkage_pairs_cached (rule 3, SCALE.md) so a batch session
# (certification gate, sweep) pays the LSH-bucket + Arrow-dot
# verification pass once (~5.5 s at sf1).
_embedding_pairs_cached = memo(embedding_near_dup, ("embeddings",))


def embedding_near_dup_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry binding for ``embedding_near_dup``: same rows, but
    through the per-(app, sf_dir) memo so the second consumer in a
    batch session (dbscan_clusters) reuses the verified pair front
    instead of re-running the LSH + Arrow verification pass."""
    return _embedding_pairs_cached(spark, sf_dir)


def dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import (
        connected_components_star,
    )

    pairs = _embedding_pairs_cached(spark, sf_dir).select("vec_a", "vec_b")
    e = pairs.select(F.col("vec_a").alias("v"), F.col("vec_b").alias("nbr")).union(
        pairs.select(F.col("vec_b"), F.col("vec_a"))
    )
    deg = e.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # Eager-checkpoint the CC inputs: their lineage is FAT (Arrow-UDF
    # pair front + two semi-joins), and the propagation loop re-plans
    # its whole input tree every round — measured 2.1→13.2 s/round
    # plan-growth blowup by round 4 at sf0.1 without this, 0.3 s/round
    # with it (the checkpoint-cadence lesson from the CC rework, applied
    # caller-side: truncate BEFORE the loop when the base plan is deep).
    core = _checkpoint(deg.filter(F.col("c") >= DBSCAN_MIN_PTS).select("v"))
    ce = _checkpoint(
        pairs.join(core.withColumnRenamed("v", "vec_a"), "vec_a", "left_semi")
        .join(core.withColumnRenamed("v", "vec_b"), "vec_b", "left_semi")
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    # Star CC, not min-label propagation: the embedding core graph
    # chains (replica ladders of near-identical vectors link A~B~C
    # without A~C), so component DIAMETER — which propagation pays
    # round-for-round — is long where LSH text clusters are shallow.
    # Same decision rule as customer_golden_records; measured at
    # derived sf1 on this graph (19 966 core verts / 165 119 edges):
    # 13.6 s propagation vs 7.2 s star, 0 differing labels.
    with releasing(ce):
        comp = connected_components_star(
            core.select(F.col("v").alias("doc_id")), ce
        ).select(F.col("doc_id").alias("cv"), F.col("comp").alias("ccomp"))
    border = (
        e.join(core.withColumnRenamed("v", "nbr_is_core").alias("k"),
               F.col("nbr") == F.col("k.nbr_is_core"), "left_semi")
        .join(core, "v", "left_anti")
        .join(comp, F.col("nbr") == F.col("cv"))
        .groupBy("v")
        .agg(F.min("ccomp").alias("bcomp"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        emb.join(comp, emb.vec_id == comp.cv, "left")
        .join(border, emb.vec_id == border.v, "left")
        .select(
            "vec_id",
            F.when(F.col("ccomp").isNotNull(), "core")
            .when(F.col("bcomp").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("ccomp", "bcomp", F.lit(-1).cast("long")).alias(
                "cluster_id"
            ),
        )
    )


DBSCAN_CLUSTERS_SQL = (
    "WITH RECURSIVE pairs AS ("
    + EMBEDDING_NEAR_DUP_SQL
    + f"""),
e AS (
  SELECT vec_a AS v, vec_b AS nbr FROM pairs
  UNION ALL SELECT vec_b, vec_a FROM pairs
), deg AS (
  SELECT v, count(*) AS c FROM e GROUP BY v
), core AS (
  SELECT v FROM deg WHERE c >= {DBSCAN_MIN_PTS}
), ce AS (
  SELECT e.v AS src, e.nbr AS dst FROM e
  WHERE e.v IN (SELECT v FROM core) AND e.nbr IN (SELECT v FROM core)
), reach(v, r) AS (
  SELECT v, v FROM core
  UNION
  SELECT ce.dst, reach.r FROM reach JOIN ce ON ce.src = reach.v
), comp AS (
  SELECT v, min(r) AS ccomp FROM reach GROUP BY v
), border AS (
  SELECT e.v, min(comp.ccomp) AS bcomp
  FROM e JOIN comp ON e.nbr = comp.v
  WHERE e.v NOT IN (SELECT v FROM core)
  GROUP BY e.v
)
SELECT emb.vec_id,
       CASE WHEN comp.ccomp IS NOT NULL THEN 'core'
            WHEN border.bcomp IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(comp.ccomp, border.bcomp, -1) AS BIGINT) AS cluster_id
FROM embeddings emb
LEFT JOIN comp ON emb.vec_id = comp.v
LEFT JOIN border ON emb.vec_id = border.v
"""
)


# ---------------------------------------------------------------------------
# kcenter_seeds — farthest-point traversal (greedy k-center, the
# 2-approximation of Gonzalez 1985): start from the min vec_id, then
# k−1 times pick the vector farthest from the selected set (max of
# min-squared-distance, ties to min vec_id). The standard diversity /
# coreset seed selector for training-data subset curation — the
# opposite pull of SemDeDup's redundancy pruning. Fully deterministic:
# both engines fold identical doubles in identical order, so the
# argmax agrees bitwise (the same cross-engine contract every ANN
# query here relies on).
#
# Scale shape: k driver rounds; each is ONE map-only corpus pass (the
# selected set is k×64 literals — broadcast-by-construction) + a
# TakeOrdered(1). No shuffle ever carries embeddings; driver state is
# k rows. k scans of the corpus is the textbook trade of greedy
# k-center; for one-pass selection at extreme scale you'd switch to
# k-center++ style sampling, a different estimator.
# ---------------------------------------------------------------------------

KCENTER_K = 8


def _d2_to_literal(seed_vec):
    return V.sq_dist(
        F.col("embedding"), F.array(*[F.lit(float(v)) for v in seed_vec])
    )


def kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_parallel(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    seeds = [(0, int(first["vec_id"]), None, list(first["embedding"]))]
    for rnd in range(1, KCENTER_K):
        dists = [_d2_to_literal(v) for (_, _, _, v) in seeds]
        min_d2 = dists[0] if len(dists) == 1 else F.least(*dists)
        pick = (
            emb.withColumn("d2", min_d2)
            .orderBy(F.desc("d2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        seeds.append(
            (rnd, int(pick["vec_id"]), float(pick["d2"]), list(pick["embedding"]))
        )
    rows = [
        (r, v, round(d, 4) if d is not None else None)
        for (r, v, d, _) in seeds
    ]
    return spark.createDataFrame(
        rows, "sel_round int, vec_id long, min_d2 double"
    )


def _kcenter_sql() -> str:
    def dist(e, s):
        return (
            f"list_sum(list_transform(range(1, len({e}.embedding) + 1), "
            f"i -> ({e}.embedding[i]::DOUBLE - {s}.embedding[i]::DOUBLE) "
            f"* ({e}.embedding[i]::DOUBLE - {s}.embedding[i]::DOUBLE)))"
        )

    sql = [
        """WITH s0 AS (
  SELECT vec_id, embedding, CAST(NULL AS DOUBLE) AS d2 FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)"""
    ]
    for t in range(1, KCENTER_K):
        froms = ", ".join(f"s{j}" for j in range(t))
        dists = ", ".join(dist("e", f"s{j}") for j in range(t))
        sql.append(
            f""", s{t} AS (
  SELECT e.vec_id, e.embedding, least({dists}) AS d2
  FROM embeddings e, {froms}
  ORDER BY d2 DESC, e.vec_id ASC LIMIT 1
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {t} AS sel_round, vec_id, round(d2, 4) AS min_d2 FROM s{t}"
        for t in range(KCENTER_K)
    )
    return "\n".join(sql) + "\n" + union


KCENTER_SEEDS_SQL = _kcenter_sql


# ---------------------------------------------------------------------------
# knn_hubness_stats — hubness diagnostic of the embedding space
# (Radovanović et al., JMLR 2010): in high dimensions the k-NN
# in-degree distribution skews right — a few "hub" vectors appear in
# many neighbor lists while "anti-hubs" appear in none, which silently
# degrades every kNN-based dedup/retrieval decision. Measured here as
# the in-degree distribution of the exact kNN graph from a fixed
# 32-query probe set (constant work O(32·n) at any corpus size — the
# sample-the-queries pattern, not corpus²). Hub test uses the integer
# cross-multiplication indeg·n > 2·nq·k (no float threshold), and the
# in-degree skewness derives from exact integer moment sums over the
# whole corpus (anti-hub zeros included analytically).
# ---------------------------------------------------------------------------

HUB_QUERIES = 32
HUB_K = 10


def knn_hubness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness of the exact kNN graph from the HUB_QUERIES probe set,
    whose edges come from knn_bruteforce's grouped exact top-k. A query
    or candidate with a NULL embedding has no cosine and is skipped
    there, so it contributes no edge (the fixtures contain none)."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = _exact_topk(emb, sf_dir, HUB_QUERIES, HUB_K)
    indeg = edges.groupBy("cand_id").agg(F.count(F.lit(1)).alias("indeg"))
    n_row = emb.agg(F.count(F.lit(1)).alias("n"))
    # one aggregate over the in-degree table, so the kNN front runs once;
    # n_row on the outer side keeps n when there are no edges
    moments = indeg.crossJoin(F.broadcast(n_row)).agg(
        F.max("indeg").alias("max_indeg"),
        F.count(F.lit(1)).alias("touched"),
        F.sum("indeg").alias("s1"),
        F.sum(F.col("indeg") * F.col("indeg")).alias("s2"),
        F.sum(F.col("indeg") * F.col("indeg") * F.col("indeg")).alias("s3"),
        F.count_if(F.col("indeg") * F.col("n") > 2 * HUB_QUERIES * HUB_K).alias(
            "hub_cnt"
        ),
    )
    j = n_row.crossJoin(moments)
    # sqrt is correctly rounded (IEEE); pow(x, 1.5/3) is not guaranteed
    # bit-identical across libms — so the skew uses only * / sqrt.
    mu = F.col("s1") / F.col("n").cast("double")
    m2 = F.col("s2") / F.col("n").cast("double") - mu * mu
    m3 = (
        F.col("s3") / F.col("n").cast("double")
        - 3.0 * mu * F.col("s2") / F.col("n").cast("double")
        + 2.0 * mu * mu * mu
    )
    return j.select(
        F.lit(HUB_QUERIES).alias("n_queries"),
        F.lit(HUB_K).alias("k"),
        F.col("n").alias("n_corpus"),
        "max_indeg",
        F.col("hub_cnt"),
        (F.col("n") - F.col("touched")).alias("antihub_cnt"),
        F.round(
            F.when(m2 > 0.0, m3 / (m2 * F.sqrt(m2))).otherwise(0.0), 4
        ).alias("indeg_skewness"),
    )


KNN_HUBNESS_STATS_SQL = f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {_DUCK_COS} AS cos_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < {HUB_QUERIES}) q
  CROSS JOIN embeddings c
  WHERE q.vec_id <> c.vec_id
), edges AS (
  SELECT cand_id FROM (
    SELECT cand_id, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, cand_id ASC) AS rank
    FROM sims
  ) WHERE rank <= {HUB_K}
), indeg AS (
  SELECT cand_id, count(*) AS indeg FROM edges GROUP BY cand_id
), nn AS (SELECT count(*) AS n FROM embeddings),
mo AS (
  SELECT max(indeg) AS max_indeg, count(*) AS touched,
         CAST(sum(indeg) AS BIGINT) AS s1,
         CAST(sum(indeg * indeg) AS BIGINT) AS s2,
         CAST(sum(indeg * indeg * indeg) AS BIGINT) AS s3
  FROM indeg
), hub AS (
  SELECT count(*) AS hub_cnt FROM indeg, nn
  WHERE indeg * n > 2 * {HUB_QUERIES * HUB_K}
)
SELECT {HUB_QUERIES} AS n_queries, {HUB_K} AS k, n AS n_corpus,
       max_indeg, hub_cnt, n - touched AS antihub_cnt,
       round(CASE WHEN s2 / CAST(n AS DOUBLE) - mu * mu > 0.0
             THEN (s3 / CAST(n AS DOUBLE)
                   - 3.0 * mu * s2 / CAST(n AS DOUBLE)
                   + 2.0 * mu * mu * mu)
                / ((s2 / CAST(n AS DOUBLE) - mu * mu)
                   * sqrt(s2 / CAST(n AS DOUBLE) - mu * mu))
             ELSE 0.0 END, 4) AS indeg_skewness
FROM (SELECT mo.*, nn.n, s1 / CAST(nn.n AS DOUBLE) AS mu FROM mo, nn), hub
"""


# ---------------------------------------------------------------------------
# hard_negative_mining — contrastive-training pair mining (round 9):
# for each anchor vector, the _HN_K MOST-SIMILAR candidates with a
# DIFFERENT label inside the anchor's hash bucket. The similarity-
# ranked complement of negative_sampling_pairs (which picks hash-order
# "random" negatives): hard negatives near the decision boundary are
# what contrastive and reranker training actually wants.
#
# Scale shape: the identical tiered md5 bucketing as
# negative_sampling_pairs (_NEG_BUCKET_TIERS — bucket count grows with
# the corpus, so the bucket self-join stays O(n x bucket_size), never
# the O(n^2) all-pairs cross join a naive hard-negative miner does),
# norms precomputed per ROW below the pair join (knn pattern), cosine
# through the Arrow kernel, rounded JVM-side, per-anchor top-k via a
# bucket-partitionable window. At 100 TB the bucket key doubles as the
# shuffle key: pairs never leave their bucket until the final top-k.
# ---------------------------------------------------------------------------

_HN_K = 2


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", "embedding", _neg_bucket(spark, sf_dir).alias("bucket")
    ).filter(F.col("embedding").isNotNull())
    # Grouped bucket kernel (the embedding_near_dup pattern): the
    # join+dot formulation materialized every cross-label candidate
    # pair as a 2 x 64-double Arrow row (sf1: ~1.5 M pairs, 6.0 s);
    # here each vector crosses into Python once per bucket and only a
    # provable superset of the rounded top-k (~k+ties rows per anchor)
    # comes back. The authoritative round + rank stays JVM-side on the
    # returned rows — the kernel's raw-cosine cutoff (kth_raw -
    # V.RAW_COS_MARGIN) guarantees no candidate that could rank top-k
    # after F.round(.,6) is dropped (see bucket_hard_negative_kernel).
    cands = base.groupBy("bucket").applyInArrow(
        V.bucket_hard_negative_kernel(_HN_K),
        "anchor_id long, anchor_label int, neg_id long, "
        "neg_label int, cos_raw double",
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        cands.withColumn("cos_sim", F.round("cos_raw", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label",
                "cos_sim", "rank")
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
e AS (
  SELECT vec_id, label, embedding,
         substr(md5(CAST(vec_id AS VARCHAR)), 1,
                CASE WHEN nn.n <= {_NEG_BUCKET_TIERS[0][0]} THEN {_NEG_BUCKET_TIERS[0][1]}
                     WHEN nn.n <= {_NEG_BUCKET_TIERS[1][0]} THEN {_NEG_BUCKET_TIERS[1][1]}
                     ELSE {_NEG_MAX_CHARS} END) AS bucket
  FROM embeddings CROSS JOIN nn
  -- mirror the Spark twin's isNotNull filter (tier choice still uses
  -- the unfiltered count(*), same as _neg_bucket_chars(emb.count()));
  -- without this a null embedding would rank NULL cos_sim rows here
  -- while Spark silently drops them (ADVICE r9)
  WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
         c.vec_id AS neg_id, c.label AS neg_label,
         {_DUCK_COS} AS cos_sim
  FROM e q JOIN e c ON q.bucket = c.bucket AND q.label != c.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos_sim DESC, neg_id ASC) AS rank
  FROM pairs
)
SELECT anchor_id, anchor_label, neg_id, neg_label, cos_sim, rank
FROM ranked WHERE rank <= {_HN_K}
"""
