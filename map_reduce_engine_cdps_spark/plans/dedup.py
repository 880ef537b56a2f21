"""Deduplication queries over `documents`: exact, MinHash-LSH near-dup,
SimHash, n-gram Jaccard verification (training-data extensions; SURVEY.md
§7 step 7).

Scale design: every dedup here is shuffle-bounded by *buckets*, never by
O(n²) pairs — exact dedup hashes then groups; MinHash-LSH joins docs only
within a band bucket; Jaccard runs only on LSH candidates. At 100 TB the
band self-join is the standard bucketed-equi-join shape (AQE handles the
occasional hot bucket via skew-join splitting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from map_reduce_engine_cdps_spark.functions import text as TX
from map_reduce_engine_cdps_spark.operators.state import _checkpoint, fixpoint, memo, releasing
from map_reduce_engine_cdps_spark.sources.readers import load_parallel, load_table, table_rows

# Production MinHash/LSH constants — chosen from the measured tuning
# tables, not convention (VERDICT r5 item 6; sf0.1, round-6 run):
#
#   lsh_band_tuning_eval (b×r splits of 8 components, truth j>=0.5):
#     1×8: 31 cand, recall 0.775   — misses a quarter of true pairs
#     2×4: 39 cand, recall 0.975   — <-- production: near-full recall
#                                       at the smallest candidate front
#     4×2: 109 cand, recall 1.000  — +2.5 pts recall for 2.8x the
#                                       verify volume, S-curve p(0.7)
#                                       = 0.93: collides weak pairs,
#                                       the shape that explodes first
#                                       as corpus density grows
#     8×1: 12 924 cand, recall 1.0 — degenerate (332x the candidates)
#   => N_MINHASH=8, BAND_ROWS=4 (2 bands): the knee of the
#      recall/volume curve; capture p at j=0.7 is 0.42 so sub-
#      threshold mass stays out of the verify join.
#
#   shingle_size_sensitivity (widths 3/4/5, truth j>=0.5, 20% sample):
#     n=3: 14 pairs, median j 0.9841; n=4: 14, 0.9839; n=5: 14, 0.9836
#   => identical pair sets and indistinguishable medians — width does
#      not move precision on this corpus, so SHINGLE_N=3 takes the
#      cheapest hashing (fewest tokens per shingle; width 2 excluded —
#      measured degenerate, see shingle_size_sensitivity's header).
N_MINHASH = 8          # minhash components
BAND_ROWS = 4          # components per band → 2 bands
SHINGLE_N = 3          # 3-token shingles


def _with_shingles(docs: DataFrame) -> DataFrame:
    # Tokens as a column first: shingles() reads them 7 times, and
    # Catalyst cannot share an inline tokenizer (it holds a lambda).
    d = docs.withColumn("_tok", TX.tokens(F.col("text")))
    return d.withColumn("shingles", TX.shingles(F.col("_tok"), SHINGLE_N)).drop("_tok")


def _with_minhash_bands(docs: DataFrame) -> DataFrame:
    """Add minhash signature components + band keys, reproducible in any
    engine (md5-derived minima).

    Hashing cost is the whole game at corpus scale: instead of one md5
    evaluation per (shingle, component) — N_MINHASH passes of the
    expensive hash — each shingle is md5'd once per *group of four*
    components, and each 128-bit digest is split into four 8-hex-char
    (32-bit) chunks, one per component. The per-component minimum is
    then a cheap substring+min pass. 32-bit components are the standard
    MinHash width (collision probability 2^-32 per pair per component —
    negligible next to banding error).

    Callers pass a ``load_parallel`` frame: signature computation is
    the CPU-heavy stage (interpreted higher-order functions), and a
    single small parquet file would otherwise run it on one thread.
    """
    d = _with_shingles(docs)
    # NB: closures, not default-arg lambdas — F.transform treats a
    # two-parameter lambda as (element, index).
    def _md5_seeded(j: int):
        prefix = f"{j}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    def _chunk(c: int):
        pos = c * 8 + 1
        return lambda h: F.substring(h, pos, 8)

    n_hashes = (N_MINHASH + 3) // 4
    for j in range(n_hashes):
        d = d.withColumn(f"_hx{j}", F.transform("shingles", _md5_seeded(j)))
    for s in range(N_MINHASH):
        j, c = divmod(s, 4)
        d = d.withColumn(
            f"mh{s}", F.array_min(F.transform(f"_hx{j}", _chunk(c)))
        )
    n_bands = N_MINHASH // BAND_ROWS
    for b in range(n_bands):
        parts = [F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        d = d.withColumn(f"band{b}", F.md5(F.concat_ws("|", *parts)))
    # Shingle-identity hashes for the LSH verification path: 60-bit longs
    # derived from the FIRST signature digest (no extra md5 pass — set
    # identity only needs uniqueness, so sharing bits with mh0/mh1 is
    # fine). DuckDB twin: ('0x' || substr(md5('0|' || s), 1, 15))::BIGINT.
    d = d.withColumn(
        "sh_h",
        F.transform(
            "_hx0", lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        ),
    )
    return d.drop(*[f"_hx{j}" for j in range(n_hashes)])


# ---------------------------------------------------------------------------
# dedup_exact — exact dedup on content hash: survivors = min doc_id per
# fingerprint (hash-groupBy; the canonical 100 TB exact-dedup shape —
# shuffle carries (hash, doc_id), not text).
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# minhash_signatures — per-doc MinHash signature + band keys. Split out as
# its own oracle-checked query so the signature math (the hard part) is
# verified independently of the pair generation.
# ---------------------------------------------------------------------------

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    d = _with_minhash_bands(docs)
    return d.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.col("mh0"),
        F.col("mh1"),
        F.col("band0"),
        F.col("band1"),
    )


_DUCK_SHINGLES = """
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS toks
    FROM documents
  )
"""

_DUCK_MH = (
    "list_min(list_transform(shingles, "
    "s -> substr(md5('{j}|' || s), {off}, 8)))"
)


def _duck_bands_cte() -> str:
    mh_cols = ",\n         ".join(
        _DUCK_MH.format(j=s // 4, off=(s % 4) * 8 + 1) + f" AS mh{s}"
        for s in range(N_MINHASH)
    )
    n_bands = N_MINHASH // BAND_ROWS
    # concat_ws (not ||) so a null component degrades the same way as
    # Spark's F.concat_ws instead of nulling the whole band key.
    band_cols = ",\n         ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + f")) AS band{b}"
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
mh AS (
  SELECT doc_id, shingles, len(shingles) AS n_shingles,
         {mh_cols}
  FROM sh
),
bands AS (
  SELECT *,
         {band_cols}
  FROM mh
)
"""


MINHASH_SIGNATURES_SQL = (
    _duck_bands_cte()
    + "SELECT doc_id, n_shingles, mh0, mh1, band0, band1 FROM bands"
)


# ---------------------------------------------------------------------------
# minhash_lsh_pairs — near-duplicate candidate pairs via banded MinHash-LSH,
# then exact Jaccard verification on the candidates only. This is the
# not-O(n²) path: the self-join is an equi-join on the band key.
# ---------------------------------------------------------------------------

BUCKET_CAP = 256  # max docs scored per LSH bucket (degenerate-band guard)


def _lsh_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs scored bucket-locally — columns
    ``doc_a, doc_b, inter, n_a, n_b`` (intersection size + shingle-set
    sizes), all SCALARS. The shared front half of every MinHash
    consumer.

    Scale shape: posexplode the band keys (one signature pass over the
    corpus — a band self-join would re-evaluate the signature pipeline
    once per join side), shuffle ONCE on (band_idx, band) — the only
    exchange that ever carries shingle sets, and it carries each doc's
    set exactly once per band as an array of 8-byte hashed longs (never
    array<string>), linear in corpus size — then
    compute ``size(array_intersect)`` INSIDE the bucket-local pair
    expression. Everything downstream of the bucket (the pair-dedup
    exchange, every consumer) moves only the five scalars, so no pair
    row ever carries a shingle payload across an exchange and the plan
    cannot live on the spill boundary.

    Two guards bound the one array-carrying row:
    - buckets are truncated to their ``BUCKET_CAP`` smallest doc_ids
      (deterministic, mirrored in the DuckDB oracle), so a degenerate
      band key — e.g. a constant-text corpus slice hashing to one
      bucket — caps the collected row at ~CAP × shingle-set bytes and
      the pair fan-out at CAP²/2 instead of unbounded;
    - normal LSH buckets are tiny by construction (that is the point
      of banding); a corpus whose typical bucket approaches the cap
      means the banding parameters are mis-sized.
    """
    docs = load_parallel(spark, sf_dir, "documents")
    d = _with_minhash_bands(docs)
    n_bands = N_MINHASH // BAND_ROWS
    # Shingle sets cross the one exchange as 8-byte md5-derived 60-bit
    # ints (sh_h, derived in _with_minhash_bands from the signature
    # digest already computed — no extra hash pass), not ~20-byte
    # strings: ≥2.5x smaller shuffle payload, and set sizes and
    # intersections are preserved (a within-doc 60-bit collision is
    # ~2^-47 per doc, and the hash is identical in both engines so the
    # oracle agrees even then).
    banded = d.select(
        "doc_id",
        F.col("sh_h").alias("shingles"),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "b", "band"
        ),
    )
    # row_number streams through the sorted partition (no giant buffered
    # row), and the groupBy below reuses the window's (b, band) hash
    # partitioning — the cap costs a sort, not an extra exchange.
    w = W.partitionBy("b", "band").orderBy("doc_id")
    capped = (
        banded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BUCKET_CAP)
        .drop("rn")
    )
    buckets = (
        capped.groupBy("b", "band")
        .agg(F.collect_list(F.struct("doc_id", "shingles")).alias("members"))
        .filter(F.size("members") >= 2)
    )
    pair_expr = F.expr(
        """
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members)), n ->
            CASE WHEN m.doc_id < n.doc_id
                 THEN struct(m.doc_id AS da, n.doc_id AS db,
                             size(array_intersect(m.shingles, n.shingles)) AS inter,
                             size(m.shingles) AS na, size(n.shingles) AS nb)
                 ELSE struct(n.doc_id AS da, m.doc_id AS db,
                             size(array_intersect(m.shingles, n.shingles)) AS inter,
                             size(n.shingles) AS na, size(m.shingles) AS nb) END)))
        """
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(
            F.col("p.da").alias("doc_a"),
            F.col("p.db").alias("doc_b"),
            F.col("p.inter").alias("inter"),
            F.col("p.na").alias("n_a"),
            F.col("p.nb").alias("n_b"),
        )
        # A pair colliding in both bands is scored twice bucket-locally
        # (bounded 2x work) so this dedup exchange moves scalars only;
        # the scores are deterministic per pair, so either copy wins.
        .dropDuplicates(["doc_a", "doc_b"])
    )


# The RAW scored candidate front gets its own memo (round 10): it is
# now consumed both by minhash_lsh_pairs (jaccard >= 0.2 filter -> the
# pair memo) and by lsh_pair_precision_eval (unfiltered histogram), and
# a fresh instantiation re-pays the whole signature/banding codegen +
# scan.
_DOCS = ("documents",)
_lsh_scored_pairs_cached = memo(_lsh_scored_pairs, _DOCS)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard verification over the shared LSH candidate set."""
    cand = _lsh_scored_pairs_cached(spark, sf_dir)
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        cand.withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / union.cast("double"), 4),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


# Four registry queries (ngram_jaccard_topk, near_dup_clusters,
# edit_distance_pairs, cross_source_leakage) consume the same candidate
# pipeline; without this memo each one re-runs the full signature +
# banding + verification pass, so a batch of registry queries (the
# certification gate, bench.py) computes the pairs once. The checkpoint lives
# with the app's executors — at 100 TB this becomes a persisted parquet
# of the pair list, same shape.
_lsh_pairs_cached = memo(minhash_lsh_pairs, _DOCS)


# Shared candidate CTE tail: banded rows capped at BUCKET_CAP smallest
# doc_ids per (b, band) — mirroring the Spark-side row_number guard —
# then scalar-scored pairs (inter, n_a, n_b), mirroring the bucket-local
# scoring so the two engines gate on identical arithmetic.
_DUCK_SCORED_CAND = f"""
, banded AS (
  SELECT doc_id, sh_h, band, b FROM (
    SELECT doc_id,
           list_transform(shingles,
                          s -> ('0x' || substr(md5('0|' || s), 1, 15))::BIGINT) AS sh_h,
           band, b,
           row_number() OVER (PARTITION BY b, band ORDER BY doc_id) AS rn
    FROM (
      SELECT doc_id, shingles, band0 AS band, 0 AS b FROM bands
      UNION ALL
      SELECT doc_id, shingles, band1 AS band, 1 AS b FROM bands
    )
  ) WHERE rn <= {BUCKET_CAP}
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(len(list_intersect(a.sh_h, b.sh_h))) AS inter,
         any_value(len(a.sh_h)) AS n_a, any_value(len(b.sh_h)) AS n_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.b = b.b
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""

MINHASH_LSH_PAIRS_SQL = (
    _duck_bands_cte()
    + _DUCK_SCORED_CAND
    + """
SELECT doc_a, doc_b,
       round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) AS jaccard
FROM cand
WHERE round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) >= 0.2
"""
)


# ---------------------------------------------------------------------------
# minhash_containment — containment similarity |A∩B| / min(|A|,|B|)
# over the LSH candidate pairs. Jaccard misses doc-in-doc duplication
# (a small doc fully embedded in a large one has tiny union-relative
# overlap); containment normalizes by the smaller shingle set, so a
# full-subset pair scores 1.0 regardless of size skew. Same candidate
# pipeline as minhash_lsh_pairs (shared front half — one signature
# pass, bucket-local pair expansion), so the scale argument is
# unchanged; only the verification formula differs, and the threshold
# keeps pairs Jaccard would drop.
# ---------------------------------------------------------------------------

CONTAINMENT_MIN = 0.5


def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _lsh_scored_pairs_cached(spark, sf_dir)
    inter = F.col("inter").cast("double")
    smaller = F.least("n_a", "n_b").cast("double")
    union = (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.round(inter / smaller, 4).alias("containment"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )


MINHASH_CONTAINMENT_SQL = (
    _duck_bands_cte()
    + _DUCK_SCORED_CAND
    + f"""
, scored AS (
  SELECT doc_a, doc_b,
         round(inter::DOUBLE / least(n_a, n_b)::DOUBLE, 4) AS containment,
         round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) AS jaccard
  FROM cand
)
SELECT doc_a, doc_b, containment, jaccard
FROM scored WHERE containment >= {CONTAINMENT_MIN}
"""
)


# ---------------------------------------------------------------------------
# simhash_buckets — 16-bit SimHash per doc + exact-hash duplicate grouping
# (near-dup family; hash design in functions/text.py keeps it
# oracle-reproducible).
# ---------------------------------------------------------------------------

def _simhash_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — one tokenize pass, votes inline per
    (doc, term) pair (round-12 shape; history and A/B numbers on the
    inline comment below). Everything after the explode is plain
    codegen'd expressions + map-side-combined sums: the r5 dictionary
    variant already measured 2.6x over the single-pass
    higher-order-function fold (TX.simhash16, kept as the
    expression-level variant) at sf1; round 12 removes that variant's
    second tokenize pass and vocabulary join on top.
    """
    docs = load_parallel(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    ex = docs.select("doc_id", F.explode(tok).alias("tk"))
    # Round 12 (guide §2.3/§2.4): ONE tokenize pass. The r5-r11 shape
    # hashed the dictionary (distinct terms -> md5 votes -> broadcast
    # join back to the exploded stream), which re-planned the tokenize
    # + explode subtree on BOTH branches — column pruning makes the
    # vocab branch's scan differ from the join branch's, so not even
    # AQE exchange reuse can dedupe them, and the corpus was tokenized
    # twice per run. Now: partial-aggregate the token stream to
    # (doc_id, term, count) — map-side combined, so the one exchange
    # carries distinct pairs, not occurrences — and compute the md5
    # vote INLINE per pair row, weighting by count. Votes are ±1
    # integers and c·v sums are exact integer arithmetic, so the
    # result is bit-identical (sum over occurrences == sum of
    # count-weighted votes over distinct pairs). At 100 TB the md5
    # moves from |vocab| to |doc-term pairs| evaluations, but both are
    # embarrassingly parallel map work, the second full tokenize pass
    # (the real cost) is gone, and so is the vocabulary join that
    # outgrows the broadcast threshold on a real corpus. Interleaved
    # A/B (one session, 5 passes): sf0.1 1.473 -> 1.313 s median, sf1
    # 1.838 -> 1.727 s; identical output at both SFs (a
    # localCheckpoint branch-point variant and a count-weighted
    # vocab-join variant both measured slower — 1.393/2.061 s and
    # 1.561/1.917 s).
    exc = ex.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("c"))
    h = F.md5("tk")
    agg = exc.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("c")
                * F.when(F.substring(h, i + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    return agg.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for i in range(16)
            ]
        ).alias("simhash"),
    )


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = _simhash_per_doc(spark, sf_dir)
    return sim.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc_id")
    )


_DUCK_SIMHASH_CTE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         """ + " || ".join(
    f"""(CASE WHEN list_sum(list_transform(toks,
           x -> CASE WHEN substr(md5(x), {i}, 1) >= '8' THEN 1 ELSE -1 END)) > 0
         THEN '1' ELSE '0' END)"""
    for i in range(1, 17)
) + """ AS simhash
  FROM t
)
"""

SIMHASH_BUCKETS_SQL = _DUCK_SIMHASH_CTE + """
SELECT simhash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM sh GROUP BY simhash
"""


# ---------------------------------------------------------------------------
# simhash_hamming_pairs — SimHash near-dup PAIR search via the multi-index
# (banded) scheme of Manku/Jain/Sarma, "Detecting Near-Duplicates for Web
# Crawling" (WWW'07): a pair of f-bit fingerprints within Hamming distance
# k must agree EXACTLY on at least one of k+1 disjoint bit banks
# (pigeonhole), so candidate generation is an equi-join on (bank_id,
# bank_bits) — never an O(n²) scan. Reference near-dup intent:
# tasks/dedup_docs.py (hash-bucket grouping); this is the pair-level
# extension the reference's bucket grouping cannot express.
#
# Scale design: the join runs in the DISTINCT-FINGERPRINT space, not the
# doc space. A 16-bit simhash has ≤ 65 536 distinct values no matter the
# corpus size, so the candidate stage is CONSTANT-bounded (≤ 4 ·
# C(4096, 2) ≈ 33 M hash pairs worst-case) and the only corpus-sized
# stages are the simhash groupBy and the final count multiply. With a
# production 64-bit fingerprint the same plan applies with 4 × 16-bit
# banks; the distinct space then grows with the corpus and the standard
# mitigations (bucket caps, as in minhash_lsh_pairs) kick in.
# ---------------------------------------------------------------------------

SIMHASH_HAMMING_MAX = 3     # k: pairs within this Hamming distance
_SIMHASH_BANKS = 4          # k+1 banks of 16/4 = 4 bits each


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7 rework of the candidate stage, bit-identical output: (1) each
    # distinct fingerprint converts to its integer value ONCE, so bank
    # keys are `(sival >> shift) & 0xF` ints (not 4-char substrings)
    # and the per-pair Hamming distance is one codegen
    # bit_count(a XOR b) instead of 16 substring comparisons across
    # the ~33 M-row worst-case candidate front; (2) the ≤k filter runs
    # BEFORE the multi-bank distinct(), so the dedup exchange only
    # ever shuffles true near-pairs, never the full bucket join.
    # ('0'/'1'-string lexicographic order == integer order at fixed
    # width, so `sival <` reproduces the `simhash <` pair orientation.)
    sim = _simhash_per_doc(spark, sf_dir)
    hashes = (
        sim.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("sival", F.conv("simhash", 2, 10).cast("long"))
    )
    w = 16 // _SIMHASH_BANKS
    banked = hashes.select(
        "simhash",
        "n_docs",
        "sival",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bank"),
                        (
                            F.shiftright("sival", 16 - w * (b + 1))
                            .bitwiseAND(F.lit((1 << w) - 1))
                        ).alias("bits"),
                    )
                    for b in range(_SIMHASH_BANKS)
                ]
            )
        ).alias("bk"),
    ).select("simhash", "n_docs", "sival", "bk.bank", "bk.bits")
    a, b = banked.alias("a"), banked.alias("b")
    cand = a.join(
        b,
        (F.col("a.bank") == F.col("b.bank"))
        & (F.col("a.bits") == F.col("b.bits"))
        & (F.col("a.sival") < F.col("b.sival")),
    ).select(
        F.col("a.simhash").alias("simhash_a"),
        F.col("b.simhash").alias("simhash_b"),
        F.bit_count(
            F.col("a.sival").bitwiseXOR(F.col("b.sival"))
        ).cast("long").alias("hamming"),
        F.col("a.n_docs").alias("na"),
        F.col("b.n_docs").alias("nb"),
    )
    return (
        cand.filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
        .select(
            "simhash_a",
            "simhash_b",
            "hamming",
            (F.col("na") * F.col("nb")).alias("n_doc_pairs"),
        )
    )


SIMHASH_HAMMING_PAIRS_SQL = (
    _DUCK_SIMHASH_CTE
    + f"""
, hc AS (
  SELECT simhash, count(*) AS n_docs FROM sh GROUP BY simhash
), banked AS (
  SELECT simhash, n_docs, g.bank,
         substr(simhash, g.bank * 4 + 1, 4) AS bits
  FROM hc CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bank) g
), cand AS (
  SELECT DISTINCT a.simhash AS simhash_a, b.simhash AS simhash_b,
         a.n_docs AS na, b.n_docs AS nb
  FROM banked a JOIN banked b
    ON a.bank = b.bank AND a.bits = b.bits AND a.simhash < b.simhash
), scored AS (
  SELECT simhash_a, simhash_b,
         CAST("""
    + " + ".join(
        f"(CASE WHEN substr(simhash_a, {i}, 1) <> substr(simhash_b, {i}, 1) "
        "THEN 1 ELSE 0 END)"
        for i in range(1, 17)
    )
    + f""" AS BIGINT) AS hamming,
         CAST(na * nb AS BIGINT) AS n_doc_pairs
  FROM cand
)
SELECT simhash_a, simhash_b, hamming, n_doc_pairs
FROM scored WHERE hamming <= {SIMHASH_HAMMING_MAX}
"""
)


# ---------------------------------------------------------------------------
# ngram_jaccard_topk — top near-dup pair per document by exact shingle
# Jaccard among LSH candidates (window over candidate pairs).
# ---------------------------------------------------------------------------

def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_pairs_cached(spark, sf_dir)
    w = W.partitionBy("doc_a").orderBy(F.desc("jaccard"), F.asc("doc_b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_a", F.col("doc_b").alias("nearest_doc"), "jaccard")
    )


NGRAM_JACCARD_TOPK_SQL = (
    "WITH pairs AS (" + MINHASH_LSH_PAIRS_SQL + """
), ranked AS (
  SELECT doc_a, doc_b, jaccard,
         row_number() OVER (PARTITION BY doc_a
                            ORDER BY jaccard DESC, doc_b ASC) AS rn
  FROM pairs
)
SELECT doc_a, doc_b AS nearest_doc, jaccard FROM ranked WHERE rn = 1
"""
)


# ---------------------------------------------------------------------------
# near_dup_clusters — the dedup *completion* step: connected components
# over the LSH near-dup pair graph, so transitively-linked duplicates
# collapse to one canonical doc (cluster id = min doc_id in component).
#
# Spark shape: iterative min-label propagation — per round, one equi-join
# of labels onto the edge list + a min-aggregate per vertex, with
# localCheckpoint truncating the lineage so round k doesn't replay rounds
# 1..k-1. Rounds are bounded by the graph diameter; near-dup components
# are shallow (dup chains, not paths), so this converges in a handful of
# rounds. At 100 TB you would swap the body for the large-star/small-star
# rewrite (O(log n) rounds, same join primitive) and checkpoint to
# durable storage; the dataflow shape per round is identical.
# ---------------------------------------------------------------------------

def undirected_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst) in both directions of every (doc_a, doc_b) pair,
    partitioned by src, the key on which the per-round joins of
    connected_components, kcore_subgraph and bfs_hops probe it."""
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .repartition(F.col("src"))
    )


def connected_components(
    vertices: DataFrame, pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Min-label propagation over an undirected pair graph.

    ``vertices``: one column ``doc_id``; ``pairs``: columns
    ``doc_a, doc_b``, both endpoints in ``vertices`` (an endpoint
    outside it would gain a label row of its own). Returns (doc_id,
    comp) where comp is the minimum doc_id reachable from doc_id.
    Raises RuntimeError when the labels have not converged within
    ``max_rounds`` rounds. Factored out of near_dup_clusters so the
    convergence semantics are unit-testable on hand-built graphs.
    """
    # Undirected: propagate both ways. Materialized once, so each round
    # moves only the O(vertices) labels, not the O(edges) graph (at
    # sf10: 0.5 M labels vs 53 M edge rows).
    edges = undirected_edges(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    labels0 = vertices.select("doc_id", F.col("doc_id").alias("comp"))

    def _round(labels: DataFrame) -> DataFrame:
        # labels is O(vertices) — corpus-sized, so it must NEVER ride a
        # broadcast however small the toy SF makes it look to AQE (at
        # 100 TB the broadcast build runs out of memory). As the
        # shuffle_hash build side it lets edges stream through unsorted
        # and unshuffled (pre-partitioned by src); an SMJ would re-sort
        # the edge list every round. r13: one join per round — the
        # union-aggregate computes min(own label, neighbor labels) in
        # the exchange the neighbor aggregation needs anyway (bit-exact
        # vs the old aggregate + LEFT join back), partial-aggregated
        # map-side, so the shuffle carries O(vertices) per round.
        propagated = edges.join(
            labels.hint("shuffle_hash"), edges.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "comp")
        return (
            propagated.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
        )

    # Min-propagation only ever lowers labels, so sum(comp) decreases
    # strictly until the fixpoint: convergence is one scalar aggregate,
    # observed in each round's own checkpoint job. The last round's
    # checkpoint is the result; every earlier one is released as soon
    # as its successor exists (kept states once degraded repeated sf10
    # runs 11.5 s → 28.6 s).
    with releasing(edges):
        labels, converged = fixpoint(labels0, _round, (F.sum("comp"),), max_rounds)
    if not converged:
        with releasing(labels):
            raise RuntimeError(
                f"connected_components: no fixpoint in max_rounds={max_rounds}"
            )
    return labels


def connected_components_star(
    vertices: DataFrame, pairs: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Large-star / small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — the documented
    100 TB swap path for :func:`connected_components`. Converges in
    O(log n) rounds regardless of component DIAMETER, where min-label
    propagation needs diameter-many rounds: the right algorithm when
    dup chains are long (crawl snapshots with version ladders) rather
    than the shallow clusters LSH usually produces.

    Per round, two phases over the edge list only (labels never
    materialize until the end):
    - large-star: every node points its LARGER neighbors at its
      minimum neighborhood label, halving tall trees;
    - small-star: every node and its smaller neighbors collapse onto
      their common minimum, flattening stars.
    Both are one groupBy(min) + one equi-join — the same primitives,
    partitioning, and skew behavior as the propagation loop. Edges
    only ever re-point toward smaller labels, so (count, sum(src),
    sum(dst)) decreases monotonically and is a sound fixpoint check.
    Returns (doc_id, comp) with comp = min doc_id of the component;
    raises RuntimeError when the edges have not converged within
    ``max_rounds`` rounds.
    """
    # canonical direction: src > dst (self-loops dropped)
    e0 = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    signature = (
        F.count(F.lit(1)),
        F.coalesce(F.sum("src"), F.lit(0)),
        F.coalesce(F.sum("dst"), F.lit(0)),
    )

    def _round(e: DataFrame) -> DataFrame:
        # large-star over the symmetric view: m(u) = min(Γ(u) ∪ {u});
        # emit (v, m(u)) for neighbors v > u
        sym = e.select("src", "dst").union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m_u = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(m_u.hint("shuffle_hash"), "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on canonical edges: u's smaller neighbors and u
        # itself all re-point at m = min(Γ<(u)); u keeps an edge to m
        m_s = large.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            large.join(m_s.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("v"), F.col("m"), F.col("src").alias("u")
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("ed")
            )
            .select(
                F.greatest("ed.a", "ed.b").alias("src"),
                F.least("ed.a", "ed.b").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    # A star round stacks a union + two joins + an explode on the
    # previous plan (~6x lineage growth per round); fixpoint's per-round
    # checkpoint keeps every round's plan one round deep.
    e, converged = fixpoint(e0, _round, signature, max_rounds)
    # star forest: every node's comp is its (unique) smaller neighbor;
    # vertices without edges are their own component
    with releasing(e):
        if not converged:
            raise RuntimeError(
                f"connected_components_star: no fixpoint in max_rounds={max_rounds}"
            )
        roots = e.groupBy("src").agg(F.min("dst").alias("comp")).select(
            F.col("src").alias("doc_id"), "comp"
        )
        return _checkpoint(
            vertices.join(roots.hint("shuffle_hash"), "doc_id", "left")
            .select("doc_id", F.coalesce("comp", "doc_id").alias("comp"))
        )


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, max_rounds: int = 25
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(docs, pairs, max_rounds=max_rounds)
    return labels.select(
        "doc_id",
        F.col("comp").alias("cluster_id"),
        (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
    )


NEAR_DUP_CLUSTERS_SQL = (
    "WITH RECURSIVE pairs AS (" + MINHASH_LSH_PAIRS_SQL + """
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
)
SELECT v AS doc_id, min(r) AS cluster_id,
       (v = min(r)) AS is_canonical
FROM reach GROUP BY v
"""
)


def near_dup_clusters_star(
    spark: SparkSession, sf_dir: str, max_rounds: int = 20
) -> DataFrame:
    """`near_dup_clusters` computed via the large-star/small-star loop
    instead of min-label propagation — same clusters by definition
    (cluster_id = min doc_id of the connected component), so it shares
    the recursive-CTE oracle verbatim. Registered so the 100 TB swap
    path is driver-certified end-to-end, not just property-tested."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_star(docs, pairs, max_rounds=max_rounds)
    return labels.select(
        "doc_id",
        F.col("comp").alias("cluster_id"),
        (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
    )


NEAR_DUP_CLUSTERS_STAR_SQL = NEAR_DUP_CLUSTERS_SQL


# ---------------------------------------------------------------------------
# edit_distance_pairs — Levenshtein verification over the LSH candidate
# pairs (fuzzy-match confirmation, the character-level complement to
# shingle Jaccard). The O(len²) distance runs ONLY on candidates — the
# LSH stage bounds the pair count — and on a fixed-length prefix so the
# per-pair cost is capped. Built-in JVM levenshtein, no Python.
# ---------------------------------------------------------------------------

PREFIX_LEN = 80


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, PREFIX_LEN).alias("prefix")
    )
    pairs = _lsh_pairs_cached(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("prefix").alias("prefix_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("prefix_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.levenshtein("prefix_a", "prefix_b").alias("prefix_edit_dist"),
        )
    )


EDIT_DISTANCE_PAIRS_SQL = (
    "WITH pairs AS (" + MINHASH_LSH_PAIRS_SQL + f"""
)
SELECT doc_a, doc_b, jaccard,
       levenshtein(substr(da.text, 1, {PREFIX_LEN}),
                   substr(db.text, 1, {PREFIX_LEN})) AS prefix_edit_dist
FROM pairs
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
"""
)


# ---------------------------------------------------------------------------
# duplicate_spans — exact-substring dedup (Lee et al. 2022): flag docs
# containing verbatim w-token spans that also appear in other docs — the
# span-level complement to doc-level MinHash (a doc can be globally
# unique yet carry boilerplate paragraphs).
#
# Spark shape: explode positional window hashes (O(tokens) rows, but
# each row is just (md5, doc_id) — never text), one groupBy on whash to
# find cross-doc windows, one groupBy back on doc_id for the stats. At
# 100 TB the standard trick is hash-mod sampling (keep windows where
# crc32(whash) % k == 0) — an unbiased span-coverage estimate at 1/k
# shuffle cost; kept exact here so the oracle can verify bit-identical.
# ---------------------------------------------------------------------------

SPAN_W = 10


def _span_windows(docs: DataFrame, *keys: str) -> DataFrame:
    """(doc_id, keys…, whash): one row per positional SPAN_W-token
    window hash of `docs.text`."""
    return docs.select(
        "doc_id",
        *keys,
        F.explode(TX.window_hashes(TX.tokens(F.col("text")), SPAN_W)).alias("whash"),
    )


def _span_groups(wins: DataFrame) -> DataFrame:
    """(whash, sc, nd) per window hash: its per-(source, doc)
    occurrence counts as (source, cnt) structs, and its distinct-doc
    count."""
    per = wins.groupBy("whash", "source", "doc_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per.groupBy("whash").agg(
        F.collect_list(F.struct("source", "cnt")).alias("sc"),
        F.countDistinct("doc_id").alias("nd"),
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass span-dedup stats.

    The window-hash stream is computed ONCE (the prior three-consumer
    shape — shared-hash filter, per-doc totals, per-doc dup counts —
    re-evaluated the interpreted hash explode per consumer), and the
    scan is re-parallelized first because the explode is the CPU-heavy
    stage and a single small parquet file would pin it to one thread.
    Shape: groupBy (whash, doc_id) with map-side combine, collect the
    per-hash doc list (bounded by docs-per-window, the same bound the
    countDistinct carried), explode back, per-doc sums. Measured 124x
    at sf1 (508s -> 4.1s with the slice-based hash), identical rows.
    A pathologically hot boilerplate window means you want the
    hash-mod sampling estimate described above anyway.
    """
    wins = _span_windows(load_parallel(spark, sf_dir, "documents"))
    per = wins.groupBy("whash", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    g = per.groupBy("whash").agg(
        F.collect_list(F.struct("doc_id", "cnt")).alias("dc")
    )
    ex = g.select(
        F.explode("dc").alias("p"), (F.size("dc") >= 2).alias("dup")
    ).select(F.col("p.doc_id").alias("doc_id"), F.col("p.cnt").alias("cnt"), "dup")
    return (
        ex.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("dup"), F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4).alias(
                "dup_ratio"
            ),
        )
        .orderBy("doc_id")
    )


DUPLICATE_SPANS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(toks) - {SPAN_W - 1}, 0) + 1),
           i -> md5(array_to_string(toks[i : i + {SPAN_W - 1}], ' ')))) AS whash
  FROM t
), shared AS (
  SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
), totals AS (
  SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id
), dups AS (
  SELECT doc_id, count(*) AS n_dup_windows
  FROM w JOIN shared USING (whash) GROUP BY doc_id
)
SELECT totals.doc_id, n_windows, n_dup_windows,
       round(n_dup_windows * 1.0 / n_windows, 4) AS dup_ratio
FROM totals JOIN dups USING (doc_id)
ORDER BY totals.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_keep_best — the selection step that completes the dedup
# pipeline: within each exact-duplicate group keep the BEST document by
# an explicit quality policy (longest text, then smallest doc_id as the
# stable tie-break), not just the minimum id. One window over the
# fingerprint groups; the per-source kept/discarded rollup is what a
# curation report shows. Same policy slot accepts any quality score
# (quality_filter_flags, unigram_logprob_scores) at 100 TB.
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.md5("text").alias("fp")
    )
    w = W.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_discarded"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0)).alias(
            "kept_chars"
        ),
    )


DEDUP_KEEP_BEST_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discarded,
       CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked GROUP BY source
"""


# ---------------------------------------------------------------------------
# near_dup_prune — the selection step that completes the FUZZY dedup
# pipeline, the way dedup_keep_best completes the exact one: within
# each near-duplicate cluster (connected component of the MinHash-LSH
# pair graph, exactly near_dup_clusters' semantics) keep the BEST
# document (longest text, then smallest doc_id), and report the
# per-source kept/pruned rollup a curation run publishes.
#
# Scale shape: reuses the memoized LSH pair front + the checkpointed
# CC labels (both already 100 TB-shaped); on top it costs ONE join of
# the label table with (doc_id, source, n_chars) and one window over
# cluster_id — cluster sizes are bounded by the dup-group structure,
# never corpus-sized, so the window partitions stay small.
# ---------------------------------------------------------------------------


def near_dup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    clusters = near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = clusters.join(docs, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_pruned"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


NEAR_DUP_PRUNE_SQL = (
    "WITH clusters AS (" + NEAR_DUP_CLUSTERS_SQL + """
), ranked AS (
  SELECT d.doc_id, d.source, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked GROUP BY source ORDER BY source
"""
)


# ---------------------------------------------------------------------------
# duplicate_spans_sampled — the 100 TB execution path that
# duplicate_spans' header only DESCRIBED until now: hash-mod sampling
# of the window-hash stream (keep a window iff its md5 starts with
# nibble '0', an unbiased deterministic 1/16 sample under md5
# uniformity). Because sampling keys on the hash itself, ALL copies of
# a sampled span survive together — the shared-vs-unique split among
# sampled windows is an unbiased estimator of the true span-dup ratio
# at 1/16 of the shuffle volume. Rolled up per source (the grain a
# corpus-health dashboard reads; per-doc sampled counts are sparse).
# ---------------------------------------------------------------------------

SPAN_SAMPLE_NIBBLE = "0"  # keep md5-prefix matches: 1/16 of windows


def duplicate_spans_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    wins = _span_windows(load_parallel(spark, sf_dir, "documents"), "source")
    g = _span_groups(wins.filter(F.substring("whash", 1, 1) == SPAN_SAMPLE_NIBBLE))
    ex = g.select(F.explode("sc").alias("p"), (F.col("nd") >= 2).alias("dup"))
    return (
        ex.groupBy(F.col("p.source").alias("source"))
        .agg(
            F.sum("p.cnt").cast("long").alias("n_sampled_windows"),
            F.sum(F.when(F.col("dup"), F.col("p.cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_sampled"),
        )
        .select(
            "source",
            "n_sampled_windows",
            "n_dup_sampled",
            F.round(
                F.col("n_dup_sampled") / F.col("n_sampled_windows"), 4
            ).alias("est_dup_ratio"),
        )
        .orderBy("source")
    )


DUPLICATE_SPANS_SAMPLED_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), w AS (
  SELECT doc_id, source, whash FROM (
    SELECT doc_id, source,
           unnest(list_transform(
             range(1, greatest(len(toks) - {SPAN_W - 1}, 0) + 1),
             i -> md5(array_to_string(toks[i : i + {SPAN_W - 1}], ' ')))) AS whash
    FROM t
  ) WHERE substr(whash, 1, 1) = '{SPAN_SAMPLE_NIBBLE}'
), shared AS (
  SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sampled_windows,
       CAST(sum(CASE WHEN shared.whash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_sampled,
       round(CAST(sum(CASE WHEN shared.whash IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 4) AS est_dup_ratio
FROM w LEFT JOIN shared ON w.whash = shared.whash
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# span_sample_error_eval — the eval twin of duplicate_spans_sampled
# (the lsh_pair_recall_eval pattern): compute the EXACT per-source span
# dup ratio and the 1/16 hash-mod estimate from ONE window-hash pass,
# and report the absolute estimation error — so the estimator's
# unbiasedness is a measured artifact, not an asserted property. At
# 100 TB you run this eval on one shard to pick the sampling nibble
# width, then run only the sampled path on the corpus.
# ---------------------------------------------------------------------------


def span_sample_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    wins = _span_windows(load_parallel(spark, sf_dir, "documents"), "source")
    g = _span_groups(wins)
    ex = g.select(
        F.explode("sc").alias("p"),
        (F.col("nd") >= 2).alias("dup"),
        (F.substring("whash", 1, 1) == SPAN_SAMPLE_NIBBLE).alias("samp"),
    )
    agg = ex.groupBy(F.col("p.source").alias("source")).agg(
        F.sum("p.cnt").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("dup"), F.col("p.cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup"),
        F.sum(F.when(F.col("samp"), F.col("p.cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_sampled"),
        F.sum(
            F.when(F.col("dup") & F.col("samp"), F.col("p.cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_dup_sampled"),
    )
    exact = F.round(F.col("n_dup") / F.col("n_windows"), 4)
    est = F.round(F.col("n_dup_sampled") / F.col("n_sampled"), 4)
    return agg.select(
        "source",
        "n_windows",
        "n_sampled",
        exact.alias("exact_dup_ratio"),
        est.alias("est_dup_ratio"),
        # difference of two already-rounded doubles, then one final
        # quantize — identical inputs ⇒ identical result across engines
        F.round(F.abs(exact - est), 4).alias("abs_error"),
    ).orderBy("source")


SPAN_SAMPLE_ERROR_EVAL_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), w AS (
  SELECT doc_id, source,
         unnest(list_transform(
           range(1, greatest(len(toks) - {SPAN_W - 1}, 0) + 1),
           i -> md5(array_to_string(toks[i : i + {SPAN_W - 1}], ' ')))) AS whash
  FROM t
), shared AS (
  SELECT whash FROM w GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
), tagged AS (
  SELECT w.source,
         (shared.whash IS NOT NULL) AS dup,
         (substr(w.whash, 1, 1) = '{SPAN_SAMPLE_NIBBLE}') AS samp
  FROM w LEFT JOIN shared ON w.whash = shared.whash
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         CAST(sum(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         CAST(sum(CASE WHEN dup AND samp THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_sampled
  FROM tagged GROUP BY source
)
SELECT source, n_windows, n_sampled,
       round(CAST(n_dup AS DOUBLE) / n_windows, 4) AS exact_dup_ratio,
       round(CAST(n_dup_sampled AS DOUBLE) / n_sampled, 4) AS est_dup_ratio,
       round(abs(round(CAST(n_dup AS DOUBLE) / n_windows, 4)
               - round(CAST(n_dup_sampled AS DOUBLE) / n_sampled, 4)), 4)
         AS abs_error
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------------
# boilerplate_span_topk — WHAT is the boilerplate: the top-K most
# widely shared w-token spans (by distinct-doc count, then total
# occurrences), with their text recovered. Two-pass shape because
# carrying span text through the global aggregation would move
# O(corpus tokens × span bytes) through the shuffle: pass 1 aggregates
# scalar (whash, doc_id) rows and keeps only the K winning hashes
# (a bounded K-row collect — the documented exception to the
# no-collect rule) PLUS one exemplar doc_id per winner; pass 2 then
# re-tokenizes ONLY the <= K exemplar documents (doc_id IN (...)
# pushed to the parquet scan) to recover span text — every occurrence
# of a hash is the same text, so one containing doc suffices. The
# round-8 formulation re-derived spans for the WHOLE corpus in pass 2
# and filtered by broadcast hash afterwards: 2x the corpus tokenize
# for no extra information (7.7 -> ~4 s at sf1).
# ---------------------------------------------------------------------------

TOP_SPANS_K = 20


def boilerplate_span_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    top = (
        _span_windows(docs)
        .groupBy("whash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("exemplar"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("whash"))
        .limit(TOP_SPANS_K)
        .collect()  # bounded: at most TOP_SPANS_K scalar rows
    )
    top_df = spark.createDataFrame(
        [(r["whash"], r["n_docs"], r["n_occurrences"]) for r in top],
        "whash string, n_docs long, n_occurrences long",
    )
    exemplars = sorted({r["exemplar"] for r in top})
    spans = (
        docs.filter(F.col("doc_id").isin(exemplars))
        .select(
            F.explode(TX.pos_ngrams(TX.tokens(F.col("text")), SPAN_W)).alias("span")
        )
        .withColumn("whash", F.md5("span"))
        .join(F.broadcast(top_df), "whash")
        .select("whash", "span", "n_docs", "n_occurrences")
        .distinct()
    )
    return spans.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("whash")
    )


BOILERPLATE_SPAN_TOPK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(toks) - {SPAN_W - 1}, 0) + 1),
           i -> array_to_string(toks[i : i + {SPAN_W - 1}], ' '))) AS span
  FROM t
), g AS (
  SELECT md5(span) AS whash, any_value(span) AS span,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM w GROUP BY md5(span)
)
SELECT whash, span, n_docs, n_occurrences
FROM g WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, whash ASC
LIMIT {TOP_SPANS_K}
"""


# ---------------------------------------------------------------------------
# cross_source_leakage — contamination audit WITHIN the corpus: NEAR-
# duplicate pairs (the MinHash-LSH candidates with Jaccard ≥ 0.2, i.e.
# exactly minhash_lsh_pairs' semantics) whose two documents belong to
# DIFFERENT sources — the "training split leaks into the eval split"
# failure, distinct from `decontamination`'s external-benchmark
# anti-join. This corpus has no exact cross-source duplicates at all;
# leakage here is a near-dup phenomenon, so the audit runs on the LSH
# pair graph and rolls up per source pair. Costs one broadcast of the
# doc→source map on top of the candidate generation.
# ---------------------------------------------------------------------------


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _lsh_pairs_cached(spark, sf_dir)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(F.col("sa") != F.col("sb"))
    )
    return (
        tagged.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_leaked_pairs"),
            F.round(F.max("jaccard"), 4).alias("worst_jaccard"),
        )
    )


CROSS_SOURCE_LEAKAGE_SQL = (
    "WITH pairs AS (" + MINHASH_LSH_PAIRS_SQL + """)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_leaked_pairs,
       round(max(jaccard), 4) AS worst_jaccard
FROM pairs
JOIN documents da ON doc_a = da.doc_id
JOIN documents db ON doc_b = db.doc_id
WHERE da.source != db.source
GROUP BY 1, 2
"""
)


# ---------------------------------------------------------------------------
# dup_graph_triangles — triangle counting over the near-dup pair graph:
# the standard graph-health diagnostic for dedup candidate sets. A high
# triangle density means duplicate groups are tight cliques (safe to
# collapse via connected components); triangle-free stretches signal
# chains — border-line pairs transitively linking non-duplicates, the
# classic false-merge hazard for CC-based dedup.
#
# Scale: edges arrive canonically oriented (doc_a < doc_b — the LSH
# pair expansion emits each pair once), so the enumeration join
# e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) counts each triangle exactly once with
# no candidate blow-up beyond wedge count; both joins are equi-joins
# on edge endpoints. This is the degree-oriented formulation that
# parallelizes on any cluster; edge lists are candidate-bounded
# (output of banded LSH), not O(n²).
# ---------------------------------------------------------------------------

def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    # memo-derived sides — shuffle_hash prevents the sf10 misestimate
    # broadcast (SCALE.md rule 7, same as the graph.py wedge joins)
    wedges = e1.join(e2.hint("shuffle_hash"), "b")
    tris = wedges.join(e3.hint("shuffle_hash"), ["a", "c"])
    n_edges = edges.count()
    return tris.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.lit(n_edges).alias("n_edges"),
        F.round(
            F.count(F.lit(1)) * 3.0 / F.greatest(F.lit(n_edges), F.lit(1)), 4
        ).alias("closure_ratio"),
    )


DUP_GRAPH_TRIANGLES_SQL = (
    "WITH pairs AS (" + MINHASH_LSH_PAIRS_SQL + """
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
), tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT count(*) AS n_triangles,
       (SELECT count(*) FROM edges) AS n_edges,
       round(count(*) * 3.0 / greatest((SELECT count(*) FROM edges), 1), 4)
         AS closure_ratio
FROM tris
"""
)


# ---------------------------------------------------------------------------
# customer_record_linkage — entity resolution over STRUCTURED records
# (the text dedup family's relational sibling): block, then score only
# within-block pairs — name edit distance plus balance proximity — and
# report the per-block candidate/match funnel. Blocking is what makes
# record linkage scale, and its granularity must bound block size:
# nation × segment alone left 1 200-row blocks at the sf1 point (90 M
# levenshtein pairs, 7 min). The block key therefore includes a balance
# bucket, in the standard OFFSET DOUBLE-BUCKETING scheme: two grids of
# width 2×max_diff, the second shifted by half a grid — any pair within
# max_diff shares a bucket in at least one grid, so recall is exact
# while candidates stay O(n × bucket). A pair can co-occur in both
# grids; rather than deduplicating pair ROWS (an exchange carrying
# name payloads, measured 6.4x slope sf0.1->sf1), grid-1 emission is
# suppressed inline when the pair already shares a grid-0 bucket —
# both join sides carry bal_cents, so "same grid-0 bucket" is a
# stateless predicate and the dedup costs zero shuffle. Levenshtein
# (the per-pair CPU cost) is evaluated only where the balance gate
# passes: every aggregate that consults edit_d is conditioned on
# `matched`, which requires bal_diff <= max, so pairs outside the
# balance gate can skip the edit-distance evaluation entirely.
# ---------------------------------------------------------------------------

LINK_MAX_EDIT = 2
LINK_MAX_BAL_DIFF_CENTS = 10_000
_LINK_GRID_W = 2 * LINK_MAX_BAL_DIFF_CENTS


def _link_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer once per balance grid: (c_custkey, c_name,
    c_nationkey, c_mktsegment, bal_cents, grid, bb)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    grids = []
    for g, off in ((0, 0), (1, _LINK_GRID_W // 2)):
        grids.append(
            cust.select(
                "*",
                F.lit(g).alias("grid"),
                F.floor((F.col("bal_cents") + off) / _LINK_GRID_W).alias("bb"),
            )
        )
    return grids[0].unionByName(grids[1])


def _link_block_join(blocked: DataFrame) -> DataFrame:
    """Self-join of ``blocked`` (aliases a, b) on the block key with
    a.c_custkey < b.c_custkey, each candidate pair emitted once."""
    a, b = blocked.alias("a"), blocked.alias("b")
    same_g0_bucket = F.floor(F.col("a.bal_cents") / _LINK_GRID_W) == F.floor(
        F.col("b.bal_cents") / _LINK_GRID_W
    )
    return a.join(
        b,
        (F.col("a.grid") == F.col("b.grid"))
        & (F.col("a.bb") == F.col("b.bb"))
        & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
        # inline cross-grid dedup: a pair that shares a grid-0 bucket is
        # emitted by the grid-0 join row only (same candidate SET as
        # dropDuplicates(ka, kb), zero extra exchange).
        & ((F.col("a.grid") == 0) | ~same_g0_bucket),
    )


def customer_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _link_block_join(_link_blocked(spark, sf_dir)).select(
        F.col("a.c_nationkey").alias("nationkey"),
        F.col("a.c_mktsegment").alias("mktsegment"),
        F.col("a.c_name").alias("na"),
        F.col("b.c_name").alias("nb"),
        F.abs(F.col("a.bal_cents") - F.col("b.bal_cents")).alias("bal_diff"),
    )
    # edit_d is only consulted under the balance gate — evaluate
    # levenshtein on the gated subset, never on balance-rejected pairs.
    scored = pairs.select(
        "nationkey",
        "mktsegment",
        "bal_diff",
        F.when(
            F.col("bal_diff") <= LINK_MAX_BAL_DIFF_CENTS,
            F.levenshtein(F.col("na"), F.col("nb")),
        ).alias("edit_d"),
    )
    matched = (F.col("edit_d") <= LINK_MAX_EDIT) & (
        F.col("bal_diff") <= LINK_MAX_BAL_DIFF_CENTS
    )
    return scored.groupBy("nationkey", "mktsegment").agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(matched.cast("long")).alias("n_matches"),
        F.min(F.when(matched, F.col("edit_d"))).alias("best_edit_d"),
    )


CUSTOMER_RECORD_LINKAGE_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), blocked AS (
  SELECT c.*, g.grid,
         CAST(floor((bal_cents + CASE g.grid WHEN 0 THEN 0
                     ELSE {_LINK_GRID_W // 2} END)
                    / CAST({_LINK_GRID_W} AS DOUBLE)) AS BIGINT) AS bb
  FROM c CROSS JOIN (SELECT 0 AS grid UNION ALL SELECT 1) g
), pairs AS (
  SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
         a.c_name AS na, b.c_name AS nb,
         abs(a.bal_cents - b.bal_cents) AS bal_diff
  FROM blocked a JOIN blocked b
    ON a.grid = b.grid AND a.bb = b.bb
   AND a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
   AND (a.grid = 0 OR floor(a.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE))
                   <> floor(b.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE)))
), scored AS (
  SELECT nationkey, mktsegment, bal_diff,
         CASE WHEN bal_diff <= {LINK_MAX_BAL_DIFF_CENTS}
              THEN levenshtein(na, nb) END AS edit_d
  FROM pairs
)
SELECT nationkey, mktsegment,
       count(*) AS n_candidate_pairs,
       CAST(sum(CASE WHEN edit_d <= {LINK_MAX_EDIT}
                      AND bal_diff <= {LINK_MAX_BAL_DIFF_CENTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       min(CASE WHEN edit_d <= {LINK_MAX_EDIT}
                 AND bal_diff <= {LINK_MAX_BAL_DIFF_CENTS}
                THEN edit_d END) AS best_edit_d
FROM scored GROUP BY nationkey, mktsegment
"""


# ---------------------------------------------------------------------------
# lsh_pair_recall_eval — the index-trust metric for the TEXT dedup path
# (the sibling of ann_recall_eval on the embedding side): on a
# deterministic hash sample of the corpus, compute GROUND-TRUTH
# near-dup pairs by exact shingle Jaccard, then measure what fraction
# the LSH candidate front actually caught, bucketed by true similarity
# (banding recall rises with similarity — the s-curve — so per-bucket
# recall is the honest report; a single number hides the 0.5-0.6
# gray zone where banding is expected to miss).
#
# Scale shape: truth is quadratic ONLY within the sample and only
# among docs sharing a shingle — the sample rate is the cost knob, the
# corpus never self-joins. Truth pairs are generated bucket-locally
# (the minhash_lsh_pairs pattern: sorted member structs, pair explode
# inside the bucket row, scalar-only exchanges). Every metric is a
# ratio of integers (inter, set sizes, pair counts), so Spark and the
# DuckDB oracle compute bit-identical doubles — no float knife-edges.
# Uses the SAME raw-token shingle definition as the LSH signatures
# (TX.tokens, not clean_tokens) so truth and candidates measure the
# same similarity space.
# ---------------------------------------------------------------------------

RECALL_SAMPLE_PCT = 40  # deterministic hash sample: (doc_id*48271) % 100 < PCT
RECALL_TRUTH_J = 0.5

# Fixed-budget evaluation (round 6, sf10 probe finding): ground truth
# is BY DEFINITION quadratic in dup-group size, so a fixed sample RATE
# makes the truth front grow ~corpus² — measured 745 s at derived sf10
# (~100× the sf1 truth-pair count for 10× docs). The sample rate now
# shrinks on a count-derived tier (the NEAR_DUP_TIERS pattern: same
# scalar count, same CASE in the oracle), keeping the truth budget
# roughly constant beyond sf1. Every certified SF (≤ sf1: ≤100 k docs)
# stays at the original rate — results there are bit-identical.
_RECALL_SAMPLE_TIERS = ((100_000, RECALL_SAMPLE_PCT), (300_000, 20), (None, 10))
_SHINGLE_TIERS = ((100_000, 20), (300_000, 10), (None, 5))


def _tier_pct(n: int, tiers) -> int:
    """Value of the first ``(bound, value)`` tier with ``n <= bound``;
    the last tier's bound is None (unbounded). Also picks the LSH plane
    and bucket-char counts in plans/similarity.py."""
    for bound, value in tiers:
        if bound is None or n <= bound:
            return value
    raise AssertionError("unreachable")


def _tier_pct_sql(tiers) -> str:
    """The identical tier as a DuckDB scalar on the same count."""
    cases = " ".join(
        f"WHEN (SELECT count(*) FROM documents) <= {bound} THEN {pct}"
        for bound, pct in tiers
        if bound is not None
    )
    return f"(CASE {cases} ELSE {tiers[-1][1]} END)"


def _sampled_docs(docs: DataFrame, sf_dir: str, tiers) -> DataFrame:
    """The rows of ``docs`` (a frame of the ``documents`` table) in the
    deterministic doc_id sample at the tier's rate for the table's
    footer row count."""
    pct = _tier_pct(table_rows(docs.sparkSession, sf_dir, "documents"), tiers)
    return docs.filter(F.pmod(F.col("doc_id") * 48271, F.lit(100)) < pct)


def _pair_expand(ns_field: str):
    """In-bucket ordered pair expansion over a sorted `members`
    array<struct<doc_id, {ns_field}>> — the shuffle-free half of the
    bucket-local pair front (one struct per shared shingle)."""
    return F.expr(
        f"""
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members)), n ->
            struct(m.doc_id AS da, n.doc_id AS db,
                   m.{ns_field} AS na, n.{ns_field} AS nb))))
        """
    )


def _recall_truth_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled exact-Jaccard truth front (doc_a, doc_b, j ≥
    RECALL_TRUTH_J), memoized like _lsh_pairs_cached:
    lsh_pair_recall_eval and lsh_band_tuning_eval consume the IDENTICAL
    truth set (same 40% sample, width-3 shingles, same threshold), so
    it builds once. Built bucket-locally — groupBy(shingle) +
    in-bucket pair expansion, one shuffle — not as a shingle
    self-join: the join formulation re-shuffles every (pair, shared-
    shingle) row and measured 45 s vs 14 s at sf1 for the same output."""
    docs = _sampled_docs(
        load_table(spark, sf_dir, "documents"), sf_dir, _RECALL_SAMPLE_TIERS
    )
    sh = docs.select(
        "doc_id",
        F.explode(TX.shingles(TX.tokens(F.col("text")), 3)).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    buckets = (
        sh.join(sizes, "doc_id")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    return (
        buckets.select(F.explode(_pair_expand("n_sh")).alias("p"))
        .groupBy(F.col("p.da").alias("doc_a"), F.col("p.db").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("p.na").alias("n_a"),
            F.max("p.nb").alias("n_b"),
        )
        .withColumn(
            "j",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("j") >= RECALL_TRUTH_J)
        .select("doc_a", "doc_b", "j")
    )


_recall_truth_pairs = memo(_recall_truth_build, _DOCS)


def lsh_pair_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _recall_truth_pairs(spark, sf_dir)
    cand = _lsh_pairs_cached(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("caught")
    )
    # shuffle-hash, not broadcast: at large SFs the truth side is a
    # multi-million-row table whose size Catalyst underestimates —
    # building/shipping it as a driver broadcast measured 19.5 s at
    # sf10 where the shuffled hash join of the same inputs runs in
    # under a second (both sides are checkpointed scalar-key tables).
    joined = truth.hint("shuffle_hash").join(cand, ["doc_a", "doc_b"], "left")
    jbucket = (
        F.when(F.col("j") < 0.6, "0.5-0.6")
        .when(F.col("j") < 0.8, "0.6-0.8")
        .otherwise("0.8-1.0")
    )
    return (
        joined.groupBy(jbucket.alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("caught").alias("n_caught"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_caught").cast("double") / F.col("n_truth").cast("double"), 4
            ),
        )
    )


LSH_PAIR_RECALL_EVAL_SQL = (
    "WITH cand AS MATERIALIZED ("
    + MINHASH_LSH_PAIRS_SQL
    + f"""),
samp AS MATERIALIZED (
  SELECT doc_id, shingles FROM ({_DUCK_SHINGLES})
  WHERE (doc_id * 48271) % 100 < {_tier_pct_sql(_RECALL_SAMPLE_TIERS)} AND len(shingles) > 0
),
post AS (
  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM samp
),
tp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS inter, max(a.n_sh) AS n_a, max(b.n_sh) AS n_b
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b,
         round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) AS j
  FROM tp
  WHERE round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) >= {RECALL_TRUTH_J}
),
hit AS (
  SELECT t.j, (c.doc_a IS NOT NULL)::INT AS caught
  FROM truth t LEFT JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CASE WHEN j < 0.6 THEN '0.5-0.6'
            WHEN j < 0.8 THEN '0.6-0.8'
            ELSE '0.8-1.0' END AS j_bucket,
       count(*) AS n_truth,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       round(sum(caught)::DOUBLE / count(*)::DOUBLE, 4) AS recall
FROM hit GROUP BY 1
"""
)


# ---------------------------------------------------------------------------
# customer_golden_records — the survivorship stage of entity
# resolution (master-data-management's "golden record" build), closing
# the loop customer_record_linkage opens: matched record pairs →
# transitive-closure entity clusters (the same connected_components
# primitive the text dedup path uses) → one canonical record per
# multi-member entity under DETERMINISTIC survivorship rules (golden
# key = min custkey, canonical name = the min-key member's name via
# min_by, balance = cluster max, plus the member/segment counts a
# steward reviews). Blocking bounds the pair stage exactly as in the
# funnel query; the CC rounds move O(matched-vertices) labels only —
# matched pairs are a tiny fraction of customers, so the iteration
# state is far below corpus size.
# ---------------------------------------------------------------------------


LINK_BLOCK_CAP = 256


def _linkage_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key_a, key_b) pairs passing the linkage gates — the pair-level
    view of customer_record_linkage's aggregate funnel (same blocking,
    same predicates; see that query's header for the double-bucketing
    scheme).

    Blocks are deterministically truncated to their LINK_BLOCK_CAP
    smallest custkeys before pairing (the EMB_BUCKET_CAP pattern):
    the grid has a FIXED bucket count (12 225 occupied at sf1+), so
    block density — and the pair join — otherwise grows linearly with
    customers and pairs quadratically (measured: 734 k pairs at sf1 →
    80.2 M at sf10, blocks 90 → 900). 256 exceeds the hottest block at
    every certified SF (sf1: 90), so results are exact there; past it
    the cap is an explicit recall-for-boundedness trade mirrored
    bit-for-bit in the oracles."""
    blocked = (
        _link_blocked(spark, sf_dir)
        .withColumn(
            "rnb",
            F.row_number().over(
                W.partitionBy(
                    "grid", "bb", "c_nationkey", "c_mktsegment"
                ).orderBy("c_custkey")
            ),
        )
        .filter(F.col("rnb") <= LINK_BLOCK_CAP)
        .drop("rnb")
    )
    return (
        _link_block_join(blocked)
        # Gate levenshtein under the balance predicate EXPLICITLY (the
        # funnel query's F.when trick): a flat AND leaves Catalyst free
        # to evaluate the expensive edit distance on every candidate
        # pair — measured 15.1 s vs 7.1 s at sf1 for the same output.
        .filter(
            F.when(
                F.abs(F.col("a.bal_cents") - F.col("b.bal_cents"))
                <= LINK_MAX_BAL_DIFF_CENTS,
                F.levenshtein(F.col("a.c_name"), F.col("b.c_name")),
            )
            <= LINK_MAX_EDIT
        )
        .select(
            F.col("a.c_custkey").alias("doc_a"),
            F.col("b.c_custkey").alias("doc_b"),
        )
    )


# Memo of the matched-pair front, like _lsh_pairs_cached: the blocked
# join + gated levenshtein behind it (~19 s / 3.1 M candidates at
# derived sf1) is the dominant cost of BOTH consumers
# (customer_golden_records, blocking_overlap_eval) and of the multiple
# passes within each.
_linkage_pairs_cached = memo(_linkage_matched_pairs, ("customer",))


def customer_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _linkage_pairs_cached(spark, sf_dir)
    # vertices: only matched customers — singletons are already golden
    verts = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
    )
    # star CC, not min-label propagation: balance-proximity matching
    # chains records (A~B~C without A~C), so entity clusters can be
    # deep where LSH dup clusters are shallow — exactly the deep-chain
    # regime the Kiveris variant's O(log n) rounds are for (measured
    # 7.2 s vs 10.4 s at sf1 on these pairs, identical labels).
    comp = connected_components_star(verts, pairs)
    cust = load_table(spark, sf_dir, "customer")
    return (
        comp.join(cust, comp.doc_id == cust.c_custkey)
        .groupBy(F.col("comp").alias("golden_key"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr("min_by(c_name, c_custkey)").alias("canonical_name"),
            F.round(F.max("c_acctbal"), 2).alias("best_acctbal"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.max("c_custkey").alias("max_member_key"),
        )
    )


CUSTOMER_GOLDEN_RECORDS_SQL = f"""
WITH RECURSIVE c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), blocked AS (
  SELECT * FROM (
    SELECT b0.*, row_number() OVER (
      PARTITION BY grid, bb, c_nationkey, c_mktsegment
      ORDER BY c_custkey) AS rnb
    FROM (
      SELECT c.*, g.grid,
             CAST(floor((bal_cents + CASE g.grid WHEN 0 THEN 0
                         ELSE {_LINK_GRID_W // 2} END)
                        / CAST({_LINK_GRID_W} AS DOUBLE)) AS BIGINT) AS bb
      FROM c CROSS JOIN (SELECT 0 AS grid UNION ALL SELECT 1) g
    ) b0
  ) WHERE rnb <= {LINK_BLOCK_CAP}
), matched AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM blocked a JOIN blocked b
    ON a.grid = b.grid AND a.bb = b.bb
   AND a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
   AND (a.grid = 0 OR floor(a.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE))
                   <> floor(b.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE)))
  WHERE abs(a.bal_cents - b.bal_cents) <= {LINK_MAX_BAL_DIFF_CENTS}
    AND levenshtein(a.c_name, b.c_name) <= {LINK_MAX_EDIT}
), edges AS (
  SELECT ka AS src, kb AS dst FROM matched
  UNION
  SELECT kb, ka FROM matched
), verts AS (
  SELECT DISTINCT src AS v FROM edges
), reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v
), comp AS (
  SELECT v AS c_custkey, min(r) AS golden_key FROM reach GROUP BY v
)
SELECT golden_key,
       count(*) AS n_members,
       min_by(c_name, cu.c_custkey) AS canonical_name,
       round(max(c_acctbal), 2) AS best_acctbal,
       count(DISTINCT c_mktsegment) AS n_segments,
       max(cu.c_custkey) AS max_member_key
FROM comp JOIN customer cu USING (c_custkey)
GROUP BY golden_key
"""


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs — the OTHER classic record-linkage blocking
# paradigm (Hernandez & Stolfo's sorted-neighborhood method): sort the
# records on a proximity key and compare each record only to its next
# SN_WINDOW neighbors in sort order, instead of equi-joining on a block
# key. Implemented as the blocked-SN variant: the sort runs WITHIN
# (nation, segment) partitions, so the window pass is a standard
# partitioned Spark window — never a global single-partition sort —
# and each record emits exactly SN_WINDOW lead structs (candidate
# generation is O(n·w), independent of value skew; contrast the grid
# blocking in customer_record_linkage, where a hot balance bucket can
# quadratically inflate a block). Same match predicates as the funnel
# query, with levenshtein explicitly gated under the cheap balance
# predicate (see _linkage_matched_pairs).
# ---------------------------------------------------------------------------

SN_WINDOW = 5


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = W.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "bal_cents", "c_custkey"
    )
    led = cust.select(
        "c_custkey",
        "c_name",
        "bal_cents",
        *[
            c
            for i in range(1, SN_WINDOW + 1)
            for c in (
                F.lead("c_custkey", i).over(w).alias(f"k{i}"),
                F.lead("c_name", i).over(w).alias(f"nm{i}"),
                F.lead("bal_cents", i).over(w).alias(f"bc{i}"),
            )
        ],
    )
    leads = led.select(
        "c_custkey",
        "c_name",
        "bal_cents",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"k{i}").alias("k"),
                        F.col(f"nm{i}").alias("nm"),
                        F.col(f"bc{i}").alias("bc"),
                    )
                    for i in range(1, SN_WINDOW + 1)
                ]
            )
        ).alias("nb"),
    ).filter(F.col("nb.k").isNotNull())
    bal_diff = F.abs(F.col("bal_cents") - F.col("nb.bc"))
    matched = leads.filter(
        F.when(
            bal_diff <= LINK_MAX_BAL_DIFF_CENTS,
            F.levenshtein(F.col("c_name"), F.col("nb.nm")),
        )
        <= LINK_MAX_EDIT
    )
    return matched.select(
        F.least("c_custkey", "nb.k").alias("key_a"),
        F.greatest("c_custkey", "nb.k").alias("key_b"),
        F.levenshtein(F.col("c_name"), F.col("nb.nm"))
        .cast("long")
        .alias("edit_dist"),
        bal_diff.alias("bal_diff_cents"),
    )


SORTED_NEIGHBORHOOD_PAIRS_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), o AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_nationkey, c_mktsegment
    ORDER BY bal_cents, c_custkey) AS rn
  FROM c
)
SELECT least(a.c_custkey, b.c_custkey) AS key_a,
       greatest(a.c_custkey, b.c_custkey) AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist,
       CAST(abs(a.bal_cents - b.bal_cents) AS BIGINT) AS bal_diff_cents
FROM o a JOIN o b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND b.rn - a.rn BETWEEN 1 AND {SN_WINDOW}
WHERE abs(a.bal_cents - b.bal_cents) <= {LINK_MAX_BAL_DIFF_CENTS}
  AND levenshtein(a.c_name, b.c_name) <= {LINK_MAX_EDIT}
"""


# ---------------------------------------------------------------------------
# blocking_overlap_eval — head-to-head of the two linkage blocking
# paradigms over the SAME match predicates: the double-offset grid
# blocking (customer_record_linkage / _linkage_matched_pairs) vs
# sorted-neighborhood (sorted_neighborhood_pairs). Neither blocking is
# complete; their overlap/Jaccard quantifies how much recall each
# sacrifices, the number a pipeline owner needs before picking one at
# 100 TB (grid: skew-sensitive, window-free; SN: O(n·w) skew-immune,
# needs the sort). Full-outer join on the ordered pair key; all
# metrics are integer counts plus one final ratio.
# ---------------------------------------------------------------------------


def blocking_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = _linkage_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("key_a"), F.col("doc_b").alias("key_b")
    )
    sn = sorted_neighborhood_pairs(spark, sf_dir).select("key_a", "key_b")
    j = grid.withColumn("g", F.lit(1)).join(
        sn.withColumn("s", F.lit(1)), ["key_a", "key_b"], "full"
    )
    return j.agg(
        F.sum(F.coalesce("g", F.lit(0))).cast("long").alias("n_grid"),
        F.sum(F.coalesce("s", F.lit(0))).cast("long").alias("n_sn"),
        F.sum(
            F.when(F.col("g").isNotNull() & F.col("s").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        F.round(
            F.sum(
                F.when(
                    F.col("g").isNotNull() & F.col("s").isNotNull(), 1
                ).otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("jaccard"),
    )


BLOCKING_OVERLAP_EVAL_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), blocked AS (
  SELECT * FROM (
    SELECT b0.*, row_number() OVER (
      PARTITION BY grid, bb, c_nationkey, c_mktsegment
      ORDER BY c_custkey) AS rnb
    FROM (
      SELECT c.*, g.grid,
             CAST(floor((bal_cents + CASE g.grid WHEN 0 THEN 0
                         ELSE {_LINK_GRID_W // 2} END)
                        / CAST({_LINK_GRID_W} AS DOUBLE)) AS BIGINT) AS bb
      FROM c CROSS JOIN (SELECT 0 AS grid UNION ALL SELECT 1) g
    ) b0
  ) WHERE rnb <= {LINK_BLOCK_CAP}
), grid AS (
  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
  FROM blocked a JOIN blocked b
    ON a.grid = b.grid AND a.bb = b.bb
   AND a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
   AND (a.grid = 0 OR floor(a.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE))
                   <> floor(b.bal_cents / CAST({_LINK_GRID_W} AS DOUBLE)))
  WHERE abs(a.bal_cents - b.bal_cents) <= {LINK_MAX_BAL_DIFF_CENTS}
    AND levenshtein(a.c_name, b.c_name) <= {LINK_MAX_EDIT}
), o AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_nationkey, c_mktsegment
    ORDER BY bal_cents, c_custkey) AS rn
  FROM c
), sn AS (
  SELECT least(a.c_custkey, b.c_custkey) AS key_a,
         greatest(a.c_custkey, b.c_custkey) AS key_b
  FROM o a JOIN o b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND b.rn - a.rn BETWEEN 1 AND {SN_WINDOW}
  WHERE abs(a.bal_cents - b.bal_cents) <= {LINK_MAX_BAL_DIFF_CENTS}
    AND levenshtein(a.c_name, b.c_name) <= {LINK_MAX_EDIT}
), u AS (
  SELECT coalesce(g.key_a, s.key_a) AS key_a,
         coalesce(g.key_b, s.key_b) AS key_b,
         g.key_a IS NOT NULL AS in_g, s.key_a IS NOT NULL AS in_s
  FROM grid g FULL JOIN sn s
    ON g.key_a = s.key_a AND g.key_b = s.key_b
)
SELECT CAST(sum(CASE WHEN in_g THEN 1 ELSE 0 END) AS BIGINT) AS n_grid,
       CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sn,
       CAST(sum(CASE WHEN in_g AND in_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       round(sum(CASE WHEN in_g AND in_s THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS jaccard
FROM u
"""


# ---------------------------------------------------------------------------
# bbit_minhash_eval — b-bit minhash resemblance estimation (Li & König,
# "b-Bit Minwise Hashing", WWW'10) evaluated against exact Jaccard on
# the LSH candidate front: keep only the LOWEST BIT of each of the 8
# minhash components (64x smaller sketch than the 8x32-bit signature),
# estimate j from the bit-collision fraction c via the b=1 unbiasing
# j ≈ 2c − 1, and report the estimator's absolute error per true-
# similarity bucket. At 100 TB the storage/bandwidth of the signature
# table is a first-order cost; this query is the measurement that
# justifies (or kills) the 1-bit compression. Errors are quantized to
# integer 1e-4 units before summing so the MAE aggregate is order-free.
# ---------------------------------------------------------------------------


def bbit_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    d = _with_minhash_bands(docs)
    odd = F.array(*[F.lit(c) for c in "13579bdf"])
    bits = d.select(
        "doc_id",
        *[
            F.array_contains(odd, F.substring(f"mh{s}", 8, 1))
            .cast("int")
            .alias(f"bit{s}")
            for s in range(N_MINHASH)
        ],
    )
    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    a = bits.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"bit{s}").alias(f"a{s}") for s in range(N_MINHASH)],
    )
    b = bits.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"bit{s}").alias(f"b{s}") for s in range(N_MINHASH)],
    )
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    coll = None
    for s in range(N_MINHASH):
        term = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        coll = term if coll is None else coll + term
    jhat = F.greatest(
        F.lit(0.0), 2.0 * coll.cast("double") / N_MINHASH - 1.0
    )
    scored = j.select(
        "jaccard",
        F.round(jhat, 4).alias("jhat"),
    ).withColumn(
        "err_um",
        F.round(F.abs(F.col("jhat") - F.col("jaccard")) * 10000).cast("long"),
    )
    bucket = (
        F.when(F.col("jaccard") < 0.6, "0.2-0.6")
        .when(F.col("jaccard") < 0.8, "0.6-0.8")
        .otherwise("0.8-1.0")
    )
    return scored.groupBy(bucket.alias("j_bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("err_um") / (F.count(F.lit(1)) * 10000.0), 4).alias("mae"),
    )


BBIT_MINHASH_EVAL_SQL = (
    _duck_bands_cte()
    + _DUCK_SCORED_CAND
    + f"""
, pairs AS (
  SELECT doc_a, doc_b,
         round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) AS jaccard
  FROM cand
  WHERE round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) >= 0.2
), bits AS (
  SELECT doc_id,
         {", ".join(
            f"(CASE WHEN substr(mh{s}, 8, 1) IN "
            "('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END) AS bit" + str(s)
            for s in range(N_MINHASH))}
  FROM bands
), scored AS (
  SELECT p.jaccard,
         round(greatest(CAST(0.0 AS DOUBLE),
           2.0 * ({" + ".join(
              f"(CASE WHEN a.bit{s} = b.bit{s} THEN 1 ELSE 0 END)"
              for s in range(N_MINHASH))}) / {N_MINHASH} - 1.0), 4) AS jhat
  FROM pairs p
  JOIN bits a ON p.doc_a = a.doc_id
  JOIN bits b ON p.doc_b = b.doc_id
), e AS (
  SELECT jaccard, jhat,
         CAST(round(abs(jhat - jaccard) * 10000) AS BIGINT) AS err_um,
         CASE WHEN jaccard < 0.6 THEN '0.2-0.6'
              WHEN jaccard < 0.8 THEN '0.6-0.8'
              ELSE '0.8-1.0' END AS j_bucket
  FROM scored
)
SELECT j_bucket, count(*) AS n_pairs,
       round(CAST(sum(err_um) AS BIGINT) / (count(*) * 10000.0), 4) AS mae
FROM e GROUP BY j_bucket
"""
)


# ---------------------------------------------------------------------------
# incremental_near_dup — the PRODUCTION shape of near-dup dedup: a new
# ingest batch (doc_id % 4 == 0, ~25%) is LSH-probed against the
# existing banded index plus itself, without ever re-pairing
# existing×existing. This is what daily ingest actually runs at 100 TB
# — the full-corpus pair job (minhash_lsh_pairs) is the bootstrap, this
# is the steady state; with the index bands persisted as a bucketed
# table, only the batch side shuffles. Candidates move (doc_id, band)
# scalars; exact-Jaccard verification re-attaches the hashed-long
# shingle sets once per side (array<bigint>, the one payload class the
# dedup exchange gate permits).
# ---------------------------------------------------------------------------


def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_parallel(spark, sf_dir, "documents")
    d = _with_minhash_bands(docs).select(
        "doc_id", "band0", "band1", "sh_h"
    )
    is_new = F.col("doc_id") % 4 == 0
    cands = None
    for b in range(N_MINHASH // BAND_ROWS):
        new_side = d.filter(is_new).select(
            F.col("doc_id").alias("new_id"), F.col(f"band{b}").alias("bk")
        )
        all_side = d.select(
            F.col("doc_id").alias("match_id"), F.col(f"band{b}").alias("bk")
        )
        c = new_side.join(all_side, "bk").select("new_id", "match_id")
        cands = c if cands is None else cands.union(c)
    cands = cands.filter(
        (F.col("new_id") != F.col("match_id"))
        & (
            (F.col("match_id") % 4 != 0) | (F.col("new_id") < F.col("match_id"))
        )
    ).distinct()
    sa = d.select(F.col("doc_id").alias("new_id"), F.col("sh_h").alias("ha"))
    sb = d.select(F.col("doc_id").alias("match_id"), F.col("sh_h").alias("hb"))
    scored = (
        cands.join(sa, "new_id")
        .join(sb, "match_id")
        .select(
            "new_id",
            "match_id",
            F.size(F.array_intersect("ha", "hb")).alias("inter"),
            F.size("ha").alias("na"),
            F.size("hb").alias("nb"),
        )
    )
    jac = F.round(
        F.col("inter")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        4,
    )
    return (
        scored.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.2)
        .select(
            "new_id",
            "match_id",
            "jaccard",
            (F.col("match_id") % 4 != 0).alias("match_is_existing"),
        )
    )


def _incremental_near_dup_sql() -> str:
    n_bands = N_MINHASH // BAND_ROWS
    band_joins = "\nUNION\n".join(
        f"""SELECT n.doc_id AS new_id, a.doc_id AS match_id
  FROM bands n JOIN bands a ON n.band{b} = a.band{b}
  WHERE n.doc_id % 4 = 0 AND n.doc_id <> a.doc_id
    AND (a.doc_id % 4 <> 0 OR n.doc_id < a.doc_id)"""
        for b in range(n_bands)
    )
    return (
        _duck_bands_cte()
        + f"""
, hsh AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST(('0x' || substr(md5('0|' || s), 1, 15)) AS BIGINT))
           AS sh_h
  FROM bands
), cand AS (
{band_joins}
), scored AS (
  SELECT new_id, match_id,
         len(list_intersect(a.sh_h, b.sh_h)) AS inter,
         len(a.sh_h) AS na, len(b.sh_h) AS nb
  FROM cand
  JOIN hsh a ON cand.new_id = a.doc_id
  JOIN hsh b ON cand.match_id = b.doc_id
)
SELECT new_id, match_id,
       round(inter / CAST(na + nb - inter AS DOUBLE), 4) AS jaccard,
       match_id % 4 <> 0 AS match_is_existing
FROM scored
WHERE round(inter / CAST(na + nb - inter AS DOUBLE), 4) >= 0.2
"""
    )


INCREMENTAL_NEAR_DUP_SQL = _incremental_near_dup_sql


# ---------------------------------------------------------------------------
# lsh_band_tuning_eval — the LSH design decision, MEASURED: for every
# (bands b × rows r) split of the 8 minhash components (1×8, 2×4, 4×2,
# 8×1), candidate-pair volume and recall against exact-Jaccard ≥ 0.5
# ground truth on the deterministic 40% sample, with the theoretical
# S-curve capture probability 1−(1−j^r)^b at j = 0.7 printed beside
# the measurement. This is the table an index owner reads before
# picking the banding for a 100 TB corpus: more bands = more recall =
# more candidate volume to verify; the production config (2×4) sits
# where measured recall and candidate count cross. Per config the
# candidate front is b bucket self-joins over the SAMPLE (bounded),
# and the theory column is a pure constant computed once and embedded
# identically in both engines.
# ---------------------------------------------------------------------------

_TUNE_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))
_TUNE_THEORY_J = 0.7


def lsh_band_tuning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _sampled_docs(
        load_parallel(spark, sf_dir, "documents"), sf_dir, _RECALL_SAMPLE_TIERS
    )
    # Truth front shared with lsh_pair_recall_eval (identical sample /
    # width / threshold), built once per (app, sf_dir).
    truth = _recall_truth_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # All 15 band keys of the four configs in one frame (the band index
    # is folded into the key so only same-band buckets collide): one
    # self-join, and candidate/recall counts grouped by config.
    keys = [
        F.struct(
            F.lit(ci).alias("cfg"),
            F.md5(
                F.concat_ws(
                    "|", F.lit(f"{ci}:{i}"), *[F.col(f"mh{i * r + k}") for k in range(r)]
                )
            ).alias("bk"),
        )
        for ci, (nb, r) in enumerate(_TUNE_CONFIGS)
        for i in range(nb)
    ]
    kd = _with_minhash_bands(docs).select("doc_id", F.inline(F.array(*keys)))
    x, y = kd.alias("x"), kd.alias("y")
    cand = (
        x.join(y, ["cfg", "bk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select("cfg", F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    stats = (
        cand.join(truth.withColumn("is_true", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("is_true", F.lit(0))).alias("caught"),
        )
    )
    configs = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("cfg"),
                        F.lit(nb).alias("bands"),
                        F.lit(r).alias("rows_per_band"),
                        F.lit(round(1 - (1 - _TUNE_THEORY_J**r) ** nb, 4)).alias(
                            "capture_at_j07"
                        ),
                    )
                    for ci, (nb, r) in enumerate(_TUNE_CONFIGS)
                ]
            )
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    caught = F.coalesce("caught", F.lit(0)).cast("long")
    return (
        configs.join(stats, "cfg", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_candidates"),
            "n_truth",
            caught.alias("n_caught"),
            F.round(caught / F.greatest("n_truth", F.lit(1)).cast("double"), 4).alias(
                "recall"
            ),
            "capture_at_j07",
        )
    )


def _band_tuning_sql() -> str:
    mh_cols = ",\n         ".join(
        _DUCK_MH.format(j=s // 4, off=(s % 4) * 8 + 1) + f" AS mh{s}"
        for s in range(N_MINHASH)
    )
    parts = [
        f"""WITH samp AS MATERIALIZED (
  SELECT doc_id, shingles FROM ({_DUCK_SHINGLES})
  WHERE (doc_id * 48271) % 100 < {_tier_pct_sql(_RECALL_SAMPLE_TIERS)} AND len(shingles) > 0
), mh AS MATERIALIZED (
  SELECT doc_id, shingles,
         {mh_cols}
  FROM samp
), post AS (
  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_sh FROM samp
), tp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS inter, max(a.n_sh) AS n_a, max(b.n_sh) AS n_b
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM tp
  WHERE round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4)
        >= {RECALL_TRUTH_J}
), tn AS (SELECT count(*) AS n_truth FROM truth)"""
    ]
    selects = []
    for nb, r in _TUNE_CONFIGS:
        unions = "\n    UNION\n".join(
            f"""    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM mh x JOIN mh y
      ON md5(concat_ws('|', {", ".join(f"x.mh{i * r + k}" for k in range(r))}))
       = md5(concat_ws('|', {", ".join(f"y.mh{i * r + k}" for k in range(r))}))
     AND x.doc_id < y.doc_id"""
            for i in range(nb)
        )
        parts.append(
            f""", c{nb}x{r} AS MATERIALIZED (
{unions}
)"""
        )
        theory = round(1 - (1 - _TUNE_THEORY_J**r) ** nb, 4)
        selects.append(
            f"""SELECT {nb} AS bands, {r} AS rows_per_band,
       (SELECT count(*) FROM c{nb}x{r}) AS n_candidates,
       tn.n_truth AS n_truth,
       (SELECT count(*) FROM truth t JOIN c{nb}x{r} c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_caught,
       round((SELECT count(*) FROM truth t JOIN c{nb}x{r} c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
          / CAST(greatest(tn.n_truth, 1) AS DOUBLE), 4) AS recall,
       CAST({theory} AS DOUBLE) AS capture_at_j07
FROM tn"""
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


LSH_BAND_TUNING_EVAL_SQL = _band_tuning_sql


# ---------------------------------------------------------------------------
# dup_length_bias — does dedup skew the length distribution? The
# point-biserial correlation between doc length and LSH-duplicate
# membership, computed entirely from integer sums (lengths and a 0/1
# flag): r_pb = (mean_len_dup − mean_len_rest) · sqrt(p(1−p)) / sd_all.
# A strongly negative value means near-dup removal preferentially
# deletes long docs — the mix-shift a curation owner must re-weight
# for. One flag join + one moment aggregate.
# ---------------------------------------------------------------------------


def dup_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = _lsh_pairs_cached(spark, sf_dir)
    dups = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = docs.join(dups, "doc_id", "left").select(
        "n_chars", F.coalesce("is_dup", F.lit(0)).alias("is_dup")
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sl"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sll"),
        F.sum("is_dup").alias("nd"),
        F.sum(F.col("n_chars") * F.col("is_dup")).alias("sld"),
    )
    n, sl, sll, nd, sld = (
        F.col("n"),
        F.col("sl"),
        F.col("sll"),
        F.col("nd"),
        F.col("sld"),
    )
    mean_dup = sld / nd
    mean_rest = (sl - sld) / (n - nd)
    p = nd / n.cast("double")
    sd = F.sqrt((sll - sl * sl / n.cast("double")) / n.cast("double"))
    rpb = (mean_dup - mean_rest) * F.sqrt(p * (1 - p)) / sd
    return m.select(
        n.alias("n_docs"),
        nd.cast("long").alias("n_dup_members"),
        F.round(mean_dup, 4).alias("mean_len_dup"),
        F.round(mean_rest, 4).alias("mean_len_rest"),
        F.round(rpb, 4).alias("point_biserial_r"),
    )


def _dup_length_bias_sql() -> str:
    return (
        "WITH pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + """),
dups AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b FROM pairs)
), d AS (
  SELECT n_chars,
         CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM documents LEFT JOIN dups USING (doc_id)
), m AS (
  SELECT count(*) AS n,
         CAST(sum(n_chars) AS BIGINT) AS sl,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sll,
         CAST(sum(is_dup) AS BIGINT) AS nd,
         CAST(sum(n_chars * is_dup) AS BIGINT) AS sld
  FROM d
)
SELECT n AS n_docs, nd AS n_dup_members,
       round(sld / CAST(nd AS DOUBLE), 4) AS mean_len_dup,
       round((sl - sld) / CAST(n - nd AS DOUBLE), 4) AS mean_len_rest,
       round((sld / CAST(nd AS DOUBLE) - (sl - sld) / CAST(n - nd AS DOUBLE))
             * sqrt((nd / CAST(n AS DOUBLE))
                    * (1 - nd / CAST(n AS DOUBLE)))
             / sqrt((sll - sl * CAST(sl AS DOUBLE) / n)
                    / CAST(n AS DOUBLE)), 4)
         AS point_biserial_r
FROM m
"""
    )


DUP_LENGTH_BIAS_SQL = _dup_length_bias_sql


# ---------------------------------------------------------------------------
# shingle_size_sensitivity — the OTHER dedup design dial, measured: for
# shingle widths n ∈ {3, 4, 5}, the exact-Jaccard pair count at ≥ 0.5
# on the deterministic sample and the exact median Jaccard among those
# pairs (lower-middle element by rank — no interpolation). Wider
# shingles = stricter matching = fewer, higher-precision pairs; this
# table plus lsh_band_tuning_eval is the full tuning evidence for the
# (SHINGLE_N, bands × rows) choice. Truth joins are sample-bounded.
# Width 2 is deliberately EXCLUDED: on a small-vocabulary corpus
# bigram shingles are nearly universal, so the 2-gram posting join
# degenerates to all-pairs (measured: sf1 sweep timed out >580 s with
# width 2 in the set; 3/4/5 carry the same design signal without the
# cliff).
# ---------------------------------------------------------------------------

_SHINGLE_SIZES = (3, 4, 5)
# own, smaller sample than the recall eval: the truth join runs once
# per width and pair volume is quadratic in the sample rate — 20%
# carries the same ordering signal at a quarter of the pair work
# (sf1: 137 s at 40% -> measured again below at 20%)
# base rate of the _SHINGLE_TIERS table (≤100 k docs); the effective
# rate is count-derived — see _tier_pct / fixed-budget note above
_SHINGLE_SAMPLE_PCT = 20


# Row bound for the global (no-partition) median-rank window below:
# its input is the truth-pair set — sample-bounded and threshold-
# bounded, never the corpus — and tests/test_plan_quality.py
# (test_eval_global_windows_are_row_bounded) counts it at the test SF
# and fails if a future _SHINGLE_SAMPLE_PCT / RECALL_TRUTH_J change
# lets it approach this cap, so the one-partition sort stays an
# eval-scale object by construction, not by convention.
SHINGLE_WINDOW_ROW_CAP = 100_000


def _shingle_truth_pairs(docs: DataFrame, n: int) -> DataFrame:
    """Sampled exact-Jaccard truth pairs (j >= RECALL_TRUTH_J) for
    shingle width n — the frame the median-rank global window sorts."""
    sh = docs.select(
        "doc_id",
        F.explode(TX.shingles(TX.tokens(F.col("text")), n)).alias("s"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    buckets = (
        sh.join(sizes, "doc_id")
        .groupBy("s")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "ns"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    tp = (
        buckets.select(F.explode(_pair_expand("ns")).alias("p"))
        .groupBy(F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("p.na").alias("na"),
            F.max("p.nb").alias("nb"),
        )
    )
    j = F.round(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        4,
    )
    return tp.withColumn("j", j).filter(F.col("j") >= RECALL_TRUTH_J)


def shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All three widths' shingle sets come out of one scan, the bucket
    # grouping runs once on (width, shingle), and the median windows
    # partition by width; the pair count comes from the same window.
    docs = _sampled_docs(load_table(spark, sf_dir, "documents"), sf_dir, _SHINGLE_TIERS)
    toks = TX.tokens(F.col("text"))
    arr = docs.select(
        "doc_id",
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(n).alias("w"), TX.shingles(toks, n).alias("sh"))
                    for n in _SHINGLE_SIZES
                ]
            )
        ),
    )
    e = arr.filter(F.size("sh") > 0).select(
        "w", "doc_id", F.size("sh").alias("ns"), F.explode("sh").alias("s")
    )
    buckets = (
        e.groupBy("w", "s")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "ns"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    tp = (
        buckets.select("w", F.explode(_pair_expand("ns")).alias("p"))
        .groupBy("w", F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("p.na").alias("na"),
            F.max("p.nb").alias("nb"),
        )
    )
    j = F.round(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        4,
    )
    pairs = tp.withColumn("j", j).filter(F.col("j") >= RECALL_TRUTH_J)
    ranked = pairs.select(
        "w",
        "j",
        F.row_number().over(W.partitionBy("w").orderBy("j")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("w")).alias("c"),
    )
    med = ranked.filter(F.expr("rn = (c + 1) div 2"))
    widths = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in _SHINGLE_SIZES])).alias("w")
    )
    return widths.join(med, "w", "left").select(
        F.col("w").alias("shingle_n"),
        F.coalesce("c", F.lit(0)).cast("long").alias("n_pairs"),
        F.col("j").cast("double").alias("median_j"),
    )


def _shingle_sensitivity_sql() -> str:
    blocks = []
    for n in _SHINGLE_SIZES:
        win = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
        blocks.append(
            f"""SELECT {n} AS shingle_n,
       CAST(count(*) AS BIGINT) AS n_pairs,
       (SELECT j FROM (
          SELECT j, row_number() OVER (ORDER BY j) AS rn,
                 count(*) OVER () AS c
          FROM p{n}) WHERE rn = (c + 1) // 2) AS median_j
FROM p{n}"""
        )
    ctes = []
    for n in _SHINGLE_SIZES:
        win = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
        ctes.append(
            f"""s{n} AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {n} THEN
           list_distinct(list_transform(
             range(1, len(toks) - {n} + 2), i -> {win}))
         ELSE [] END AS sh
  FROM t
), e{n} AS (
  SELECT doc_id, unnest(sh) AS s, len(sh) AS ns FROM s{n} WHERE len(sh) > 0
), tp{n} AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         count(*) AS inter, max(a.ns) AS na, max(b.ns) AS nb
  FROM e{n} a JOIN e{n} b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), p{n} AS (
  SELECT round(inter::DOUBLE / (na + nb - inter)::DOUBLE, 4) AS j
  FROM tp{n}
  WHERE round(inter::DOUBLE / (na + nb - inter)::DOUBLE, 4)
        >= {RECALL_TRUTH_J}
)"""
        )
    return (
        f"""WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
  WHERE (doc_id * 48271) % 100 < {_tier_pct_sql(_SHINGLE_TIERS)}
), """
        + ", ".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(blocks)
    )


SHINGLE_SIZE_SENSITIVITY_SQL = _shingle_sensitivity_sql


# ---------------------------------------------------------------------------
# lsh_pair_precision_eval — round 10: the PRECISION side of the LSH
# eval pair (lsh_pair_recall_eval measures what the index misses; this
# measures what it wastes). Every bucket-cojoined candidate pair the
# production 2x4 banding generates is bucketed by its true Jaccard:
# the sub-threshold buckets are verification compute the index owner
# pays for nothing — at 100 TB the candidate-verification stage is the
# dominant dedup cost, and this table is exactly its cost model.
#
# Scale shape: pure reuse of the shared scored-candidate front
# (_lsh_scored_pairs — one signature pass, one (band_idx, band)
# exchange, bucket-local scalar scoring, BUCKET_CAP-bounded); the eval
# itself adds one O(pairs) projection and a 5-row aggregate. No new
# memo, no extra corpus scan.
# ---------------------------------------------------------------------------


def lsh_pair_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    cand = _lsh_scored_pairs_cached(spark, sf_dir)
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    j = F.round(F.col("inter").cast("double") / union.cast("double"), 4)
    # Bucket edges follow the S-curve reality of the production 2x4
    # banding (measured: candidates concentrate above 0.9): two coarse
    # waste buckets below the 0.5 dedup threshold, fine resolution in
    # the mass region.
    jb = (
        F.when(j < 0.5, "0.0-0.5")
        .when(j < 0.8, "0.5-0.8")
        .when(j < 0.9, "0.8-0.9")
        .when(j < 0.95, "0.9-0.95")
        .when(j < 0.99, "0.95-0.99")
        .otherwise("0.99-1.0")
    )
    per = (
        cand.filter(union > 0)
        .groupBy(jb.alias("j_bucket"))
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    total = W.partitionBy()  # 5-row post-agg frame — driver-sized
    return per.select(
        "j_bucket",
        "n_cand",
        F.round(
            F.col("n_cand").cast("double")
            / F.sum("n_cand").over(total).cast("double"),
            4,
        ).alias("frac_cands"),
    )


def _lsh_pair_precision_sql() -> str:
    return (
        _duck_bands_cte()
        + _DUCK_SCORED_CAND
        + """
, j AS (
  SELECT round(inter::DOUBLE / (n_a + n_b - inter)::DOUBLE, 4) AS j
  FROM cand WHERE (n_a + n_b - inter) > 0
), per AS (
  SELECT CASE WHEN j < 0.5 THEN '0.0-0.5'
              WHEN j < 0.8 THEN '0.5-0.8'
              WHEN j < 0.9 THEN '0.8-0.9'
              WHEN j < 0.95 THEN '0.9-0.95'
              WHEN j < 0.99 THEN '0.95-0.99'
              ELSE '0.99-1.0' END AS j_bucket,
         count(*) AS n_cand
  FROM j GROUP BY 1
)
SELECT j_bucket, n_cand,
       round(n_cand::DOUBLE
             / (SELECT sum(n_cand) FROM per)::DOUBLE, 4) AS frac_cands
FROM per
"""
    )


LSH_PAIR_PRECISION_EVAL_SQL = _lsh_pair_precision_sql


# ---------------------------------------------------------------------------
# cross_dup_source_matrix — round 10: near-duplicate flow BETWEEN
# sources. cross_source_leakage counts EXACT-hash collisions across
# sources; this is its fuzzy sibling — verified near-dup pairs
# (jaccard >= 0.2, the shared memo) joined to each side's source,
# reported as an unordered source-pair matrix with mean overlap
# strength. The table a corpus owner reads to decide which source to
# drop when two scrape the same upstream — per-pair dedup says "these
# two docs collide"; this says "these two SOURCES collide, this
# often, this hard".
#
# Scale shape: the pair memo is bucket-bounded (never O(n^2)); the two
# source lookups are broadcast joins of a 2-column dimension
# projection against the O(pairs) list; the matrix aggregate is
# |sources|^2-bounded. Jaccard means accumulate exact 1e-4 integer
# units (the functions/exact.py convention — j is a 4-dp round, so
# j*10000 is an exact integer per pair).
# ---------------------------------------------------------------------------


def cross_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _lsh_pairs_cached(spark, sf_dir)
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_of_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_of_b")
    )
    with_src = (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.least("src_of_a", "src_of_b").alias("src_lo"),
            F.greatest("src_of_a", "src_of_b").alias("src_hi"),
            F.round(F.col("jaccard") * 10000).cast("long").alias("j_units"),
        )
    )
    return with_src.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum("j_units") / (10000.0 * F.count(F.lit(1))), 4
        ).alias("mean_jaccard"),
    )


def _cross_dup_source_matrix_sql() -> str:
    return (
        "WITH pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + """)
SELECT least(a.source, b.source) AS src_lo,
       greatest(a.source, b.source) AS src_hi,
       count(*) AS n_pairs,
       round(CAST(sum(CAST(round(p.jaccard * 10000) AS BIGINT)) AS BIGINT)
             / (10000.0 * count(*)), 4) AS mean_jaccard
FROM pairs p
JOIN documents a ON p.doc_a = a.doc_id
JOIN documents b ON p.doc_b = b.doc_id
GROUP BY 1, 2
"""
    )


CROSS_DUP_SOURCE_MATRIX_SQL = _cross_dup_source_matrix_sql
