"""Graph analytics over relational edge lists.

The reference has no graph surface at all (its only "graph-shaped"
compute is the species pair-assignment heuristic,
reference tasks/plants_classifier.py:57-96, which SURVEY.md §2.7 T50
supersedes with a join). This module is a declared engine extension:
iterative algorithms expressed as DataFrame loops where the *edge
aggregation* is the distributed heavy pass and the *iteration state*
stays O(|V|) — the standard Spark pattern for PageRank-class workloads.

Scale stance: at 100 TB the 5-way join + (src, dst) aggregation is the
only pass that touches the fact tables; everything after operates on a
|V|×|V|-bounded table (625 rows here) with the rank vector broadcast
into every iteration, so adding iterations never re-scans the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from map_reduce_engine_cdps_spark.operators.state import _checkpoint, fixpoint, releasing
from map_reduce_engine_cdps_spark.sources.readers import load_table

_DAMPING = 0.85
_ITERATIONS = 4


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation→nation trade edge list: customer nation buys from supplier
    nation, weighted by lineitem revenue. One distributed 5-way join +
    one (src, dst) hash aggregate; dimensions broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                      F.col("n_name").alias("src"))),
            cust.c_nationkey == F.col("ck"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                      F.col("n_name").alias("dst"))),
            supp.s_nationkey == F.col("sk"),
        )
        .groupBy("src", "dst")
        # exact integer-cents edge weights (round 9): the double sum is
        # partial-order-dependent and flipped trade_graph_degrees'
        # rounded cent digit INTERMITTENTLY at derived sf1 (run-to-run
        # task order changes the merge order). w stays the single-op
        # double projection for ratio consumers.
        .agg(
            F.sum(F.round(F.col("rev") * 100).cast("long")).alias("w_cents")
        )
        .select("src", "dst", "w_cents", (F.col("w_cents") / 100.0).alias("w"))
    )


def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph, fixed 4 iterations,
    damping 0.85.

    The distributed pass is the 5-way join + (src, dst) edge aggregate —
    the only thing that touches the fact tables. The normalized edge
    list it produces is O(|V|²)-bounded (625 rows), so like
    kmeans_lloyd's centroids and bpe_merges' word dict it is
    driver-sized state by construction: iterate on it locally in one
    job rather than paying per-iteration Spark job overhead. For a
    vertex set too large to hold (|V|² beyond driver memory), the same
    loop lifts to [edges ⋈ broadcast(ranks) → groupBy(dst).sum]
    per iteration with the edge table staying distributed — the
    formulation trade_graph_degrees uses for its marginals."""
    edges = _trade_edges(spark, sf_dir)
    ep = edges.withColumn(
        "p", F.col("w") / F.sum("w").over(W.partitionBy("src"))
    ).select("src", "dst", "p")
    edge_rows = [(r["src"], r["dst"], r["p"]) for r in ep.collect()]
    nodes = sorted({s for s, _, _ in edge_rows})
    n_nodes = len(nodes)

    ranks = {n: 1.0 / n_nodes for n in nodes}
    for _ in range(_ITERATIONS):
        mass: dict[str, float] = {}
        for src, dst, p in edge_rows:
            mass[dst] = mass.get(dst, 0.0) + ranks[src] * p
        ranks = {
            n: (1.0 - _DAMPING) / n_nodes + _DAMPING * mass.get(n, 0.0)
            for n in nodes
        }
    out = spark.createDataFrame(
        sorted(ranks.items()), "n_name string, pr double"
    )
    return out.select("n_name", F.round("pr", 6).alias("pagerank"))


def _pagerank_sql() -> str:
    """Unrolled fixed-iteration oracle: one CTE per PageRank step (a
    recursive CTE would need aggregation in the recursive term)."""
    base = """
WITH edges AS (
  SELECT src, dst,
         CAST(w_cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS w
  FROM (
    SELECT cn.n_name AS src, sn.n_name AS dst,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS w_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
  )
),
ep AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges),
nodes AS (SELECT DISTINCT src AS n_name FROM edges),
nc AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT n_name, CAST(1.0 AS DOUBLE) / (SELECT n FROM nc) AS pr FROM nodes)"""
    prev = "r0"
    steps = []
    for i in range(1, _ITERATIONS + 1):
        steps.append(f""",
r{i} AS (
  SELECT nodes.n_name,
         CAST({1.0 - _DAMPING} AS DOUBLE) / (SELECT n FROM nc)
         + CAST({_DAMPING} AS DOUBLE) * COALESCE(SUM({prev}.pr * ep.p), 0) AS pr
  FROM nodes
  LEFT JOIN ep ON ep.dst = nodes.n_name
  LEFT JOIN {prev} ON {prev}.n_name = ep.src
  GROUP BY nodes.n_name
)""")
        prev = f"r{i}"
    return base + "".join(steps) + f"""
SELECT n_name, round(pr, 6) AS pagerank FROM {prev}
"""


NATION_TRADE_PAGERANK_SQL = _pagerank_sql()


def trade_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation degree/strength profile of the trade graph, plus the
    self-trade share. All compute after the edge aggregate is O(|V|²);
    the two marginal aggregates and the self-edge join reuse its shuffle
    through exchange reuse. Never persisted: a session cache would match
    the next call's plan and serve edges from a rewritten lineitem."""
    edges = _trade_edges(spark, sf_dir)
    # marginal strengths summed in exact cents — the per-nation sum of
    # ~25 1e10-magnitude doubles was the intermittent knife edge.
    out = edges.groupBy(F.col("src").alias("n_name")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("w_cents").alias("out_c"),
    )
    inn = edges.groupBy(F.col("dst").alias("n_name")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("w_cents").alias("in_c"),
    )
    self_w = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("n_name"), F.col("w_cents").alias("self_c"))
    )
    return (
        out.join(inn, "n_name", "full")
        .join(self_w, "n_name", "left")
        .select(
            "n_name",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.round(F.coalesce("out_c", F.lit(0)) / 100.0, 2).alias(
                "out_strength"
            ),
            F.round(F.coalesce("in_c", F.lit(0)) / 100.0, 2).alias(
                "in_strength"
            ),
            F.round(
                F.coalesce("self_c", F.lit(0)).cast("double")
                / F.col("out_c").cast("double"),
                6,
            ).alias("self_share"),
        )
    )


TRADE_GRAPH_DEGREES_SQL = """
WITH edges AS (
  SELECT cn.n_name AS src, sn.n_name AS dst,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS w_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY 1, 2
),
outm AS (SELECT src AS n_name, count(*) AS out_degree,
                CAST(sum(w_cents) AS BIGINT) AS out_c
         FROM edges GROUP BY 1),
inm  AS (SELECT dst AS n_name, count(*) AS in_degree,
                CAST(sum(w_cents) AS BIGINT) AS in_c
         FROM edges GROUP BY 1),
selfm AS (SELECT src AS n_name, w_cents AS self_c FROM edges WHERE src = dst)
SELECT n_name,
       COALESCE(out_degree, 0) AS out_degree,
       COALESCE(in_degree, 0) AS in_degree,
       round(CAST(COALESCE(out_c, 0) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
         AS out_strength,
       round(CAST(COALESCE(in_c, 0) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2)
         AS in_strength,
       round(CAST(COALESCE(self_c, 0) AS DOUBLE) / CAST(out_c AS DOUBLE), 6)
         AS self_share
FROM outm
FULL JOIN inm USING (n_name)
LEFT JOIN selfm USING (n_name)
"""


# ---------------------------------------------------------------------------
# kcore_membership — distributed k-core peeling over the near-dup pair
# graph: repeatedly drop vertices whose CURRENT degree is < K until the
# survivor set is stable; survivors form the K-core (every member has
# ≥ K neighbors inside the core — the dense cliques of the dup graph,
# i.e. the template/boilerplate families worth manual review, as
# opposed to incidental pairwise collisions). Engine extension beyond
# the reference (nothing graph-shaped there; see module header).
#
# Scale shape per round: one degree aggregate (map-side combined) +
# one semi-join filter of the edge list against survivors — the same
# join primitives, fixpoint loop (one checkpoint per round), and O(|V|)
# iteration state as connected_components (plans/dedup.py). Rounds are
# capped at _KCORE_ROUNDS with a fixpoint early-exit; because every
# round past the fixpoint is a no-op, the capped loop computes EXACTLY
# the _KCORE_ROUNDS-times-peeled graph whether or not it exits early —
# so the mechanically unrolled DuckDB oracle (the _pagerank_sql
# technique) matches unconditionally, and the `converged` flag reports
# whether the cap was also the true k-core (on LSH dup graphs —
# cliques + shallow chains — peeling stabilizes in 2-3 rounds; the
# pytest asserts genuine convergence on the fixture SFs).
# ---------------------------------------------------------------------------

KCORE_K = 2
_KCORE_ROUNDS = 8


def kcore_subgraph(pairs: DataFrame, k: int, max_rounds: int = _KCORE_ROUNDS):
    """Peel (doc_a, doc_b) pairs to the k-core. Returns
    ``(survivors, converged)``: survivors has columns
    (doc_id, core_degree); converged is False if the round cap hit
    before the fixpoint. Factored out for unit tests on hand-built
    graphs (mirrors connected_components' factoring)."""
    from map_reduce_engine_cdps_spark.plans.dedup import undirected_edges

    def _peel(edges: DataFrame) -> DataFrame:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # an edge survives only if BOTH endpoints keep degree ≥ k
        keep = deg.filter(F.col("deg") >= k).select("src")
        return (
            edges.join(keep.hint("shuffle_hash"), "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")).hint("shuffle_hash"),
                "dst",
                "left_semi",
            )
            .repartition(F.col("src"))
        )

    edges, converged = fixpoint(
        undirected_edges(pairs), _peel, (F.count(F.lit(1)),), max_rounds
    )
    with releasing(edges):
        survivors = _checkpoint(
            edges.groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
    return survivors, converged


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    survivors, _converged = kcore_subgraph(pairs, KCORE_K)
    return survivors


def _kcore_sql() -> str:
    """Mechanically unrolled peeling oracle: _KCORE_ROUNDS rounds of
    degree + filter over the LSH pair CTE (extra rounds past the
    fixpoint are no-ops, mirroring the Spark early-exit)."""
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one three times — an
    # exponential 3^rounds expansion that exhausts file handles
    # re-opening the parquet. Materialization makes it linear.
    sql = ["WITH pairs AS MATERIALIZED (" + MINHASH_LSH_PAIRS_SQL + "),"]
    sql.append(
        "e0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)"
    )
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        sql.append(
            f""", k{r} AS MATERIALIZED (
  SELECT src FROM {prev} GROUP BY src HAVING count(*) >= {KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src IN (SELECT src FROM k{r})
    AND e.dst IN (SELECT src FROM k{r})
)"""
        )
        prev = f"e{r}"
    sql.append(
        f"""
SELECT src AS doc_id, count(*) AS core_degree
FROM {prev} GROUP BY src"""
    )
    return "\n".join(sql)


KCORE_MEMBERSHIP_SQL = _kcore_sql


# ---------------------------------------------------------------------------
# adamic_adar_links — link prediction over the near-dup candidate graph:
# for every doc pair sharing >= 1 common neighbor, the Adamic–Adar
# score sum(1/ln(deg(v))) over common neighbors v, with is_new marking
# pairs NOT already LSH candidates. High-scoring is_new pairs are
# transitive near-dups the banded LSH missed (A~B, B~C candidates but
# A,C never collide in a band) — the classic follow-up pass before
# connected-components clustering. (At gate scale the LSH bands are
# transitively closed, so all-wedge scoring keeps the certification
# non-vacuous; the prediction consumer filters is_new.) Engine
# extension (the reference has no graph surface; see module docstring).
#
# Scale shape: identical to dup_graph_triangles — the wedge join is
# O(sum deg(v)^2) over a graph whose degrees are already bucket-capped
# upstream (BUCKET_CAP in plans/dedup.py), and the scored output is
# wedge-bounded, never O(n^2). Scores are rounded once at the end; the
# anti-join keeps predictions only.
# ---------------------------------------------------------------------------


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b"), F.col("doc_a")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ea = e.select(F.col("src").alias("v"), F.col("dst").alias("a"))
    eb = e.select(F.col("src").alias("v2"), F.col("dst").alias("b"))
    # shuffle_hash on every memo-derived side: Catalyst misestimates
    # checkpointed/persisted pair fronts and tries to BROADCAST the
    # multi-M-row build side at sf10 (driver OOM — the r6
    # pair_recall lesson, SCALE.md rule 7). The wedge/degree/edge
    # tables all scale with the corpus, so none is broadcastable.
    wed = ea.join(
        eb.hint("shuffle_hash"), (ea.v == eb.v2) & (F.col("a") < F.col("b"))
    ).select("v", "a", "b")
    scored = (
        wed.join(deg.withColumnRenamed("src", "v").hint("shuffle_hash"), "v")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log("deg")), 4).alias("aa_score"),
        )
    )
    return (
        scored.join(
            pairs.withColumn("is_edge", F.lit(True)).hint("shuffle_hash"),
            (scored.a == pairs.doc_a) & (scored.b == pairs.doc_b),
            "left",
        ).select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "n_common",
            "aa_score",
            F.col("is_edge").isNull().alias("is_new"),
        )
    )


def _adamic_adar_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    return (
        "WITH pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + """),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), wed AS (
  SELECT e1.src AS v, e1.dst AS a, e2.dst AS b
  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
), scored AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
         round(sum(CAST(1.0 AS DOUBLE) / ln(deg.deg)), 4) AS aa_score
  FROM wed JOIN deg ON wed.v = deg.src GROUP BY a, b
)
SELECT a AS doc_a, b AS doc_b, n_common, aa_score,
       NOT EXISTS (
         SELECT 1 FROM pairs p WHERE p.doc_a = s.a AND p.doc_b = s.b
       ) AS is_new
FROM scored s
"""
    )


ADAMIC_ADAR_LINKS_SQL = _adamic_adar_sql


# ---------------------------------------------------------------------------
# clustering_coefficients — per-node local clustering coefficient over
# the near-dup candidate graph: c(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
# T(v) from the same oriented-wedge triangle join as
# dup_graph_triangles (each a<b<c triangle credits all three corners).
# In a dedup pipeline, coefficient ~1 marks tight duplicate cliques
# (template spam — safe to collapse aggressively) vs chain-shaped
# clusters (drift — needs the verification pass). Engine extension.
#
# Scale: one wedge join (degree-bounded by the upstream bucket cap) +
# one explode(3)/vertex aggregate; output O(V). Coefficients are exact
# integer ratios, divided once and rounded identically in both engines.
# ---------------------------------------------------------------------------


def clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    edges = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    # memo-derived sides — shuffle_hash prevents the sf10 misestimate
    # broadcast (SCALE.md rule 7, same as adamic_adar/ktruss)
    tris = e1.join(e2.hint("shuffle_hash"), "b").join(
        e3.hint("shuffle_hash"), ["a", "c"]
    )
    tcnt = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    und = edges.select(F.col("doc_a").alias("doc_id")).union(
        edges.select(F.col("doc_b"))
    )
    deg = und.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.round(
                F.coalesce("n_tri", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ).alias("coeff"),
        )
    )


def _clustering_coefficients_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    return (
        "WITH pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + """),
tris AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
), tcnt AS (
  SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT unnest([a, b, c]) AS v FROM tris) GROUP BY v
), deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs)
  GROUP BY doc_id
)
SELECT deg.doc_id, degree,
       coalesce(n_tri, 0) AS n_tri,
       round(coalesce(n_tri, 0) * 2.0 / (degree * (degree - 1)), 4) AS coeff
FROM deg LEFT JOIN tcnt ON deg.doc_id = tcnt.doc_id
WHERE degree >= 2
"""
    )


CLUSTERING_COEFFICIENTS_SQL = _clustering_coefficients_sql


# ---------------------------------------------------------------------------
# label_propagation_communities — community detection by SYNCHRONOUS
# label propagation (Raghavan et al. 2007) over the near-dup candidate
# graph, made fully deterministic: every round, each vertex adopts the
# most frequent label among its neighbors' previous-round labels, ties
# broken by minimum label; fixed _LPA_ROUNDS rounds. Unlike connected
# components (which merges everything reachable), LPA splits chain-
# connected blobs at their thin cuts — the finer-grained community
# view a steward wants when a dedup cluster mixes two template
# families bridged by one ambiguous pair.
#
# Scale: each round is one edge⋈label join + a (vertex, label) count +
# a per-vertex argmax — all map-side-combinable hash aggregates on
# O(E)/O(V) tables; label state is localCheckpointed per round so plan
# depth stays constant (the CC lesson: multi-join rounds need
# per-round truncation). Oracle: mechanically unrolled rounds with an
# explicit row_number argmax (DuckDB arg_max leaves ties unspecified).
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_round(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round (pre-checkpoint): adopt the most
    frequent neighbor label, ties to minimum label. labels is O(V)
    and checkpointed — Catalyst's misestimate broadcast-OOMs at sf10
    (SCALE.md rule 7); labels as the shuffle_hash build side keeps
    edges streaming. Split out so the plan gate can pin the hint
    (tests/test_plan_quality.py — the loop checkpoints eagerly, so
    the round's joins never surface in the final query plan)."""
    nbr = e.join(labels.hint("shuffle_hash"), e.dst == labels.v).select(
        "src", "lbl"
    )
    cnt = nbr.groupBy("src", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        cnt.groupBy("src")
        .agg(F.expr("max_by(lbl, struct(cnt, -lbl))").alias("lbl"))
        .select(F.col("src").alias("v"), "lbl")
    )


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    )
    labels0 = (
        e.select(F.col("src").alias("v")).distinct().withColumn("lbl", F.col("v"))
    )
    labels, _ = fixpoint(labels0, lambda lb: _lpa_round(e, lb), (), _LPA_ROUNDS)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("v").alias("min_member"),
    )


def _lpa_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    sql = [
        "WITH pairs AS MATERIALIZED (" + MINHASH_LSH_PAIRS_SQL + "),",
        "e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs),",
        "l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e)",
    ]
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        sql.append(
            f""", c{r} AS MATERIALIZED (
  SELECT e.src, {prev}.lbl, count(*) AS cnt
  FROM e JOIN {prev} ON e.dst = {prev}.v
  GROUP BY e.src, {prev}.lbl
), l{r} AS MATERIALIZED (
  SELECT src AS v, lbl FROM (
    SELECT src, lbl,
           row_number() OVER (PARTITION BY src
                              ORDER BY cnt DESC, lbl ASC) AS rn
    FROM c{r}
  ) WHERE rn = 1
)"""
        )
        prev = f"l{r}"
    sql.append(
        f"""
SELECT lbl AS community, count(*) AS n_members, min(v) AS min_member
FROM {prev} GROUP BY lbl"""
    )
    return "\n".join(sql)


LABEL_PROPAGATION_COMMUNITIES_SQL = _lpa_sql


# ---------------------------------------------------------------------------
# ktruss_edges — k-truss decomposition membership (Cohen 2008), the
# EDGE-level sibling of k-core: iteratively delete every edge whose
# triangle support (# common neighbors) is below k−2 until fixpoint.
# A 3-truss keeps only edges participating in at least one surviving
# triangle — a stricter cohesion filter than k-core for dedup-cluster
# quality (a chain of degree-2 vertices survives a 2-core but no
# 3-truss). Fixed _KTRUSS_ROUNDS rounds with early exit; like
# kcore_membership, the capped loop computes exactly the
# rounds-times-peeled graph, so the mechanically unrolled oracle
# matches whether or not the fixpoint arrives early.
#
# Scale: support counting is one wedge join per round over the
# SHRINKING edge set (bucket-cap-bounded degrees); edge state is
# checkpointed per round and each round's predecessor freed once its
# successor exists (see ktruss_edges).
# ---------------------------------------------------------------------------

KTRUSS_K = 3
_KTRUSS_ROUNDS = 4


def _edge_support(edges: DataFrame) -> DataFrame:
    """(a, b, support) for every edge in ≥1 triangle.

    support(a,b) = |N(a) ∩ N(b)| is computed by ORIENTED triangle
    enumeration instead of the undirected wedge self-join: edges are
    already stored (min, max), so every triangle a<b<c is found
    exactly once via (a,b)⋈(b,c) closed by (a,c), and each triangle
    credits its three edges through a 3-way explode. The undirected
    formulation's wedge front is Σ deg(w)² across BOTH directions —
    4× the rows and the sf10 heap OOM — while the ordered join
    enumerates each candidate 2-path once and the closure join drops
    non-triangles before any aggregation. shuffle_hash on every
    memo-derived side (SCALE.md rule 7)."""
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select("a", F.col("b").alias("c"))
    tri = e1.join(e2.hint("shuffle_hash"), "b").join(
        e3.hint("shuffle_hash"), ["a", "c"]
    )
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("b").alias("x"), F.col("c").alias("y")),
                F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
            )
        ).alias("s")
    )
    return sides.select(
        F.col("s.x").alias("a"), F.col("s.y").alias("b")
    ).groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


def ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss via iterative support-prune over the LSH dup-graph."""
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    # One checkpoint per round, each freed as soon as its successor
    # exists: the old sf10 OOM came from per-round checkpoint blocks
    # left waiting on GC, not from checkpointing itself.
    edges0 = _lsh_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    need = KTRUSS_K - 2

    def _prune(edges: DataFrame) -> DataFrame:
        sup = _edge_support(edges)
        return (
            edges.join(sup.hint("shuffle_hash"), ["a", "b"], "left")
            .filter(F.coalesce("support", F.lit(0)) >= need)
            .select("a", "b")
        )

    # the final edge set's checkpoint stays: the returned plan reads it
    edges, _ = fixpoint(edges0, _prune, (F.count(F.lit(1)),), _KTRUSS_ROUNDS)
    return edges.join(
        _edge_support(edges).hint("shuffle_hash"), ["a", "b"]
    ).select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.col("support").cast("long").alias("support"),
    )


def _ktruss_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    need = KTRUSS_K - 2
    sql = [
        "WITH pairs AS MATERIALIZED (" + MINHASH_LSH_PAIRS_SQL + "),",
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)",
    ]
    prev = "e0"
    for r in range(1, _KTRUSS_ROUNDS + 1):
        sql.append(
            f""", u{r} AS MATERIALIZED (
  SELECT a AS u, b AS v FROM {prev} UNION ALL SELECT b, a FROM {prev}
), s{r} AS MATERIALIZED (
  SELECT w1.a, w2.b, count(*) AS sup
  FROM (SELECT u AS a, v AS w FROM u{r}) w1
  JOIN (SELECT u AS w, v AS b FROM u{r}) w2 USING (w)
  WHERE w1.a < w2.b
  GROUP BY w1.a, w2.b
), e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN s{r} s ON s.a = e.a AND s.b = e.b AND s.sup >= {need}
)"""
        )
        prev = f"e{r}"
    sql.append(
        f""", uf AS (
  SELECT a AS u, b AS v FROM {prev} UNION ALL SELECT b, a FROM {prev}
), sf AS (
  SELECT w1.a, w2.b, count(*) AS sup
  FROM (SELECT u AS a, v AS w FROM uf) w1
  JOIN (SELECT u AS w, v AS b FROM uf) w2 USING (w)
  WHERE w1.a < w2.b
  GROUP BY w1.a, w2.b
)
SELECT e.a AS doc_a, e.b AS doc_b, CAST(sf.sup AS BIGINT) AS support
FROM {prev} e JOIN sf ON sf.a = e.a AND sf.b = e.b"""
    )
    return "\n".join(sql)


KTRUSS_EDGES_SQL = _ktruss_sql


# ---------------------------------------------------------------------------
# degree_assortativity — Newman's degree-assortativity coefficient over
# the near-dup candidate graph: the Pearson correlation of endpoint
# degrees across (symmetrized) edges. Positive = hubs attach to hubs
# (one template family snowballing), negative = hub-and-spoke dup
# structure. Degrees are integers, so every accumulated moment is an
# exact integer sum — floats appear only in the final closed-form
# correlation. One degree aggregate + one edge join.
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached

    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    )
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    j = e.join(du, "u").join(dv, "v")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(num / den, 4).alias("assortativity"),
    )


def _assortativity_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    return (
        "WITH pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + """),
e AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), deg AS (
  SELECT u, count(*) AS d FROM e GROUP BY u
), j AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM j
)
SELECT n // 2 AS n_edges,
       round((n * sxy - sx * sy)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 4)
         AS assortativity
FROM m
"""
    )


DEGREE_ASSORTATIVITY_SQL = _assortativity_sql


# ---------------------------------------------------------------------------
# bfs_hops — multi-source breadth-first shortest hops over the near-dup
# candidate graph: distance from the BFS_SEEDS lowest-id vertices to
# every vertex, reported as a hop histogram (hops → vertex count, -1 =
# unreachable within BFS_MAX_HOPS). The one graph primitive the family
# still lacked: CC answers "same component?", LPA "which community?",
# BFS answers "how FAR?" — in a dedup pipeline, hop distance from a
# seed set of known-bad documents is the standard contamination-blast-
# radius query (how much of the corpus is within k dup-links of a
# poisoned page).
#
# Spark shape: Bellman-Ford layer relaxation — exactly BFS_MAX_HOPS
# rounds of [edges ⋈ labels → min(d)+1 → least(old, new)], the same
# shuffle-hash join + O(|V|) label state as connected_components
# (labels eager-checkpointed per round — see the loop note). After
# k rounds every label is exact for true distance ≤ k, and any vertex
# with true distance > k provably has NO label (every discovered path
# has length ≤ rounds) — so the fixed round count needs no convergence
# probe and the hop cap is a semantic bound, not a heuristic. The
# DuckDB twin is a depth-guarded recursive CTE over the same edges.
# ---------------------------------------------------------------------------

BFS_SEEDS = 10
BFS_MAX_HOPS = 8


def bfs_layers(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Bellman-Ford layer relaxation: min hop distance from ``seeds``
    (column ``v``) over directed ``edges`` (columns ``src, dst``),
    exactly ``max_hops`` rounds. Returns (v, d) for every vertex with
    true distance <= max_hops; deeper vertices provably get NO row
    (every discovered path's length is bounded by the round count).
    Factored out of bfs_hops so convergence semantics are
    unit-testable on hand-built graphs (paths, cycles, disconnected
    pieces) — the connected_components treatment."""
    labels0 = _checkpoint(seeds.select("v", F.lit(0).cast("long").alias("d")))

    def _relax(labels: DataFrame) -> DataFrame:
        nbr = (
            edges.join(labels.hint("shuffle_hash"), edges.src == labels.v)
            .groupBy(F.col("dst").alias("v"))
            .agg((F.min("d") + 1).alias("nd"))
        )
        return (
            labels.withColumnRenamed("d", "od")
            .join(nbr.hint("shuffle_hash"), "v", "full_outer")
            .select("v", F.least(
                F.coalesce("od", F.lit(max_hops + 1)),
                F.coalesce("nd", F.lit(max_hops + 1)),
            ).alias("d"))
        )

    # A BFS round stacks a join + full-outer join on the previous
    # round's plan. fixpoint's per-round checkpoint keeps that flat
    # (~0.5 s/round at sf0.001); persist-only rotation, which caches
    # rows while Catalyst still re-walks the whole logical tree, was
    # measured growing 1.2 → 14.3 s/round by round 8.
    labels, _ = fixpoint(labels0, _relax, (), max_hops)
    return labels


def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.plans.dedup import (
        _lsh_pairs_cached,
        undirected_edges,
    )

    pairs = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    e = undirected_edges(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    verts = _checkpoint(e.select(F.col("src").alias("v")).distinct())
    seeds = verts.orderBy("v").limit(BFS_SEEDS)
    with releasing(e, verts):
        labels = bfs_layers(e, seeds, BFS_MAX_HOPS)
        with releasing(labels):
            return _checkpoint(
                verts.join(labels.hint("shuffle_hash"), "v", "left")
                .select(F.coalesce("d", F.lit(-1)).alias("hops"))
                .groupBy("hops")
                .agg(F.count(F.lit(1)).alias("n_docs"))
            )


def _bfs_hops_sql() -> str:
    from map_reduce_engine_cdps_spark.plans.dedup import MINHASH_LSH_PAIRS_SQL

    return (
        "WITH RECURSIVE pairs AS MATERIALIZED ("
        + MINHASH_LSH_PAIRS_SQL
        + f"""),
e AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), verts AS MATERIALIZED (
  SELECT DISTINCT src AS v FROM e
), seeds AS (
  SELECT v FROM verts ORDER BY v LIMIT {BFS_SEEDS}
), reach(v, d) AS (
  SELECT v, 0 FROM seeds
  UNION
  SELECT e.dst, reach.d + 1 FROM reach JOIN e ON e.src = reach.v
  WHERE reach.d < {BFS_MAX_HOPS}
), dist AS (
  SELECT v, min(d) AS d FROM reach GROUP BY v
)
SELECT coalesce(dist.d, -1) AS hops,
       CAST(count(*) AS BIGINT) AS n_docs
FROM verts LEFT JOIN dist USING (v)
GROUP BY 1
"""
    )


BFS_HOPS_SQL = _bfs_hops_sql
