"""Plan-quality gate: the structural properties tools/plan_audit.py
checks interactively, locked into CI for a fast representative subset
(sf0.001 so the whole module adds ~15 s). Catches regressions like a
dimension join silently degrading to sort-merge-with-shuffle or a filter
no longer reaching the scan.

Every plan is read through `tools/plan_inspect.py` (`P`): the
`P.physical` / `P.executed` strings, the exchange payload helpers and
the `P.nodes` walker, with `P.aqe_off` for plans built without adaptive
execution. `_plan` runs the query, then reads the plan Spark chose
before execution (`count()` runs a separate aggregate).
"""

from __future__ import annotations

import re

import pytest

from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from tools import plan_inspect as P

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, query) -> str:
    """Run a registry query (by name) or a DataFrame, then read its plan."""
    df = _REGISTRY[query][0](spark, SF_DIR) if isinstance(query, str) else query
    df.count()
    return P.physical(df)


@pytest.mark.parametrize(
    "name,n_broadcast",
    [("revenue_by_nation", 2), ("shipping_priority", 1), ("top_return_customers", 2)],
)
def test_dim_joins_broadcast(spark, name, n_broadcast):
    plan = _plan(spark, name)
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= n_broadcast, name
    assert not re.search(r"CartesianProduct", plan), name


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "danger_topk")
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = _REGISTRY["pricing_summary"][0](spark, SF_DIR)
    plan = _plan(spark, df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "no filters pushed to the parquet scan"
    # column pruning: the scan must not read all 11 lineitem columns
    # (counted on the read schema itself: the plan string abbreviates
    # `ReadSchema` at 100 characters)
    assert P.census(df)["scans"][0]["width"] <= 6


def test_forecast_revenue_is_scan_bound(spark):
    """Q6 shape: the whole predicate must reach the parquet scan and the
    plan must contain no join — at 100 TB this query is pure scan-rate,
    one partial/final agg, zero wide exchange."""
    df = _REGISTRY["forecast_revenue"][0](spark, SF_DIR)
    plan = _plan(spark, df)
    # the plan printer truncates long filter lists ("…"), so don't
    # require the closing bracket
    m = re.search(r"PushedFilters: \[(.*?)(?:\], |\.\.\.)", plan)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1)
    assert "Join" not in plan
    assert P.census(df)["scans"][0]["width"] <= 4


def test_top_revenue_supplier_broadcasts(spark):
    """Q15 shape: the 1-row max and the supplier dim must both arrive as
    broadcasts; the per-supplier aggregate is the only data-sized
    shuffle."""
    plan = _plan(spark, "top_revenue_supplier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides are written bucketBy(8, join_key), so the sort-merge
    join must consume the bucketed scans directly — any Exchange feeding
    the join means the write-time partitioning was wasted. The only
    allowed exchange is the tiny post-join groupBy on o_orderstatus."""
    plan = _plan(spark, "bucketed_join_stats")
    join_part = plan.split("SortMergeJoin")[-1]  # subtree feeding the join
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part, join_part[:1500]
    # post-agg hash exchange + final orderBy range exchange only
    assert len(re.findall(r"Exchange", plan)) <= 2
    assert re.search(r"Bucketed: true", plan)


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime bloom-filter injection: a shuffle join whose build side is
    selectively filtered must push a bloom_filter_agg of the build keys
    into the probe side's scan stage, so non-joining fact rows die
    before the exchange. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching slice.
    Thresholds lowered because the default application-side floor is
    10 GB; the injected plan shape is scale-independent."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with P.conf(spark, tuned):
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        ords = (
            load_table(spark, SF_DIR, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        j = li.join(ords, li.l_orderkey == ords.o_orderkey).select("l_quantity")
        plan = P.executed(j)
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert "might_contain" in plan.lower() or "bloomFilter" in plan


# (table, columns written, partition column, dimension rows, kept values)
_DPP_FACTS = {
    "events": (
        "events", ["event_id", "user_id", "event_type", "value"], "event_type",
        [("click", "keep"), ("purchase", "keep"), ("view", "drop"),
         ("error", "drop"), ("signup", "drop")],
        ("click", "purchase"),
    ),
    "lineitem": (
        "lineitem", ["l_orderkey", "l_returnflag", "l_extendedprice"], "l_returnflag",
        [("A", "keep"), ("N", "drop")],
        ("A",),
    ),
}


@pytest.mark.parametrize("fact_name", sorted(_DPP_FACTS))
def test_dynamic_pruning_reaches_fact_scan(spark, tmp_path, fact_name):
    """Joining a hive-partitioned fact on its partition column against a
    filtered dim must inject a dynamicpruningexpression into the scan's
    PartitionFilters — at 100 TB this is what turns 'scan every
    partition then join' into 'scan only the partitions the dim
    selects', without the query author naming them statically. Checked
    on two fact layouts; the join keeps exactly the kept partitions'
    rows."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    table, cols, key, dim_rows, kept = _DPP_FACTS[fact_name]
    src = load_table(spark, SF_DIR, table).select(*cols)
    out = str(tmp_path / f"dpp_{table}")
    src.write.mode("overwrite").partitionBy(key).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(dim_rows, f"{key} string, tag string")
    j = (
        fact.join(dim.filter(F.col("tag") == "keep"), key)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = {r[key]: r["n"] for r in j.collect()}
    plan = P.physical(j)
    assert "dynamicpruningexpression" in plan, plan[:2000]
    # semantics: only the kept partitions survive
    expect = {
        r[key]: r["n"]
        for r in src.groupBy(key).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[key] in kept
    }
    assert rows == expect


DEDUP_FAMILY = [
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_containment",
    "ngram_jaccard_topk",
    "near_dup_clusters",
    "near_dup_clusters_star",
    "duplicate_spans",
    "edit_distance_pairs",
    "simhash_hamming_pairs",
    "bbit_minhash_eval",
    "incremental_near_dup",
    "dup_length_bias",
    "cross_source_leakage",
    "dup_graph_triangles",
    "customer_record_linkage",
]


def test_dedup_exchanges_carry_no_string_arrays(spark):
    """No dedup-family exchange may move an array-of-string payload:
    shingle sets cross the one banded shuffle as hashed longs and every
    pair row downstream is scalar-only (plans/dedup.py). This is the
    regression gate for the round-2/3 spill-boundary instability
    (driver sf1: 31.4 s vs 2.1 s on identical code)."""
    with P.aqe_off(spark):
        for name in DEDUP_FAMILY:
            df = _REGISTRY[name][0](spark, SF_DIR)
            bad = P.string_array_exchanges(df)
            assert not bad, f"{name}: string-array shuffle payload {bad}"


def test_lsh_pair_exchanges_are_scalar_only(spark):
    """Stronger shape check for the LSH verifier itself: downstream of
    the single banded exchange (the only one allowed to carry ANY array
    — hashed-long shingle sets), the pair-dedup exchange must carry only
    scalar columns."""
    with P.aqe_off(spark):
        df = _REGISTRY["minhash_lsh_pairs"][0](spark, SF_DIR)
        payloads = P.exchange_payload_types(df)
    array_cols = [t for t in payloads if t[2].startswith("array<")]
    # exactly one exchange may carry arrays: the banded shuffle,
    # whose shingle payload is array<bigint>
    assert all(t[2] == "array<bigint>" for t in array_cols), array_cols
    nodes_with_arrays = {t[0] + t[1] for t in array_cols}
    assert len({t[1] for t in array_cols}) <= 1, nodes_with_arrays


ANN_FAMILY_ARRAY_EXCHANGE_BOUNDS = {
    # embeddings may cross a shuffle Exchange at most once per relation
    # (re-attach / probe join); rank windows shuffle scalars only unless
    # a Partial WindowGroupLimit bounds the exchange (r12 exemption, see
    # rank_window_array_exchanges).
    "knn_bruteforce": 1,        # r13 grouped kernel: ONE salt-group
                            # exchange carries the corpus ×1 (queries
                            # replicated via broadcast range) — the
                            # bucket_pair_cos shape; the old 0-crossing
                            # shape paid 10×2 embeddings per pair at
                            # the Arrow boundary instead
    "lsh_ann_topk": 0,          # bucket join broadcasts the candidate
                            # side at this SF (size-based, not hinted —
                            # at scale the planner shuffles instead);
                            # r13 kept the pair-join shape (grouped /
                            # semi-prefilter variants measured slower
                            # at sf0.1, receipts in `git show
                            # cb976e8:tools/r13_ann_ab.py`)
                            # but eqNullSafe keys now stop the bucket
                            # UDF from evaluating twice per side
    "ann_recall_eval": 1,       # LSH side broadcasts; the exact side
                            # is knn_bruteforce and inherits its one
                            # salt-group crossing (r13)
    "ivf_ann_topk": 4,          # r12 carry-through-window shape: q_emb /
                            # c_emb each cross their rank exchange
                            # (corpus×n rows — partial WindowGroupLimit
                            # prunes map-side BEFORE the shuffle, see
                            # rank_window_array_exchanges' WGL
                            # exemption) + the probe join's two list_id
                            # exchanges. The r5-r11 shape also moved
                            # the corpus arrays for its re-attach
                            # (broadcast locally, a corpus shuffle at
                            # scale) but paid a second scan + second
                            # norm pass for it (OPTIMIZATION_r12.md).
    "embedding_near_dup": 2,    # load_parallel's local-mode
                            # repartition (file splits provide this on
                            # a cluster) + ONE bucket shuffle shared
                            # by the EMB_BUCKET_CAP rank and the
                            # pairing join — Window+Filter preserve
                            # the partitioning, so pairing adds no
                            # exchange (a scalar-rank semi-join shape
                            # measured 3 crossings; this shape wins)
    "semdedup_prune": 3,        # min_by partial-agg structs: one row
                            # per group after map-side combine (x2
                            # argmin exchanges) + one plain join
    "knn_hubness_stats": 1,     # its edges are knn_bruteforce's grouped
                            # exact top-k, so it inherits that one
                            # salt-group crossing
}


def test_ann_rank_exchanges_are_scalar_only(spark):
    """VERDICT r4 item 8: no ANN-family Exchange feeding a rank/argmin
    Window may carry an array payload — in bucketed shapes that
    exchange moves K scored rows per vector, so an embedding there is
    K× the corpus (the ANN analogue of the dedup string-array ban).

    Exemption: embedding_near_dup's EMB_BUCKET_CAP rank rides the ONE
    bucket shuffle the pairing self-join needs anyway — a corpus-x1
    payload, not the K-multiplied shape this gate exists for — and the
    crossings-bound test pins that exchange count at 1."""
    with P.aqe_off(spark):
        for name in ANN_FAMILY_ARRAY_EXCHANGE_BOUNDS:
            if name == "embedding_near_dup":
                continue
            df = _REGISTRY[name][0](spark, SF_DIR)
            bad = P.rank_window_array_exchanges(df)
            assert not bad, f"{name}: array payload on a rank-window shuffle {bad}"


def test_ann_embedding_shuffle_crossings_bounded(spark):
    """Embeddings cross shuffle Exchanges at most the recorded number
    of times per query (broadcast exchanges excluded — small-side
    broadcast IS the intended shape). A new crossing appearing here
    means a join/window reshuffle started moving vectors it didn't
    need to."""
    with P.aqe_off(spark):
        for name, bound in ANN_FAMILY_ARRAY_EXCHANGE_BOUNDS.items():
            df = _REGISTRY[name][0](spark, SF_DIR)
            n = P.shuffle_array_exchange_count(df)
            assert n <= bound, f"{name}: {n} array shuffle crossings > {bound}"


def _jobs_run_by(spark, build) -> int:
    """Number of Spark jobs that `build()` runs."""
    sc = spark.sparkContext

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return set(sc.statusTracker().getJobIdsForGroup())

    before = job_ids()
    build()
    return len(job_ids() - before)


def test_knn_hubness_front_is_in_the_plan(spark):
    """knn_hubness_stats keeps its kNN front in the plan it returns: no
    checkpoint (an RDD scan) hides the front from the crossings gate
    above, and building the DataFrame runs no Spark job beyond the
    parquet schema read of its one table."""
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    query = _REGISTRY["knn_hubness_stats"][0]
    assert _jobs_run_by(spark, lambda: query(spark, SF_DIR)) == _jobs_run_by(
        spark, lambda: load_table(spark, SF_DIR, "embeddings")
    )
    plan = _plan(spark, "knn_hubness_stats")
    assert "ExistingRDD" not in plan, plan[:2000]



@pytest.mark.parametrize("read", ["load_table", "table_rows"])
def test_load_table_runs_no_spark_job(spark, tmp_path, read):
    """load_table reads the parquet schema, and table_rows the row count,
    on the driver from the footer: building a table's DataFrame runs no
    schema-inference job and counting its rows no count job, on the
    first read of a file (a fresh copy) or a later one. The footer
    count equals count()."""
    import shutil

    from map_reduce_engine_cdps_spark.sources import readers

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)
    fn = getattr(readers, read)
    for name in readers.TABLES + readers.TABLES:
        assert _jobs_run_by(spark, lambda: fn(spark, sf, name)) == 0, name
    if read == "table_rows":
        for name in readers.TABLES:
            assert fn(spark, sf, name) == readers.load_table(spark, sf, name).count(), name


def test_load_parallel_widens_by_row_groups_not_splits(spark):
    """load_parallel repartitions a table with fewer parquet row groups
    than cores, even when small split sizes cut its one row group into
    at least as many scan splits as there are cores (a split without
    the row group's start reads no rows)."""
    from map_reduce_engine_cdps_spark.sources.readers import (
        load_parallel,
        load_table,
        table_row_groups,
    )

    par = spark.sparkContext.defaultParallelism
    assert table_row_groups(spark, SF_DIR, "lineitem") == 1 < par
    small = {"spark.sql.files.maxPartitionBytes": "4096",
             "spark.sql.files.openCostInBytes": "1024"}
    with P.conf(spark, small):
        assert load_table(spark, SF_DIR, "lineitem").rdd.getNumPartitions() >= par
        plan = P.executed(load_parallel(spark, SF_DIR, "lineitem"))
    assert f"RoundRobinPartitioning({par})" in plan, plan[:2000]


# Spark jobs of a warm build (memos already filled) of each query that
# sizes a tier or constant by the row count of an unfiltered table,
# which table_rows reads from the footers without a job, or that
# returns its shared fronts and scalars as plan instead of checkpoints
# and collected literals. The jobs left are filtered counts and
# label_propagation_communities' three loop rounds, each a checkpoint
# whose adaptive plan runs its stages as jobs.
COUNT_SITE_BUILD_JOBS = {
    ("textops", "wand_pruned_retrieval"): 0,
    ("textops", "term_burstiness"): 0,
    ("textops", "query_expansion_pmi"): 0,
    ("textops", "rrf_fusion_topk"): 0,
    ("textops", "retrieval_ndcg_eval"): 0,
    ("dedup", "lsh_band_tuning_eval"): 0,
    ("dedup", "shingle_size_sensitivity"): 0,
    ("analytics", "freq_items_check"): 2,
    ("analytics", "segment_nation_mi"): 6,
    ("curation", "quantile_normalized_quality"): 0,
    ("curation", "cdc_chunk_stats"): 0,
    ("similarity", "embedding_near_dup"): 0,  # the uncached builder
    ("similarity", "negative_sampling_pairs"): 0,
    ("relational", "zorder_layout_stats"): 0,
    ("relational", "bloom_fpr_eval"): 0,
    ("relational", "max_concurrent_sessions"): 0,
    ("graph", "label_propagation_communities"): 14,
}


def _warm_build_jobs(spark, module: str, name: str) -> int:
    """Spark jobs of a second build of `plans.<module>.<name>`; the first
    fills the session memos the query reads."""
    import importlib

    query = getattr(importlib.import_module(f"map_reduce_engine_cdps_spark.plans.{module}"), name)
    query(spark, SF_DIR)
    return _jobs_run_by(spark, lambda: query(spark, SF_DIR))


@pytest.mark.parametrize("module,name", sorted(COUNT_SITE_BUILD_JOBS))
def test_count_site_build_jobs(spark, module, name):
    """Building a query that reads a table's row count runs no count job."""
    assert _warm_build_jobs(spark, module, name) == COUNT_SITE_BUILD_JOBS[module, name]


# Queries whose build runs no job and whose plan holds their whole
# front: no RDD scan (a checkpoint, or rows made in Python) hides part
# of it from the plan gates and the A/B digest. Both RDD scans of
# lsh_band_tuning_eval read the session memo of its truth pairs.
PLAN_RDD_SCANS = {
    "rrf_fusion_topk": 0,
    "wand_pruned_retrieval": 0,
    "query_expansion_pmi": 0,
    "retrieval_ndcg_eval": 0,
    "bloom_fpr_eval": 0,
    "max_concurrent_sessions": 0,
    "shingle_size_sensitivity": 0,
    "cdc_chunk_stats": 0,
    "lsh_band_tuning_eval": 2,
}


@pytest.mark.parametrize("name", sorted(PLAN_RDD_SCANS))
def test_lazy_queries_keep_their_front_in_the_plan(spark, name):
    df = _REGISTRY[name][0](spark, SF_DIR)
    assert P.digest(df)[1] is (PLAN_RDD_SCANS[name] > 0)
    assert P.census(df)["rdd_scans"] == PLAN_RDD_SCANS[name]


# Spark jobs of a warm build of each query that runs a fixpoint loop
# with a convergence signature: one checkpoint per round (the signature
# is observed in its job) plus the query's own jobs around the loop.
# The count depends on the partitioning of the memos the loop reads;
# memos are keyed on the confs that shape it, so one built inside
# `P.aqe_off` by another test is not the one read here.
LOOP_BUILD_JOBS = {
    ("dedup", "near_dup_clusters"): 9,
    ("dedup", "near_dup_clusters_star"): 19,
    ("dedup", "customer_golden_records"): 12,
    ("similarity", "dbscan_clusters"): 7,
    ("graph", "kcore_membership"): 14,
    ("graph", "ktruss_edges"): 15,
}


@pytest.mark.parametrize("module,name", sorted(LOOP_BUILD_JOBS))
def test_loop_build_jobs(spark, module, name):
    """A loop round runs no Spark job besides its own checkpoint."""
    assert _warm_build_jobs(spark, module, name) == LOOP_BUILD_JOBS[module, name]


MULTIMODAL_FAMILY = [
    # every registry query whose input is the binary media column
    # (documents-derived payloads or .benchmedia fixtures)
    "doc_embeddings",
    "media_features",
    "image_dhash_dedup",
    "audio_window_features",
    "ppm_image_features",
    "ppm_gradient_features",
    "ppm_cnn_embeddings",
    "ppm_video_frame_samples",
    "wav_audio_windows",
    "video_frame_samples",
]


def test_multimodal_exchanges_carry_no_binary(spark):
    """Media bytes must reach the Arrow decode boundary without riding
    a shuffle: scan -> mapInPandas/pandas_udf -> scalar features, with
    every groupBy/join downstream keyed on scalars (dhash longs, media
    ids, feature columns). A binary Exchange payload here means
    megabyte rows being hashed, sorted, and spilled per shuffle write —
    the multimodal analogue of the dedup string-array ban that caused
    the round-2/3 sf1 instability."""
    with P.aqe_off(spark):
        for name in MULTIMODAL_FAMILY:
            df = _REGISTRY[name][0](spark, SF_DIR)
            bad = P.binary_shuffle_exchanges(df)
            assert not bad, f"{name}: binary shuffle payload {bad}"


def test_eval_global_windows_are_row_bounded(spark):
    """VERDICT r5 item 5: the two eval queries that rank through a
    no-partition window (shingle_size_sensitivity's median rank,
    wand_pruned_retrieval's k-th-score fetch) must keep that window's
    input an eval-scale object. This counts the ACTUAL frames those
    windows sort at the test SF and fails long before a sample-rate or
    threshold change (e.g. a _SHINGLE_SAMPLE_PCT bump) could turn the
    single-partition sort into a million-row bottleneck. Caps live
    next to the queries (SHINGLE_WINDOW_ROW_CAP / WAND_WINDOW_ROW_CAP);
    the margin factor keeps headroom so growth trends trip the gate
    before production scale does."""
    from map_reduce_engine_cdps_spark.plans import dedup, textops
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    docs = dedup._sampled_docs(
        load_table(spark, SF_DIR, "documents"), SF_DIR, dedup._SHINGLE_TIERS
    )
    n_sampled = docs.count()
    for n in dedup._SHINGLE_SIZES:
        rows = dedup._shingle_truth_pairs(docs, n).count()
        assert rows <= dedup.SHINGLE_WINDOW_ROW_CAP, (
            f"shingle width {n}: {rows} truth pairs exceed the global-"
            f"window cap {dedup.SHINGLE_WINDOW_ROW_CAP}"
        )
        # quadratic-degeneration tripwire: truth pairs should stay far
        # below the all-pairs count of the sample
        all_pairs = n_sampled * (n_sampled - 1) // 2
        assert rows <= all_pairs // 4 or rows <= 1000, (
            f"shingle width {n}: {rows} of {all_pairs} sample pairs pass "
            "the truth threshold — the sample join is degenerating "
            "toward all-pairs"
        )

    scores = textops._wand_doc_scores(spark, SF_DIR)
    rows = scores.count()
    assert rows <= textops.WAND_WINDOW_ROW_CAP, (
        f"wand k-th-score window input {rows} exceeds cap "
        f"{textops.WAND_WINDOW_ROW_CAP}"
    )


def test_round6_global_windows_are_value_bounded(spark):
    """The two round-6 queries that rank through a no-partition window
    must keep that window's input bounded by DESIGN, not by data size:
    quality_score_auc sorts one row per DISTINCT 4-decimal score
    (≤ 10001 values whatever the corpus), chi2_term_selection sorts the
    df-thresholded vocabulary (Heaps-sublinear; capped here with
    headroom so a tokenizer change trips the gate first), and
    bootstrap_revenue_ci's percentile sort is exactly _BOOT_B rows."""
    from map_reduce_engine_cdps_spark.functions import text as TX
    from map_reduce_engine_cdps_spark.plans import analytics, textops
    from map_reduce_engine_cdps_spark.sources.readers import load_parallel

    from pyspark.sql import functions as F

    docs = load_parallel(spark, SF_DIR, "documents")
    tok = TX.tokens(F.col("text"))
    n_scores = (
        docs.select(F.round(TX.stopword_ratio(tok), 4).alias("s"))
        .distinct()
        .count()
    )
    assert n_scores <= 10001  # structural bound of the 4-decimal ratio

    vocab = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(TX.clean_tokens(F.col("text")))).alias(
                "term"
            ),
        )
        .groupBy("term")
        .count()
        .filter(F.col("count") >= textops._CHI2_MIN_DF)
        .count()
    )
    assert vocab <= 50_000, (
        f"chi2 ranking window input {vocab} terms — df>={textops._CHI2_MIN_DF} "
        "vocabulary no longer eval-scale"
    )
    assert analytics._BOOT_B <= 4096


def test_eval_sample_tiers_certified_rates_and_sql_parity():
    """Fixed-budget eval sampling (round 6): every certified SF's doc
    count (≤ 100k) must keep the original sample rates — the tier only
    engages beyond sf1 — and the DuckDB CASE must agree with the
    Python tier at every boundary, else truth fronts diverge."""
    import duckdb

    from map_reduce_engine_cdps_spark.plans.dedup import (
        RECALL_SAMPLE_PCT,
        _RECALL_SAMPLE_TIERS,
        _SHINGLE_SAMPLE_PCT,
        _SHINGLE_TIERS,
        _tier_pct,
        _tier_pct_sql,
    )

    for n in (500, 5_000, 50_000, 100_000):
        assert _tier_pct(n, _RECALL_SAMPLE_TIERS) == RECALL_SAMPLE_PCT
        assert _tier_pct(n, _SHINGLE_TIERS) == _SHINGLE_SAMPLE_PCT
    assert [
        _tier_pct(n, _RECALL_SAMPLE_TIERS)
        for n in (100_001, 300_000, 300_001, 10**9)
    ] == [20, 20, 10, 10]
    for tiers in (_RECALL_SAMPLE_TIERS, _SHINGLE_TIERS):
        rates = [_tier_pct(n, tiers) for n in (1, 10**5, 10**6, 10**9)]
        assert rates == sorted(rates, reverse=True), "tiers must not grow"
        for n in (500, 100_000, 100_001, 300_000, 300_001, 10**7):
            con = duckdb.connect()
            con.execute(f"CREATE TABLE documents AS SELECT * FROM range({n})")
            got = con.execute(f"SELECT {_tier_pct_sql(tiers)}").fetchone()[0]
            assert got == _tier_pct(n, tiers), (tiers, n)


@pytest.mark.parametrize(
    "name,n_shj",
    [
        ("adamic_adar_links", 3),
        ("ktruss_edges", 3),
        ("clustering_coefficients", 2),
        ("dup_graph_triangles", 2),
    ],
)
def test_graph_family_memo_joins_are_shuffle_hash(spark, name, n_shj):
    """r7 sf10 regression gate: every memo-derived join side in the
    graph family carries an explicit shuffle_hash hint — Catalyst
    misestimates the checkpointed/persisted LSH pair front and
    broadcast-OOMs at sf10 without them (SCALE.md rule 7; the probe
    caught adamic/LPA/ktruss as ERRORs). Hints force ShuffledHashJoin
    regardless of size estimates, so counting SHJ operators in the
    executed plan fails the moment a hint is dropped."""
    plan = _plan(spark, name)
    got = len(re.findall(r"ShuffledHashJoin", plan))
    assert got >= n_shj, f"{name}: expected >= {n_shj} ShuffledHashJoin, saw {got}"


def test_lpa_round_join_is_shuffle_hash(spark):
    """The LPA loop checkpoints each round eagerly, so its hinted join
    never appears in the final plan — gate the round helper directly
    (same sf10 broadcast-OOM regression as the test above)."""
    from map_reduce_engine_cdps_spark.plans.dedup import _lsh_pairs_cached
    from map_reduce_engine_cdps_spark.plans.graph import _lpa_round
    from pyspark.sql import functions as F

    pairs = _lsh_pairs_cached(spark, SF_DIR).select("doc_a", "doc_b")
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    )
    labels = e.select(F.col("src").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    df = _lpa_round(e, labels)
    plan = _plan(spark, df)
    assert re.search(r"ShuffledHashJoin", plan), plan[:2000]


def test_minhash_signature_tokenizes_once(spark):
    """The signature front tokenizes each document once: shingles()
    reads its token input 7 times, and an inline tokenizer expression
    (a lambda, so Catalyst cannot share it) ran split() 7 times per
    row until the tokens became a column of their own."""
    from map_reduce_engine_cdps_spark.plans.dedup import _with_minhash_bands
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    df = _with_minhash_bands(load_table(spark, SF_DIR, "documents"))
    plan = _plan(spark, df)
    assert plan.count("split(") == 1, plan[:3000]


def test_certification_window_names_all_have_oracles():
    """The driver gate = the first 50 registry names; a rows-only
    (no-oracle) name in that window burns a certification slot as a
    permanent err:no_oracle row (the r2/r3 one_vs_one_shim lesson,
    VERDICT r6 'What's wrong' #1). Pure structural check — no Spark."""
    from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY

    window = list(_REGISTRY)[:50]
    missing = [n for n in window if _REGISTRY[n][1] is None]
    assert not missing, f"no-oracle names in the gate window: {missing}"


# --- round-12 optimization shape pins (OPTIMIZATION_r12.md) ---


def test_simhash_tokenizes_once(spark):
    """Round 12: _simhash_per_doc computes votes inline on the
    (doc_id, term, count) aggregate — exactly ONE tokenize/explode
    (Generate) in the whole plan. The r5-r11 dictionary-join shape
    planned the explode twice (vocab branch + join branch); a second
    Generate reappearing here means the double tokenize pass is back."""
    from map_reduce_engine_cdps_spark.plans.dedup import _simhash_per_doc

    df = _simhash_per_doc(spark, SF_DIR)
    plan = _plan(spark, df)
    n_gen = len(re.findall(r"\bGenerate explode", plan))
    assert n_gen == 1, f"expected 1 tokenize Generate, found {n_gen}:\n{plan[:2000]}"


def test_tfidf_tf_is_checkpointed(spark):
    """Round 12: tfidf_top_terms localCheckpoints the tf aggregate so
    the corpus is tokenized once per run (the tf subtree is consumed by
    both the dfreq branch and the join probe side). The checkpoint
    truncates lineage, so the final plan must NOT contain a tokenize
    Generate — the tf rows come from the checkpointed RDD scan."""
    plan = _plan(spark, "tfidf_top_terms")
    assert "Generate explode" not in plan, plan[:2000]
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:2000]


def test_ivf_rank_exchange_is_wgl_bounded(spark):
    """Round 12: the IVF rank exchanges may carry the embedding ONLY
    because a Partial WindowGroupLimit prunes map-side to <= n rows per
    vector first (plan_audit's WGL exemption). If the partial WGL ever
    disappears (optimizer regression / shape change), the exemption
    must stop applying and the scalar-only audit must flag the plan."""
    with P.aqe_off(spark):
        df = _REGISTRY["ivf_ann_topk"][0](spark, SF_DIR)
        # the audit returns [] — arrays present but WGL-bounded
        assert P.rank_window_array_exchanges(df) == []
        plan = P.physical(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:2000]


# --- round-13 optimization shape pins (OPTIMIZATION_r13.md) ---


def test_wgl_bound_covers_nprobe_sweep():
    """ADVICE r12: plan_audit's WGL exemption (limit <= WGL_BOUND) and
    the IVF probe counts are coupled only by convention — make the
    relationship explicit so raising NPROBE past the bound is a loud,
    reviewed ratchet flip, not a silent plan-audit failure. Pure
    structural check — no Spark."""
    from map_reduce_engine_cdps_spark.plans.similarity import (
        NPROBE,
        _NPROBE_SWEEP,
    )

    assert max(_NPROBE_SWEEP) <= P.WGL_BOUND
    assert NPROBE <= P.WGL_BOUND


def test_knn_grouped_kernel_single_crossing(spark):
    """Round 13: knn_bruteforce scores via ONE grouped Arrow crossing
    (FlatMapGroupsInArrow over hash-salt groups) — no per-pair
    ArrowEvalPython passes remain (the old shape shipped the corpus
    once per query with BOTH embeddings on every pair row, plus a
    full-corpus norm pass). An ArrowEvalPython reappearing here means
    the pair-join shape is back."""
    plan = _plan(spark, "knn_bruteforce")
    assert "FlatMapGroupsInArrow" in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan, plan[:2000]


def test_lsh_bucket_kernel_not_duplicated(spark):
    """Round 13: lsh_ann_topk joins on eqNullSafe(bucket) so Catalyst
    cannot infer isnotnull(bucket) and duplicate the deterministic
    bucket UDF below the pushed filter (guide §4.4) — the r5-r12 plans
    ran the Arrow bucket kernel TWICE over the full corpus. Executed
    plan: exactly 3 ArrowEvalPython nodes (query norm+bucket, corpus
    norm+bucket — Spark merges adjacent independent UDFs — and the
    pair dot); a 4th means the inferred-null-filter duplication is
    back."""
    plan = _plan(spark, "lsh_ann_topk")
    n = len(re.findall(r"ArrowEvalPython", plan))
    assert n == 3, f"expected 3 ArrowEvalPython, found {n}:\n{plan[:2000]}"


def test_one_vs_one_multicast_payload_is_minimal(spark):
    """Round 13 (VERDICT r12 item 6): the pair-multicast exchange
    feeding the grouped trainer must carry exactly the trainer's
    columns — label_a/label_b (pair key), label, vec_id, embedding.
    Any extra attribute here is multiplied K-1 times per embedding row
    by the multicast."""
    with P.aqe_off(spark):
        df = _REGISTRY["one_vs_one_training"][0](spark, SF_DIR)
        fmg = next((n for n in P.nodes(df) if "FlatMapGroupsInPandas" in n.nodeName()), None)
    assert fmg is not None
    child = fmg.children().apply(0)
    attrs = child.output()
    names = {attrs.apply(i).name() for i in range(attrs.size())}
    assert names == {"label_a", "label_b", "label", "vec_id", "embedding"}, names


def test_quality_filter_flags_scan_is_parallel(spark):
    """Round 12: quality_filter_flags re-parallelizes the one-file scan
    (load_parallel) — the modal-token HOF is the per-row cost center
    and must not run single-threaded in local mode."""
    df = _REGISTRY["quality_filter_flags"][0](spark, SF_DIR)
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() >= min(par, 2)
