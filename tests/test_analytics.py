"""Semantic tests for plans/analytics.py (regression aggregates,
moments, HLL sketches, recursive-CTE gap-fill, collations, SQL
variables). The registry smoke test already proves each runs; these
pin the semantics the oracle hash can't see (self-validation booleans,
calendar contiguity, collation strictness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.plans import analytics
from tools import plan_inspect as P


def test_quantity_moments_builtins_agree(spark, sf_dir):
    rows = analytics.quantity_moments(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # Spark's skewness()/kurtosis() are the population formulas —
        # must agree with the explicit power-sum computation.
        assert r.builtin_skew_ok and r.builtin_kurt_ok, r


def test_hll_merged_sketch_tracks_exact(spark, sf_dir):
    rows = analytics.hll_sketch_users(spark, sf_dir).collect()
    assert rows
    assert all(r.merged_sketch_within_5pct for r in rows)


def test_monthly_gapfill_calendar_is_contiguous(spark, sf_dir):
    df = analytics.monthly_gapfill_revenue(spark, sf_dir)
    months = [r.month for r in df.select("month").orderBy("month").collect()]
    assert len(months) == len(set(months))
    first_y, first_m = map(int, months[0].split("-"))
    expect = []
    y, m = first_y, first_m
    for _ in months:
        expect.append(f"{y:04d}-{m:02d}")
        m += 1
        if m == 13:
            y, m = y + 1, 1
    # no gaps: the recursive calendar is one row per month, inclusive
    assert months == expect


def test_gapfill_zero_months_have_zero_orders(spark, sf_dir):
    df = analytics.monthly_gapfill_revenue(spark, sf_dir)
    zero = df.filter(F.col("order_cnt") == 0)
    assert zero.filter(F.col("revenue") != 0.0).count() == 0


def test_collation_is_case_insensitive_but_distinct_cs_is_not(spark, sf_dir):
    rows = analytics.collated_lang_counts(spark, sf_dir).collect()
    assert rows
    # collated distinct can never exceed case-sensitive distinct
    assert all(r.distinct_langs_ci <= r.distinct_langs_cs for r in rows)
    # and the collated en-count must equal an independent lower()-based
    # recount (collation in the engine ≡ normalization in user code)
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    mangled = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.col("lang"))
    ).otherwise(F.col("lang"))
    expect = {
        r.source: r.n
        for r in docs.filter(F.lower(mangled) == "en")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.source: r.en_docs for r in rows if r.en_docs} == expect


def test_sql_variable_threshold_actually_filters(spark, sf_dir):
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    total = load_table(spark, sf_dir, "part").count()
    pricey = (
        analytics.sql_variable_pricey_parts(spark, sf_dir)
        .agg(F.sum("pricey_parts"))
        .first()[0]
    )
    assert 0 < pricey < total


def test_locf_purchases_keep_own_value(spark, sf_dir):
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    filled = analytics.locf_event_values(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round("value", 4).alias("own")
    )
    j = filled.join(purchases, "event_id")
    assert j.filter(F.col("filled_value") != F.col("own")).count() == 0


def test_locf_null_only_before_first_purchase(spark, sf_dir):
    from pyspark.sql import Window as W

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    seen = ev.select(
        "event_id",
        F.max((F.col("event_type") == "purchase").cast("int"))
        .over(w)
        .alias("purchase_seen"),
    )
    j = analytics.locf_event_values(spark, sf_dir).join(seen, "event_id")
    assert (
        j.filter(
            F.col("filled_value").isNull() & (F.col("purchase_seen") == 1)
        ).count()
        == 0
    )
    assert (
        j.filter(
            F.col("filled_value").isNotNull() & (F.col("purchase_seen") == 0)
        ).count()
        == 0
    )


def test_lateral_top_orders_at_most_two_per_customer(spark, sf_dir):
    df = analytics.lateral_top_orders(spark, sf_dir)
    over = (
        df.groupBy("c_custkey").count().filter(F.col("count") > 2).count()
    )
    assert over == 0
    # decorrelated plan: no nested-loop/cartesian join anywhere
    plan = P.physical(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_freq_items_sketch_has_no_false_negatives(spark, sf_dir):
    rows = analytics.freq_items_check(spark, sf_dir).collect()
    assert rows
    assert all(r.in_sketch for r in rows)


def test_map_roundtrip_matches_direct_having(spark, sf_dir):
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    got = {
        (r.o_custkey, r.status): r.revenue
        for r in analytics.order_status_map_roundtrip(spark, sf_dir).collect()
    }
    od = load_table(spark, sf_dir, "orders")
    direct = {
        (r.o_custkey, r.o_orderstatus): r.revenue
        for r in od.groupBy("o_custkey", "o_orderstatus")
        .agg(F.sum("o_totalprice").alias("raw"))
        .filter(F.col("raw") > 150000.0)
        .select(
            "o_custkey",
            "o_orderstatus",
            F.round("raw", 2).alias("revenue"),
        )
        .collect()
    }
    assert got == direct


def test_regr_r2_bounded(spark, sf_dir):
    rows = analytics.regr_price_qty(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0
        assert r.n > 0


def test_bm25_descending_positive(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans import textops

    rows = textops.bm25_scores(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r["bm25"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_query_terms_hit"] <= 3 for r in rows)


def test_inverted_index_postings_sorted(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans import textops

    rows = textops.inverted_index_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cf"] >= r["df"] >= 1
        head = [int(x) for x in r["posting_head"].split(",")]
        assert head == sorted(head)
        assert len(head) == min(r["df"], 5)


def test_embedding_covariance_psd_properties(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans import similarity

    [row] = similarity.embedding_covariance(spark, sf_dir).collect()
    d = row.asDict()
    for i in range(1, 5):
        assert d[f"cov_{i}_{i}"] >= 0
        for j in range(i + 1, 5):
            assert -1.0 <= d[f"corr_{i}_{j}"] <= 1.0
            # corr consistency: cov_ij ≈ corr_ij * sqrt(var_i var_j)
            import math

            expect = d[f"corr_{i}_{j}"] * math.sqrt(
                d[f"cov_{i}_{i}"] * d[f"cov_{j}_{j}"]
            )
            assert abs(d[f"cov_{i}_{j}"] - expect) < 1e-3


def test_pareto_front_dominance(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans import relational
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    front = relational.pareto_orders(spark, sf_dir).collect()
    assert front
    # no front point dominates another front point
    pts = [(r["o_day"], r["price"]) for r in front]
    for a in pts:
        for b in pts:
            if a != b:
                assert not (
                    a[0] <= b[0] and a[1] >= b[1] and (a[0] < b[0] or a[1] > b[1])
                ), (a, b)
    # every non-front order is dominated by some front point
    import pyspark.sql.functions as F

    all_rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("d"),
            F.round("o_totalprice", 2).alias("p"),
        )
        .collect()
    )
    front_set = set(pts)
    for r in all_rows:
        if (r["d"], r["p"]) in front_set:
            continue
        assert any(
            f[0] <= r["d"] and f[1] >= r["p"] and (f[0] < r["d"] or f[1] > r["p"])
            for f in pts
        ), (r["d"], r["p"])


def test_cms_never_undercounts(spark, sf_dir):
    """CMS estimate >= exact for every user (not just the top-25 the
    registry query returns) — the defining sketch guarantee."""
    from map_reduce_engine_cdps_spark.plans import analytics as A
    import pyspark.sql.functions as F
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    hits = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), A._cms_bucket(j, "user_id").alias("bucket"))
                    for j in range(A._CMS_DEPTH)
                ]
            )
        ).alias("h")
    ).select("h.j", "h.bucket")
    counters = hits.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    probes = exact.select(
        "user_id",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), A._cms_bucket(j, "user_id").alias("bucket"))
                    for j in range(A._CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("user_id", "exact", "h.j", "h.bucket")
    est = (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id", "exact")
        .agg(F.min("c").alias("estimate"))
    )
    bad = est.where(F.col("estimate") < F.col("exact")).count()
    assert bad == 0


def test_mad_outliers_sane(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans import analytics

    rows = analytics.mad_value_outliers(spark, sf_dir).collect()
    assert len(rows) == 5  # one per event_type
    for r in rows:
        assert r["mad"] >= 0
        assert 0 <= r["n_outliers"] <= r["n"]
        assert abs(r["outlier_rate"] - r["n_outliers"] / r["n"]) < 1e-5
        # robust rule: never flags more than a quarter of a group
        assert r["outlier_rate"] < 0.25


def test_interpolation_brackets_readings(spark, sf_dir):
    import pyspark.sql.functions as F
    from map_reduce_engine_cdps_spark.plans import analytics
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    out = analytics.interpolated_event_values(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    # every interpolated value lies within the user's observed range
    rng = ev.groupBy("user_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bad = (
        out.join(rng, "user_id")
        .where(
            (F.col("interp_value") < F.col("lo") - 1e-6)
            | (F.col("interp_value") > F.col("hi") + 1e-6)
        )
        .count()
    )
    assert bad == 0
    # grid points are 6h-aligned relative to a truncated-hour origin
    [r] = out.select(
        F.max(F.minute("ts")).alias("mx_m"), F.max(F.second("ts")).alias("mx_s")
    ).collect()
    assert r["mx_m"] == 0 and r["mx_s"] == 0


def test_bpe_train_golden():
    """Merge learning on a hand-computed corpus: 'low'×5, 'lower'×2,
    'newest'×6, 'widest'×3. Classic BPE example: first merges build
    'est' from the -est suffix mass (9), then 'lo' (7)."""
    from map_reduce_engine_cdps_spark.plans.textops import _bpe_train

    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges, words = _bpe_train(freqs, 4)
    assert merges[0] == ("e", "s", 9)
    assert merges[1] == ("es", "t", 9)
    assert merges[2] == ("l", "o", 7)
    # deterministic: rerun identical
    assert _bpe_train(freqs, 4)[0] == merges
    # merged symbols actually applied to the word state
    state = dict((("".join(s)), s) for s, _ in words)
    assert "est" in state["newest"]
    assert state["low"] == ("low",)  # fully merged by merges 3+4 (l,o)+(lo,w)


def test_bpe_merge_application_non_overlapping():
    """aaaa with pair (a,a) must merge left-to-right non-overlapping:
    aa|aa, never a|aa|a double-count."""
    from map_reduce_engine_cdps_spark.plans.textops import _bpe_train

    merges, words = _bpe_train([("aaaa", 1)], 1)
    assert merges[0] == ("a", "a", 3)  # 3 adjacent pairs counted pre-merge
    assert words[0][0] == ("aa", "aa")


def test_bpe_queries_run(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.textops import (
        bpe_merges,
        bpe_token_compression,
    )

    m = bpe_merges(spark, sf_dir).collect()
    assert 0 < len(m) <= 8
    assert all(r["pair_count"] > 0 for r in m)
    c = bpe_token_compression(spark, sf_dir).collect()[0]
    assert c["avg_syms_after"] < c["avg_syms_before"]


def test_pagerank_invariants(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.graph import nation_trade_pagerank

    rows = nation_trade_pagerank(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r["pagerank"] for r in rows)
    # dense trade graph → no dangling mass; ranks sum to 1
    assert abs(total - 1.0) < 1e-4, total
    assert all(r["pagerank"] > 0 for r in rows)
    # deterministic rerun
    again = {r["n_name"]: r["pagerank"] for r in nation_trade_pagerank(spark, sf_dir).collect()}
    assert all(again[r["n_name"]] == r["pagerank"] for r in rows)


def test_chi2_invariants(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.analytics import brand_nation_chi2

    row = brand_nation_chi2(spark, sf_dir).collect()[0]
    assert row["chi2"] >= 0.0
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    nb = load_table(spark, sf_dir, "part").select("p_brand").distinct().count()
    # dof counts categories OBSERVED in the contingency table: nations
    # that actually have suppliers, not the full nation dimension
    nn = load_table(spark, sf_dir, "supplier").select("s_nationkey").distinct().count()
    assert row["dof"] == (nb - 1) * (nn - 1)
    assert row["n"] > 0


def test_kmv_jaccard_accuracy(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.analytics import kmv_segment_jaccard

    rows = kmv_segment_jaccard(spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert 0.0 <= r["kmv_jaccard"] <= 1.0
        # bottom-k estimator standard error ~ 1/sqrt(k); allow 4 sigma
        assert abs(r["kmv_jaccard"] - r["exact_jaccard"]) < 4 / (128 ** 0.5), r


def test_rfm_quartiles_balanced(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.analytics import rfm_segments

    rows = rfm_segments(spark, sf_dir).collect()
    n_total = sum(r["n_customers"] for r in rows)
    # every scored customer lands in exactly one segment
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    n_cust = load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert n_total == n_cust
    # r-quartile marginals are ntile-balanced (±1)
    per_r = {}
    for r in rows:
        q = int(r["segment"].split("-")[0])
        per_r[q] = per_r.get(q, 0) + r["n_customers"]
    assert set(per_r) == {1, 2, 3, 4}
    assert max(per_r.values()) - min(per_r.values()) <= 1


def test_table_diff_consistency(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.relational import table_diff
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    by = {r["change"]: r for r in table_diff(spark, sf_dir).collect()}
    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    # v1 keys = removed + changed + unchanged; added only in v2
    assert by["removed"]["n_keys"] + by["changed"]["n_keys"] + by["unchanged"]["n_keys"] == n
    # every changed row moved by exactly +100.00
    assert abs(by["changed"]["total_abs_delta"] - 100.0 * by["changed"]["n_keys"]) < 0.01
    assert by["unchanged"]["total_abs_delta"] == 0.0


def test_negative_sampling_invariants(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.similarity import (
        _NEG_K,
        negative_sampling_pairs,
    )
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    rows = negative_sampling_pairs(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs  # every anchor gets negatives
    assert all(1 <= r["n_negatives"] <= _NEG_K for r in rows)
    # deterministic rerun: identical pick hashes
    again = {r["anchor_id"]: r["first_pick_hash"] for r in negative_sampling_pairs(spark, sf_dir).collect()}
    assert all(again[r["anchor_id"]] == r["first_pick_hash"] for r in rows)


def test_cosine_pairs_invariants(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.textops import doc_shingle_cosine_pairs

    rows = doc_shingle_cosine_pairs(spark, sf_dir).collect()
    assert rows, "sf0.001 fixture has near-dup groups; threshold must catch them"
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["n_shared"] >= 1
        # cosine over the pruned idf vectors is bounded by construction
        assert 0.0 < r["cos_sim"] <= 1.0 + 1e-9
        key = (r["doc_a"], r["doc_b"])
        assert key not in seen, "pair emitted twice"
        seen.add(key)


def test_bigram_logprob_matches_direct_recount(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.textops import bigram_logprob_scores
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    rows = {r["doc_id"]: r for r in bigram_logprob_scores(spark, sf_dir).collect()}
    assert rows
    # smoothed conditionals are genuine probabilities: log P < 0
    assert all(r["avg_logprob"] < 0 for r in rows.values())
    # n_bigrams per doc == token count - 1 (positional grams, dups kept)
    import re

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for d in docs[:20]:
        toks = [
            re.sub(r"[^a-z0-9]", "", t)
            for t in d["text"].strip().lower().split()
        ]
        toks = [t for t in toks if t]
        expect = max(len(toks) - 1, 0)
        if expect == 0:
            assert d["doc_id"] not in rows
        else:
            assert rows[d["doc_id"]]["n_bigrams"] == expect


def test_seasonal_decomposition_identity(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.analytics import (
        seasonal_decompose_revenue,
    )

    rows = seasonal_decompose_revenue(spark, sf_dir).collect()
    assert rows
    # additive identity survives the per-component rounding (±3 cents)
    for r in rows:
        assert abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["residual"])) < 0.03
    # seasonal indices are mean-centered: the 12 per-month values sum ~0
    seas = {r["month"][5:7]: r["seasonal"] for r in rows}
    assert len(seas) == 12
    assert abs(sum(seas.values())) < 0.1
    # trend exists only for full 13-month windows: edge months dropped
    assert all(r["trend"] is not None for r in rows)


def test_kfold_partitions_orders_exactly(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.relational import KFOLDS, kfold_assignments
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    rows = kfold_assignments(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sorted(r["fold"] for r in rows) == list(range(KFOLDS))
    assert sum(r["n_orders"] for r in rows) == n_orders
    mean = n_orders / KFOLDS
    for r in rows:
        assert 0.5 * mean < r["n_orders"] < 1.5 * mean, "multiplicative hash skew"


def test_pca_spectrum_identities(spark, sf_dir):
    """Eigenvalue sum = trace of the covariance; spectrum descending and
    non-negative; cumulative ratio hits 1; full reconstruction check on
    the driver-side matrix."""
    import numpy as np

    from map_reduce_engine_cdps_spark.plans.similarity import (
        _PCA_DIMS,
        _tree_moments,
        pca_explained_variance,
    )

    rows = pca_explained_variance(spark, sf_dir).collect()
    assert len(rows) == 64
    evs = [r["eigenvalue"] for r in rows]
    assert all(evs[i] >= evs[i + 1] for i in range(len(evs) - 1))
    assert all(e >= 0 for e in evs)
    assert abs(rows[-1]["cumulative"] - 1.0) < 1e-6
    _, cov = _tree_moments(spark, sf_dir, _PCA_DIMS)
    assert abs(sum(evs) - float(np.trace(cov))) < 1e-3
    # eigh reconstruction on the same matrix the query consumed
    w, v = np.linalg.eigh(cov)
    assert np.abs(cov - (v * w) @ v.T).max() < 1e-8
    # determinism across reruns
    again = [r["eigenvalue"] for r in pca_explained_variance(spark, sf_dir).collect()]
    assert again == evs


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    """Poisson-bootstrap CI: lo <= point mean <= hi, interval is narrow
    relative to the price spread, and the resample construction is
    deterministic across reruns."""
    from map_reduce_engine_cdps_spark.plans.analytics import (
        _BOOT_B,
        bootstrap_revenue_ci,
    )

    row = bootstrap_revenue_ci(spark, sf_dir).collect()[0]
    assert row["b_resamples"] == _BOOT_B
    assert row["ci_lo"] <= row["mean_price"] <= row["ci_hi"]
    # a 95% CI of the mean over >=1500 orders should be far tighter
    # than the raw price scale (prices span ~1e5)
    assert 0 < row["ci_hi"] - row["ci_lo"] < 0.2 * row["mean_price"]
    again = bootstrap_revenue_ci(spark, sf_dir).collect()[0]
    assert again == row


def test_rolling_corr_bounds_and_frames(spark, sf_dir):
    from map_reduce_engine_cdps_spark.plans.analytics import (
        _ROLL_CORR_W,
        rolling_revenue_qty_corr,
    )

    rows = rolling_revenue_qty_corr(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["roll_corr_7d"] is not None:
            assert -1.0 <= r["roll_corr_7d"] <= 1.0
    # only full frames are emitted: first W-1 days dropped
    days = sorted(r["day"] for r in rows)
    import datetime

    full_span = (days[-1] - days[0]).days
    assert len(rows) <= full_span + 1
    # revenue and quantity per day co-move strongly (row count per day
    # drives both): median rolling corr is clearly positive
    vals = sorted(r["roll_corr_7d"] for r in rows if r["roll_corr_7d"] is not None)
    assert vals[len(vals) // 2] > 0.5


def test_hurst_exponent_in_range(spark, sf_dir):
    """H of an aggregated near-iid daily series sits in (0,1) and the
    per-block-size R/S averages grow with block size (the power law the
    fit relies on)."""
    from map_reduce_engine_cdps_spark.plans.analytics import (
        _HURST_BLOCKS,
        hurst_exponent_revenue,
    )

    row = hurst_exponent_revenue(spark, sf_dir).collect()[0]
    assert 0.0 < row["hurst_h"] < 1.0
    rs = [row[f"rs_{m}"] for m in _HURST_BLOCKS]
    assert all(v is not None and v > 0 for v in rs)
    assert rs == sorted(rs), "R/S must increase with block size"


def test_max_concurrent_sessions_vs_bruteforce(spark, sf_dir):
    """The two-level distributed prefix sum must equal a driver-side
    brute-force sweep over the same session intervals."""
    from map_reduce_engine_cdps_spark.plans.relational import (
        _session_intervals,
        max_concurrent_sessions,
    )

    row = max_concurrent_sessions(spark, sf_dir).collect()[0]
    iv = [
        (r["start_ts"], r["end_ts"])
        for r in _session_intervals(spark, sf_dir).collect()
    ]
    assert row["n_sessions"] == len(iv)
    deltas = sorted(
        [(s, -1) for s, _ in iv] + [(e, 1) for _, e in iv],
        key=lambda p: (p[0], p[1]),
    )  # d stored negated so ascending sort puts starts (+1) first
    run = best = 0
    best_t = None
    for t, nd in deltas:
        run -= nd
        if run > best:
            best, best_t = run, t
    assert row["max_concurrent"] == best
    import calendar

    assert row["peak_epoch"] == calendar.timegm(best_t.timetuple())


def test_event_subsequences_vs_bruteforce(spark, sf_dir):
    """Strict-timestamp subsequence support equals the per-user triple
    scan on the collected (small) event log."""
    from collections import defaultdict

    from map_reduce_engine_cdps_spark.plans.relational import (
        frequent_event_subsequences,
    )
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    got = {
        (r["a"], r["b"], r["c"]): r["support"]
        for r in frequent_event_subsequences(spark, sf_dir).collect()
    }
    ev = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .collect()
    ):
        ev[r["user_id"]].append((r["ts"], r["event_type"]))
    types = sorted({t for seq in ev.values() for _, t in seq})
    expect = defaultdict(int)
    for seq in ev.values():
        mn = {}
        mx = {}
        for ts, ty in seq:
            if ty not in mn or ts < mn[ty]:
                mn[ty] = ts
            if ty not in mx or ts > mx[ty]:
                mx[ty] = ts
        for a in types:
            if a not in mn:
                continue
            for c in types:
                if c not in mx:
                    continue
                present = {
                    b for ts, b in seq if mn[a] < ts < mx[c]
                }
                for b in present:
                    expect[(a, b, c)] += 1
    assert got == dict(expect)


def test_pca_variance_identity_matches_spectrum_sum(spark, sf_dir):
    """Σλ (the oracle-certified projection) equals both trace(cov) and
    the rounded eigenvalue column sum of the full spectrum query."""
    import numpy as np

    from map_reduce_engine_cdps_spark.plans.similarity import (
        _PCA_DIMS,
        _tree_moments,
        pca_explained_variance,
        pca_variance_identity,
    )

    row = pca_variance_identity(spark, sf_dir).collect()[0]
    assert row["n_components"] == 64
    _, cov = _tree_moments(spark, sf_dir, _PCA_DIMS)
    assert abs(row["eigenvalue_sum"] - float(np.trace(cov))) < 1e-3
    spectrum = sum(
        r["eigenvalue"] for r in pca_explained_variance(spark, sf_dir).collect()
    )
    assert abs(row["eigenvalue_sum"] - spectrum) < 1e-2
