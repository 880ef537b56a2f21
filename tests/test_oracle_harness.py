"""Property tests pinning the oracle-harness normalization contract.

Round-1 lesson: DuckDB widens integer sums to HUGEINT, which the
driver's value-hash stringifies differently from Spark's bigint even
when every value is numerically identical. The local replica's old
``round(v, 9)``/``str()`` normalization masked that. These tests pin
the contract so oracle authoring can't silently reintroduce
engine-representation drift:

1. ``norm_cell`` is type-sensitive (int vs float vs bool vs string).
2. ``lint_types`` rejects DuckDB result types Spark cannot emit, and
   the canonical fix (CAST ... AS BIGINT) passes.
3. A hypothesis sweep: arbitrary small int/float/string frames run
   through Spark AND DuckDB with the blessed aggregate patterns
   (CAST(sum AS BIGINT), round(avg, k), count) produce identical
   normalized multisets.
4. The text and span queries built on the shared term statistics match
   their oracles on a corpus that also holds NULL, empty and
   punctuation-only documents.
"""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import functions as F
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_check import compare, df_multiset, lint_types, norm_cell, oracle_con


def test_norm_cell_is_type_sensitive():
    assert norm_cell(3) != norm_cell(3.0)
    assert norm_cell(True) != norm_cell(1)
    assert norm_cell("3") != norm_cell(3)
    assert norm_cell(None) == "NULL"
    assert norm_cell(float("nan")) == norm_cell(float("nan"))
    # exact float repr — no rounding that could mask drift
    assert norm_cell(0.1 + 0.2) != norm_cell(0.3)


def test_lint_rejects_spark_inexpressible_types():
    con = duckdb.connect()
    rel = con.sql("SELECT sum(x) AS s FROM (SELECT 1 AS x)")
    assert lint_types(rel.columns, [str(t) for t in rel.types]), (
        "naked sum(INTEGER) yields HUGEINT and must be flagged"
    )
    rel = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT 1 AS x)")
    assert not lint_types(rel.columns, [str(t) for t in rel.types])
    rel = con.sql("SELECT 1.5 AS d")  # bare decimal literal is DECIMAL
    assert lint_types(rel.columns, [str(t) for t in rel.types])
    rel = con.sql("SELECT CAST(1.5 AS DOUBLE) AS d")
    assert not lint_types(rel.columns, [str(t) for t in rel.types])


@st.composite
def frames(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    keys = draw(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=n, max_size=n
        )
    )
    ints = draw(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=n,
            max_size=n,
        )
    )
    floats = draw(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=n,
            max_size=n,
        )
    )
    return pd.DataFrame({"k": keys, "i": ints, "x": floats})


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pdf=frames())
def test_blessed_aggregates_agree_across_engines(spark, pdf):
    """sum/avg/count under the oracle-authoring rules (integer sums
    CAST to BIGINT, float aggregates rounded identically on both
    sides) normalize identically through the strict harness."""
    # `round(...) + 0.0` is the blessed float-aggregate pattern: the
    # +0.0 is an IEEE no-op for every value EXCEPT -0.0, which DuckDB's
    # round preserves but Spark's BigDecimal round never emits — a
    # stringifying value-hash would see '-0.0' != '0.0'.
    blessed = """
        SELECT k,
               CAST(sum(i) AS BIGINT) AS si,
               round(avg(x), 6) + 0.0 AS ax,
               count(*) AS n
        FROM prop_t GROUP BY k
        """
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("prop_t")
    s_out = spark.sql(blessed)
    s_cols = s_out.columns
    s_rows = [tuple(r) for r in s_out.collect()]

    con = duckdb.connect()
    con.register("prop_t", pdf)
    rel = con.sql(blessed)
    d_cols, d_rows = rel.columns, rel.fetchall()

    assert not lint_types(d_cols, [str(t) for t in rel.types])
    assert sorted(s_cols) == sorted(d_cols)
    assert df_multiset(s_cols, s_rows) == df_multiset(d_cols, d_rows)


def test_negative_zero_round_divergence_and_guard():
    """DuckDB round() preserves the sign of zero; Spark's round does
    not. `+ 0.0` after the round is the guard: IEEE -0.0 + 0.0 = 0.0,
    and x + 0.0 = x exactly for every other double."""
    con = duckdb.connect()
    (raw,) = con.sql("SELECT round(-1e-9, 6)").fetchone()
    assert str(raw) == "-0.0"  # the divergence exists
    (guarded,) = con.sql("SELECT round(-1e-9, 6) + 0.0").fetchone()
    assert str(guarded) == "0.0"
    (other,) = con.sql("SELECT round(-1.5e-6, 6) + 0.0").fetchone()
    assert other == -2e-06  # guard is a no-op away from zero


def test_unblessed_integer_sum_fails_the_harness(spark):
    """The failure mode the lint exists for: DuckDB HUGEINT from a
    naked integer sum must NOT normalize equal under type-tagged
    normalization rules — the lint is what catches it."""
    con = duckdb.connect()
    rel = con.sql("SELECT sum(x) AS s FROM (SELECT CAST(3 AS INT) AS x)")
    assert lint_types(rel.columns, [str(t) for t in rel.types])
    # value itself round-trips as python int, so the TYPE lint (not the
    # value compare) is the guard — assert we understand why:
    assert rel.fetchall() == [(3,)]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    micros=st.lists(
        st.integers(min_value=1_500_000_000_000_000, max_value=1_900_000_000_000_000),
        min_size=1,
        max_size=20,
    )
)
def test_fractional_epoch_parity(spark, micros):
    """Range-window time bases must agree to the microsecond: Spark's
    ts.cast('double') and DuckDB's epoch(ts) both compute micros/1e6 in
    float64, so the doubles are identical for ANY microsecond timestamp
    (unix_timestamp() truncates to seconds and is NOT safe — the
    rolling_1h_user_value lesson)."""
    import pandas as pd

    pdf = pd.DataFrame({"ts": pd.to_datetime(micros, unit="us")})
    sdf = spark.createDataFrame(pdf)
    s_vals = [
        r[0] for r in sdf.select(F.col("ts").cast("double")).collect()
    ]
    con = duckdb.connect()
    con.register("ts_t", pdf)
    d_vals = [r[0] for r in con.sql("SELECT epoch(ts) FROM ts_t").fetchall()]
    assert sorted(map(repr, s_vals)) == sorted(map(repr, d_vals))


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cents=st.lists(
        st.integers(min_value=-10_000_000, max_value=10_000_000),
        min_size=1,
        max_size=50,
    )
)
def test_integer_cents_sum_parity(spark, cents):
    """The order-free money-sum formulation: per-row values quantized to
    integer cents, integer-summed, divided once — identical doubles in
    both engines for any input and any aggregation order (the
    product_type_profit lesson; naive round(sum(double),2) is NOT safe
    on rounding-boundary groups)."""
    import pandas as pd

    pdf = pd.DataFrame({"v": [c / 100.0 for c in cents]})
    sdf = spark.createDataFrame(pdf)
    (s_val,) = sdf.agg(
        F.round(F.sum(F.round(F.col("v") * 100).cast("long")) / 100.0, 2)
    ).collect()[0]
    con = duckdb.connect()
    con.register("m_t", pdf)
    (d_val,) = con.sql(
        "SELECT round(CAST(sum(CAST(round(v * 100) AS BIGINT)) AS DOUBLE)"
        " / CAST(100.0 AS DOUBLE), 2) FROM m_t"
    ).fetchone()
    assert repr(s_val) == repr(float(d_val))


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_gd2_logits_clear_decision_threshold(sf):
    """ULP-boundary guard for the unrolled-GD accuracy oracles
    (ADVICE r7): one_vs_one_training / one_vs_one_shim /
    ensemble_vote_accuracy compare UNROUNDED accuracies, which assumes
    every final p >= 0.5 decision (logit >= 0) agrees between numpy's
    BLAS dot product and DuckDB's sequential list_sum. That holds as
    long as no sample's final logit sits within a few ulps of 0. This
    replays the exact 2-step trainer in numpy at both gate SFs and
    certifies the minimum |logit| margin is astronomically larger than
    accumulated dot-product error (~1e-13 for 64 dims) — so a future
    driver hash mismatch on these entries means the DATA moved onto
    the knife edge, not a trainer/oracle regression."""
    import itertools

    import numpy as np
    import pyarrow.parquet as pq

    from map_reduce_engine_cdps_spark.operators.mlpipeline import (
        GD_LR,
        PROBE_ITERS,
        _GD2_DIMS,
    )

    t = pq.read_table(f"/root/testdata/sf{sf}/embeddings.parquet").to_pandas()
    t = t.sort_values("vec_id")
    dims = len(t["embedding"].iloc[0])
    assert dims == _GD2_DIMS  # testdata width the docs cite
    min_margin = np.inf
    for a, b in itertools.combinations(sorted(t["label"].unique()), 2):
        sub = t[t["label"].isin([a, b])]
        x = np.array([np.asarray(v, dtype=np.float64) for v in sub["embedding"]])
        y = (sub["label"].to_numpy() == b).astype(np.float64)
        w, bias = np.zeros(x.shape[1]), 0.0
        for _ in range(PROBE_ITERS):
            p = 1.0 / (1.0 + np.exp(-np.clip(x @ w + bias, -30, 30)))
            w -= GD_LR * (x.T @ (p - y) / len(y))
            bias -= GD_LR * float(np.mean(p - y))
        min_margin = min(min_margin, float(np.min(np.abs(x @ w + bias))))
    # measured 2.07e-6 (sf0.001) / 6.61e-6 (sf0.01): tighter than one
    # might hope, but still ~1e7× the cross-engine summation-order
    # error (~1e-13 for a 64-dim dot) — decisions cannot flip. The
    # guard sits at 1e-8 so it trips only if the data genuinely
    # approaches the knife edge, not on per-SF margin wobble.
    assert min_margin > 1e-8, min_margin


# Every query built on plans/textops.py's word stream, word count, tf/df
# and unigram scorer, on plans/dedup.py's span-window stream, plus
# knn_hubness_stats.
TERM_STAT_QUERIES = [
    "wordcount", "tfidf_top_terms", "unigram_logprob_scores",
    "ccnet_perplexity_buckets", "vocab_coverage_stats", "bm25_scores",
    "retrieval_ndcg_eval", "rrf_fusion_topk", "inverted_index_stats",
    "bpe_merges", "bpe_token_compression", "zipf_fit", "vocab_growth_heaps",
    "nb_lang_confusion", "bigram_logprob_scores", "wand_pruned_retrieval",
    "term_burstiness", "query_expansion_pmi", "duplicate_spans",
    "duplicate_spans_sampled", "span_sample_error_eval",
    "boilerplate_span_topk", "knn_hubness_stats",
]


def test_term_statistics_match_oracle_on_degenerate_text(spark, sf_dir, tmp_path):
    """Documents whose text has no clean token (NULL, '' and
    punctuation only) add no word, tf, df or span window on either
    engine, so every oracle compare still holds."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_engine_cdps_spark.sources.readers import TABLES

    for t in TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pq.read_table(tmp_path / "documents.parquet")
    first = max(docs.column("doc_id").to_pylist()) + 1
    texts = [None, "", "!!! ..."]
    extra = pa.table(
        {
            "doc_id": [first + i for i in range(len(texts))],
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [None if x is None else len(x) for x in texts],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), tmp_path / "documents.parquet")

    con = oracle_con(str(tmp_path))
    failed = {}
    for name in TERM_STAT_QUERIES:
        _, problems = compare(spark, con, name, str(tmp_path))
        if problems:
            failed[name] = problems
    assert not failed, failed
