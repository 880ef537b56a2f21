"""Distributed one-vs-one classifier pipeline (the reference's plants
workload, tasks/plants_classifier.py, re-architected Spark-first;
SURVEY.md §7 step 6).

Reference shape: images → per-image embedding (frozen CNN) → embeddings
multicast to every worker owning a species *pair* (a hand-rolled
replicated join via shuffle_func, tasks/plants_classifier.py:206-219 and
a greedy work-divider at 57-96) → per-pair binary LogisticRegression.

Spark-native shape: the multicast + work-division machinery collapses
into a real join — pairs ⋈ embeddings with the (tiny) pair table
broadcast — and per-pair training is a grouped-map Pandas UDF
(`applyInPandas`), Arrow-batched. At 100 TB scale the shuffle moves
each embedding once per pair membership (same as the reference's
multicast) but binary-encoded, combined, and AQE-balanced, and training
parallelism is per-pair tasks, not per-worker loops.

The trainer is a self-contained numpy logistic regression (deterministic
full-batch gradient descent) because sklearn isn't available in this
container — swapping in sklearn's LogisticRegression is a one-line
change inside ``_fit``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.sources.readers import load_table

TRAIN_SCHEMA = (
    "pair_key string, label_a int, label_b int, n_samples long, "
    "train_acc double, coef_norm double, intercept double"
)


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))


# Production iteration count for the full trainer (the reference trains
# sklearn LogisticRegression to convergence, tasks/plants_classifier.py;
# 200 full-batch GD steps is our dependency-free stand-in). PROBE_ITERS
# is the oracle-replayable registry probe: the same trainer run for a
# fixed small step count so the whole pipeline — pair join geometry,
# grouped Arrow UDF, gradient/sigmoid math, accuracy aggregate — can be
# replayed as unrolled DuckDB SQL (the kmeans_lloyd template,
# plans/similarity.py:_kmeans_sql). Only the iteration count differs
# between probe and production; the code path is identical.
GD_ITERS = 200
GD_LR = 0.5
PROBE_ITERS = 2


def _fit(x: np.ndarray, y: np.ndarray, n_iters: int) -> tuple[np.ndarray, float]:
    """Deterministic binary logistic regression: full-batch GD, zero init,
    fixed LR/iters → reproducible across cluster layouts (no RNG, no
    data-order dependence beyond the callers' vec_id pre-sort). Every
    trainer — DataFrame, full-weights and compat-shim — fits here."""
    w = np.zeros(x.shape[1])
    b = 0.0
    for _ in range(n_iters):
        p = _sigmoid(x @ w + b)
        w -= GD_LR * (x.T @ (p - y) / len(y))
        b -= GD_LR * float(np.mean(p - y))
    return w, b


def _metrics_row(
    label_a: int, label_b: int, x: np.ndarray, y: np.ndarray, w: np.ndarray, b: float
) -> dict:
    """One TRAIN_SCHEMA row for a fitted pair."""
    acc = float(np.mean((_sigmoid(x @ w + b) >= 0.5) == (y == 1.0)))
    # train_acc stays UNROUNDED: it is the exact rational
    # correct/n, bit-identical in numpy and DuckDB (integer sum +
    # one IEEE division) — rounding it would reintroduce the
    # banker's-vs-half-away tie at values like 51/96 = 0.53125.
    # ULP-boundary assumption (ADVICE r7): "correct" itself relies
    # on every p >= 0.5 decision agreeing between numpy's BLAS dot
    # and DuckDB's sequential list_sum — a logit within a few ulps
    # of 0 could flip one decision and fail the hash at some SF
    # even though the math is the same. tests/test_oracle_harness
    # ::test_gd2_logits_clear_decision_threshold measures the
    # minimum |logit| at the gate SFs (certified margin >> 1e-9),
    # so a future mismatch here means the DATA moved onto the
    # knife edge, not that the trainer or oracle regressed.
    # + 0.0 normalizes IEEE -0.0 → 0.0 (Python round(-1e-9, 4) is
    # -0.0; the driver's value-hash stringifies the sign).
    return {
        "pair_key": f"{label_a}_{label_b}",
        "label_a": label_a,
        "label_b": label_b,
        "n_samples": len(y),
        "train_acc": acc,
        "coef_norm": round(float(np.linalg.norm(w)), 4) + 0.0,
        "intercept": round(b, 4) + 0.0,
    }


def _pair_xy(pdf: pd.DataFrame) -> tuple[int, int, np.ndarray, np.ndarray]:
    """(label_a, label_b, x, y) of one pair group, pre-sorted by vec_id."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    label_a = int(pdf["label_a"].iloc[0])
    label_b = int(pdf["label_b"].iloc[0])
    x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    y = (pdf["label"].to_numpy() == label_b).astype(np.float64)
    return label_a, label_b, x, y


def _make_train_pair(n_iters: int):
    """Per-pair trainer UDF for a fixed iteration count: one metrics row."""

    def _train_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        label_a, label_b, x, y = _pair_xy(pdf)
        w, b = _fit(x, y, n_iters)
        return pd.DataFrame([_metrics_row(label_a, label_b, x, y, w, b)])

    return _train_pair


def _pair_sided_embeddings(emb: DataFrame) -> DataFrame:
    """Each embedding row joined to every unordered label pair it belongs
    to (the pairs of reference tasks/plants_classifier.py:57-63). The
    labels → pairs → exploded-side table is tiny and broadcast."""
    labels = emb.select("label").distinct()
    a, b = labels.alias("a"), labels.alias("b")
    sided = (
        a.crossJoin(b)
        .filter(F.col("a.label") < F.col("b.label"))
        .select(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .withColumn("label", F.explode(F.array(F.col("label_a"), F.col("label_b"))))
    )
    return emb.join(F.broadcast(sided), "label")


def train_one_vs_one(
    spark: SparkSession,
    sf_dir: str,
    model_dir: str | None = None,
    n_iters: int = GD_ITERS,
) -> DataFrame:
    """Train one binary classifier per label pair over the embeddings
    table. Returns one row per pair (metrics + coefficients summary).

    The broadcast join replicates each embedding row to each of its
    pairs — the declarative replacement for the reference's multicast
    shuffle_func + divide_work (tasks/plants_classifier.py:57-96,
    206-219). If ``model_dir`` is given, per-pair coefficient rows are
    also persisted there as parquet (the reference's joblib side-output,
    tasks/plants_classifier.py:175-180, as a proper columnar sink).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    trained = _pair_sided_embeddings(emb).groupBy("label_a", "label_b").applyInPandas(
        _make_train_pair(n_iters), schema=TRAIN_SCHEMA
    )
    if model_dir is not None:
        trained.write.mode("overwrite").parquet(model_dir)
        return spark.read.parquet(model_dir)
    return trained


def one_vs_one_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry ``one_vs_one_training``: per-pair training metrics
    at PROBE_ITERS unrolled GD steps, replayed exactly by
    ONE_VS_ONE_GD2_SQL (VERDICT r6 item 2: the rows-only queries gain
    oracle entries via the kmeans_lloyd loop-unrolling template). The
    production trainer is `train_one_vs_one` (n_iters=GD_ITERS),
    pytest-parity-covered against the shim path."""
    return train_one_vs_one(spark, sf_dir, n_iters=PROBE_ITERS).orderBy(
        "label_a", "label_b"
    )


# ---------------------------------------------------------------------------
# Ensemble majority-vote evaluation — the reference's tester flow
# (scripts/plants_classifier_tester.py:37-58): every one-vs-one model
# votes on every sample; the majority label wins (ties → smallest
# label); accuracy is reported per true label (T33 mode-per-group +
# T34 accuracy). Spark-native shape: the C(n,2) models are a bounded
# driver-side artifact (like kmeans centroids), broadcast into an
# Arrow-batched scoring UDF; only (vec, true, pred) rows ever shuffle,
# and only to the per-label accuracy aggregate.
# ---------------------------------------------------------------------------

FULL_TRAIN_SCHEMA = (
    "label_a int, label_b int, weights array<double>, intercept double"
)


def _make_train_pair_full(n_iters: int):
    def _train_pair_full(pdf: pd.DataFrame) -> pd.DataFrame:
        label_a, label_b, x, y = _pair_xy(pdf)
        w, b = _fit(x, y, n_iters)
        return pd.DataFrame(
            [{"label_a": label_a, "label_b": label_b, "weights": list(w), "intercept": b}]
        )

    return _train_pair_full


def ensemble_vote_accuracy(
    spark: SparkSession, sf_dir: str, n_iters: int = GD_ITERS
) -> DataFrame:
    """One-vs-one ensemble evaluated by majority vote, per-true-label
    accuracy. Deterministic end to end (GD trainer has no RNG;
    tie-break = smallest label). The registry registers
    `ensemble_vote_probe` (n_iters=PROBE_ITERS) so the vote replay is
    oracle-checkable; this full-strength version stays the API."""
    emb = load_table(spark, sf_dir, "embeddings")
    models_rows = (
        _pair_sided_embeddings(emb)
        .groupBy("label_a", "label_b")
        .applyInPandas(_make_train_pair_full(n_iters), schema=FULL_TRAIN_SCHEMA)
        .collect()
    )
    models = [
        (r["label_a"], r["label_b"], np.asarray(r["weights"]), r["intercept"])
        for r in models_rows
    ]
    bc = spark.sparkContext.broadcast(models)

    @F.pandas_udf("int")
    def vote(embs: pd.Series) -> pd.Series:
        ms = bc.value
        x = np.vstack(embs.to_numpy()).astype(np.float64)
        labels = sorted({m[0] for m in ms} | {m[1] for m in ms})
        counts = {lab: np.zeros(len(x), dtype=np.int64) for lab in labels}
        for la, lb, w, b in ms:
            is_b = _sigmoid(x @ w + b) >= 0.5
            counts[lb] += is_b.astype(np.int64)
            counts[la] += (~is_b).astype(np.int64)
        # majority vote, ties to the smallest label (labels iterated asc)
        best = np.full(len(x), labels[0])
        best_n = counts[labels[0]].copy()
        for lab in labels[1:]:
            better = counts[lab] > best_n
            best = np.where(better, lab, best)
            best_n = np.maximum(best_n, counts[lab])
        return pd.Series(best, dtype="int32")

    scored = emb.select("label", vote(F.col("embedding")).alias("pred"))
    # vote_accuracy stays UNROUNDED: exact rational correct/n,
    # bit-identical across engines (rounding would reintroduce the
    # half-tie divergence — see _metrics_row).
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.avg((F.col("pred") == F.col("label")).cast("double")).alias(
            "vote_accuracy"
        ),
    )


def ensemble_vote_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry ``ensemble_vote_accuracy``: the majority-vote
    ensemble at PROBE_ITERS GD steps — broadcast models, Arrow vote
    UDF, tie-to-smallest-label argmax and per-label accuracy are all
    replayed by ENSEMBLE_VOTE_GD2_SQL. Only the iteration count
    differs from the production `ensemble_vote_accuracy` API."""
    return ensemble_vote_accuracy(spark, sf_dir, n_iters=PROBE_ITERS)


# ---------------------------------------------------------------------------
# The plants workload through the 4-hook compat shim — the reference's
# ACTUAL program shape (tasks/plants_classifier.py): init computes the
# pair→worker plan (divide_work, :57-96), map emits (label, embedding)
# pairs (:190-203), shuffle MULTICASTS each label to every worker
# owning one of its pairs (:206-219), and the worker-aware reduce
# trains the pairs assigned to that worker id (:222-231). Training
# math and the vec_id pre-sort are shared with the DataFrame path, so
# the two formulations must produce identical metrics — asserted in
# tests. (The DataFrame path remains the recommended one: SURVEY §4.1
# shows the broadcast join subsumes divide_work.)
# ---------------------------------------------------------------------------


def one_vs_one_shim(
    spark: SparkSession,
    sf_dir: str,
    n_workers: int = 4,
    n_iters: int = GD_ITERS,
) -> DataFrame:
    from map_reduce_engine_cdps_spark.compat.mapreduce import run_task

    emb = load_table(spark, sf_dir, "embeddings")
    labels = sorted(r["label"] for r in emb.select("label").distinct().collect())
    pairs = [
        (a, b) for i, a in enumerate(labels) for b in labels[i + 1 :]
    ]

    def init_func(_worker_id: int):
        # divide_work analogue: pair i trains on worker i % n; a label
        # multicasts to every worker owning one of its pairs
        pair_worker = {p: i % n_workers for i, p in enumerate(pairs)}
        label_targets: dict[int, list[int]] = {}
        for (a, b), w in pair_worker.items():
            for lab in (a, b):
                ts = label_targets.setdefault(lab, [])
                if w not in ts:
                    ts.append(w)
        return {"pair_worker": pair_worker, "label_targets": label_targets}

    state = init_func(0)

    def map_func(items, _pid):
        return [
            (r["label"], (r["vec_id"], list(r["embedding"]))) for r in items
        ]

    def shuffle_func(label):
        return state["label_targets"][label]

    def reduce_func(grouped, pid, st):
        out = []
        by_label = dict(grouped)
        for (a, b), w in sorted(st["pair_worker"].items()):
            if w != pid or a not in by_label or b not in by_label:
                continue
            rows = [(vid, vec, a) for vid, vec in by_label[a]] + [
                (vid, vec, b) for vid, vec in by_label[b]
            ]
            rows.sort(key=lambda t: t[0])  # the _pair_xy vec_id pre-sort
            x = np.array([v for _, v, _ in rows], dtype=np.float64)
            y = np.array([1.0 if lab == b else 0.0 for _, _, lab in rows])
            out.append(_metrics_row(a, b, x, y, *_fit(x, y, n_iters)))
        return out

    results = run_task(
        spark,
        emb.select("label", "vec_id", "embedding"),
        map_func,
        shuffle_func=shuffle_func,
        reduce_func=reduce_func,
        init_func=init_func,
        num_partitions=n_workers,
    ).collect()
    return spark.createDataFrame(results, TRAIN_SCHEMA)


def one_vs_one_shim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable projection of the shim's routing ledger.

    ``n_samples`` in the shim output is the number of rows the
    multicast shuffle actually DELIVERED to the worker that trained
    pair (a, b) — so comparing it against a plain per-label-pair
    count(*) certifies that the init/map/multicast-shuffle/reduce
    machinery routed exactly the right rows to exactly one worker per
    pair (no drops, no double-delivery). The iterative trainer metrics
    stay in the rows-only ``one_vs_one_shim`` entry.
    """
    # Routing is independent of the trainer's iteration count, so run
    # the cheap probe depth — the projected columns are identical.
    return one_vs_one_shim(spark, sf_dir, n_iters=PROBE_ITERS).select(
        "pair_key", "label_a", "label_b", "n_samples"
    )


ONE_VS_ONE_SHIM_PAIRS_SQL = """
WITH counts AS (
  SELECT label, count(*) AS n FROM embeddings GROUP BY label
)
SELECT cast(a.label AS varchar) || '_' || cast(b.label AS varchar) AS pair_key,
       a.label AS label_a, b.label AS label_b,
       cast(a.n + b.n AS bigint) AS n_samples
FROM counts a JOIN counts b ON a.label < b.label
"""


def one_vs_one_shim_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry ``one_vs_one_shim``: the 4-hook compat program at
    PROBE_ITERS GD steps, sharing ONE_VS_ONE_GD2_SQL with the DataFrame
    path — one oracle certifying that init/map/multicast-shuffle/reduce
    AND the trainer math agree with plain SQL semantics (the
    wordcount_shim ≡ WORDCOUNT_SQL pattern). Routing-only certification
    stays in ``one_vs_one_shim_pairs``; the production shim keeps
    n_iters=GD_ITERS."""
    return one_vs_one_shim(spark, sf_dir, n_iters=PROBE_ITERS)


# ---------------------------------------------------------------------------
# Unrolled-GD DuckDB oracles (VERDICT r6 item 2). PROBE_ITERS=2 steps
# from zero init unroll exactly: step 1 is closed-form (sigmoid(0)=0.5
# for every sample), step 2 exercises the real sigmoid/dot math. The
# replay mirrors the numpy trainer op-for-op: double-cast inputs,
# gradient = avg((p - y) * x_j), w ← w − lr·grad, clip(z, ±30) inside
# the sigmoid, prediction = (sigmoid ≥ 0.5), metrics rounded at 4.
# Shared by `one_vs_one_training` (DataFrame/applyInPandas path) and
# `one_vs_one_shim` (compat multicast path) — same semantics, same SQL.
# ---------------------------------------------------------------------------

# The unrolled oracle replays EXACTLY two GD steps from zero init
# (step 1 is closed-form only because sigmoid(0) = 0.5); it is not
# parameterized over the step count, so pin the probe depth here —
# changing PROBE_ITERS must fail loudly at import time, not surface
# later as an unexplained driver hash mismatch.
assert PROBE_ITERS == 2, "unrolled GD2 oracle replays exactly 2 steps"

# Documentation only: the testdata embeddings are 64-wide. The SQL
# below does NOT pin this — the dimension series is derived from the
# data itself (max(len(embedding))), matching the numpy trainer's
# x.shape[1], so a wider/narrower embeddings table cannot desync the
# trainer from its oracle.
_GD2_DIMS = 64
_GD2_DIMS_SQL = "(SELECT CAST(max(len(embedding)) AS INTEGER) FROM embeddings)"


def _gd2_core_sql() -> str:
    """Shared CTE prefix: pairs, per-(pair, sample) rows, two unrolled
    GD steps producing per-pair weight list `w` and intercept `b`.

    The learning rate is interpolated from the SAME ``GD_LR`` constant
    the numpy trainers use (ADVICE r7: nothing used to tie the
    hardcoded SQL 0.5s to GD_LR, so retuning the trainer would
    silently desync the oracle)."""
    lr = f"CAST({GD_LR} AS DOUBLE)"
    sig = (
        "1.0/(1.0 + exp(-greatest(least({z}, CAST(30 AS DOUBLE)), "
        "CAST(-30 AS DOUBLE))))"
    )
    dot = "list_sum(list_transform(list_zip({x}, {w}), q -> q[1] * q[2]))"
    z1 = dot.format(x="r.x", w="w1.w") + " + b1.b"
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
  FROM embeddings
),
labs AS (SELECT DISTINCT label FROM e),
pairs AS (
  SELECT a.label AS la, b.label AS lb
  FROM labs a JOIN labs b ON a.label < b.label
),
r AS (
  SELECT p.la, p.lb, e.vec_id, e.x,
         CASE WHEN e.label = p.lb THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS y
  FROM pairs p JOIN e ON e.label = p.la OR e.label = p.lb
),
d AS (SELECT unnest(generate_series(1, {_GD2_DIMS_SQL})) AS j),
g1 AS (
  SELECT la, lb, j,
         -({lr} * avg((CAST(0.5 AS DOUBLE) - y) * x[j])) AS w1
  FROM r CROSS JOIN d GROUP BY la, lb, j
),
w1 AS (SELECT la, lb, list(w1 ORDER BY j) AS w FROM g1 GROUP BY la, lb),
b1 AS (
  SELECT la, lb,
         -({lr} * avg(CAST(0.5 AS DOUBLE) - y)) AS b
  FROM r GROUP BY la, lb
),
s2 AS (
  SELECT r.la, r.lb, r.vec_id, r.x, r.y, {sig.format(z=z1)} AS p
  FROM r JOIN w1 USING (la, lb) JOIN b1 USING (la, lb)
),
g2 AS (
  SELECT s2.la, s2.lb, d.j, avg((s2.p - s2.y) * s2.x[j]) AS gw
  FROM s2 CROSS JOIN d GROUP BY s2.la, s2.lb, d.j
),
w2 AS (
  SELECT g1.la, g1.lb,
         list(g1.w1 - {lr} * g2.gw ORDER BY g1.j) AS w
  FROM g1 JOIN g2 ON g1.la = g2.la AND g1.lb = g2.lb AND g1.j = g2.j
  GROUP BY g1.la, g1.lb
),
b2 AS (
  SELECT s2.la, s2.lb,
         any_value(b1.b) - {lr} * avg(s2.p - s2.y) AS b
  FROM s2 JOIN b1 USING (la, lb) GROUP BY s2.la, s2.lb
),
m AS (SELECT la, lb, w2.w AS w, b2.b AS b FROM w2 JOIN b2 USING (la, lb)),
sc AS (
  SELECT r.la, r.lb, r.y,
         {sig.format(z=dot.format(x="r.x", w="m.w") + " + m.b")} AS p
  FROM r JOIN m USING (la, lb)
)"""


def _one_vs_one_gd2_sql() -> str:
    return (
        _gd2_core_sql()
        + """,
acc AS (
  SELECT la, lb, CAST(count(*) AS BIGINT) AS n_samples,
         avg(CASE WHEN (p >= CAST(0.5 AS DOUBLE)) = (y = CAST(1.0 AS DOUBLE))
                  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS a
  FROM sc GROUP BY la, lb
)
SELECT cast(acc.la AS VARCHAR) || '_' || cast(acc.lb AS VARCHAR) AS pair_key,
       acc.la AS label_a, acc.lb AS label_b, acc.n_samples,
       acc.a AS train_acc,
       round(sqrt(list_sum(list_transform(m.w, v -> v * v))), 4) AS coef_norm,
       round(m.b, 4) + 0.0 AS intercept
FROM acc JOIN m ON acc.la = m.la AND acc.lb = m.lb
"""
    )


def _ensemble_vote_gd2_sql() -> str:
    sig = (
        "1.0/(1.0 + exp(-greatest(least({z}, CAST(30 AS DOUBLE)), "
        "CAST(-30 AS DOUBLE))))"
    )
    z = (
        "list_sum(list_transform(list_zip(e.x, m.w), q -> q[1] * q[2])) + m.b"
    )
    return (
        _gd2_core_sql()
        + f""",
votes AS (
  SELECT e.vec_id, e.label,
         CASE WHEN {sig.format(z=z)} >= CAST(0.5 AS DOUBLE)
              THEN m.lb ELSE m.la END AS voted
  FROM e CROSS JOIN m
),
tally AS (
  SELECT vec_id, label, voted, count(*) AS c
  FROM votes GROUP BY vec_id, label, voted
),
pred AS (
  SELECT vec_id, label, voted AS pred FROM tally
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY c DESC, voted ASC) = 1
)
SELECT label, CAST(count(*) AS BIGINT) AS n_samples,
       avg(CASE WHEN pred = label THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END) AS vote_accuracy
FROM pred GROUP BY label
"""
    )


ONE_VS_ONE_GD2_SQL = _one_vs_one_gd2_sql
ENSEMBLE_VOTE_GD2_SQL = _ensemble_vote_gd2_sql
