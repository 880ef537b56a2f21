"""Session memos and fixpoint loops (operators/state.py): storage is
released deterministically, an exception mid-loop leaves nothing
behind, and a memo never serves rows from rewritten inputs or from a
checkpoint whose blocks are gone."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.plans import dedup as D
from map_reduce_engine_cdps_spark.plans import graph as G
from map_reduce_engine_cdps_spark.plans import similarity as S
from map_reduce_engine_cdps_spark.plans import tpch as T


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_graph_loops_keep_at_most_one_persisted_rdd_per_call(spark, sf_dir):
    """Each loop-backed query keeps only the materializations its result
    reads; every loop state, edge list and round checkpoint is freed
    before it returns, without waiting for GC. dbscan_clusters' result
    reads two: its core-vertex checkpoint and the CC labels."""
    bounds = {
        G.label_propagation_communities: 1,
        G.bfs_hops: 1,
        G.kcore_membership: 1,
        G.ktruss_edges: 1,
        D.near_dup_clusters: 1,
        D.near_dup_clusters_star: 1,
        S.dbscan_clusters: 2,
    }
    for fn in bounds:  # warm the memos the loops read
        fn(spark, sf_dir)
    for _ in range(3):
        for fn, bound in bounds.items():
            before = _n_persisted(spark)
            fn(spark, sf_dir)
            assert _n_persisted(spark) - before <= bound, fn.__name__


@pytest.mark.parametrize("num_partitions", [None, 1])
@pytest.mark.parametrize("fail_in", ["step", "signature"])
def test_fixpoint_releases_state_when_round_two_raises(spark, fail_in, num_partitions):
    """Round 2 fails either in ``step`` (before any job) or in an
    observed signature column inside the round's own checkpoint job;
    either way every state the loop made is released, including the
    checkpoint RDD the failed job had already registered. Only rows
    with ``id >= 48`` fail, so with the default partitioning the
    checkpoint job's other tasks succeed and may store their blocks
    before the job aborts; with one partition the only task fails."""
    from map_reduce_engine_cdps_spark.operators.state import fixpoint

    rounds = []

    def step(df):
        rounds.append(1)
        if fail_in == "step" and len(rounds) == 2:
            raise RuntimeError("step failed")
        return df.withColumn("x", F.col("x") + 1)

    # state0 sums to 189 and round 1 to 253; round 2 reaches 317
    x_sum = F.sum("x")
    if fail_in == "signature":
        x_sum = F.sum(F.when((F.col("x") < 8) | (F.col("id") < 48), F.col("x"))
                      .otherwise(F.raise_error(F.lit("signature failed"))))
    state0 = spark.range(0, 64, numPartitions=num_partitions).withColumn(
        "x", F.col("id") % 7)
    before = _n_persisted(spark)
    with pytest.raises(Exception, match=f"{fail_in} failed"):
        fixpoint(state0, step, (x_sum,), 5)
    assert len(rounds) == 2
    assert _n_persisted(spark) == before


@pytest.mark.parametrize("loop", ["connected_components", "connected_components_star",
                                  "kcore_subgraph"])
def test_loops_converge_on_an_empty_edge_list(spark, loop):
    """An Observation over zero rows still delivers its aggregates, so a
    loop over no edges converges in its first round: every vertex is
    its own component, and the k-core is empty."""
    vertices = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    before = _n_persisted(spark)
    if loop == "kcore_subgraph":
        survivors, converged = G.kcore_subgraph(pairs, 2, max_rounds=1)
        assert converged and survivors.count() == 0
    else:
        labels = getattr(D, loop)(vertices, pairs, max_rounds=1)
        assert sorted(labels.collect()) == [(i, i) for i in range(4)]
    assert _n_persisted(spark) - before <= 1


def _pairs(df) -> set:
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_memo_rebuilds_after_input_rewrite(spark, sf_dir, tmp_path):
    """Rewriting documents.parquet under a live session invalidates the
    LSH pair memo: appended exact copies of five documents show up as
    new pairs instead of the memo serving the old pair list."""
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path)
    path = str(tmp_path / "documents.parquet")
    before = _pairs(D._lsh_pairs_cached(spark, str(tmp_path)))

    docs = pq.read_table(path)
    long_docs = docs.filter(pc.greater(pc.utf8_length(docs["text"]), 200)).slice(0, 5)
    first_new = pc.max(docs["doc_id"]).as_py() + 1
    new_ids = pa.array(
        range(first_new, first_new + long_docs.num_rows),
        docs.schema.field("doc_id").type,
    )
    copies = long_docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id", new_ids
    )
    pq.write_table(pa.concat_tables([docs, copies]), path)

    after = _pairs(D._lsh_pairs_cached(spark, str(tmp_path)))
    assert before < after
    assert {b for _, b in after - before} >= set(new_ids.to_pylist())


@pytest.mark.parametrize(
    "query, table, rewrite",
    [
        # halving lineitem changes every trade-edge weight
        (G.trade_graph_degrees, "lineitem", lambda t: t.slice(0, t.num_rows // 2)),
        (T.important_part_value, "lineitem", lambda t: t.slice(0, t.num_rows // 2)),
        # reversed vec_ids move the seed centroids (vec_id < K)
        (
            S.kmeans_lloyd,
            "embeddings",
            lambda t: t.set_column(
                t.schema.get_field_index("vec_id"), "vec_id",
                pc.subtract(pc.max(t["vec_id"]), t["vec_id"]),
            ),
        ),
    ],
    ids=["trade_graph_degrees", "important_part_value", "kmeans_lloyd"],
)
def test_query_sees_input_rewritten_in_live_session(
    spark, sf_dir, tmp_path, query, table, rewrite
):
    """A query that reuses an intermediate within a call must not serve
    it to a later call after its input file is rewritten: the live
    session answers what a fresh computation over the new file does."""
    live, fresh = tmp_path / "live", tmp_path / "fresh"
    shutil.copytree(sf_dir, live, copy_function=shutil.copyfile)
    before = sorted(query(spark, str(live)).collect())

    path = str(live / f"{table}.parquet")
    pq.write_table(rewrite(pq.read_table(path)), path)
    after = sorted(query(spark, str(live)).collect())

    shutil.copytree(live, fresh)
    expected = sorted(query(spark, str(fresh)).collect())
    assert expected != before
    assert after == expected


def test_memo_rebuilds_after_checkpoint_blocks_dropped(spark, sf_dir):
    """A memo whose checkpoint blocks were dropped rebuilds once on the
    next hit instead of failing every later consumer."""
    pairs = D._lsh_pairs_cached(spark, sf_dir)
    expected = _pairs(pairs)
    n_topk = D.ngram_jaccard_topk(spark, sf_dir).count()
    pairs._jdf.queryExecution().analyzed().rdd().unpersist(True)

    assert D.ngram_jaccard_topk(spark, sf_dir).count() == n_topk
    rebuilt = D._lsh_pairs_cached(spark, sf_dir)
    assert rebuilt is not pairs
    assert _pairs(rebuilt) == expected
    assert D._lsh_pairs_cached(spark, sf_dir) is rebuilt


@pytest.mark.parametrize("num_partitions", [None, 1])
def test_memo_whose_checkpoint_fails_leaves_no_rdd_registered(spark, tmp_path, num_partitions):
    """A memo build whose checkpoint job fails leaves the session's
    persistent RDDs as they were, and the next call builds again."""
    from map_reduce_engine_cdps_spark.operators.state import memo

    def build(spark, sf_dir, fail):
        df = spark.range(0, 64, numPartitions=num_partitions)
        if fail:
            df = df.withColumn("x", F.when(F.col("id") < 48, F.col("id"))
                               .otherwise(F.raise_error(F.lit("build failed"))))
        return df

    cached = memo(build, ())
    before = _n_persisted(spark)
    with pytest.raises(Exception, match="build failed"):
        cached(spark, str(tmp_path), True)
    assert _n_persisted(spark) == before
    assert cached(spark, str(tmp_path), False).count() == 64


def test_memo_is_keyed_on_plan_shaping_confs(spark, tmp_path):
    """A memo first built with adaptive execution off, or with another
    shuffle partition count, is not served to callers under the
    session's own confs, whose plan would be shaped differently."""
    from map_reduce_engine_cdps_spark.operators.state import memo
    from tools import plan_inspect as P

    def build(spark, sf_dir):
        return spark.range(0, 64).groupBy((F.col("id") % 5).alias("k")).count()

    cached = memo(build, ())
    sf_dir = str(tmp_path)
    with P.aqe_off(spark):
        off = cached(spark, sf_dir)
    with P.conf(spark, {"spark.sql.shuffle.partitions": "3"}):
        three = cached(spark, sf_dir)
    on = cached(spark, sf_dir)
    assert len({id(off), id(three), id(on)}) == 3
    assert cached(spark, sf_dir) is on
    with P.aqe_off(spark):
        assert cached(spark, sf_dir) is off


def test_eager_checkpoints_go_through_one_primitive():
    """Every eager checkpoint in the package is `state._checkpoint`,
    which unregisters the checkpoint's RDD when its job fails."""
    import pathlib
    import re

    from map_reduce_engine_cdps_spark.operators import state

    pkg = pathlib.Path(state.__file__).parents[1]
    eager = re.compile(r"localCheckpoint\(\s*eager\s*=\s*True")
    hits = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if eager.search(p.read_text(encoding="utf-8"))
    )
    assert hits == ["operators/state.py"]
