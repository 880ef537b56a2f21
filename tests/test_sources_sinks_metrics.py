"""Tests for sources (T1-T4), sinks (T6-T9), metrics (E13), and
plan-shape regressions (the .explain contract: broadcasts broadcast,
filters push down, aggregates partial-aggregate)."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.operators.metrics import run_with_metrics
from map_reduce_engine_cdps_spark.plans.relational import (
    pricing_summary,
    revenue_by_nation,
)
from map_reduce_engine_cdps_spark.sources.readers import (
    TABLES,
    events_ts,
    load_table,
    read_csv_dir,
    read_image_dir,
    read_text_dir,
    table_rows,
)
from map_reduce_engine_cdps_spark.sources.writers import (
    filter_rewrite_csv,
    write_partitioned,
)
from tools import plan_inspect as P


def test_read_text_dir(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("hello world\nsecond line\n")
    (d / "b.txt").write_text("third\n")
    (d / "ignored.csv").write_text("not,text\n")
    df = read_text_dir(spark, str(d))
    assert sorted(r["value"] for r in df.collect()) == [
        "hello world",
        "second line",
        "third",
    ]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_schema_equals_inferred_schema(spark, sf):
    """load_table reads each schema from the parquet footer on the
    driver; it must equal what Spark's schema inference returns."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            inferred = events_ts(inferred)
        assert load_table(spark, sf_dir, name).schema == inferred.schema, name


def test_load_table_rereads_a_rewritten_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]
    # the footer row count is read again too
    assert table_rows(spark, str(tmp_path), "region") == 2
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), path)
    assert table_rows(spark, str(tmp_path), "region") == 3


@pytest.mark.parametrize(
    "name",
    [
        "csv_roundtrip_counts", "jsonl_roundtrip_stats", "partitioned_pruned_stats",
        "orc_roundtrip_stats", "bucketed_join_stats", "xml_roundtrip_stats",
        "schema_drift_union", "file_provenance_stats", "multi_format_union",
    ],
)
def test_roundtrip_queries_leave_no_temp_dirs(spark, sf_dir, tmp_path, monkeypatch, name):
    """A query that writes files and reads them back keeps them in a
    scratch dir the session deletes when it stops, not in $TMPDIR."""
    from map_reduce_engine_cdps_spark.plans import curation

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert getattr(curation, name)(spark, sf_dir).count() > 0
    assert os.listdir(tmp_path) == []


def test_read_csv_dynamic_and_typed(spark, tmp_path):
    p = tmp_path / "c.csv"
    p.write_text("species_id;altitude;name\n7;100.5;fern\n8;;moss\n")
    dyn = read_csv_dir(spark, str(p), sep=";")
    assert dyn.columns == ["species_id", "altitude", "name"]
    assert dyn.schema["species_id"].dataType.simpleString() == "string"
    typed = read_csv_dir(
        spark, str(p), sep=";",
        schema="species_id long, altitude double, name string",
    )
    rows = {r["species_id"]: r for r in typed.collect()}
    assert rows[7]["altitude"] == 100.5
    assert rows[8]["altitude"] is None  # nullable column (reference 'Int64')


def test_read_image_dir_labels(spark, tmp_path):
    # class-per-folder layout (reference F4): label = parent dir name
    for cls in ("1355868", "1355869"):
        d = tmp_path / "img" / cls
        d.mkdir(parents=True)
        (d / "x.jpg").write_bytes(b"\xff\xd8fakejpeg")
        (d / "skip.txt").write_text("not an image")
    df = read_image_dir(spark, str(tmp_path / "img" / "*"))
    rows = df.select("label", "length").collect()
    assert sorted(r["label"] for r in rows) == ["1355868", "1355869"]
    assert all(r["length"] > 0 for r in rows)


def test_write_partitioned_and_prune(spark, sf_dir, tmp_path):
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    out = str(tmp_path / "part_events")
    write_partitioned(ev, out, ["event_type"])
    assert any(p.startswith("event_type=") for p in os.listdir(out))
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    # partition pruning: the predicate reaches the scan as a partition filter
    (scan,) = P.census(back)["scans"]
    assert any("event_type" in f and "click" in f for f in scan["partition_filters"]), scan
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_filter_rewrite_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "species_id long, name string"
    )
    keep = spark.createDataFrame([(1,), (3,)], "species_id long")
    out = str(tmp_path / "filtered")
    filter_rewrite_csv(df, keep, "species_id", out)
    back = spark.read.option("header", "true").csv(out)
    assert sorted(r["name"] for r in back.collect()) == ["a", "c"]


def test_run_with_metrics(spark, sf_dir):
    m = run_with_metrics(pricing_summary(spark, sf_dir), name="pricing_summary")
    d = m.as_dict()
    assert d["output_rows"] > 0
    assert d["wall_time_s"] > 0
    assert d["name"] == "pricing_summary"


# --- plan-shape regressions: the .explain contract -----------------------


def test_revenue_joins_are_broadcast(spark, sf_dir):
    plan = P.physical(revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the big fact table must not be nested-loop joined
    assert "CartesianProduct" not in plan


def test_pricing_summary_pushes_filter_and_partial_aggs(spark, sf_dir):
    df = pricing_summary(spark, sf_dir)
    assert "HashAggregate" in P.physical(df)  # partial+final hash aggregation
    # the shipdate predicate must reach the scan, pushed out of the aggregate
    (scan,) = P.census(df)["scans"]
    assert any("l_shipdate" in f for f in scan["pushed"]), scan


def test_scan_prunes_columns(spark, sf_dir):
    plan = P.physical(pricing_summary(spark, sf_dir))
    # ReadSchema must not include unused lineitem columns such as l_tax
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_tax" not in read_schema[0]


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """write_bucketed pre-pays the shuffle: a join of two tables bucketed
    on the same key/count must plan with zero Exchange operators (the
    100 TB argument for the bucketing sink — recurring joins on the
    bucket key are co-located reads)."""
    from map_reduce_engine_cdps_spark.sources.readers import load_table
    from map_reduce_engine_cdps_spark.sources.writers import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8)
    write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 8)
    try:
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                spark.table("b_orders").o_orderkey
                == spark.table("b_lineitem").l_orderkey,
            )
            .groupBy("o_custkey")
            .count()
        )
        plan = P.physical(joined)
        n_exchanges = plan.count("Exchange hashpartitioning")
        # one exchange allowed for the final groupBy on o_custkey;
        # the join itself must not reshuffle either bucketed side
        assert n_exchanges <= 1, f"bucketed join reshuffled:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Fragment events into ~40 tiny files, compact to the target size,
    and check (a) the file count collapses to the byte-derived minimum,
    (b) no rows are lost or duplicated."""
    from map_reduce_engine_cdps_spark.sources.readers import load_table
    from map_reduce_engine_cdps_spark.sources.writers import compact_small_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = str(tmp_path / "fragmented")
    ev.repartition(40).write.parquet(frag)
    n_frag = len([p for p in (tmp_path / "fragmented").glob("*.parquet")])
    assert n_frag >= 40

    out = str(tmp_path / "compacted")
    n_out = compact_small_files(spark, frag, out, target_file_bytes=1 << 20)
    assert n_out < n_frag / 4

    before = ev.groupBy("event_type").count().collect()
    after = spark.read.parquet(out).groupBy("event_type").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_zorder_layout_gives_both_columns_locality(spark, tmp_path):
    """Write the same 2-D data (a) range-sorted by a Morton key and
    (b) sorted by x alone, into 16 files each. Under Z-order every file
    must cover a small rectangle of BOTH dimensions (so parquet min/max
    stats prune on either predicate); under the single-key sort, y's
    per-file span stays ~the full domain."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.writers import z_interleave_sql

    n, files = 1 << 16, 16
    df = spark.range(n).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 2654435761) % 256).alias("y"),  # decorrelated
    )
    zed = df.withColumn("zkey", F.expr(z_interleave_sql("x", "y", 8, intdiv="div")))

    def mean_span(src, col):
        per_file = (
            spark.read.parquet(src)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
        )
        return per_file.agg(F.avg("span")).first()[0]

    z_path = str(tmp_path / "zorder")
    zed.repartitionByRange(files, "zkey").drop("zkey").write.parquet(z_path)
    x_path = str(tmp_path / "xsort")
    df.repartitionByRange(files, "x").write.parquet(x_path)

    # single-key layout: x tight, y spans the whole domain
    assert mean_span(x_path, "x") <= 32
    assert mean_span(x_path, "y") >= 224
    # z-order layout: BOTH dimensions localized well below full range
    assert mean_span(z_path, "x") <= 128
    assert mean_span(z_path, "y") <= 128


def test_zorder_key_is_bijective(spark):
    """Morton interleave must be a bijection on (x, y) — any collision
    would merge unrelated rectangles and silently weaken pruning.
    Exhaustive over the full 6-bit × 6-bit domain."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.writers import z_interleave_sql

    n = 64
    df = (
        spark.range(n * n)
        .select((F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y"))
        .withColumn("z", F.expr(z_interleave_sql("x", "y", 6, intdiv="div")))
    )
    assert df.select("z").distinct().count() == n * n
    # and the key stays within 2*bits bits
    hi = df.agg(F.max("z")).first()[0]
    assert 0 <= hi < (1 << 12)


def test_run_with_observed_metrics(spark, sf_dir):
    """Observation metrics must match a separately computed aggregate,
    while running inside the ONE job that produced the rows."""
    from map_reduce_engine_cdps_spark.operators.metrics import (
        run_with_observed_metrics,
    )
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    rows, metrics = run_with_observed_metrics(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "total_qty": F.sum("l_quantity"),
        },
    )
    assert metrics["n_rows"] == len(rows)
    assert abs(metrics["total_qty"] - sum(r[0] for r in rows)) < 1e-6


def test_accumulator_bad_record_counter(spark, sf_dir):
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.operators.metrics import (
        parse_events_with_bad_record_counter,
    )
    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    # corrupt a deterministic slice of props
    corrupted = ev.withColumn(
        "props",
        F.when(F.col("event_id") % 10 == 0, F.lit("{not json")).otherwise(
            F.col("props")
        ),
    )
    parsed, counters = parse_events_with_bad_record_counter(corrupted)
    n_rows = parsed.count()  # action → accumulators populated
    c = counters()
    total = ev.count()
    expect_bad = ev.filter(F.col("event_id") % 10 == 0).count()
    assert c["bad"] == expect_bad
    assert c["good"] == n_rows == total - expect_bad


def test_global_sorted_export(spark, sf_dir, tmp_path):
    """Terasort-pattern total-order export: repartitionByRange on the
    sort key + sortWithinPartitions, written with zero-padded part
    numbering. Global order must hold ACROSS files: every file's
    minimum key >= the previous file's maximum (range partitioner
    boundaries), and within files rows are sorted."""
    import glob

    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_extendedprice"
    )
    out = str(tmp_path / "sorted")
    (
        li.repartitionByRange(8, "l_shipdate", "l_orderkey")
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) > 1
    prev_max = None
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).select("l_shipdate", "l_orderkey").toPandas()
        if pdf.empty:
            continue
        total += len(pdf)
        keys = list(zip(pdf["l_shipdate"], pdf["l_orderkey"]))
        assert keys == sorted(keys), f"within-file order broken in {f}"
        if prev_max is not None:
            assert keys[0] >= prev_max, f"cross-file boundary broken at {f}"
        prev_max = keys[-1]
    assert total == li.count()
