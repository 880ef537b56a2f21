"""Reference-vs-Spark throughput comparison on the wordcount workload.

The reference publishes no benchmark numbers (BASELINE.md), so this
produces the missing data point: the reference's execution model —
per-row interpreted Python map, one (word, 1) pair per token through the
shuffle, dict-of-lists grouping, Python reduce (reference
engine/worker.py:83-158) — run faithfully in a single process via
``simulate_locally`` (the property-test spec of that pipeline), WITHOUT
the reference's JSON/HTTP serialization or barrier costs. That makes the
number an upper bound on reference throughput: the real engine adds
JSON encode/decode of every pair plus HTTP round-trips.

Compared against: the engine's Spark wordcount on the same documents at
the same SF (map-side partial aggregation, codegen, no per-token pair
materialization).

Run: python tools/reference_throughput.py  → one JSON line.
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_engine_cdps_spark.compat.mapreduce import simulate_locally
from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from map_reduce_engine_cdps_spark.plans.workloads import wc_map, wc_reduce
from map_reduce_engine_cdps_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"
N_WORKERS = 4  # the reference's default topology (docker-compose.yml)


def median_of(fn, runs: int = 3) -> float:
    fn()
    return round(statistics.median(
        (lambda: (t := time.perf_counter(), fn(), time.perf_counter() - t)[2])()
        for _ in range(runs)
    ), 3)


def run_at_multiple(spark, base_df, lines: list[str], mult: int) -> dict:
    """Time both models on the corpus replicated ``mult`` times."""
    from functools import reduce as freduce

    from pyspark.sql import functions as F

    big_lines = lines * mult

    def reference_style() -> None:
        pairs = wc_map(big_lines, 0)
        simulate_locally(pairs, N_WORKERS, reduce_func=wc_reduce)

    ref_s = median_of(reference_style)

    big_df = freduce(lambda a, b: a.union(b), [base_df] * mult)

    from map_reduce_engine_cdps_spark.functions import text as TX

    def spark_style() -> None:
        (
            big_df.select(F.explode(TX.clean_tokens(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .count()
        )

    spark_s = median_of(spark_style)
    return {
        "multiple": mult,
        "n_docs": len(big_lines),
        "reference_model_sec": ref_s,
        "spark_sec": spark_s,
        "speedup": round(ref_s / spark_s, 2) if spark_s > 0 else None,
    }


def run_danger_at_multiple(spark, base_ev, items: list, mult: int) -> dict:
    """Time both models on the accident-style numeric aggregation
    (composite-key count/min/max, reference tasks/accident_analysis.py
    shape) on the events table replicated ``mult`` times."""
    from functools import reduce as freduce

    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.plans.workloads import (
        danger_map,
        danger_reduce,
    )

    big_items = items * mult

    def reference_style() -> None:
        pairs = danger_map(big_items, 0)
        simulate_locally(pairs, N_WORKERS, reduce_func=danger_reduce)

    ref_s = median_of(reference_style)

    big_df = freduce(lambda a, b: a.union(b), [base_ev] * mult)

    def spark_style() -> None:
        key = F.concat_ws(
            "_",
            F.col("event_type"),
            F.when(F.col("value") >= 150, "high")
            .when(F.col("value") >= 50, "mid")
            .otherwise("low"),
            F.when(F.hour("ts") < 12, "AM").otherwise("PM"),
        )
        (
            big_df.groupBy(key.alias("grp_key"))
            .agg(F.count(F.lit(1)), F.min("value"), F.max("value"))
            .count()
        )

    spark_s = median_of(spark_style)
    return {
        "multiple": mult,
        "n_events": len(big_items),
        "reference_model_sec": ref_s,
        "spark_sec": spark_s,
        "speedup": round(ref_s / spark_s, 2) if spark_s > 0 else None,
    }


def run_embedding_at_multiple(spark, base_emb, items: list, mult: int) -> dict:
    """Time both models on the plants-style embedding pair-training
    shuffle (reference tasks/plants_classifier.py:199-230): every
    label's embedding vectors MULTICAST to each worker owning one of
    that label's C(n,2) pairs, grouped, then a light per-pair reduce.
    The reference model pays len(pairs-per-label) Python copies of every
    vector through the shuffle; Spark joins the broadcast pair table and
    aggregates columnar vectors without materializing copies in Python.
    (JSON costs excluded as everywhere in this tool — the real reference
    also JSON-encodes all 768 floats per copy per hop.)"""
    from functools import reduce as freduce

    from pyspark.sql import functions as F

    labels = sorted({lab for lab, _ in items})
    pairs = [(a, b) for i, a in enumerate(labels) for b in labels[i + 1 :]]
    pair_of = {}
    for i, (a, b) in enumerate(pairs):
        pair_of.setdefault(a, []).append(i)
        pair_of.setdefault(b, []).append(i)

    big_items = items * mult

    def reference_style(wire: bool) -> None:
        # map: (label, vec) pairs; shuffle: multicast to every worker
        # owning a pair containing the label (divide_work's effect).
        # wire=True additionally pays the reference's mandatory JSON
        # serialization of every shuffled bucket (pydantic ShuffleData,
        # engine/models.py:24-27; send loop engine/worker.py:105-129) —
        # for THIS workload the payload is the 2000×dim float vectors
        # themselves, so pointer-level simulation grossly understates
        # the reference (a pointer append vs encoding every float).
        buckets = {i: [] for i in range(N_WORKERS)}
        for lab, vec in big_items:
            for t in pair_of[lab]:
                buckets[t % N_WORKERS].append((lab, vec))
        for pid, bucket in buckets.items():
            if wire:
                bucket = json.loads(json.dumps(bucket))
            grouped = {}
            for k, v in bucket:
                grouped.setdefault(k, []).append(v)
            [(k, len(vs), sum(v[0] for v in vs)) for k, vs in grouped.items()]

    ref_s = median_of(lambda: reference_style(False))
    ref_wire_s = median_of(lambda: reference_style(True))

    big_df = freduce(lambda a, b: a.union(b), [base_emb] * mult)
    pair_rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    pairs_df = spark.createDataFrame(pair_rows, "pair_id int, la int, lb int")

    def spark_style() -> None:
        p = pairs_df.select(
            "pair_id", F.explode(F.array("la", "lb")).alias("label")
        )
        (
            big_df.join(F.broadcast(p), "label")
            .groupBy("pair_id")
            .agg(
                F.count(F.lit(1)),
                F.sum(F.element_at("embedding", 1)),
            )
            .count()
        )

    spark_s = median_of(spark_style)
    return {
        "multiple": mult,
        "n_vectors": len(big_items),
        "reference_model_sec": ref_s,
        "reference_model_wire_sec": ref_wire_s,
        "spark_sec": spark_s,
        "speedup_vs_wire": round(ref_wire_s / spark_s, 2) if spark_s > 0 else None,
    }


def main() -> None:
    spark = get_spark(app_name="reference_throughput")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("text")
    lines = [r[0] for r in docs.collect()]

    results = [run_at_multiple(spark, docs, lines, m) for m in (1, 8, 32)]

    from map_reduce_engine_cdps_spark.sources.readers import load_table

    ev = load_table(spark, SF_DIR, "events")
    items = [
        (r[0], r[1], r[2])
        for r in ev.select(
            "event_type", "value",
            __import__("pyspark.sql.functions", fromlist=["hour"]).hour("ts"),
        ).collect()
    ]
    danger_results = [
        run_danger_at_multiple(spark, ev, items, m) for m in (1, 4, 16)
    ]

    emb = load_table(spark, SF_DIR, "embeddings").select("label", "embedding")
    emb_items = [(r[0], list(r[1])) for r in emb.collect()]
    embedding_results = [
        run_embedding_at_multiple(spark, emb, emb_items, m) for m in (1, 4, 16)
    ]
    print(json.dumps({
        "workloads": {
            "wordcount": results,
            "danger_numeric_agg": danger_results,
            "embedding_pair_multicast": embedding_results,
        },
        "sf_dir": SF_DIR,
        "note": "reference number is the reference's execution model "
                "(per-pair Python map/shuffle/group/reduce, "
                "engine/worker.py:83-158) WITHOUT its JSON/HTTP shuffle "
                "costs — an upper bound on reference throughput",
    }))


if __name__ == "__main__":
    main()
