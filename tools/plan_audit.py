"""Physical-plan audit: assert the headline queries compile to the plans
we designed for — broadcast joins where a side is dimension-sized, filter
pushdown into the parquet scans, no cartesian products, top-k as
TakeOrderedAndProject (never a global Sort + Limit of the full input).

Run: python tools/plan_audit.py [query ...]   (default: audited set)
     python tools/plan_audit.py census [threshold]
Both read `plan_inspect.census` at $SPARK_GRAFT_SF_DIR (else sf0.01).

The audit is a development feedback tool, not a test gate: AQE can
legally change join strategies at runtime, so it audits the plan chosen
before execution for structural mistakes (cartesian, missed pushdown)
and prints each query's joins and scan read-schema widths for review.

`census` is the candidate-finder for SCALE.md rule 11 (checkpoint a
shared subtree only when the materialized frame is small — measure
first): it prints every registry query whose plan scans one FACT table
>= threshold (default 4) times. A repeated scan is only a CANDIDATE:
ReusedExchange/ReusedSubquery dedupe many at runtime, and a codegen'd
re-evaluation can be cheaper than a fat materialization. Exit code 0.
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import plan_inspect
from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from map_reduce_engine_cdps_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
FACTS = ("lineitem", "orders", "documents", "events", "embeddings")

# query → expectations. "broadcast": minimum number of broadcast joins in
# the initial plan; "no_cartesian": fail on CartesianProduct /
# BroadcastNestedLoopJoin; "topk": expect TakeOrderedAndProject.
AUDITS: dict[str, dict] = {
    "pricing_summary": {"pushed": True},
    "danger_topk": {"topk": True},
    "revenue_by_nation": {"broadcast": 2, "no_cartesian": True},
    "shipping_priority": {"broadcast": 1, "no_cartesian": True, "topk": True},
    "priority_order_counts": {"no_cartesian": True},
    "small_qty_revenue": {"broadcast": 1, "no_cartesian": True},
    "top_return_customers": {"broadcast": 2, "no_cartesian": True, "topk": True},
    "brand_supplier_counts": {"broadcast": 1, "no_cartesian": True},
    "volume_shipping": {"broadcast": 4, "no_cartesian": True},
    "nation_market_share": {"broadcast": 4, "no_cartesian": True},
    "product_type_profit": {"broadcast": 3, "no_cartesian": True},
    "promo_revenue_share": {"broadcast": 1, "no_cartesian": True, "pushed": True},
    "large_volume_customers": {"broadcast": 2, "no_cartesian": True, "topk": True},
    "disjunctive_part_revenue": {"broadcast": 1, "no_cartesian": True},
    "waiting_suppliers": {"broadcast": 1, "no_cartesian": True, "topk": True},
    # scalar-average cross join is a 1-row BroadcastNestedLoopJoin by
    # design (the canonical scalar-subquery plan) — don't flag it
    "idle_rich_customers": {},
    "customer_upsert": {"no_cartesian": True},
    "partitioned_pruned_stats": {},
    "decontamination": {"broadcast": 1, "no_cartesian": True},
    "customers_with_orders": {"no_cartesian": True},
    "customers_without_orders": {"no_cartesian": True},
    "click_asof_purchase": {"no_cartesian": True},
    "click_purchase_within_1h": {"no_cartesian": True},
    "minhash_lsh_pairs": {"no_cartesian": True},
    "embedding_near_dup": {"no_cartesian": True},
    "lsh_ann_topk": {"no_cartesian": True},
    "incremental_dedup": {"broadcast": 1, "no_cartesian": True},
    "weighted_doc_sample": {"topk": True},
    "doc_repetition_stats": {},
    "jsonl_roundtrip_stats": {},
    "forecast_revenue": {"pushed": True},
    # scalar-max cross join is a 1-row BroadcastNestedLoopJoin by design
    "top_revenue_supplier": {"broadcast": 1},
    "bucketed_join_stats": {"no_cartesian": True},
    # LATERAL must decorrelate to WindowGroupLimit + hash join, never a
    # per-row nested loop
    "lateral_top_orders": {"broadcast": 1, "no_cartesian": True},
    # full-table moment aggregation: no filter to push; the audit value
    # is the 3-column pruned scan (checked by scan_widths in output)
    "regr_price_qty": {},
    "monthly_gapfill_revenue": {"no_cartesian": True},
    "locf_event_values": {"no_cartesian": True},
    # tiny-side crossJoins (3-row epoch relation / 1-row n+avgdl) are
    # 1-row BroadcastNestedLoopJoins by design — audit broadcasts only
    "epoch_shuffle": {},
    "source_interleave": {},
    "event_transition_matrix": {},
    "bm25_scores": {"broadcast": 2},
    "inverted_index_stats": {},
    "embedding_covariance": {},
    "pareto_orders": {"broadcast": 1, "no_cartesian": True},
    # pagerank's returned DF is a LocalTableScan of driver-iterated
    # state; the distributed edge build executes inside fn() — audit
    # trade_graph_degrees for that subtree's join strategy instead
    "nation_trade_pagerank": {},
    "trade_graph_degrees": {"broadcast": 4, "no_cartesian": True},
    "frequent_type_pairs": {"broadcast": 1, "no_cartesian": True},
    # chi2's 1-row total crossJoin is the canonical scalar plan
    "brand_nation_chi2": {"broadcast": 1},
    "top_session_paths": {"topk": True},
    "negative_sampling_pairs": {"no_cartesian": True},
    # kmv: the sketch × type-list expansion is an intentional bounded
    # (k × |types|) nested-loop; exact side uses hash joins
    "kmv_segment_jaccard": {"broadcast": 2},
    # rfm / changepoint: 1-row anchor crossJoin plans as the canonical
    # scalar BroadcastNestedLoopJoin — don't flag it
    "rfm_segments": {},
    "table_diff": {"no_cartesian": True},
    "status_as_of": {},
    "revenue_changepoint": {"topk": True},
    "sentiment_scores": {},
    "sliding_distinct_users": {},
    "windowed_p95_value": {},
    # full-table profile: nothing to push, audit for eyeball only
    "lineitem_profile": {},
    # pooled-rank tests: global windows over the filtered pool by
    # design (binned-ECDF swap documented in SCALE.md)
    "ks_two_sample": {},
    "mannwhitney_u": {},
    # 1-row total crossJoin → canonical scalar BNLJ
    "benford_first_digit": {},
    "dedup_keep_best": {},
    "price_qty_heatmap": {},
    "bitmap_distinct_users": {},
    "revenue_ewma": {},
    "revenue_holt": {},
    "mv_revenue_maintenance": {"pushed": True},
}


def audit(name: str, sf_dir: str) -> list[str]:
    spark = get_spark(app_name="plan_audit")
    c = plan_inspect.census(_REGISTRY[name][0](spark, sf_dir))
    problems: list[str] = []
    exp = AUDITS.get(name, {})
    n_bhj = c["joins"].count("BroadcastHashJoin")
    if exp.get("broadcast") and n_bhj < exp["broadcast"]:
        problems.append(f"expected ≥{exp['broadcast']} BroadcastHashJoin, saw {n_bhj}")
    if exp.get("no_cartesian") and {"CartesianProduct", "BroadcastNestedLoopJoin"} & set(c["joins"]):
        problems.append("cartesian / nested-loop join in plan")
    if exp.get("topk") and "TakeOrderedAndProject" not in c["nodes"]:
        problems.append("top-k did not compile to TakeOrderedAndProject")
    if exp.get("pushed") and any(not s["pushed"] for s in c["scans"]):
        # every scan with a candidate filter should push something down
        problems.append("a scan pushed no filters")
    print(f"{name}: joins={c['joins'] or '-'} "
          f"scan_widths={[s['width'] for s in c['scans']] or '-'}")
    return problems


def fact_scan_census(sf_dir: str, threshold: int) -> None:
    spark = get_spark(app_name="plan_audit")
    n_flagged = 0
    for name, (fn, _) in _REGISTRY.items():
        try:
            scans = plan_inspect.census(fn(spark, sf_dir))["scans"]
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            continue
        counts = collections.Counter(s["table"] for s in scans if s["table"] in FACTS)
        heavy = {t: k for t, k in counts.items() if k >= threshold}
        if heavy:
            n_flagged += 1
            print(f"{name}: {heavy}")
    print(f"{n_flagged} queries scan a fact table >= {threshold}x "
          "(candidates, not defects — A/B before changing; rule 11)")


def main() -> int:
    if sys.argv[1:2] == ["census"]:
        fact_scan_census(SF_DIR, int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        return 0
    failures = 0
    for name in sys.argv[1:] or list(AUDITS):
        for p in audit(name, SF_DIR):
            failures += 1
            print(f"  PROBLEM {name}: {p}")
    print(f"{failures} plan problems")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
