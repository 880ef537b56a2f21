"""Physical-plan audit: assert the headline queries compile to the plans
we designed for — broadcast joins where a side is dimension-sized, filter
pushdown into the parquet scans, no cartesian products, top-k as
TakeOrderedAndProject (never a global Sort + Limit of the full input).

Run: python tools/plan_audit.py [query ...]   (default: audited set)

This is a development feedback tool, not a test gate: AQE can legally
change join strategies at runtime, so we audit the *initial* plan for
structural mistakes (cartesian, missed pushdown) and print join/scan
summaries for eyeball review.
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from map_reduce_engine_cdps_spark.session import get_spark

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


def exchange_payload_types(df) -> list[tuple[str, str, str]]:
    """(node, column, type) for every output attribute of every Exchange
    in the df's physical plan — the shuffle payload schema. Walk with AQE
    disabled at plan-build time: the non-adaptive tree exposes plain
    children() all the way down (AdaptiveSparkPlanExec hides stages).
    """
    out: list[tuple[str, str, str]] = []

    def walk(node) -> None:
        name = node.nodeName()
        if "Exchange" in name:
            attrs = node.output()
            for i in range(attrs.size()):
                a = attrs.apply(i)
                out.append((name, a.name(), a.dataType().catalogString()))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


# A map-side partial WindowGroupLimit with a small limit BELOW a rank
# exchange caps the exchange payload at limit rows per key —
# corpus×limit, not the K-fold blow-up the rank audit exists for
# (round 12: the IVF rank exchanges carry (vec, norm) through the
# window so the winners need no re-attach join; legal only because the
# partial WGL prunes to n ≤ WGL_BOUND rows per vector first).
# Module-level so tests can assert the coupling max(_NPROBE_SWEEP) <=
# WGL_BOUND explicitly (ADVICE r12): raising NPROBE past the bound
# flips plans from exempt to flagged (the intended ratchet), while
# raising WGL_BOUND widens the exemption for every future plan and
# must be a deliberate, reviewed change.
WGL_BOUND = 8


def rank_window_array_exchanges(df) -> list[tuple[str, str, str]]:
    """Array-typed payload columns of any Exchange inserted FOR a
    Window's partitioning — i.e. embeddings riding a rank/argmin
    shuffle. In bucketed-ANN shapes that exchange moves K scored rows
    per vector, so an array payload there is K x the corpus: the ANN
    analogue of the dedup string-array ban (VERDICT r4 item 8). Only an
    Exchange reached from a Window through the window's own machinery
    (Sort / WindowGroupLimit / codegen wrappers) counts — an exchange
    behind a Project/Join/PythonEval belongs to that operator (e.g. a
    probe join, charged to the crossing bound instead), and a map-side
    partial WindowGroupLimit legitimately sits right above such
    nodes."""
    out: list[tuple[str, str, str]] = []
    PASS_THROUGH = ("Sort", "WindowGroupLimit", "WholeStageCodegen",
                    "InputAdapter", "ColumnarToRow")

    def _partial_wgl_below(node) -> bool:
        """True if a Partial WindowGroupLimit with limit <= WGL_BOUND
        sits directly below (through pass-through wrappers) — i.e. the
        exchange's per-key payload is pruned map-side before the
        shuffle."""
        name = node.nodeName()
        if name == "WindowGroupLimit":
            try:
                return (node.mode().toString() == "Partial"
                        and int(node.limit()) <= WGL_BOUND)
            except Exception:  # noqa: BLE001 — conservative: not bounded
                return False
        if not any(name.startswith(pfx) for pfx in PASS_THROUGH):
            return False
        ch = node.children()
        return any(_partial_wgl_below(ch.apply(i)) for i in range(ch.size()))

    def rank_exchange(node, acc) -> None:
        name = node.nodeName()
        if name == "Exchange":
            ch = node.children()
            if any(_partial_wgl_below(ch.apply(i)) for i in range(ch.size())):
                return
            attrs = node.output()
            for i in range(attrs.size()):
                a = attrs.apply(i)
                t = a.dataType().catalogString()
                if t.startswith("array<"):
                    acc.append((name, a.name(), t))
            return
        if not any(name.startswith(pfx) for pfx in PASS_THROUGH):
            return  # the exchange below belongs to this operator
        ch = node.children()
        for i in range(ch.size()):
            rank_exchange(ch.apply(i), acc)

    def walk(node) -> None:
        if node.nodeName() == "Window":
            ch = node.children()
            for i in range(ch.size()):
                rank_exchange(ch.apply(i), out)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def shuffle_array_exchange_count(df) -> int:
    """Number of (node, column) shuffle-Exchange array payload attrs —
    BroadcastExchange and ReusedExchange excluded (broadcasting a small
    side or reusing an exchange is the intended scale shape)."""
    return len(
        [
            t
            for t in exchange_payload_types(df)
            if t[0] == "Exchange" and "array<" in t[2]
        ]
    )


def binary_shuffle_exchanges(df) -> list[tuple[str, str, str]]:
    """Shuffle-Exchange payload columns of binary type — raw media
    payloads riding a shuffle. The multimodal family's contract is
    scan -> Arrow decode (mapInPandas) -> scalar features, so media
    bytes should reach the Python boundary without ever crossing an
    Exchange: a binary shuffle payload means megabyte rows are being
    hashed/sorted/spilled per shuffle write, the multimodal analogue
    of the dedup string-array ban. BroadcastExchange excluded."""
    return [
        t
        for t in exchange_payload_types(df)
        if t[0] == "Exchange" and t[2] == "binary"
    ]


def string_array_exchanges(df) -> list[tuple[str, str, str]]:
    """Exchange payload columns whose type embeds an array of strings."""
    return [
        t
        for t in exchange_payload_types(df)
        if re.search(r"array<[^>]*string", t[2])
    ]


def audit(name: str, sf_dir: str) -> list[str]:
    spark = get_spark(app_name="plan_audit")
    fn, _ = _REGISTRY[name]
    df = fn(spark, sf_dir)
    df.count()  # execute so AQE finalizes join strategies / codegen
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems: list[str] = []
    exp = AUDITS.get(name, {})
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    if exp.get("broadcast") and n_bhj < exp["broadcast"]:
        problems.append(f"expected ≥{exp['broadcast']} BroadcastHashJoin, saw {n_bhj}")
    if exp.get("no_cartesian") and re.search(
        r"CartesianProduct|BroadcastNestedLoopJoin", plan
    ):
        problems.append("cartesian / nested-loop join in plan")
    if exp.get("topk") and "TakeOrderedAndProject" not in plan:
        problems.append("top-k did not compile to TakeOrderedAndProject")
    if exp.get("pushed") and "PushedFilters: []" in plan and "PushedFilters: [" in plan:
        # every scan with a candidate filter should push something down
        problems.append("a scan pushed no filters")
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct|"
        r"BroadcastNestedLoopJoin)",
        plan,
    )
    scans = re.findall(r"ReadSchema: (\S+)", plan)
    print(
        f"{name}: joins={joins or '-'} "
        f"scan_widths={[s.count(',') + 1 for s in scans] or '-'}"
    )
    return problems


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    names = sys.argv[1:] or list(AUDITS)
    failures = 0
    for name in names:
        problems = audit(name, sf_dir)
        for p in problems:
            failures += 1
            print(f"  PROBLEM {name}: {p}")
    print(f"{failures} plan problems")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
