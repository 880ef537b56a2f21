"""Generate PLANS.md: formatted physical plans for the headline queries,
each annotated with why the plan is the one we designed for at scale.

Run: python tools/plan_snapshots.py   (rewrites PLANS.md; plans are
normalized, so runs at one shuffle-partition count write the same bytes)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import plan_inspect
from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from map_reduce_engine_cdps_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

# query → the one-paragraph scale argument the plan should evidence.
SNAPSHOTS: dict[str, str] = {
    "pricing_summary": (
        "Filter pushed into the parquet scan (`PushedFilters`), 6-column "
        "`ReadSchema` out of 11 lineitem columns, partial `HashAggregate` "
        "before the exchange, single shuffle on the group key. The "
        "reference ships every row to Python and aggregates post-shuffle "
        "(reference tasks/accident_analysis.py); this plan moves "
        "`count/sum/avg` into the scan stage."
    ),
    "danger_topk": (
        "Top-k compiles to `TakeOrderedAndProject` — per-partition heaps, "
        "driver merges k rows — never a global sort of the aggregate "
        "output (the reference's latent master-side sort, reference "
        "engine/master.py:117-118, materializes everything)."
    ),
    "revenue_by_nation": (
        "Two dimension joins both `BroadcastHashJoin` (nation, customer "
        "side under the 64 MB threshold): the fact table never shuffles "
        "for the joins; the only exchange is the final group-by."
    ),
    "shipping_priority": (
        "TPC-H Q3 shape: broadcast the filtered customer dim, semi-filter "
        "orders, aggregate, then `TakeOrderedAndProject` for the top-10."
    ),
    "decontamination": (
        "The benchmark-shingle side collapses to a distinct hash set and "
        "broadcasts; the corpus side anti-joins without shuffling its "
        "text — the standard contamination sweep at corpus scale."
    ),
    "incremental_dedup": (
        "Cross-run ingest: corpus reduced to a distinct 16-byte "
        "fingerprint projection, batch anti-joined against it broadcast; "
        "2-column `ReadSchema` on both scans — no text moves."
    ),
    "minhash_lsh_pairs": (
        "One signature pass over the corpus (two md5 array transforms, "
        "verified in the plan), posexplode of band keys, single shuffle "
        "on (band_idx, band), intra-bucket pair expansion — never an "
        "O(n²) self-join."
    ),
    "weighted_doc_sample": (
        "Weighted sampling expressed as pure top-k: "
        "`TakeOrderedAndProject` with per-partition heaps; no global "
        "sort, no shuffle of the corpus."
    ),
    "forecast_revenue": (
        "TPC-H Q6 shape — the scan-rate yardstick. The full conjunctive "
        "predicate reaches the parquet scan (`PushedFilters` on "
        "shipdate/discount/quantity), the `ReadSchema` is 4 of 11 "
        "columns, and the only exchange is the 1-row `SinglePartition` "
        "final aggregate. At 100 TB this query is bounded by I/O "
        "bandwidth alone: zero wide shuffle, zero join."
    ),
    "top_revenue_supplier": (
        "TPC-H Q15 shape: the fact aggregates once to O(|supplier|) "
        "rows, the ties-preserving max arrives as a broadcast 1-row "
        "aggregate (`BroadcastNestedLoopJoin` over one row, the "
        "canonical scalar-subquery plan), and the supplier dim joins as "
        "`BroadcastHashJoin`. Never a global sort, never a second fact "
        "scan."
    ),
    "bucketed_join_stats": (
        "Both fact tables are written `bucketBy(8, orderkey)` + sortBy, "
        "so the `SortMergeJoin` consumes the bucketed scans directly — "
        "`Bucketed: true`, zero `Exchange` under the join. The write-time "
        "shuffle is paid once and amortizes across every downstream "
        "orderkey join; at 100 TB the bucket count scales with cluster "
        "width (e.g. 4096) and recurring fact-fact joins stop paying "
        "the dominant shuffle."
    ),
    "volume_shipping": (
        "TPC-H Q7 shape, 6-table join: all four dimension legs "
        "(supplier, nation ×2, the nation-pair filter) compile to "
        "`BroadcastHashJoin` — the lineitem fact shuffles once, for the "
        "orders join, and the final aggregate carries only "
        "(supp_nation, cust_nation, year) groups. At 100 TB the plan is "
        "unchanged: dimensions stay broadcast-sized while the fact side "
        "scales."
    ),
    "waiting_suppliers": (
        "TPC-H Q21 shape: the fact collapses to distinct (orderkey, "
        "suppkey, late) pairs FIRST; then — round-9 rework — the EXISTS/"
        "NOT-EXISTS pair is computed as two per-order scalars (n_supp > "
        "1 AND n_late == 1) by one groupBy on l_orderkey (a prefix of "
        "the pairs grouping key, so the partial agg is co-located) plus "
        "one equi left_semi join. The non-equi self-joins Catalyst had "
        "to plan as BroadcastNestedLoopJoin are gone; no nested loop "
        "touches a fact-derived frame."
    ),
    "large_volume_customers": (
        "TPC-H Q18 shape: GROUP BY + HAVING reduces lineitem to the "
        "tiny qualifying-order key set, which then broadcasts into the "
        "orders and customer joins — the fact is aggregated exactly "
        "once and the report joins touch only qualifying keys; top-100 "
        "is `TakeOrderedAndProject`."
    ),
    "click_purchase_within_1h": (
        "Range join bucketized to an equi-join on (user_id, epoch "
        "bucket): `SortMergeJoin`/`ShuffledHashJoin` on a composite key "
        "instead of an O(n·m) inequality join."
    ),
    "trade_graph_degrees": (
        "The 5-way trade-edge build broadcasts every dimension "
        "(`BroadcastHashJoin` ×4+) so the fact shuffles once, into the "
        "(src, dst) hash aggregate; the degree marginals and self-edge "
        "join then operate on the O(|V|²) persisted edge table. Same "
        "subtree PageRank iterates on driver-side."
    ),
    "frequent_type_pairs": (
        "Basket mining: (order, type) dedups BEFORE the pairing "
        "self-join, and both join legs hash-partition on the basket key "
        "(one exchange layout), so pair explosion is bounded by basket "
        "size — the plan shows the aggregate under the join, never a "
        "raw-fact self-join."
    ),
    "lineitem_profile": (
        "Five single-distinct aggregate branches unioned: no Expand "
        "node anywhere (a wide multi-count-distinct agg would multiply "
        "every scan row by 6 pre-shuffle); each branch's `ReadSchema` "
        "prunes to exactly one column."
    ),
    "sliding_distinct_users": (
        "Sliding-window COUNT DISTINCT: the window Expand (≤2 rows per "
        "event — window/slide) feeds partial aggregation; the distinct "
        "shuffle carries (window, type, user) triples only."
    ),
    "semdedup_prune": (
        "SemDeDup: centroids broadcast (`BroadcastNestedLoopJoin` over "
        "the K-row codebook — a map-side argmin, not a data shuffle); "
        "the duplicate detection is an equi-join on cluster_id "
        "(`SortMergeJoin`), so pair expansion stays cluster-bounded. No "
        "cartesian anywhere despite the all-pairs semantics."
    ),
    "pq_quantize_stats": (
        "Product quantization: both codebook aggregates are partial "
        "hash aggregates over (sub_id, label, pos) — tiny keyspaces; "
        "the M×K codebook re-enters broadcast, assignment is a "
        "row-local zip_with fold inside codegen, and only the final "
        "(M×K)-row stats rollup shuffles."
    ),
    "dsir_importance_weights": (
        "DSIR: one token-stream pass computes BOTH histograms via a "
        "conditional aggregate (no second corpus scan for the target "
        "slice); the 256-row log-weight table broadcasts back; per-doc "
        "scoring reuses the same exploded stream with a single group-by "
        "shuffle on doc_id."
    ),
    "minhash_containment": (
        "Containment: identical candidate plan to minhash_lsh_pairs "
        "(one signature pass, posexploded bands, bucket-local pair "
        "expansion inside a higher-order transform) — only the "
        "verification projection differs, so the not-O(n²) structure "
        "is shared, not re-derived."
    ),
    "near_dup_prune": (
        "The fuzzy-dedup selection step rides a front that is already "
        "materialized: the CC label table enters as a `Scan ExistingRDD` "
        "leaf (the CC loop's last eager localCheckpoint — the LSH pair "
        "graph and the CC loop are NOT re-derived in this plan) and meets "
        "the 3-column documents projection in one broadcast hash join; "
        "the only wide operation on "
        "corpus-sized data is the window partitioned by cluster_id — "
        "and window partitions are dup-group-sized, never corpus-sized."
    ),
    "duplicate_spans_sampled": (
        "The 1/16 hash-mod sample is applied in the SAME projection that "
        "generates the window hashes — the filter sits between Generate "
        "and the first exchange, so the groupBy shuffles 1/16 of the "
        "window stream. Sampling keys on the hash itself, so every copy "
        "of a sampled span survives together and the shared-vs-unique "
        "split stays an unbiased estimator; at 100 TB this pre-shuffle "
        "reduction is the knob that keeps span-dedup feasible."
    ),
    "boilerplate_span_topk": (
        "Two-pass top-k; the captured plan is pass 2 (pass 1 — the "
        "scalar-only (md5, doc_id) aggregation that collects exactly K "
        "winning hashes — ran as its own bounded job): the span-text "
        "explode feeds a `BroadcastHashJoin` against the K-row hash "
        "table (`Scan ExistingRDD`), so text for only K distinct spans "
        "ever crosses an exchange — payload bytes are O(K), not "
        "O(corpus tokens). Round 9: pass 2 additionally filters to the "
        "<= K exemplar doc_ids kept by pass 1 (doc_id IN (...) pushed "
        "to the parquet scan), so the second tokenize touches K "
        "documents, not the corpus."
    ),
    "group_holdout_split": (
        "Leakage-safe group split: the split is a pure per-row function "
        "of md5(user_id) — no pre-aggregation on the group key, no RNG "
        "state — so the only exchange is the final 3-group aggregate, "
        "and count_distinct(user_id) shuffles (split, user_id) scalar "
        "pairs only. The unpartitioned window for event_share runs over "
        "the 3-row aggregate, not data."
    ),
    "hard_negative_mining": (
        "Bucketed hard-negative mining: one hash exchange on the tiered "
        "md5 bucket (bucket count grows with the corpus — O(n x "
        "bucket_size), never a cross join) feeds `FlatMapGroupsInArrow`, "
        "which scores each bucket's cross-label pairs in numpy and "
        "returns only a superset of every anchor's top-k; the rounding "
        "and the per-anchor top-k window (partitioned on anchor_id) run "
        "in the JVM on those rows. At 100 TB the naive formulation "
        "(every anchor vs every cross-label candidate) is quadratic; "
        "this plan's candidate set is bounded by bucket occupancy."
    ),
    "temporal_split_stats": (
        "No global sort and no window: the cutoff is two scalar "
        "aggregates folded into a literal (integer epoch-microsecond "
        "arithmetic, exact in both engines), then one conditional-agg "
        "pass and one user-grain groupBy for the overlap set — the "
        "whole split audit is two scans and one shuffle regardless of "
        "event count (measured flat 0.5 s from sf1 to sf10)."
    ),
    "t_closeness_audit": (
        "One conditional-aggregate pass over customer (partial "
        "`HashAggregate` before the exchange — shuffle rows are "
        "O(QI classes), not O(customers)); the global tier "
        "distribution rides as a `BroadcastExchange` of ONE row, so "
        "the per-class EMD is a map-side expression. The audit costs "
        "exactly one scan more than the k-anonymity release it "
        "audits."
    ),
    "bfs_hops": (
        "The captured plan is the final hop histogram (the 8 "
        "Bellman-Ford layer rounds each ran as their own bounded job "
        "over the eager-checkpointed edge list — `Scan ExistingRDD`): "
        "label state is O(reached vertices) per round, the edge list "
        "is partitioned by src ONCE and never re-shuffled, and every "
        "labels-side join is pinned `ShuffledHashJoin` — a "
        "corpus-sized label table must never ride a broadcast, "
        "however small the toy SF makes it look."
    ),
    "retrieval_ndcg_eval": (
        "Identical scale spine to bm25_scores: the only wide exchange "
        "is the (doc_id, word) tf aggregate; query terms, document "
        "frequencies, avgdl, and N all `BroadcastExchange`. Each "
        "candidate appears twice, keyed by its rounded score and by "
        "its relevance, and one `Window` partitioned by the two keys "
        "ranks both after a partial `WindowGroupLimit` of 10, so the "
        "window sorts at most 10 rows per key per partition, never the "
        "candidate universe. The candidate count reads the same scored "
        "aggregate: the snapshot, taken before execution, prints the "
        "spine under both consumers, and the run reuses its exchanges."
    ),
    "ivf_nprobe_sweep_eval": (
        "The knob-sweep costs one scored front, not one per "
        "configuration: a single assignment pass, one probe pass "
        "ranked to max(nprobe), and the 3-row nprobe config table "
        "joins via `BroadcastExchange` (theta-join on list rank). "
        "Per-config recall is a window over the shared front — no "
        "re-scan, no re-score, so adding configurations is O(pairs), "
        "not O(pairs x configs): no exchange in the plan is "
        "per-configuration (the sweep adds only a broadcast join plus "
        "a window over the shared front). The plan below does carry "
        "several wide exchanges (probe-rank window, candidate "
        "sort-merge join, recall join, final aggregate), and the "
        "centroid-build subtree is PLANNED twice (assignment pass + "
        "probe pass; AQE stage reuse dedupes canonically-identical "
        "exchanges at runtime — see plans/r12/ executed-plan "
        "captures)."
    ),
    "minmax_file_skipping_eval": (
        "Zone-map pruning measured without writing files: per-row "
        "file-id arithmetic (month / cluster-modulo / md5-bucket) "
        "feeds two distributed `HashAggregate`s — per-file min/max, "
        "then the skip verdict per layout. No window, no global "
        "sort, no collect; at 100 TB the layout comparison costs "
        "exactly two shuffles of O(files) rows each."
    ),
}


def main() -> None:
    spark = get_spark(app_name="plan_snapshots")
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    out = [
        "# PLANS — captured physical plans for the headline queries",
        "",
        f"Generated by `tools/plan_snapshots.py` at sf_dir={SF_DIR} with "
        f"spark.sql.shuffle.partitions={partitions} "
        "(plans are scale-invariant in shape; AQE may re-plan exchanges "
        "at runtime). Each section: the scale argument, then the "
        "formatted plan that evidences it, with expression ids, plan ids "
        "and scratch paths normalized.",
        "",
    ]
    for name, why in SNAPSHOTS.items():
        fn, _ = _REGISTRY[name]
        plan = plan_inspect.formatted(fn(spark, SF_DIR))
        # keep the operator tree + details compact
        plan = re.sub(r"\n{3,}", "\n\n", plan.strip())
        out += [f"## {name}", "", why, "", "```", plan, "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SNAPSHOTS)} snapshots")


if __name__ == "__main__":
    main()
