"""Derive larger scale factors from the driver's sf0.1 parquet.

The driver ships sf{0.001,0.01,0.1} only; BASELINE.md's measurement
plan wants a second bench point to show the scaling slope. This tool
replicates sf0.1 K times (default 10 -> "sf1") with per-replica key
offsets so join cardinalities scale the way TPC-H does:

- region/nation: fixed dimension tables (unchanged).
- customer/supplier/part: keys offset by replica * (max_key + 1).
- orders/lineitem: order/cust/part/supp keys offset consistently so
  every FK still joins inside its replica; date range unchanged
  (higher SF = more rows over the same calendar, as in TPC-H).
- events: ids offset, same time range (denser stream).
- documents: ids offset; half of each replica's texts get a replica
  suffix, the other half stay byte-identical to replica 0 — so both
  the exact-dup and near-dup code paths see realistic mixed work.
- embeddings: ids offset, small deterministic per-replica component
  shift so ANN buckets don't collapse onto 10-way identical vectors.

Output is deterministic (no randomness beyond the already-seeded
inputs). Usage:

    python tools/scale_data.py [K] [out_dir]   # default 10 .benchdata/sf1
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(repo, ".benchdata", "sf1")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")

    def copy(table: str, sql: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n} rows")

    reps = f"(SELECT unnest(range({k})) AS rep)"
    # key strides: replica r adds r*stride to every key of that entity
    strides = {}
    for ent, tbl, col in (
        ("cust", "customer", "c_custkey"),
        ("supp", "supplier", "s_suppkey"),
        ("part", "part", "p_partkey"),
        ("order", "orders", "o_orderkey"),
        ("event", "events", "event_id"),
        ("user", "events", "user_id"),
        ("doc", "documents", "doc_id"),
        ("vec", "embeddings", "vec_id"),
    ):
        strides[ent] = con.sql(f"SELECT max({col})+1 FROM {tbl}").fetchone()[0]

    copy("region", "SELECT * FROM region")
    copy("nation", "SELECT * FROM nation")
    copy(
        "customer",
        f"SELECT c_custkey + rep*{strides['cust']} AS c_custkey, c_name, "
        f"c_nationkey, c_acctbal, c_mktsegment FROM customer, {reps}",
    )
    copy(
        "supplier",
        f"SELECT s_suppkey + rep*{strides['supp']} AS s_suppkey, s_name, "
        f"s_nationkey, s_acctbal FROM supplier, {reps}",
    )
    copy(
        "part",
        f"SELECT p_partkey + rep*{strides['part']} AS p_partkey, p_name, "
        f"p_brand, p_type, p_size, p_retailprice FROM part, {reps}",
    )
    copy(
        "orders",
        f"SELECT o_orderkey + rep*{strides['order']} AS o_orderkey, "
        f"o_custkey + rep*{strides['cust']} AS o_custkey, o_orderstatus, "
        f"o_totalprice, o_orderdate, o_orderpriority FROM orders, {reps}",
    )
    copy(
        "lineitem",
        f"SELECT l_orderkey + rep*{strides['order']} AS l_orderkey, "
        f"l_partkey + rep*{strides['part']} AS l_partkey, "
        f"l_suppkey + rep*{strides['supp']} AS l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        f"l_returnflag, l_linestatus, l_shipdate FROM lineitem, {reps}",
    )
    copy(
        "events",
        f"SELECT event_id + rep*{strides['event']} AS event_id, ts, "
        f"user_id + rep*{strides['user']} AS user_id, event_type, value, "
        f"props FROM events, {reps}",
    )
    copy(
        "documents",
        f"SELECT doc_id + rep*{strides['doc']} AS doc_id, "
        "CASE WHEN rep > 0 AND doc_id % 2 = 0 "
        "THEN text || ' v' || rep ELSE text END AS text, "
        f"lang, source, n_chars FROM documents, {reps}",
    )
    copy(
        "embeddings",
        f"SELECT vec_id + rep*{strides['vec']} AS vec_id, "
        "list_transform(embedding, x -> CAST(x + rep * 0.001 AS FLOAT)) "
        f"AS embedding, label FROM embeddings, {reps}",
    )


if __name__ == "__main__":
    main()
