"""Local replica of the driver's correctness gate.

Runs every registered query at a given SF through Spark AND its DuckDB
oracle, compares row count, sorted column names, and an order-insensitive
multiset of stringified rows (columns sorted by name — the driver's
described compare). The normalization is deliberately STRICTER than
round-1's: exact repr, type-tagged, no float rounding — so an oracle
whose DuckDB result type differs from Spark's (e.g. HUGEINT from
sum(INTEGER) vs Spark's bigint) fails HERE before it fails at the
driver. A type lint additionally rejects any DuckDB result type Spark
cannot emit (HUGEINT, DECIMAL, ...). Run:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY
from map_reduce_engine_cdps_spark.session import get_spark
from map_reduce_engine_cdps_spark.sources.readers import TABLES

# DuckDB result types Spark has no equivalent for: any oracle producing
# one of these WILL stringify differently from Spark at the driver even
# when the values are numerically identical.
_FORBIDDEN_TYPE_FRAGMENTS = ("HUGEINT", "DECIMAL", "INT128", "UINT")


def norm_cell(v):
    """Type-tagged exact normalization — no rounding, no type erasure.

    int 3 and float 3.0 normalize differently on purpose: the driver's
    hash is computed from each engine's native value representation, so
    a cross-engine type mismatch must surface as a value mismatch here.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v!r}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), norm_cell(x)) for k, x in v.items())
        return "m:{" + ",".join(f"{k}={x}" for k, x in items) + "}"
    # date/datetime/Decimal/bytes: type name + str — any cross-engine
    # representation drift in these should fail loudly, not be masked.
    return f"{type(v).__name__}:{v}"


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("," .join(norm_cell(r[i]) for i in order) for r in rows)


def lint_types(cols, types):
    """Return (col, type) pairs whose DuckDB type Spark cannot emit."""
    return [
        (c, t)
        for c, t in zip(cols, types)
        if any(frag in str(t).upper() for frag in _FORBIDDEN_TYPE_FRAGMENTS)
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = oracle_con(sf_dir)
    failures = []
    for name, (_, sql) in _REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        n, problems = compare(spark, con, name, sf_dir)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        elif sql is None:
            print(f"ok   {name}: rows-only ({n} rows, {time.time()-t0:.1f}s)")
            if n == 0:
                print(f"     WARN {name}: 0 rows")
        else:
            print(f"ok   {name}: {n} rows match ({time.time()-t0:.1f}s)")
            if n == 0:
                print(f"     WARN {name}: 0 rows on both sides")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(spark, con, name: str, sf_dir: str) -> tuple[int, list[str]]:
    """Run one registered query through Spark and its DuckDB oracle:
    (Spark row count, problems). A query without oracle SQL only has to
    run in Spark."""
    fn, sql = _REGISTRY[name]
    if callable(sql):  # lazily built oracle (see registry.ORACLE_SQL)
        sql = sql()
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return 0, [f"spark error: {type(e).__name__}: {e}"]
    if sql is None:
        return len(s_rows), []
    try:
        rel = con.sql(sql)
        d_cols = rel.columns
        d_types = [str(t) for t in rel.types]
        d_rows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return len(s_rows), [f"duckdb error: {type(e).__name__}: {e}"]
    problems = []
    bad_types = lint_types(d_cols, d_types)
    if bad_types:
        problems.append(f"oracle result type Spark can't emit: {bad_types}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"cols spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if not problems:
        ms, md = df_multiset(s_cols, s_rows), df_multiset(d_cols, d_rows)
        if ms != md:
            diff = [(a, b) for a, b in zip(ms, md) if a != b][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return len(s_rows), problems


if __name__ == "__main__":
    raise SystemExit(main())
