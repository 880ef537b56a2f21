"""Repository tooling: every `tools/<x>.py` the docs, the package or the
tests name exists, so does every package module README names, every
`<pkgdir>/<file>.py:<name>` citation names a top-level definition, the A/B tool compares a query against a git revision
and cleans up after itself, bench.py times just the queries it is
given without touching the round artifacts, and the plan inspector's
census and normalized plans hold on a small plan."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest
from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# `git show REV:tools/x.py` citations point into history, not the tree
_TOOL_REF = re.compile(r"(?<![:\w/])tools/(\w+)\.py")
# README abbreviates the package as `m/`; history citations skip the same way
_MODULE_REF = re.compile(r"(?<![:\w/])(?:m|map_reduce_engine_cdps_spark)/([\w/]+\.py)")
_NAME_REF = re.compile(
    r"(?<![:\w/])(?:(?:m|map_reduce_engine_cdps_spark)/)?(\w+)/(\w+)\.py:([A-Za-z_]\w*)"
)


def _texts():
    yield from ("README.md", "SCALE.md", "PLANS.md",
                os.path.join(".claude", "skills", "verify", "SKILL.md"))
    for top in ("map_reduce_engine_cdps_spark", "tests"):
        for d, _, files in os.walk(os.path.join(REPO, top)):
            yield from (os.path.join(d, f) for f in files if f.endswith((".py", ".md")))


def test_cited_tools_exist():
    missing = set()
    for path in _texts():
        with open(os.path.join(REPO, path), encoding="utf-8") as fh:
            for name in _TOOL_REF.findall(fh.read()):
                if not os.path.exists(os.path.join(REPO, "tools", f"{name}.py")):
                    missing.add((os.path.relpath(path, REPO), name))
    assert not missing


def _top_level_names(path: str) -> set[str]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def test_readme_cited_modules_exist():
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as fh:
        cited = set(_MODULE_REF.findall(fh.read()))
    pkg = os.path.join(REPO, "map_reduce_engine_cdps_spark")
    assert cited
    assert not {p for p in cited if not os.path.exists(os.path.join(pkg, p))}
    # `<pkgdir>/<file>.py:<name>` must name a top-level def, class or
    # assignment of that module
    pkgdirs = {d for d in os.listdir(pkg) if os.path.isdir(os.path.join(pkg, d))}
    names, bad = {}, set()
    for path in _texts():
        with open(os.path.join(REPO, path), encoding="utf-8") as fh:
            for d, f, name in _NAME_REF.findall(fh.read()):
                if d not in pkgdirs:
                    continue
                mod = os.path.join(pkg, d, f"{f}.py")
                if mod not in names:
                    names[mod] = _top_level_names(mod) if os.path.exists(mod) else set()
                if name not in names[mod]:
                    bad.add((os.path.relpath(path, REPO), f"{d}/{f}.py:{name}"))
    assert names
    assert not bad



def test_no_source_hard_codes_the_checkout_path():
    """Code finds the repository from its own file, so a second checkout
    (a clone of a parent revision for an A/B) imports its own tree."""
    files = [os.path.join(REPO, "bench.py")]
    for top in ("map_reduce_engine_cdps_spark", "tools", "tests"):
        for d, _, fs in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    hits = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            if REPO in fh.read():
                hits.append(os.path.relpath(path, REPO))
    assert not hits

def _worktrees() -> str:
    return subprocess.run(
        ["git", "-C", REPO, "worktree", "list", "--porcelain"],
        capture_output=True, text=True, check=True,
    ).stdout


def test_ab_tool_reports_identical_rows_and_removes_its_worktree(tmp_path):
    if subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True).returncode:
        pytest.skip("not a git checkout")
    before = _worktrees()
    env = dict(os.environ, TMPDIR=str(tmp_path))
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ab.py"), "HEAD", "wordcount",
         "tfidf_top_terms", "--sf", SF_DIR, "--pairs", "1"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stdout + r.stderr[-2000:]
    assert "wordcount: rows identical" in r.stdout
    line = next(x for x in r.stdout.splitlines() if x.startswith("wordcount: "))
    assert line.endswith(", plan identical"), line
    # tfidf_top_terms reads its checkpointed tf table: the digest stops there
    line = next(x for x in r.stdout.splitlines() if x.startswith("tfidf_top_terms: "))
    assert line.endswith(", plan identical above an RDD scan"), line
    assert "won" in r.stdout
    # each side's line: median total, median construction time and
    # construction jobs, pairs won and the summed RSS of its Python workers
    side = re.compile(
        r": median [\d.]+s  build [\d.]+s  jobs [\d.]+  won \d+/1  workers [\d.]+ MB  ")
    assert len([x for x in r.stdout.splitlines() if side.search(x)]) == 4, r.stdout
    assert _worktrees() == before
    assert not [p for p in os.listdir(tmp_path) if p.startswith("ab-")]


def _bench_artifacts() -> dict:
    return {p: os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(REPO, "BENCH_full_*.json"))}


def test_bench_times_only_the_named_queries():
    before = _bench_artifacts()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_SKIP_SF1="1",
               SPARK_GRAFT_BENCH_RUNS="1")
    env.pop("SPARK_GRAFT_ROUND", None)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "wordcount"],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert list(last["queries"]) == ["wordcount"]
    assert last["queries"]["wordcount"] > 0
    assert last["noop_compute"] == {}
    assert "full" not in last
    assert _bench_artifacts() == before


def test_plan_inspector_census_and_normalized_plans(spark, tmp_path):
    """The census counts what a small plan reads, moves and runs; two
    builds of one registry query (whose plan names a fresh scratch dir on
    every build) print one normalized plan and digest."""
    from pyspark.sql import functions as F

    from map_reduce_engine_cdps_spark.plans.registry import get_query
    from tools import plan_inspect as P

    path = str(tmp_path / "facts.parquet")
    spark.range(100).withColumn("k", F.col("id") % 5).write.parquet(path)
    dim = spark.range(5).withColumnRenamed("id", "k").localCheckpoint()

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = (spark.read.parquet(path).filter(F.col("id") > 10)
          .join(F.broadcast(dim), "k").select(plus_one("id")))
    c = P.census(df)
    (scan,) = c["scans"]
    assert (scan["table"], scan["width"]) == ("facts", 2) and "GreaterThan(id,10)" in scan["pushed"]
    assert (c["joins"], c["python"], c["rdd_scans"]) == (["BroadcastHashJoin"], ["ArrowEvalPython"], 1)
    assert c["exchanges"] == [("BroadcastExchange", "k", "bigint")]

    # a scan location under the SparkFiles root reads the same whatever
    # the local dir (SPARK_LOCAL_DIRS, else java.io.tmpdir) it lies in
    uid = "0123abcd-4567-89ab-cdef-0123456789ab"
    loc = ("Location: InMemoryFileIndex [file:{}/spark-" + uid + "/userFiles-" + uid
           + "/bucketed_join_{}/bucketed_lineitem]")
    assert P.normalize(loc.format("/tmp", "k3j_x9q1")) == P.normalize(
        loc.format("/tmp/spark-local", "a0b1c2d3"))
    scan = "[doc_id#1L, comp#2L], MapPartitionsRDD[{}] at localCheckpoint at {}:0, ExistingRDD"
    assert P.normalize(scan.format(38, "NativeMethodAccessorImpl.java")) == P.normalize(
        scan.format(126, "<unknown>")) == (
        "[doc_id#, comp#], MapPartitionsRDD[#] at localCheckpoint at *, ExistingRDD")

    a, b = (get_query("bucketed_join_stats")(spark, SF_DIR) for _ in range(2))
    assert P.formatted(a) == P.formatted(b)
    assert "userFiles-*/bucketed_join_*/" in P.formatted(a)
    assert not re.search(r"#\d|plan_id=\d", P.formatted(a))
    assert P.digest(a) == P.digest(b)


def test_plan_canonical_ignores_distinct_group_order():
    """Two optimized plans that differ only in the order Spark's
    distinct-aggregate rewrite gave its Expand projections, and so in
    the `gid` each aggregate filters on, read as one canonical plan;
    a plan whose projections differ does not."""
    from tools import plan_inspect as P

    plan = ("Aggregate [count(a#) FILTER (WHERE (gid# = {})) AS x#, "
            "count(b#) FILTER (WHERE (gid# = {})) AS y#]\n"
            "+- Aggregate [a#, b#, gid#], [a#, b#, gid#]\n"
            "   +- Expand [[null, null, 0], {}], [a#, b#, gid#]")
    one = plan.format(1, 2, "[a#, null, 1], [null, b#, 2]")
    other = plan.format(2, 1, "[null, b#, 1], [a#, null, 2]")
    assert one != other
    assert P.canonical(one) == P.canonical(other)
    assert P.canonical(one) != P.canonical(plan.format(1, 2, "[a#, null, 1], [null, c#, 2]"))
