"""Read Spark plans: one normalizer, one node walker, one census.

Every plan reader in tools/ and tests/ goes through this module. It
imports only pyspark and the standard library, never the engine package,
so `tools/ab.py` imports it by its bare name while its worker runs
another revision's package.

`physical(df)`, `nodes(df)` and `census(df)` read `df`'s own physical
plan: until an action runs `df` itself (`df.count()` runs a separate
aggregate), the plan Spark chose before adaptive execution re-plans
anything. `executed(df)` runs `df` first. Inside `aqe_off(spark)` plans
are built without adaptive execution and show every planned exchange;
`conf(spark, settings)` sets any confs for a block.
"""

from __future__ import annotations

import contextlib
import hashlib
import re

_NOISE = (
    (re.compile(r"#\d+L?"), "#"),  # expression ids, `[id=#12]`
    (re.compile(r"\b(lambda \w+?)_\d+#"), r"\1_#"),  # lambda variables
    (re.compile(r"plan_id=\d+"), "plan_id=#"),
    # `MapPartitionsRDD[38] at localCheckpoint at NativeMethodAccessorImpl.java:0`:
    # the RDD id and the JVM frame that called the method both depend on
    # how many RDDs and reflective calls the session made before
    (re.compile(r"RDD\[\d+\] at (\w+) at \S+?:\d+"), r"RDD[#] at \1 at *"),
    # a scratch dir under the driver's SparkFiles root (tempfile.mkdtemp),
    # which lies in the local dir (SPARK_LOCAL_DIRS, else java.io.tmpdir)
    (re.compile(r"(?:/[^/\s\[\],]+)*/spark-[0-9a-f-]{36}/userFiles-[0-9a-f-]{36}/"
                r"(\w+?_)[a-z0-9_]{8}\b"),
     r"*/spark-*/userFiles-*/\1*"),
)


def normalize(text: str) -> str:
    """`text` with the session counters and scratch paths a plan prints
    replaced, so two builds of one query print the same plan."""
    for pattern, repl in _NOISE:
        text = pattern.sub(repl, text)
    return text


# Spark's distinct-aggregate rewrite numbers its Expand projections (the
# `gid` literal each ends in, which the aggregates above filter on) in
# an order that can change between two builds of one plan
_EXPAND = re.compile(r"Expand \[((?:\[[^\[\]]*\](?:, )?)+)\]")
_GID_FILTER = re.compile(r"\(gid# = \d+\)")


def _canonical_expand(match: re.Match) -> str:
    projections = re.findall(r"\[[^\[\]]*\]", match.group(1))
    return "Expand [" + ", ".join(
        sorted(re.sub(r", \d+\]$", ", gid]", p) for p in projections)) + "]"


def canonical(plan: str) -> str:
    """A normalized plan string with the order of every distinct-aggregate
    Expand's projections, and the `gid` numbers that order assigns,
    taken out."""
    return _GID_FILTER.sub("(gid# = *)", _EXPAND.sub(_canonical_expand, plan))


def digest(df) -> tuple[str, bool]:
    """sha256 of the canonical normalized optimized logical plan, and
    whether the plan has a LogicalRDD leaf, whose lineage it hides."""
    plan = canonical(normalize(df._jdf.queryExecution().optimizedPlan().toString()))
    return hashlib.sha256(plan.encode()).hexdigest(), "LogicalRDD" in plan


def physical(df) -> str:
    """`df`'s physical plan as its `toString` prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def executed(df) -> str:
    """Run `df` through its own adaptive plan, then return that plan's
    string: the final plan, then the initial one."""
    df.collect()
    return physical(df)


def formatted(df) -> str:
    """`df.explain(mode="formatted")`'s text, normalized."""
    jvm = df.sparkSession.sparkContext._jvm
    return normalize(jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))


@contextlib.contextmanager
def conf(spark, settings: dict[str, str]):
    """Set Spark SQL confs inside the block; restore (or unset) them after."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def aqe_off(spark):
    """Build plans with adaptive execution off while inside the block."""
    return conf(spark, {"spark.sql.adaptive.enabled": "false"})


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def nodes(df):
    """Every node of `df`'s physical plan, pre-order, in the order
    `toString` prints them: a node's subqueries and cached plans before
    its children. An AdaptiveSparkPlan stands for its current plan (the
    initial plan until it runs, the final plan after), and a query stage
    for the plan it wraps."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStage"):
            kids = [node.plan()]
        else:
            kids = _seq(node.innerChildren()) + _seq(node.children())
        stack.extend(reversed(kids))


def _payload(node) -> list[tuple[str, str, str]]:
    return [(node.nodeName(), a.name(), a.dataType().catalogString())
            for a in _seq(node.output())]


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
          "BroadcastNestedLoopJoin")


def census(df) -> dict:
    """What `df`'s physical plan reads, moves and runs, in plan order:
    `scans` (per file scan: `table`, the file name without extension;
    `pushed` and `partition_filters`, lists of strings; `read_schema` and
    its `width`), `exchanges` ((node, column, type) per output column of
    each exchange), `joins`, `python` (Python-worker nodes), `rdd_scans`
    (the LogicalRDD leaves of a `localCheckpoint` or of rows built in
    Python, which hide their lineage) and every node name in `nodes`."""
    out = {"scans": [], "exchanges": [], "joins": [], "python": [], "rdd_scans": 0,
           "nodes": []}
    for node in nodes(df):
        name = node.nodeName()
        cls = node.getClass().getName()
        out["nodes"].append(name)
        if cls.endswith(".FileSourceScanExec"):
            schema = node.requiredSchema()
            out["scans"].append({
                "table": node.relation().location().rootPaths().apply(0).getName()
                .split(".")[0],
                "pushed": [f.toString() for f in _seq(node.pushedDownFilters())],
                "partition_filters": [e.toString() for e in _seq(node.partitionFilters())],
                "read_schema": schema.catalogString(),
                "width": schema.length(),
            })
        elif cls.endswith(".RDDScanExec"):
            out["rdd_scans"] += 1
        elif "Exchange" in name:
            out["exchanges"] += _payload(node)
        elif name in _JOINS:
            out["joins"].append(name)
        elif cls.startswith("org.apache.spark.sql.execution.python."):
            out["python"].append(name)
    return out


def exchange_payload_types(df) -> list[tuple[str, str, str]]:
    """(node, column, type) per output column of every exchange: the
    shuffle and broadcast payloads. Build the plan inside `aqe_off`."""
    return census(df)["exchanges"]


# A map-side partial WindowGroupLimit with a small limit BELOW a rank
# exchange caps its payload at limit rows per key, corpus×limit, not the
# K-fold blow-up the rank audit exists for (the IVF rank exchanges carry
# (vec, norm) through the window). Tests pin max(_NPROBE_SWEEP) <=
# WGL_BOUND: raising NPROBE past it flips plans from exempt to flagged,
# and raising WGL_BOUND widens the exemption for every future plan.
WGL_BOUND = 8


def rank_window_array_exchanges(df) -> list[tuple[str, str, str]]:
    """Array-typed payload columns of any Exchange inserted FOR a
    Window's partitioning: embeddings riding a rank/argmin shuffle,
    K scored rows per vector in bucketed-ANN shapes. Only an Exchange
    reached from a Window through Sort / WindowGroupLimit / codegen
    wrappers counts; one behind a Project/Join/PythonEval belongs to
    that operator, and one below a partial WindowGroupLimit with limit
    <= WGL_BOUND is exempt."""
    out: list[tuple[str, str, str]] = []
    PASS_THROUGH = ("Sort", "WindowGroupLimit", "WholeStageCodegen",
                    "InputAdapter", "ColumnarToRow")

    def _partial_wgl_below(node) -> bool:
        name = node.nodeName()
        if name == "WindowGroupLimit":
            try:
                return (node.mode().toString() == "Partial"
                        and int(node.limit()) <= WGL_BOUND)
            except Exception:  # noqa: BLE001 — conservative: not bounded
                return False
        if not any(name.startswith(pfx) for pfx in PASS_THROUGH):
            return False
        return any(_partial_wgl_below(c) for c in _seq(node.children()))

    def rank_exchange(node, acc) -> None:
        name = node.nodeName()
        if name == "Exchange":
            if any(_partial_wgl_below(c) for c in _seq(node.children())):
                return
            acc += [t for t in _payload(node) if t[2].startswith("array<")]
            return
        if not any(name.startswith(pfx) for pfx in PASS_THROUGH):
            return  # the exchange below belongs to this operator
        for c in _seq(node.children()):
            rank_exchange(c, acc)

    for node in nodes(df):
        if node.nodeName() == "Window":
            for c in _seq(node.children()):
                rank_exchange(c, out)
    return out


def shuffle_array_exchange_count(df) -> int:
    """Number of array payload columns of shuffle Exchanges (broadcast
    and reused exchanges are the intended scale shape)."""
    return len([t for t in exchange_payload_types(df)
                if t[0] == "Exchange" and "array<" in t[2]])


def binary_shuffle_exchanges(df) -> list[tuple[str, str, str]]:
    """Binary payload columns of shuffle Exchanges: raw media riding a
    shuffle, where the multimodal contract is scan -> Arrow decode ->
    scalar features."""
    return [t for t in exchange_payload_types(df) if t[0] == "Exchange" and t[2] == "binary"]


def string_array_exchanges(df) -> list[tuple[str, str, str]]:
    """Exchange payload columns whose type embeds an array of strings."""
    return [t for t in exchange_payload_types(df) if re.search(r"array<[^>]*string", t[2])]
