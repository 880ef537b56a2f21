"""Benchmark runner: registry queries, one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client runs the workload's
queries one after another (a closed loop of one). Each query is
``fn(spark, data_dir)`` followed by a ``noop`` write, so every output
column is computed. A pass runs every query of the workload once, in an
order drawn from ``--seed``; the input tables are fixed and never see
the seed. The first pass in the fresh session is the cold pass. An
untimed pass follows that collects every query's rows and compares them
with its DuckDB oracle; timed warm passes follow until ``--seconds`` of
them, and at least ``MIN_WARM_PASSES``, have been measured.

The input tables are the repository's fixed test-data fixtures
(``data/sf0.1``; ``data/sf0.001`` for the smoke test), copied into the
benchmark's directory so that a run reads nothing outside the checkout.

Set-up is timed in wall seconds. Each pass is timed in wall seconds
and in CPU seconds of the process tree (Python driver, JVM, Python
workers; JIT compilation left out). The end-to-end pass metric is the
cold pass's CPU seconds. On a shared host the wall time of a pass moved
by 30 % and more from run to run with the CPU time other guests took
from this one (steal), and the CPU time of the short warm passes by up
to a third as their load changed, so the warm passes' times are
per-layer metrics of the traced run and are kept in every run record.

The last line of stdout is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). The complete
record of a run, its spans and a host probe go to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "map_reduce_engine_cdps_spark"

# Row counts of the fixtures under data/, checked before anything is timed.
FIXTURE_ROWS = {
    "sf0.1": {"lineitem": 600_000, "events": 100_000, "documents": 5_000,
              "embeddings": 2_000},
    "sf0.001": {"lineitem": 6_000, "events": 1_000, "documents": 500,
                "embeddings": 500},
}
# Each workload: registry queries, the tables they read, and its input
# fixture. The query lists are subsets sized so one run (set-up, the
# cold pass, the oracle check, the warm passes) takes under a minute on
# 4 cores.
WORKLOADS: dict[str, dict] = {
    # JVM scan/join/aggregate/window execution; no Python workers, no
    # memos, no driver loops
    "relational": {
        "data": "sf0.1",
        "tables": ["lineitem", "orders", "customer", "events"],
        "queries": [
            "pricing_summary", "shipping_priority", "running_order_totals",
            "user_sessions",
        ],
    },
    # Arrow/pandas UDF workers, the session memos of plans.dedup and
    # driver-side fixpoint loops that run eager jobs and checkpoints
    # during construction
    "curation_loops": {
        "data": "sf0.1",
        "tables": ["documents", "embeddings"],
        "queries": [
            "text_quality", "minhash_lsh_pairs", "knn_bruteforce",
            "label_propagation_communities",
        ],
    },
}
# Timed warm passes per run, however short --seconds is. The JIT compiler keeps speeding passes up for many
# passes (the first after the oracle check uses about 40 % more CPU than
# the third), so runs compare only when they time the same number of
# passes: at sf0.1 four passes take longer than the benchmark's --seconds.
MIN_WARM_PASSES = 4
# Largest driver JVM heap (-Xmx); the heap grows to what the queries use.
HEAP_MB = 2048
END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_cpu_s": "s", "ok_frac": "fraction",
    "retained_mb": "MB",
}


def process_age() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def process_tree() -> list[int]:
    """This process and all its descendants (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, JIT compilation excluded.

    Reaped children are included. Time the hypervisor gives to other
    guests (steal) is not in it, so it is steadier than wall time on a
    shared host. The JVM's JIT compiler threads are left out: they used
    about half the tree's CPU time, when their backlog is worked off
    varies from run to run, and they do no query work. They must not
    exit (see ``start_session``) or their time would move into the
    process total.
    """
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(f) for f in fields[11:15])  # [c]utime, [c]stime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii") as fh:
                    comm, rest = fh.read().rsplit(")", 1)
                if " CompilerThre" in comm:  # "C1/C2 CompilerThread<n>"
                    ticks -= sum(int(f) for f in rest.split()[11:13])
        except (OSError, ValueError, IndexError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Seconds of steal summed over all CPUs since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def pin_environment(cpus: int) -> None:
    """Session-sizing environment, set before the JVM starts."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(HEAP_MB, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the JVMs would otherwise write their perf-data files to /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers unpickle functions from the package by import path.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)


def ensure_data(name: str) -> str:
    """The fixture directory ``data/<name>``, its row counts checked."""
    import pyarrow.parquet as pq

    data_dir = os.path.join(HERE, "data", name)
    expected = FIXTURE_ROWS[name]
    found = {
        t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in expected
    }
    if found != expected:
        raise RuntimeError(f"input row counts {found} != {expected}")
    return data_dir


def start_session(cpus: int, event_log_dir: str | None):
    from map_reduce_engine_cdps_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            # keep JIT compiler threads alive; see tree_cpu_s
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", shuffle_partitions=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(data: str, cpus: int, event_log_dir: str | None = None):
    """Everything before the first query: data, imports, session."""
    data_dir = ensure_data(data)
    import map_reduce_engine_cdps_spark.plans.registry  # noqa: F401

    spark = start_session(cpus, event_log_dir)
    return spark, data_dir


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self.paused = False
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            if not self.paused:
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


PHASES = ("analysis", "optimization", "planning")


def phase_times(qe) -> dict[str, tuple[float, float]]:
    """Catalyst phase -> (start, end) in epoch seconds, for the phases run."""
    phases = qe.tracker().phases()
    out = {}
    for phase in PHASES:
        opt = phases.get(phase)
        if opt.isDefined():
            summary = opt.get()
            out[phase] = (summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0)
    return out


class WriteListener:
    """Catalyst phases of each noop write, from the write's own plan.

    A py4j proxy of Spark's ``QueryExecutionListener``. The noop write
    analyses, optimizes and plans its command in a query execution of
    its own, and only that plan runs; Spark hands it to this listener
    once the write is done, on its listener-bus thread.
    """

    def __init__(self) -> None:
        self._done = threading.Event()
        self.phases: dict[str, tuple[float, float]] = {}

    def arm(self) -> None:
        self.phases = {}
        self._done.clear()

    def wait(self) -> dict[str, tuple[float, float]]:
        if not self._done.wait(60):
            raise RuntimeError("Spark reported no noop write to the listener")
        return self.phases

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java name
        plan = qe.logical()
        if (plan.getClass().getSimpleName() == "OverwriteByExpression"
                and plan.table().name() == "noop-table"):
            self.phases = phase_times(qe)
            self._done.set()

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java name
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class Tracer:
    """In-memory spans; Spark jobs are tied to spans by job group."""

    spark: object
    spans: list[dict] = field(default_factory=list)
    writes: WriteListener = field(default_factory=WriteListener)
    # perf_counter() - time.time(), to place Spark's epoch times on spans
    clock_offset: float = field(default_factory=lambda: time.perf_counter() - time.time())

    def __post_init__(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)

    def listen(self, on: bool) -> None:
        manager = self.spark._jsparkSession.listenerManager()
        (manager.register if on else manager.unregister)(self.writes)

    def span(self, name: str, parent: int | None, t0: float, t1: float, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": t0, "end": t1, **attrs})
        return len(self.spans) - 1

    def group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group)


def retained_memory(spark) -> tuple[float, float]:
    """(JVM heap live after a full collection, RSS of the Python processes), MB.

    Their sum, taken after the cold pass, is the memory the session
    holds once it has run every query: memos, persisted and checkpointed
    state, Python workers. The tree's peak RSS is no steady measure of
    it: the JVM's collector sizes the heap by how long its pauses take,
    and the peak moved by a third from run to run with the same work.
    """
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark frees the broadcast and shuffle state of unreachable plans
    # from a cleaner thread after a collection finds them; such state
    # (30 MB after some relational passes) went only at the third
    # collection, half a second apart.
    live = float("inf")
    for _ in range(5):
        jvm.System.gc()
        live = min(live, heap.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    page, py = os.sysconf("SC_PAGE_SIZE"), 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                py += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return live / 2**20, py / 2**20


def storage_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return jsc.getPersistentRDDs().size(), cached / 2**20


def run_pass(spark, registry, data_dir, order, tag, tracer, failures):
    """Time one pass; return (wall s, tree CPU s, host steal s, records).

    With a ``tracer``, each query gets one job group per phase and
    spans query -> construct / action -> plan, where plan runs from the
    start of the write's optimization to the end of its planning.
    """
    records = {}
    if tracer:
        tracer.listen(True)
    cpu0, steal0 = tree_cpu_s(), host_steal_s()
    t_pass = time.perf_counter()
    for name in order:
        fn = registry[name][0]
        group = f"{name}|{tag}"
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.group(group + "|construct")
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
            if tracer:
                tracer.group(group + "|action")
                tracer.writes.arm()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if tracer:
                # the DataFrame was analysed when it was built; the write's
                # own plan is optimized and planned
                built = phase_times(df._jdf.queryExecution()).get("analysis")
                write = tracer.writes.wait()
        except Exception as exc:  # noqa: BLE001 - a failed query is a result
            failures.append({"query": name, "pass": tag, "error": repr(exc)[:500]})
            records[name] = {"failed": True}
            continue
        finally:
            if tracer:
                tracer.group(None)
        rec.update(construct_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0)
        if tracer:
            catalyst = {ph: write[ph][1] - write[ph][0] if ph in write else 0.0
                        for ph in PHASES}
            if built:
                catalyst["analysis"] += built[1] - built[0]
            rec["catalyst_s"] = catalyst
            q = tracer.span(name, None, t0, t2, group=group)
            tracer.span("construct", q, t0, t1, group=group + "|construct")
            a = tracer.span("action", q, t1, t2, group=group + "|action")
            if "optimization" in write and "planning" in write:
                off = tracer.clock_offset
                tracer.span("plan", a, write["optimization"][0] + off,
                            write["planning"][1] + off)
        records[name] = rec
    wall = time.perf_counter() - t_pass
    cpu = tree_cpu_s() - cpu0
    steal = host_steal_s() - steal0
    if tracer:
        tracer.listen(False)
    return wall, cpu, steal, records


def oracle_answer(con_factory, data_dir, name, sql) -> dict:
    """DuckDB's answer to ``sql``, normalised; cached per fixture and SQL."""
    import inspect

    from tools.oracle_check import df_multiset, lint_types

    # the normalisation is part of the key: a changed one recomputes
    norm = inspect.getsource(df_multiset) + inspect.getsource(lint_types)
    key = hashlib.sha256((sql + norm).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", os.path.basename(data_dir),
                        f"{name}-{key}.json")
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        pass
    rel = con_factory().sql(sql)
    cols, rows = rel.columns, rel.fetchall()
    answer = {"columns": sorted(cols),
              "bad_types": bool(lint_types(cols, [str(t) for t in rel.types])),
              "rows": df_multiset(cols, rows)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(answer, fh)
    os.replace(path + ".tmp", path)
    return answer


def oracle_check(spark, registry, data_dir, order, failures) -> int:
    """Collect each query's rows, compare with its DuckDB twin.

    This untimed pass also warms the session up for the timed warm
    passes. The twin's answer depends only on the fixed
    input tables and the oracle SQL, so it is computed once and cached
    in the work directory. Returns the number of mismatches.
    """
    from map_reduce_engine_cdps_spark.sources.readers import TABLES
    from tools.oracle_check import df_multiset

    con = None

    def connect():
        nonlocal con
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return con

    bad = 0
    for name in order:
        fn, sql = registry[name]
        sql = sql() if callable(sql) else sql
        try:
            df = fn(spark, data_dir)
            s_rows = [tuple(r) for r in df.collect()]
            problem = None
            if sql is None:
                problem = None if s_rows else "no rows"
            else:
                want = oracle_answer(connect, data_dir, name, sql)
                if want["bad_types"]:
                    problem = "oracle type Spark cannot emit"
                elif sorted(df.columns) != want["columns"]:
                    problem = f"columns {sorted(df.columns)} != {want['columns']}"
                elif df_multiset(df.columns, s_rows) != want["rows"]:
                    problem = (f"rows differ (spark {len(s_rows)}, "
                               f"duckdb {len(want['rows'])})")
        except Exception as exc:  # noqa: BLE001 - a failed check is a result
            problem = repr(exc)[:500]
        if problem:
            bad += 1
            failures.append({"query": name, "pass": "oracle", "error": problem})
    if con is not None:
        con.close()
    return bad


def host_probe(spark, data_dir) -> dict[str, float]:
    """Fixed work that no code change touches: tells host drift apart."""
    spins, scans = [], []
    path = os.path.join(data_dir, "lineitem.parquet")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        spins.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.read.parquet(path).count()
        scans.append(time.perf_counter() - t0)
    return {"cpu_spin_s": statistics.median(spins),
            "parquet_scan_s": statistics.median(scans)}


def layer_metrics(setup_cpu_s, cold, warm, untraced, storage, memory,
                  groups, sources, cpus) -> dict[str, float]:
    """Per-layer metrics.

    Per-pass values are medians over the traced warm passes, except
    ``plans.cold_construct_s`` and ``pyworker.start_s``, which come from
    the cold pass (warm passes reuse the Python workers it started), and
    ``pass.warm_*``, medians over the ``untraced`` warm passes.
    """

    def med(per_pass) -> float:
        return statistics.median(per_pass(p) for p in warm)

    def qsum(p, key) -> float:
        return sum(r.get(key, 0.0) for r in p["records"].values())

    def gsum(p, phases, attr) -> float:
        return sum(attr(groups[g]) for name in p["records"] for ph in phases
                   if (g := f"{name}|{p['tag']}|{ph}") in groups)

    def action(attr) -> float:
        return med(lambda p: gsum(p, ("action",), attr))

    def python(p, key) -> float:
        return gsum(p, ("construct", "action"), lambda g: g.python.get(key, 0.0))

    action_s = med(lambda p: qsum(p, "action_s"))
    untraced_wall_s = statistics.median(p["wall"] for p in untraced)
    peak_rss_mb, live_heap_mb, python_rss_mb = memory
    run_s = action(lambda g: g.executor_run_ms) / 1000.0
    m = {
        "sources.load_s": sources[0],
        "sources.load_jobs": sources[1],
        "plans.construct_s": med(lambda p: qsum(p, "construct_s")),
        "plans.construct_jobs": med(lambda p: gsum(p, ("construct",),
                                                   lambda g: g.jobs)),
        "plans.cold_construct_s": qsum(cold, "construct_s"),
    }
    for phase in PHASES:
        m[f"catalyst.{phase}_s"] = med(lambda p: sum(
            r.get("catalyst_s", {}).get(phase, 0.0) for r in p["records"].values()))
    m.update({
        "exec.action_s": action_s,
        "exec.jobs": action(lambda g: g.jobs),
        "exec.stages": action(lambda g: g.stages),
        "exec.tasks": action(lambda g: g.tasks),
        "exec.executor_run_s": run_s,
        "exec.executor_cpu_s": action(lambda g: g.executor_cpu_ns) / 1e9,
        "exec.gc_s": action(lambda g: g.gc_ms) / 1000.0,
        "exec.core_busy_frac": run_s / (action_s * cpus),
        "exec.shuffle_write_mb": action(lambda g: g.shuffle_write_bytes) / 2**20,
        "exec.shuffle_read_mb": action(lambda g: g.shuffle_read_bytes) / 2**20,
        "exec.spill_mb": action(lambda g: g.spill_bytes) / 2**20,
        "exec.input_mb": action(lambda g: g.input_bytes) / 2**20,
        "pyworker.run_s": med(lambda p: python(p, "run_ms")) / 1000.0,
        "pyworker.start_s": python(cold, "start_ms") / 1000.0,
        "pyworker.sent_mb": med(lambda p: python(p, "sent_bytes")) / 2**20,
        "pyworker.returned_mb": med(lambda p: python(p, "returned_bytes")) / 2**20,
        "storage.persisted_rdds": max(n for n, _ in storage),
        "storage.cached_mb": max(mb for _, mb in storage),
        "memory.peak_rss_mb": peak_rss_mb,
        "memory.live_heap_mb": live_heap_mb,
        "memory.python_rss_mb": python_rss_mb,
        "setup.cpu_s": setup_cpu_s,
        "pass.cold_wall_s": cold["wall"],
        "pass.warm_wall_s": untraced_wall_s,
        "pass.warm_cpu_s": statistics.median(p["cpu"] for p in untraced),
        "trace.overhead_frac": med(lambda p: p["wall"]) / untraced_wall_s - 1.0,
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", choices=sorted(FIXTURE_ROWS), default=None,
                    help="input fixture (default: the workload's)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    wl = WORKLOADS[args.workload]
    data = args.data or wl["data"]
    cpus = len(os.sched_getaffinity(0))
    pin_environment(cpus)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "eventlog", run_id)
        shutil.rmtree(event_dir, ignore_errors=True)
    sampler = RssSampler()
    sampler.start()
    spark, data_dir = setup(data, cpus, event_dir)
    timeline = {"ready": process_age()}
    setup_cpu_s = tree_cpu_s()

    from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY

    tracer = Tracer(spark) if args.trace else None
    rng = random.Random(args.seed)
    failures: list[dict] = []
    passes: list[dict] = []
    storage: list[tuple[int, float]] = []

    def one_pass(tag: str, traced: bool) -> dict:
        order = list(wl["queries"])
        rng.shuffle(order)
        wall, cpu, steal, records = run_pass(spark, _REGISTRY, data_dir, order, tag,
                                             tracer if traced else None, failures)
        storage.append(storage_state(spark))
        passes.append({"tag": tag, "wall": wall, "cpu": cpu, "steal": steal,
                       "peak_rss_mb": sampler.peak_bytes / 2**20,
                       "order": order, "records": records, "traced": traced})
        return passes[-1]

    cold = one_pass("cold", True)
    # Memory is read before the untimed oracle check, and the check is
    # left out of the peak RSS: DuckDB runs in this process the first
    # time an answer is needed, on the first run in a checkout only.
    live_heap_mb, python_rss_mb = retained_memory(spark)
    sampler.paused = True
    check_order = list(wl["queries"])
    rng.shuffle(check_order)
    mismatches = oracle_check(spark, _REGISTRY, data_dir, check_order, failures)
    sampler.paused = False
    timeline["checked"] = process_age()
    warm: list[dict] = []
    untraced: list[dict] = []
    t_warm = time.perf_counter()
    # Traced runs interleave untraced passes (U T T U ...) to price the
    # tracing overhead; the warm passes still speed up from one to the
    # next, so every traced run measures at least one U T T U block.
    min_passes = (2, 2) if tracer else (MIN_WARM_PASSES, 0)
    while (time.perf_counter() - t_warm < args.seconds
           or len(warm) < min_passes[0] or len(untraced) < min_passes[1]):
        i = len(warm) + len(untraced)
        traced = tracer is None or i % 4 in (1, 2)
        p = one_pass(f"warm{i + 1}", traced)
        if traced:
            warm.append(p)
        else:
            untraced.append(p)
    attempted = (len(passes) + 1) * len(wl["queries"])
    sampler.stop()
    timeline["passes_done"] = process_age()

    if tracer:
        from map_reduce_engine_cdps_spark.sources.readers import load_table

        tracer.group("sources")
        t0 = time.perf_counter()
        for t in wl["tables"]:
            load_table(spark, data_dir, t)
        t1 = time.perf_counter()
        tracer.group(None)
        tracer.span("sources", None, t0, t1, group="sources")
        sources_s = t1 - t0
    probe = host_probe(spark, data_dir)
    timeline["probed"] = process_age()
    stop_session(spark)
    timeline["stopped"] = process_age()

    failed = len(failures)
    if tracer:
        import eventlog

        (log,) = os.listdir(event_dir)
        groups = eventlog.parse(os.path.join(event_dir, log))
        # attach each job group's Spark totals to the spans that set it
        for span in tracer.spans:
            if span.get("group") in groups:
                span.update(asdict(groups[span["group"]]))
        src = groups.get("sources")
        sources = (sources_s, src.jobs if src else 0)
        memory = (sampler.peak_bytes / 2**20, live_heap_mb, python_rss_mb)
        metrics = layer_metrics(setup_cpu_s, cold, warm,
                                untraced, storage, memory,
                                groups, sources, cpus)
        units = {k: _layer_unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": timeline["ready"],
            "cold_pass_cpu_s": cold["cpu"],
            # per query, so that one query with wrong rows costs
            # 1/len(queries) whatever the number of passes
            "ok_frac": 1.0 - len({f["query"] for f in failures}) / len(wl["queries"]),
            "retained_mb": live_heap_mb + python_rss_mb,
        }
        units = END_TO_END_UNITS

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data": data, "cpus": cpus, "passes": passes,
        "setup_cpu_s": setup_cpu_s, "failures": failures,
        "live_heap_mb": live_heap_mb, "python_rss_mb": python_rss_mb,
        "oracle_mismatches": mismatches,
        "host_probe": probe, "timeline_s": timeline, "metrics": metrics,
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    if tracer:
        with open(os.path.join(out_dir, f"{run_id}.spans.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(tracer.spans, fh)
    print(json.dumps({"host_probe": probe, "failures": failures[:5]}),
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _layer_unit(name: str) -> str:
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "frac": "fraction"}.get(suffix, "count")


if __name__ == "__main__":
    sys.exit(main())
