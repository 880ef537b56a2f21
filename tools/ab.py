"""Interleaved A/B of registry queries: the working tree vs a git revision.

Usage: python tools/ab.py REV QUERY... [--sf DIR] [--pairs N]

REV is checked out with `git worktree add --detach` into a temporary
directory, removed again on exit. Each side runs in its own long-lived
worker process whose PYTHONPATH is its own tree, because two versions of
the package cannot share one interpreter. For each query the sorted
`collect()` of both sides is compared first; then N pairs of timed runs
(construction + noop write) alternate which side goes first. Prints the
per-side medians of the total, of construction alone (`build`, the
query function's own time before the write starts) and of the Spark
jobs construction ran (`jobs`: eager counts, checkpoints), the raw totals and
how many pairs each side won, and the summed RSS of the side's
`pyspark.daemon` processes (the daemon and the Python workers it forked)
after its runs. Each query's line also says whether the
two optimized logical plans are identical once `plan_inspect.normalize`
has replaced expression ids (`#123`, `#123L`), lambda-variable numbers
(`x_7#`) and the other session counters. When
either plan reads an RDD (a `localCheckpoint`, or rows created in
Python), the digest cannot see below it, and an identical digest is
reported as `plan identical above an RDD scan`. Exits 1 if any query's
rows differ; a plan difference alone does not fail the run, since a
perf change alters plans on purpose.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

# by its bare name: the REV worker runs this file with the REV tree on
# PYTHONPATH and as cwd, and the REV may predate the module
import plan_inspect

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def daemon_rss_mb() -> float:
    """Summed RSS of the `pyspark.daemon` processes below this one, MB:
    the daemon and the Python workers it forked (they keep its command
    line), which hold what the workers imported for the session."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    below, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - below
        below |= frontier
    rss = 0
    for pid in below:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                rss += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            pass
    return rss / 2**20


def serve(sf_dir: str) -> None:
    """Worker loop: one JSON request per stdin line, one reply per line."""
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # keep Spark's own stdout chatter out of the replies
    import map_reduce_engine_cdps_spark as pkg
    from map_reduce_engine_cdps_spark.plans.registry import get_query
    from map_reduce_engine_cdps_spark.session import get_spark

    spark = get_spark(app_name="ab")
    sc = spark.sparkContext

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return set(sc.statusTracker().getJobIdsForGroup())

    def imported(_):
        import map_reduce_engine_cdps_spark as p
        return os.path.abspath(p.__file__)

    # UDFs resolve module-level helpers by import in the Python workers,
    # so they must import the same tree as this process does
    workers = spark.sparkContext.parallelize([0], 1).map(imported).first()
    out.write(json.dumps({"package": os.path.abspath(pkg.__file__),
                          "worker_package": workers}) + "\n")
    for line in sys.stdin:
        req = json.loads(line)
        try:
            if req["op"] == "rss":
                out.write(json.dumps({"daemon_mb": daemon_rss_mb()}) + "\n")
                continue
            before = job_ids()
            t0 = time.perf_counter()
            df = get_query(req["query"])(spark, sf_dir)
            build = time.perf_counter() - t0
            if req["op"] == "rows":
                rows = sorted(repr(tuple(r)) for r in df.collect())
                digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
                plan, rdd = plan_inspect.digest(df)
                reply = {"rows": len(rows), "digest": digest, "plan": plan, "rdd": rdd}
            else:
                jobs = len(job_ids() - before)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                reply = {"build": build, "jobs": jobs,
                         "seconds": build + time.perf_counter() - t1}
        except Exception:  # noqa: BLE001 - reported to the parent
            reply = {"error": traceback.format_exc()}
        out.write(json.dumps(reply) + "\n")


class Side:
    def __init__(self, label: str, tree: str, sf_dir: str) -> None:
        self.label = label
        env = dict(os.environ, PYTHONPATH=tree)
        # cwd=tree: Spark's Python workers run `python -m`, which puts
        # their working directory ahead of PYTHONPATH on sys.path
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--serve", sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env, cwd=tree,
        )
        for pkg in self._read().values():
            if not pkg.startswith(os.path.join(os.path.realpath(tree), "")):
                self.proc.kill()
                raise RuntimeError(f"{label} worker imported {pkg}, not its own tree")

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{self.label} worker exited ({self.proc.wait()})")
        return json.loads(line)

    def ask(self, op: str, query: str) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, "query": query}) + "\n")
        self.proc.stdin.flush()
        reply = self._read()
        if "error" in reply:
            raise RuntimeError(f"{self.label} {op} {query}:\n{reply['error']}")
        return reply

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def compare(query: str, sides: list[Side], pairs: int) -> bool:
    got = [s.ask("rows", query) for s in sides]
    plan = "plan differs"
    if got[0]["plan"] == got[1]["plan"]:
        rdd = any(g["rdd"] for g in got)
        plan = "plan identical above an RDD scan" if rdd else "plan identical"
    if got[0]["digest"] != got[1]["digest"]:
        print(f"{query}: ROWS DIFFER " + "  ".join(
            f"{s.label} {g['rows']} rows {g['digest'][:12]}" for s, g in zip(sides, got))
            + f", {plan}")
        return False
    print(f"{query}: rows identical ({got[0]['rows']} rows, sha256 {got[0]['digest'][:12]}),"
          f" {plan}")
    times: dict[str, list[float]] = {s.label: [] for s in sides}
    builds: dict[str, list[float]] = {s.label: [] for s in sides}
    jobs: dict[str, list[int]] = {s.label: [] for s in sides}
    for i in range(pairs):
        for s in sides if i % 2 == 0 else sides[::-1]:
            reply = s.ask("time", query)
            times[s.label].append(reply["seconds"])
            builds[s.label].append(reply["build"])
            jobs[s.label].append(reply["jobs"])
    rss = {s.label: s.ask("rss", query)["daemon_mb"] for s in sides}
    won = {s.label: 0 for s in sides}
    for a, b in zip(*times.values()):
        if a != b:  # a tie counts for neither side
            won[sides[0 if a < b else 1].label] += 1
    for s in sides:
        t = times[s.label]
        print(f"  {s.label:>10}: median {statistics.median(t):.3f}s  "
              f"build {statistics.median(builds[s.label]):.3f}s  "
              f"jobs {statistics.median(jobs[s.label]):g}  "
              f"won {won[s.label]}/{pairs}  workers {rss[s.label]:.1f} MB  "
              f"{[round(x, 3) for x in t]}")
    return True


def main() -> int:
    if sys.argv[1:2] == ["--serve"]:
        serve(sys.argv[2])
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="git revision to compare the working tree against")
    ap.add_argument("queries", nargs="+", help="registry query names")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf, required=sf is None,
                    help="data directory (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--pairs", type=int, default=10, help="timed pairs per query")
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ab-")
    tree = os.path.join(tmp, "tree")
    sides: list[Side] = []
    try:
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", "-q", tree, args.rev],
                       check=True)
        for label, root in (("working", REPO), (args.rev, tree)):
            sides.append(Side(label, root, args.sf))
        same = [compare(q, sides, args.pairs) for q in args.queries]
    finally:
        for s in sides:
            s.close()
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree],
                       stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", REPO, "worktree", "prune"])
    return 0 if all(same) else 1


if __name__ == "__main__":
    sys.exit(main())
