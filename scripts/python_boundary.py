"""CPU per query at the Python worker boundary, split by process.

    python scripts/python_boundary.py [--sf-dir DIR] [--cpus N] [--runs N] [QUERY ...]

Builds one ``get_spark`` session and runs each query (default: x6, x8,
x9 and s20, the catalog's Python-worker families) once cold and then
``--runs`` times warm, each run a build plus ``toPandas()``.  Around
every run it reads the CPU time of this process and all its descendants
from ``/proc/<pid>/stat`` (user + system, plus that of reaped children)
and files each process under one role:

- ``driver``: this Python process;
- ``jvm``: the Spark JVM;
- ``task``: Python worker daemons Spark starts for tasks (UDFs,
  ``mapInArrow``, Python DataSource reads and writes) and the workers
  they fork;
- ``planner``: daemons and workers of Spark's ``PythonPlannerRunner``
  (worker modules ``pyspark.sql.worker.*``: DataSource create and
  plan-read, UDTF analyze, write commit);
- ``other``: anything else, such as the shell commands the JVM forks.

A worker that exits inside a run is counted through its parent (the
daemon that reaps it), which has the same role.  Prints one JSON line
per query with the median warm CPU seconds per role and in total.
Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from projectmapreduce_spark.queries import QUERIES  # noqa: E402
from projectmapreduce_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_CORRECT  # noqa: E402

DEFAULT_QUERIES = (
    "x6_map_in_arrow",
    "x8_polymorphic_udtf",
    "x9_arrow_udf",
    "s20_python_datasource",
)
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds including reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # Fields after the command name: state, ppid, ..., utime (index 11),
    # stime, cutime, cstime.
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / TICK


def _role(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().decode(errors="replace").split("\0")
    except OSError:
        return "other"
    if os.path.basename(argv[0]) == "java":
        return "jvm"
    if "-m" in argv:
        # ``-m <daemon> <worker module>``, or ``-m <worker module>``
        # when Spark starts a worker without a daemon.
        modules = argv[argv.index("-m") + 1 :][:2]
        return "planner" if any(m.startswith("pyspark.sql.worker") for m in modules) else "task"
    return "other"


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far of this process and its descendants, by role."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (s := _stat(int(name))) is not None:
            stats[int(name)] = s
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    out: dict[str, float] = {}
    for pid in tree:
        if pid in stats:
            role = _role(pid)
            out[role] = out.get(role, 0.0) + stats[pid][1]
    return out


def measure(spark, name: str, sf_dir: str, runs: int) -> dict:
    warm: list[dict[str, float]] = []
    for i in range(runs + 1):
        before = cpu_by_role()
        QUERIES[name](spark, sf_dir).toPandas()
        after = cpu_by_role()
        delta = {r: after.get(r, 0.0) - before.get(r, 0.0) for r in after.keys() | before.keys()}
        if i:
            warm.append(delta)
    roles = sorted({r for d in warm for r in d})
    med = {r: round(statistics.median(d.get(r, 0.0) for d in warm), 3) for r in roles}
    med["total"] = round(statistics.median(sum(d.values()) for d in warm), 3)
    return {"query": name, "warm_runs": runs, "cpu_s": med}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", default=list(DEFAULT_QUERIES))
    ap.add_argument("--sf-dir", default=SF_CORRECT)
    ap.add_argument("--cpus", default="2")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()
    spark = get_spark(app_name="python-boundary", cpus=args.cpus)
    for name in args.queries:
        print(json.dumps(measure(spark, name, args.sf_dir, args.runs)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
