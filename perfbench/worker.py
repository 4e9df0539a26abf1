"""One engine process of a benchmark run.

Started by ``run.py``, which sets its environment: a fresh scratch root,
warehouse, ``SPARK_LOCAL_DIRS`` and temp dir, and the Spark settings the
benchmark adds (no console progress bars; the event log in a traced
run).  The process

1. builds the session with ``session.get_spark`` and runs one trivial
   query (the set-up time);
2. runs the workload's queries pass after pass: a cold pass,
   then warm passes until ``--seconds`` have passed since the cold pass
   and at least ``metrics.MIN_WARM_PASSES`` counted ones have run, every
   plan rebuilt from scratch and every pass with its own scratch root;
3. checks every result against the oracle digests, outside the timed
   spans;
4. writes ``result.json`` into the run directory.

It prints nothing on standard output.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import sparklog  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    FIRST_WARM_PASS,
    MIN_WARM_PASSES,
    OPERATOR_MODULES,
    PER_LAYER,
    cold_pass,
    cpu_s,
    warm_pass,
)
from perfbench.trace import Tracer, descendants, innermost, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def redirect_stream_checkpoints(root: str) -> None:
    """Keep streaming checkpoints inside the run directory.

    The streaming queries pass a checkpoint path under the system temp
    directory to ``run_available_now``; the benchmark moves it under
    ``root`` so a run writes only inside its own tree and leaves nothing
    behind.  The query itself is unchanged.
    """
    import projectmapreduce_spark.streaming as pkg
    from projectmapreduce_spark.streaming import core

    original = core.run_available_now

    @functools.wraps(original)
    def run_available_now(out, checkpoint_dir, *args, **kwargs):
        target = os.path.join(root, os.path.basename(checkpoint_dir.rstrip("/")))
        return original(out, target, *args, **kwargs)

    core.run_available_now = run_available_now
    pkg.run_available_now = run_available_now


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started: list[tuple[str, float]] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append((str(event.runId), _iso_epoch(event.timestamp)))

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def _data_files(root: str) -> set[str]:
    out = set()
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                out.add(os.path.join(d, f))
    return out


class Runner:
    def __init__(self, spark, workload, data_dir: str, run_dir: str, oracle: dict, tracer):
        self.spark = spark
        self.workload = workload
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.oracle = oracle
        self.tracer = tracer
        self.rows_only: dict[str, dict] = {}
        self.peak_rss_mb = 0.0
        # Imported after set-up: the digests load DuckDB and pandas, which
        # are the benchmark's cost, not the engine's.
        from perfbench import oracle
        from projectmapreduce_spark.queries import QUERIES

        self.digests = oracle
        self.queries = QUERIES

    def _span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def _check(self, name: str, got: dict) -> str | None:
        want = self.oracle.get(name)
        if want is None:
            want = self.rows_only.setdefault(name, got)
        if want["rows"] == 0:
            return "empty result on the generated inputs"
        why = self.digests.mismatch(got, want)
        if why is None:
            return None
        source = "DuckDB oracle" if name in self.oracle else "first pass"
        return f"result differs from the {source}: {why}"

    def run_pass(self, index: int) -> dict:
        scratch = os.path.join(self.run_dir, "scratch", f"pass-{index}")
        os.environ["SPARK_GRAFT_SCRATCH"] = scratch
        first_span = len(self.tracer.spans) if self.tracer else 0
        before = _data_files(os.path.join(self.run_dir, "scratch")) if self.tracer else set()
        t_start = time.time()
        out = []
        for name in self.workload.queries:
            rec = {"query": name, "build_s": 0.0, "action_s": 0.0, "cpu_s": 0.0, "error": None}
            layer = "build"
            try:
                c0 = engine_cpu_s()
                t0 = time.perf_counter()
                with self._span(name, "queries"):
                    df = self.queries[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                rec["build_s"] = t1 - t0
                layer = "action"
                with self._span(name, "exec"):
                    pdf = df.toPandas()
                rec["action_s"] = time.perf_counter() - t1
                rec["cpu_s"] = engine_cpu_s() - c0
            except Exception as e:  # one failed query must not stop the run
                rec["error"] = f"{self.workload.name}/{name}/{layer}: {type(e).__name__}: {str(e)[:500]}"
                out.append(rec)
                continue
            why = self._check(name, self.digests.digest(pdf))
            if why is not None:
                rec["error"] = f"{self.workload.name}/{name}/check: {why}"
            out.append(rec)
        t_end = time.time()
        res = {
            "pass_s": sum(r["build_s"] + r["action_s"] for r in out),
            "queries": out,
            "start": t_start,
            "end": t_end,
        }
        if self.tracer:
            res["spans"] = list(range(first_span, len(self.tracer.spans)))
            res["files_written"] = len(_data_files(os.path.join(self.run_dir, "scratch")) - before)
        return res


def pass_layer_metrics(tracer, p: dict, log, run_spans: dict, progress: list[dict]) -> dict:
    """Per-layer metrics of one traced pass."""
    spans = [tracer.spans[i] for i in p["spans"]]
    ids = {s.id for s in spans}
    selfs = self_times(spans)
    by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        by_layer[s.layer] += selfs[s.id]
    build = set()
    for s in spans:
        if s.parent is None and s.layer == "queries":
            build |= descendants(spans, s.id)
    by_id = {s.id: s for s in spans}

    jobs_by_span: dict[int, list] = defaultdict(list)
    for job in log.jobs.values():
        sid = run_spans.get(job.group)
        span = by_id.get(sid) if sid is not None else innermost(spans, job.submit)
        if span is not None and span.id in ids:
            jobs_by_span[span.id].append(job)
    all_jobs = [j for js in jobs_by_span.values() for j in js]
    exec_jobs = [j for sid, js in jobs_by_span.items() if by_id[sid].layer == "exec" for j in js]
    ex = sparklog.task_metrics(log, exec_jobs)
    every = sparklog.task_metrics(log, all_jobs)

    m = {
        "queries.build_s": by_layer["queries"],
        "queries.build_jobs": sum(len(js) for sid, js in jobs_by_span.items() if sid in build),
        "exec.action_s": by_layer["exec"],
        "io.s": by_layer["io"],
        # Writes issued by any traced layer (io.sink_*, the fixed-width
        # fixture writers): a view across layers, not part of the sum.
        "io.write_s": sum(
            selfs[s.id] for s in spans if any(w in s.name.rsplit(".", 1)[-1] for w in ("sink", "write"))
        ),
        "io.scan_mb": every["scan_mb"],
        "io.scan_rows": every["scan_rows"],
        "io.write_mb": every["write_mb"],
        "io.files_written": p["files_written"],
        "python.s": by_layer["python"],
        "python.bytes_to_worker": every["py_bytes_to"],
        "python.bytes_from_worker": every["py_bytes_from"],
        "python.rows_from_worker": every["py_rows_from"],
        "streaming.s": by_layer["streaming"],
        "trace.layer_self_sum_s": sum(by_layer.values()),
    }
    for k in (
        "jobs",
        "stages",
        "tasks",
        "task_cpu_s",
        "gc_s",
        "task_skew_max_over_median",
        "empty_task_ratio",
        "shuffle_write_mb",
        "spill_mb",
        "result_mb",
    ):
        m[f"exec.{k}"] = ex[k]
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.s"] = by_layer[layer]
        m[f"{layer}.jobs"] = sum(len(js) for sid, js in jobs_by_span.items() if by_id[sid].layer == layer)
    in_pass = [q for q in progress if p["start"] <= _iso_epoch(q["timestamp"]) <= p["end"]]
    for k, v in sparklog.stream_metrics(in_pass).items():
        m[f"streaming.{k}"] = v
    return m


def layer_metrics(runner: Runner, passes: list[dict], setup: dict, log_dir: str, listener) -> dict:
    log = sparklog.parse(sparklog.read_lines(log_dir))
    spans = runner.tracer.spans
    run_spans = {}
    for run_id, t in listener.started:
        s = innermost(spans, t)
        if s is not None:
            run_spans[run_id] = s.id
    per_pass = [pass_layer_metrics(runner.tracer, p, log, run_spans, listener.progress) for p in passes]
    warm = per_pass[FIRST_WARM_PASS:]
    out = {k: statistics.median(pm[k] for pm in warm) for k in warm[0]}
    out["exec.cold_minus_warm_s"] = per_pass[0]["exec.action_s"] - out["exec.action_s"]
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.first_query_s"] = setup["first_query_s"]
    out["trace.cold_pass_s"] = cold_pass(passes)
    out["trace.warm_pass_s"] = warm_pass(passes)
    out["trace.warm_pass_cpu_s"] = warm_pass(passes, cpu_s)
    out["exec.jvm_peak_rss_mb"] = runner.peak_rss_mb
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: out[k] for k in PER_LAYER}


def engine_cpu_s() -> float:
    """CPU seconds, user and system, used so far by the engine: every
    process of this process's session (this process, the JVM it started
    and the JVM's Python workers) and the children they have reaped.

    Time the host steals from the VM is not charged to a process, so this
    reads the same whether or not the host is busy, where wall time does
    not."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from projectmapreduce_spark.session import get_spark

    g0 = time.time()
    spark = get_spark(app_name="perfbench", cpus=os.environ.get("SPARK_GRAFT_CPUS"))
    g1 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    g2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    setup = {
        "setup_s": g2 - args.spawned_at,
        "setup_cpu_s": engine_cpu_s(),
        "get_spark_s": g1 - g0,
        "first_query_s": g2 - g1,
    }
    result: dict = {"setup": setup}
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    tracer = listener = None
    if args.trace:
        tracer = Tracer(run_id=os.path.basename(args.run_dir))
        tracer.install()
        listener = _progress_listener()
        spark.streams.addListener(listener)
    redirect_stream_checkpoints(os.path.join(args.run_dir, "checkpoints"))
    with open(args.oracle) as f:
        oracle = json.load(f)
    workload = WORKLOADS[args.workload]
    runner = Runner(spark, workload, args.data, args.run_dir, oracle, tracer)
    if tracer:
        tracer.active = True

    passes = [runner.run_pass(0)]
    warm_start = time.perf_counter()
    min_passes = FIRST_WARM_PASS + MIN_WARM_PASSES
    while len(passes) < min_passes or time.perf_counter() - warm_start < args.seconds:
        passes.append(runner.run_pass(len(passes)))
    if tracer:
        tracer.active = False

    runner.peak_rss_mb = _peak_rss_mb(jvm_pid)
    result["passes"] = [
        {k: p[k] for k in ("pass_s", "queries", "start", "end")} for p in passes
    ]
    if tracer:
        # Progress events arrive on a callback thread; let them land.
        n, deadline = -1, time.time() + 5
        while len(listener.progress) != n and time.time() < deadline:
            n = len(listener.progress)
            time.sleep(0.5)
        spark.stop()
        result["layers"] = layer_metrics(runner, passes, setup, os.path.join(args.run_dir, "eventlog"), listener)
    else:
        spark.stop()
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
