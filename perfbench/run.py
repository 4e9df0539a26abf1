"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One run:

1. generates the workload's inputs from the seed (cached per seed and
   scale under ``.perfbench_work/data``) and the DuckDB oracle digests
   for its queries;
2. starts a fresh engine process (``worker.py``) that sets up the
   session, runs a cold pass and then warm passes for ``--seconds``,
   and checks every result;
3. removes everything the run wrote except the cached inputs, and prints
   one JSON line: ``correct``, ``attempted``, ``failed`` and the metrics
   (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).

Progress and diagnostics go to standard error; standard output carries
only the result line.  Exits non-zero, without a result line, when the
engine is missing or a process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 150


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def engine_cpus() -> int:
    """Task slots of the engine: half the cores, at least one.  The other
    half runs the Python driver, the JVM's JIT and GC threads and the host's
    own work, so a pass does not wait on its own background threads and
    the run-to-run spread stays within the bounds."""
    return max(1, _cpus() // 2)


def _env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The JVM sizes its JIT and GC thread pools to the task slots.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ActiveProcessorCount={engine_cpus()}"
        ),
    }
    if trace:
        logs = os.path.join(run_dir, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{logs}",
            }
        )
    submit = []
    for k, v in conf.items():
        submit += ["--conf", f"{k}={v}"]
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
            "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
            "SPARK_GRAFT_CPUS": str(engine_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": tmp,
        }
    )
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process left in the group (the JVM and Python workers
    the engine started) and wait until they are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)
    if _group_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} did not stop")


def run_worker(args: list[str], run_dir: str, trace: bool, timeout: float) -> None:
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--run-dir", run_dir]
    cmd += ["--spawned-at", repr(time.time())]
    proc = subprocess.Popen(
        cmd, env=_env(run_dir, trace), cwd=ROOT, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"engine process {'timed out' if code is None else f'exited with {code}'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "projectmapreduce_spark", "__init__.py")):
        log(f"no engine source under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.gen import ensure_dataset
    from perfbench.metrics import END_TO_END, PER_LAYER, cold_pass, cpu_s, warm_pass
    from perfbench.oracle import oracle_digests
    from perfbench.workloads import WORKLOADS
    from projectmapreduce_spark.queries import ORACLES

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]

    data_dir, report = ensure_dataset(os.path.join(WORK, "data"), args.seed, wl.sf)
    log(f"inputs {data_dir}: {json.dumps(report)}")
    t0 = time.perf_counter()
    oracle = oracle_digests(data_dir, [q for q in wl.queries if q in ORACLES], ORACLES, _cpus())
    log(f"oracle digests for {len(oracle)} queries in {time.perf_counter() - t0:.2f} s")

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        oracle_path = os.path.join(run_dir, "oracle.json")
        with open(oracle_path, "w") as f:
            json.dump(oracle, f)
        common = ["--workload", wl.name, "--data", data_dir, "--oracle", oracle_path]
        common += ["--seconds", str(args.seconds)]
        run_worker(common + (["--trace"] if args.trace else []), run_dir, bool(args.trace), WORKER_TIMEOUT_S)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = res["passes"]
    execs = [q for p in passes for q in p["queries"]]
    errors = [q["error"] for q in execs if q["error"]]
    for e in errors:
        log(f"FAILED {e}")
    for i, q in enumerate(passes[0]["queries"]):
        times = ", ".join(f"{p['queries'][i]['build_s'] + p['queries'][i]['action_s']:.2f}" for p in passes)
        log(f"{q['query']} per pass (build + action): {times} s")
    log(
        f"{len(passes)} passes: "
        + ", ".join(f"{p['pass_s']:.2f}" for p in passes)
        + f" s; set-up {res['setup']['setup_s']:.2f} s, cpu {res['setup']['setup_cpu_s']:.2f} s"
    )
    if args.trace:
        values = res["layers"]
        units = PER_LAYER
    else:
        values = {
            "setup_s": res["setup"]["setup_s"],
            "cold_pass_cpu_s": cold_pass(passes, cpu_s),
            "warm_pass_cpu_s": warm_pass(passes, cpu_s),
        }
        units = END_TO_END
    line = {
        "correct": not errors,
        "attempted": len(execs),
        "failed": len(errors),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    # A terminated run still stops its engine processes (run_worker's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # report and fail without a result line
        log(f"error: {type(e).__name__}: {e}")
        sys.exit(1)
