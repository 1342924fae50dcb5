"""Layered benchmark for apache_arrow_spark on local[nproc].

    python3 perfbench/run.py --workload {tabular,corpus,bulk} --seed N \
        --seconds S --trace {0,1}

One closed-loop client: a single process times one operation at a time
on local[N], N = the CPUs this process may use.  A run

1. starts the session (`session.start_s`), generates the seeded inputs of
   `bulk`, and runs one untimed warm pass, two operations at a time, that
   also checks every operation's output (`session.warm_s`); together these
   are `setup_s`;
2. runs timed passes, each every operation once in a seeded order, for
   `--seconds` (always at least MIN_PASSES; another only if it should end
   in time); `wall_s` sums each operation's fastest wall;
3. prints a detail JSON line (environment, passes, checks), then the
   result line `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 1` the timed part is one untraced pass followed by one
traced pass: spans per operation and per phase (build / plan / execute),
and per-layer counters read from Spark's status stores.  The metrics are
then the per-layer ones, and the detail line carries the tracing overhead
(traced pass wall minus untraced pass wall).  Spans, operation records
and the detail line are written to `.perfbench_out/` in the checkout when
the run ends.

Scratch (shuffle files, IPC shards, temp files) lives in
`.perfbench_work/` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, set-up included, must end within 180 s
DRIVER_MEM = "3g"
# Timed passes per run at the least.  A fixture pass is many short,
# stage-synchronised jobs whose walls swing with the machine's other
# tenants; a second pass lets each operation keep its faster wall.
MIN_PASSES = {"tabular": 2, "corpus": 2, "bulk": 1}
# The warm pass is mostly single-threaded first-run work (class loading,
# code generation, JIT); two operations at a time halve it, which pays for
# the second timed pass.  Timed passes never overlap operations.
WARM_THREADS = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

BULK_RATES = {
    "to_pandas": "topandas_rows_per_s",
    "from_pandas": "frompandas_rows_per_s",
    "ipc_roundtrip": "ipc_roundtrip_rows_per_s",
    "sort": "sort_rows_per_s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json mirrors this)."""
    from workloads import CORPUS, MODULE, TABULAR

    units = {
        "session.start_s": "s", "session.warm_s": "s", "jvm.peak_rss_mb": "MB",
        "queries.build_s": "s", "queries.eager_jobs": "count",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
        "exec.cpu_frac": "ratio", "exec.core_util": "ratio",
        "exec.driver_gap_s": "s",
        "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
        "shuffle.records": "count", "shuffle.fetch_wait_s": "s",
        "pyworker.sent_mb": "MB", "pyworker.returned_mb": "MB",
        "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
        "io.pandas_bridge.to_pandas_s": "s",
        "io.pandas_bridge.from_pandas_s": "s",
        "io.pandas_bridge.from_pandas_tasks": "count",
        "io.ipc.write_s": "s", "io.ipc.read_s": "s", "io.ipc.shards": "count",
        "io.ipc.stored_bytes_per_row": "B/row",
    }
    units.update(dict.fromkeys(BULK_RATES.values(), "rows/s"))
    for module in sorted(set(MODULE.values())):
        units[f"{module}.wall_s"] = "s"
    for q in TABULAR + CORPUS:
        units[f"op.{q}.wall_s"] = "s"
    return units


# --------------------------------------------------------------------------
# Environment
# --------------------------------------------------------------------------
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Env:
    """What operations need: the session, scratch, inputs."""

    def __init__(self, spark, work_dir: str, fixture_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.fixture_dir = fixture_dir
        self.bulk = None


def start_session(work_dir: str, nproc: int):
    """Point every scratch path of Spark, the JVM and Python at
    ``work_dir``, then build the package's session on local[nproc]."""
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work_dir, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work_dir, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=work_dir,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            # No hsperfdata file under /tmp: the run writes only its checkout.
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={work_dir}' "
            "pyspark-shell"
        ),
    )
    from apache_arrow_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it; the Python workers are its children and go with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# --------------------------------------------------------------------------
# Passes
# --------------------------------------------------------------------------
def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def check_pass(env, ops) -> tuple[dict[str, float], dict[str, str]]:
    """The warm pass: build each operation and drain it through its check,
    WARM_THREADS operations at a time, then clean up after all of them.
    Returns each operation's wall and the problems found."""

    def warm(op):
        t0 = time.perf_counter()
        try:
            problem = op.check(env, op.build(env))
        except Exception as e:  # a failing operation is a result, not a crash
            problem = _error(e)
        return op.name, time.perf_counter() - t0, problem

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        done = list(pool.map(warm, ops))
    for op in ops:
        op.cleanup(env)
    walls = {name: wall for name, wall, _ in done}
    problems = {name: problem for name, _, problem in done if problem}
    return walls, problems


def timed_pass(env, order) -> tuple[float, list[dict]]:
    records = []
    t0 = time.perf_counter()
    for op in order:
        s = time.perf_counter()
        error = None
        try:
            op.execute(env, op.build(env))
        except Exception as e:
            error = _error(e)
        wall = time.perf_counter() - s
        op.cleanup(env)
        records.append({"op": op.name, "wall_s": wall, "error": error})
    return time.perf_counter() - t0, records


def traced_pass(env, order, tracer) -> tuple[float, list[dict]]:
    """Like timed_pass, with a span per operation and per phase and the
    status-store counters of each phase.  An operation's wall is its build
    plus execute phases; reading the stores and forcing the plan (to read
    Catalyst's phase times) happen outside it."""
    from pyspark.sql import DataFrame
    from status import Marks, covered_ms, read_status

    records = []
    _, _, marks = read_status(env.spark, Marks())  # skip all that ran before
    t0 = time.perf_counter()
    for op in order:
        rec = {"op": op.name, "module": op.module, "error": None}
        root = tracer.open(op.name)
        try:
            b = tracer.open("build", root)
            out = op.build(env)
            build = tracer.close(b)
            counters, build_iv, marks = read_status(env.spark, marks)
            rec["eager_jobs"] = counters["jobs"]
            if isinstance(out, DataFrame):
                p = tracer.open("plan", root)
                qe = out._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                rec["catalyst"] = {
                    k: phases.get(k).get().durationMs() / 1e3
                    for k in ("analysis", "optimization", "planning")
                    if phases.get(k).isDefined()
                }
                tracer.close(p, **rec["catalyst"])
            x = tracer.open("execute", root)
            op.execute(env, out)
            execute = tracer.close(x)
            more, exec_iv, marks = read_status(env.spark, marks)
            for k, v in more.items():
                counters[k] += v
            rec["counters"] = counters
            rec["build_s"] = build.end - build.start
            rec["wall_s"] = rec["build_s"] + (execute.end - execute.start)
            rec["driver_gap_s"] = sum(
                s.end - s.start - covered_ms(iv, int(s.start * 1e3), int(s.end * 1e3)) / 1e3
                for s, iv in ((build, build_iv), (execute, exec_iv))
            )
        except Exception as e:
            rec["error"] = _error(e)
        op.cleanup(env)
        rec.update(op.extra)
        tracer.close(root, wall_s=rec.get("wall_s"), error=rec["error"])
        records.append(rec)
    return time.perf_counter() - t0, records


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------
def tail(walls: list[float]) -> dict:
    """The highest percentile of ``walls`` with at least 10 samples beyond it."""
    n = len(walls)
    if n < 11:
        return {"percentile": None, "samples": n, "value_s": None}
    return {"percentile": int(100 * (n - 10) / n), "samples": n,
            "value_s": sorted(walls)[n - 11]}


def fastest_pass(records: list[dict]) -> float:
    """The sum over operations of each one's fastest wall in the timed
    passes: one pass of the workload with the slowest repeats left out."""
    best: dict[str, float] = {}
    for r in records:
        if not r["error"]:
            best[r["op"]] = min(best.get(r["op"], r["wall_s"]), r["wall_s"])
    return sum(best.values())


def bulk_rates(records: list[dict], rows: dict[str, int]) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for r in records:
        if r["op"] in BULK_RATES and not r["error"]:
            walls.setdefault(r["op"], []).append(r["wall_s"])
    return {BULK_RATES[k]: rows[k] / statistics.median(v) for k, v in walls.items()}


def layer_metrics(records, rows, session_start, warm_s, peak_mb, nproc) -> dict[str, float]:
    """Per-layer metrics of one traced pass; layers a workload does not
    reach read 0."""
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = session_start
    m["session.warm_s"] = warm_s
    m["jvm.peak_rss_mb"] = peak_mb
    ok = [r for r in records if not r["error"]]
    if not ok:
        return m
    c = {k: sum(r["counters"][k] for r in ok) for k in ok[0]["counters"]}
    wall = sum(r["wall_s"] for r in ok)
    m.update({
        "queries.build_s": sum(r["build_s"] for r in ok),
        "queries.eager_jobs": sum(r["eager_jobs"] for r in ok),
        "exec.jobs": c["jobs"], "exec.stages": c["stages"], "exec.tasks": c["tasks"],
        "exec.task_run_s": c["run_s"], "exec.task_cpu_s": c["cpu_s"], "exec.gc_s": c["gc_s"],
        "exec.cpu_frac": c["cpu_s"] / c["run_s"] if c["run_s"] else 0.0,
        "exec.core_util": c["run_s"] / (wall * nproc),
        "exec.driver_gap_s": sum(r["driver_gap_s"] for r in ok),
        "shuffle.write_mb": c["shuffle_write_mb"], "shuffle.read_mb": c["shuffle_read_mb"],
        "shuffle.records": c["shuffle_records"], "shuffle.fetch_wait_s": c["fetch_wait_s"],
        "pyworker.sent_mb": c["py_sent_mb"], "pyworker.returned_mb": c["py_returned_mb"],
        "pyworker.start_s": c["py_start_s"], "pyworker.init_s": c["py_init_s"],
        "pyworker.run_s": c["py_run_s"],
    })
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(r.get("catalyst", {}).get(phase, 0.0) for r in ok)
    for r in ok:
        if r["module"] and r["module"].startswith(("functions.", "compute.")):
            m[f"{r['module']}.wall_s"] += r["wall_s"]
        if f"op.{r['op']}.wall_s" in m:
            m[f"op.{r['op']}.wall_s"] = r["wall_s"]
        if r["op"] == "to_pandas":
            m["io.pandas_bridge.to_pandas_s"] = r["wall_s"]
        elif r["op"] == "from_pandas":
            m["io.pandas_bridge.from_pandas_s"] = r["wall_s"]
            m["io.pandas_bridge.from_pandas_tasks"] = r["counters"]["tasks"]
        elif r["op"] == "ipc_roundtrip":
            m["io.ipc.write_s"] = r["write_s"]
            m["io.ipc.read_s"] = r["wall_s"] - r["write_s"]
            m["io.ipc.shards"] = r["shards"]
            m["io.ipc.stored_bytes_per_row"] = r["stored_bytes"] / rows["ipc_roundtrip"]
    m.update(bulk_rates(ok, rows))
    return m


# --------------------------------------------------------------------------
# Run
# --------------------------------------------------------------------------
def run(args, fixture_dir: str) -> tuple[dict, dict]:
    from workloads import BulkData, operations

    nproc = len(os.sched_getaffinity(0))
    steal0, load0 = cpu_ticks(), os.getloadavg()[0]
    work_dir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work_dir, exist_ok=True)
    rng = random.Random(args.seed)
    spark = None
    traced, traced_wall, tracer = [], None, None
    try:
        t0 = time.perf_counter()
        spark = start_session(work_dir, nproc)
        session_start = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        env = Env(spark, work_dir, fixture_dir)
        ops = operations(args.workload)
        gen_s = 0.0
        if args.workload == "bulk":
            t0 = time.perf_counter()
            env.bulk = BulkData(spark, args.seed, nproc)
            gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_ops, problems = check_pass(env, ops)
        warm_s = time.perf_counter() - t0

        passes, records = [], []
        t0 = time.perf_counter()
        while True:
            wall, recs = timed_pass(env, rng.sample(ops, len(ops)))
            passes.append(wall)
            records += recs
            if args.trace or (len(passes) >= MIN_PASSES[args.workload]
                               and time.perf_counter() - t0 + wall > args.seconds):
                break
        if args.trace:
            from status import Tracer

            tracer = Tracer()
            traced_wall, traced = traced_pass(env, rng.sample(ops, len(ops)), tracer)
        peak_mb = vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    steal1 = cpu_ticks()
    rows = {op.name: op.rows for op in ops}
    walls = [r["wall_s"] for r in records if not r["error"]]
    attempted = len(records) + len(traced)
    # An operation whose output failed its check fails every attempt.
    failed = sum(1 for r in records + traced if r["error"] or r["op"] in problems)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{nproc}]", "nproc": nproc,
        "loadavg_1m": [load0, os.getloadavg()[0]],
        "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "session_start_s": session_start, "data_gen_s": gen_s, "warm_s": warm_s,
        "warm_ops_s": warm_ops, "pass_walls_s": passes,
        "op_p50_s": statistics.median(walls) if walls else None,
        "op_tail": tail(walls),
        "jvm_peak_rss_mb": peak_mb,
        "failed_frac": failed / attempted,
        "check_problems": problems,
        "op_errors": {r["op"]: r["error"] for r in records + traced if r["error"]},
    }
    if args.workload == "bulk":
        detail["bulk_rates"] = bulk_rates(records, rows)
    if args.trace:
        detail["traced_pass_wall_s"] = traced_wall
        detail["tracing_overhead_s"] = traced_wall - passes[-1]
        units = per_layer_units()
        values = layer_metrics(traced, rows, session_start, warm_s, peak_mb, nproc)
    else:
        units = END_TO_END
        values = {
            "setup_s": session_start + gen_s + warm_s,
            "wall_s": fastest_pass(records),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    record = {"detail": detail, "ops": records + traced,
              "spans": tracer.dump() if tracer else [], "result": result}
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Layered apache_arrow_spark benchmark")
    ap.add_argument("--workload", required=True, choices=("tabular", "corpus", "bulk"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "apache_arrow_spark", "__init__.py")):
        print(f"perfbench: no apache_arrow_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import FIXTURE_DIR, fixture_problem

    if args.workload != "bulk" and (problem := fixture_problem()):
        print(f"perfbench: fixture tables: {problem}", file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    record, result = run(args, FIXTURE_DIR)
    signal.alarm(0)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, stem), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record["detail"]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
