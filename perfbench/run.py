"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

One process, one fresh ``local[4]`` SparkSession, one client issuing the
workload's queries back to back (closed loop). For every query call the
harness times three phases from outside the engine, through its public
registry ``__spark_entry__.queries()``:

- ``plans.build``: the query function itself (frame construction, with any
  ``sources`` loads, eager jobs, driver loops and streams it runs);
- ``catalyst.plan``: ``df._jdf.queryExecution().executedPlan()``;
- ``exec.noop_write``: a ``noop`` sink write of the frame.

A run is: set-up (session start and a ``lineitem`` count), one cold pass in
the workload's listed order, ``SETTLE_PASSES`` warm passes that are run but
not measured, then one measured warm pass per ``NOMINAL_PASS_S`` of
``--seconds`` (at least two). Every warm pass runs in an order permuted
by ``--seed``. The last pass also collects every query's output, outside
the timed phases, and compares it with ``expected.json``. The last line
of standard output is the result object; the line before it carries the
details (tail percentile and sample count, per-query medians, failures).

With ``--trace 1`` the harness also reads Spark's status store, the
physical plan and the engine's cache events after every call, writes the
spans to ``perfbench/.out/`` and reports the per-layer metrics instead of
the end-to-end ones.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import stats  # noqa: E402
from counters import JobCounter, plan_node_counts  # noqa: E402
from workloads import CPUS, DATA_SF, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

#: warm passes after the cold pass that still get faster (JIT); they run
#: like the others but are left out of every warm median
SETTLE_PASSES = 1
#: the warm medians take at least this many measured passes; two keep a
#: run of the heaviest workload within the round's time budget
MIN_MEASURED_PASSES = 2
#: ``--seconds`` buys one measured pass per this many seconds. The count
#: is fixed by the arguments, not by the clock, so a slow run does the
#: same work as a fast one instead of fewer, less settled passes.
NOMINAL_PASS_S = 4.0
#: state roots the engine keeps at fixed paths outside ``TMPDIR``
FIXED_TMP_GLOB = "/tmp/smss_*"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fixture_dir() -> str:
    """The input tables, generated once per checkout and generator version."""
    with open(os.path.join(HERE, "fixtures.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(HERE, ".data", f"sf{DATA_SF}-{version}")
    if not os.path.isdir(out):
        import fixtures

        staging = f"{out}.{os.getpid()}.partial"
        fixtures.write_tables(staging, DATA_SF)
        try:
            os.rename(staging, out)
        except OSError:  # another run finished the same tables first
            shutil.rmtree(staging, ignore_errors=True)
    return out


def fixed_root_state() -> dict[str, int]:
    """Directory mtimes under the engine's fixed ``/tmp/smss_*`` roots."""
    state = {}
    for root in glob.glob(FIXED_TMP_GLOB):
        for d, _, _ in os.walk(root):
            try:
                state[d] = os.stat(d).st_mtime_ns
            except OSError:
                continue
    return state


def private_env(work: str) -> dict[str, str]:
    """Per-process scratch dirs, so every run starts from empty state."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # Python workers import the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def start_session(dirs: dict[str, str]):
    from spark_ml_showcase_spark.session import session_builder

    spark = (
        session_builder("perfbench", master=f"local[{CPUS}]")
        .config("spark.sql.warehouse.dir", dirs["warehouse"])
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job of a query call in the status store until read
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Times query calls and, when tracing, attaches counters to spans."""

    def __init__(self, spark, registry: dict, data_dir: str, tracer: stats.Tracer,
                 expected: dict):
        from spark_ml_showcase_spark.functions import similarity

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.tracer = tracer
        self.registry = registry
        self.similarity = similarity
        self.expected = expected
        self.jobs = None
        if tracer.enabled:
            self.jobs = JobCounter(self.sc)
        self.attempted = 0
        self.failures: list[dict] = []

    def _phase(self, name: str, parent, group: str, fn):
        self.sc.setJobGroup(group, group)
        span = self.tracer.open(name, parent)
        try:
            return fn()
        finally:
            self.tracer.close(span)

    def call(self, name: str, pass_no: int, check: bool) -> stats.Span:
        """One timed query call; returns its root ``query`` span."""
        self.attempted += 1
        prefix = f"perfbench|{name}|{pass_no}|"
        root = self.tracer.open("query", query=name, pass_no=pass_no)
        df = plan = None
        try:
            fn = self.registry[name]
            df = self._phase("plans.build", root, prefix + "build",
                             lambda: fn(self.spark, self.data_dir))
            plan = self._phase("catalyst.plan", root, prefix + "plan",
                               lambda: df._jdf.queryExecution().executedPlan())
            self._phase("exec.noop_write", root, prefix + "exec",
                        lambda: df.write.format("noop").mode("overwrite").save())
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            self.failures.append({"query": name, "pass": pass_no, "error": repr(e)[:300]})
            df = None
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.close(root)
        events = self.similarity.drain_cache_events()
        if self.tracer.enabled:
            root.attrs["cache_builds"] = sum(1 for _, e in events if e == "build")
            root.attrs["cache_hits"] = sum(1 for _, e in events if e == "hit")
            if plan is not None:
                root.attrs.update(plan_node_counts(plan.toString()))
            root.attrs.update(self.jobs.collect(prefix))
        if check and df is not None:
            self._check(name, df)
        if self.jobs is not None:
            self.jobs.mark()  # the check's own jobs belong to no call
        return root

    def _check(self, name: str, df) -> None:
        try:
            got = checks.summarize(df)
        except Exception as e:  # noqa: BLE001
            self.failures.append({"query": name, "pass": "check", "error": repr(e)[:300]})
            return
        problem = checks.compare(self.expected.get(name), got)
        if problem:
            self.failures.append({"query": name, "pass": "check", "error": problem})


def run_pass(runner: Runner, names: list[str], pass_no: int, check: bool) -> list[stats.Span]:
    return [runner.call(n, pass_no, check) for n in names]


def pass_seconds(spans: list[stats.Span]) -> float:
    return sum(s.duration for s in spans)


def end_to_end(setup_s: float, cold: list[stats.Span],
               warm: list[list[stats.Span]]) -> dict[str, float]:
    """The end-to-end metrics; the warm ones leave out the settling passes."""
    measured = warm[SETTLE_PASSES:]
    return {
        "setup_s": setup_s,
        "cold_pass_s": pass_seconds(cold),
        "pass_s": median([pass_seconds(p) for p in measured]),
        "query_p50_s": median([s.duration for p in measured for s in p]),
    }


#: per-layer metric of each phase span's self time
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.noop_write": "exec.wall_s",
}
#: per-layer metric of each counter on a ``query`` span
COUNTER_METRICS = {
    "build_jobs": "plans.build_jobs",
    "schema_jobs": "sources.schema_jobs",
    "exchanges": "catalyst.exchanges",
    "python_eval_nodes": "catalyst.python_eval_nodes",
    "exec_jobs": "exec.jobs",
    "stages": "exec.stages",
    "tasks": "exec.tasks",
    "executor_run_s": "exec.executor_run_s",
    "executor_cpu_s": "exec.executor_cpu_s",
    "gc_s": "exec.gc_s",
    "shuffle_write_mb": "exec.shuffle_write_mb",
    "input_mb": "exec.input_mb",
    "stream_jobs": "streaming.jobs",
    "cache_builds": "similarity.cache_builds",
    "cache_hits": "similarity.cache_hits",
}


def layer_metrics(tracer: stats.Tracer, spans: list[stats.Span]) -> dict[str, float]:
    """Per-layer sums over one pass of query spans."""
    out = dict.fromkeys([*SPAN_METRICS.values(), *COUNTER_METRICS.values()], 0)
    for root in spans:
        for child in tracer.children(root):
            if child.name in SPAN_METRICS:
                out[SPAN_METRICS[child.name]] += stats.self_time(child, tracer.children(child))
        for key, value in root.attrs.items():
            if key in COUNTER_METRICS:
                out[COUNTER_METRICS[key]] += value
    run_s = out["exec.executor_run_s"]
    out["exec.cpu_ratio"] = out["exec.executor_cpu_s"] / run_s if run_s else 0.0
    return out


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no __spark_entry__.py in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workload = WORKLOADS[args.workload]
    data_dir = fixture_dir()
    expected = checks.load_expected(os.path.join(HERE, "expected.json"))

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tracer = stats.Tracer(enabled=bool(args.trace))
    roots_before = fixed_root_state()
    spark = None
    try:
        # set-up covers importing the engine, so work moved to import time shows
        setup = tracer.open("session.start")
        dirs = private_env(work)
        os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
        import __spark_entry__

        registry = __spark_entry__.queries()
        spark = start_session(dirs)
        spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).count()
        tracer.close(setup)

        runner = Runner(spark, registry, data_dir, tracer, expected)
        cold = run_pass(runner, list(workload.queries), 0, check=False)
        rng = random.Random(args.seed)
        n_warm = SETTLE_PASSES + max(MIN_MEASURED_PASSES, round(args.seconds / NOMINAL_PASS_S))
        warm: list[list[stats.Span]] = []
        warm_start = time.perf_counter()
        for pass_no in range(1, n_warm + 1):
            order = list(workload.queries)
            rng.shuffle(order)
            warm.append(run_pass(runner, order, pass_no, check=pass_no == n_warm))
        t_warm_end = time.perf_counter()
        from pyspark import SparkContext

        rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            + jvm_peak_rss_mb(SparkContext._gateway.proc.pid)
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    t_stopped = time.perf_counter()
    roots_changed = fixed_root_state() != roots_before

    measured = warm[SETTLE_PASSES:]
    latencies = [s.duration for p in measured for s in p]
    tail, tail_pct, n_samples = stats.tail_percentile(latencies)
    failed = len(runner.failures)
    correct = failed == 0
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data": {"sf": DATA_SF, "dir": os.path.relpath(data_dir, ROOT)},
        "cpus": CPUS, "warm_passes": len(warm), "settle_passes": SETTLE_PASSES,
        "peak_rss_mb": rss_mb,
        "wall_s": {
            "setup": setup.duration, "cold_pass": warm_start - setup.end,
            "warm_and_check": t_warm_end - warm_start, "stop": t_stopped - t_warm_end,
            "total": t_stopped - t_main,
        },
        "pass_s_each": [round(pass_seconds(p), 4) for p in warm],
        "cold_query_s": {s.attrs["query"]: round(s.duration, 4) for s in cold},
        "query_tail": {"value": tail, "percentile": tail_pct, "samples": n_samples},
        "error_rate": stats.error_rate(runner.attempted, failed),
        "failures": runner.failures,
        "fixed_tmp_roots_changed": roots_changed,
        "unchecked_hash": sorted(
            n for n in workload.queries if n in expected and expected[n]["hash"] is None
        ),
        "query_median_s": {
            n: median([s.duration for p in measured for s in p if s.attrs["query"] == n])
            for n in workload.queries
        },
    }
    if args.trace:
        metrics = {}
        per_pass = [layer_metrics(tracer, p) for p in measured]
        for key, unit in PER_LAYER.items():
            if key == "session.start_s":
                value = setup.duration
            elif key == "similarity.cache_builds":
                # every build of the run: the cold pass's, and any a warm
                # pass repeats because a cache stopped hitting
                value = layer_metrics(tracer, [s for p in (cold, *warm) for s in p])[key]
            else:
                value = median([p[key] for p in per_pass])
            metrics[key] = {"value": value, "unit": unit}
        detail["pass_s"] = end_to_end(setup.duration, cold, warm)["pass_s"]
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        values = end_to_end(setup.duration, cold, warm)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
