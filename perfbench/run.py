"""siuba_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 13 --trace 0

Run from the repository root.  The run

1. generates the workload's tables from ``--seed`` (perfbench/datagen.py)
   into a private run directory, which is also the run's ``TMPDIR`` and
   ``SPARK_LOCAL_DIRS`` and is removed at exit;
2. starts Spark on ``local[nproc]`` and makes untimed warm-up passes,
   the first of which collects every query and checks it against its
   DuckDB oracle (``setup_s`` ends here);
3. runs whole passes over the workload's queries, each in an order
   shuffled by the seed: as many as fill ``--seconds`` at the workload's
   nominal pass time (perfbench/workloads.py), at least two.  With
   ``--trace 1`` each query is traced (perfbench/spans.py) in every other
   pass; the per-layer metrics come from the traced attempts and the
   tracing overhead from comparing them with the untraced ones.

Every collected result is checked against its oracle after the clock
stops.  A failed attempt counts in ``failed`` and its time stays in the
pass.  The last stdout line is the JSON result; the line before it is a
full report with the run setup and every metric.  The exit code is 1 if
any result was wrong or any attempt failed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

T_IMPORT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from datagen import TABLES, write_tables  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"setup_s": "s", "query_p50_s": "s", "query_p90_s": "s",
             "query_geomean_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
# reported in the full report line; 0 on a healthy run, so they travel as
# the result line's `failed` and `correct` instead of as bounded metrics
HEALTH_UNITS = {"failed_frac": "ratio", "wrong_results": "count"}
WARM_UP_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started, from /proc (in clock ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# the process's age when this module ran; setup_s adds the perf_counter
# time since, so it keeps every digit of the finer clock
AGE_AT_IMPORT = process_age_s()


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 4.0


def load_canon():
    """The oracle sweep's canonicalisation, so both compare alike."""
    path = os.path.join(ROOT, "tools", "oracle_sweep.py")
    spec = importlib.util.spec_from_file_location("oracle_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class Oracle:
    """DuckDB answers for each query over the generated tables."""

    def __init__(self, data_dir: str, sql: dict[str, str], names):
        import duckdb
        self.canon = load_canon()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{data_dir}/{t}.parquet'")
            self.want = {n: self.canon(con.execute(sql[n]).df())
                         for n in names}
        finally:
            con.close()

    def matches(self, name: str, got) -> bool:
        import pandas as pd
        want = self.want[name]
        if len(got) != len(want) or sorted(got.columns) != list(want.columns):
            return False
        try:
            pd.testing.assert_frame_equal(self.canon(got), want,
                                          check_dtype=False, check_exact=True)
        except AssertionError:
            return False
        return True


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers Spark's JVM starts)
    re-parented to this process, so ``stop_processes`` can wait for them
    after the JVM has gone."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> set[int]:
    """Pids of every live process below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            out.add(pid)
            todo.append(pid)
    return out


def reap(timeout: float) -> set[int]:
    """Wait up to ``timeout`` seconds for every descendant to end, reaping
    each; returns those still there."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_processes(spark) -> None:
    """Stop Spark, then end the JVM and every process it started and wait
    until all of them have ended: closing the JVM's stdin makes it exit,
    and whatever is left after that is terminated, then killed."""
    from pyspark import SparkContext
    # a second SIGTERM must not cut the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            # mark the Python side disconnected first, so objects freed
            # later send nothing to a JVM that is going away
            gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        left = reap(30.0)
        for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            if not left:
                break
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            left = reap(grace)
        if left:
            print(f"perfbench: processes still running: {sorted(left)}",
                  file=sys.stderr)


def raise_exit(signum, _frame):
    """Turn SIGTERM into SystemExit, so a stopped run still cleans up."""
    raise SystemExit(128 + signum)


def start_spark(run_dir: str, cores: int, driver_gb: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("siuba_spark-perfbench")
        .config("spark.driver.memory", f"{driver_gb}g")
        # a fixed-size heap with the throughput collector: the heap's
        # resident size then follows what the queries keep alive, not the
        # collector's resizing decisions, so peak_rss_mb repeats run to run
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{driver_gb}g -XX:+UseParallelGC")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, spark, workload, data_dir, queries, oracle, seed):
        from siuba_spark import release_all_pins
        self.spark = spark
        self.w = workload
        self.data_dir = data_dir
        self.fns = queries
        self.oracle = oracle
        self.rng = random.Random(seed)
        self.release = release_all_pins
        self.attempted = 0
        self.failed = 0
        self.wrong: set[str] = set()
        self.tracer = None
        self.stats = None
        self.pins = 0

    def consume(self, df, sink: str):
        if sink == "collect":
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def attempt(self, name: str, sink: str) -> float:
        """One query, timed from calling the query function until its
        result is materialised; returns the wall time."""
        self.attempted += 1
        out = None
        t0 = time.perf_counter()
        try:
            df = self.fns[name](self.spark, self.data_dir)
            out = self.consume(df, sink)
            self.release()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if out is not None and not self.oracle.matches(name, out):
            self.wrong.add(name)
            print(f"perfbench: {name} differs from its oracle",
                  file=sys.stderr)
        return dt

    def traced_attempt(self, name: str, sink: str, qid: str) -> dict:
        """Like ``attempt`` with spans, job groups and Spark status;
        returns the query's figures, its wall time as ``wall_s``."""
        tr = self.tracer
        self.attempted += 1
        out = None
        tr.query = qid
        calls0, wait0 = tr.py4j_calls, tr.py4j_wait_s
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        tr.active = True
        try:
            tr.set_group(f"{qid}.build")
            tr.building = True
            try:
                df = tr.call("plans.build", self.fns[name], self.spark,
                             self.data_dir)
            finally:
                tr.building = False
            tr.call("spark.plan", lambda: df._jdf.queryExecution()
                    .executedPlan())
            tr.set_group(f"{qid}.act")
            out = tr.call("spark.action", self.consume, df, sink)
            self.release()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        finally:
            tr.active = False
        dt = time.perf_counter() - t0
        cpu = time.process_time() - cpu0
        tr.py4j_paused = True
        try:
            m = self.stats.read(action_group=f"{qid}.act")
            tr.set_group("")
        finally:
            tr.py4j_paused = False
        m.update(wall_s=dt, python_cpu_s=cpu,
                 pins_leaked=float(self.pins_grown()),
                 py4j_calls=float(tr.py4j_calls - calls0),
                 py4j_wait_s=tr.py4j_wait_s - wait0)
        if out is not None and not self.oracle.matches(name, out):
            self.wrong.add(name)
            print(f"perfbench: {name} differs from its oracle",
                  file=sys.stderr)
        return m

    def pins_grown(self) -> int:
        """Persisted RDDs added since the last call (pins a query left
        behind after ``release_all_pins``)."""
        now = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        grown, self.pins = max(0, now - self.pins), now
        return grown

    def warm_up(self) -> dict[str, float]:
        """Untimed passes.  The first collects every query, so each result
        is checked, including those the workload later sends to the noop
        sink; the others use the workload's sink.  The first timed pass
        after a single warm-up pass ran 15-25% slower than the later ones
        while the JVM was still compiling, so the clock starts later.
        Returns the first pass's times."""
        first = {name: self.attempt(name, "collect")
                 for name in self.w.queries}
        for _ in range(WARM_UP_PASSES - 1):
            for name in self.w.queries:
                self.attempt(name, self.w.sink)
        return first

    def passes(self, n_passes: int, traced: bool = False):
        """Whole passes, each in a seeded order.  With ``traced``, a query
        is traced in every other pass and untraced in the rest, so traced
        and untraced attempts see the same queries equally far into the
        run.  Returns (pass wall times, {query: [latencies]}, {traced
        attempt id: figures}, {query: [untraced latencies]})."""
        walls, lat = [], {n: [] for n in self.w.queries}
        traced_m, untraced = {}, {n: [] for n in self.w.queries}
        for k in range(n_passes):
            order = list(self.w.queries)
            self.rng.shuffle(order)
            wall = 0.0
            for name in order:
                failed = self.failed
                if traced and (self.w.queries.index(name) + k) % 2 == 0:
                    qid = f"p{k}.{name}"
                    traced_m[qid] = self.traced_attempt(name, self.w.sink,
                                                        qid)
                    dt = traced_m[qid]["wall_s"]
                else:
                    dt = self.attempt(name, self.w.sink)
                    if traced:
                        # keep this attempt's jobs and pins out of the
                        # next traced attempt's figures
                        untraced[name].append(dt)
                        self.pins_grown()
                        self.stats.read()
                wall += dt
                if self.failed == failed:
                    lat[name].append(dt)
            walls.append(wall)
        return walls, lat, traced_m, untraced


def percentile(xs, q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def e2e_metrics(walls, lat) -> dict:
    samples = [x for v in lat.values() for x in v]
    if len(samples) < 2:
        raise SystemExit("perfbench: too few successful attempts to time")
    per_query = [statistics.median(v) for v in lat.values() if v]
    return {
        "query_p50_s": statistics.median(samples),
        "query_p90_s": percentile(samples, 90),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(x) for x in per_query)),
        "pass_s": statistics.median(walls),
    }


LAYER_UNITS = {
    "plans.build_s": "s/pass", "operators.verb_s": "s/pass",
    "operators.verb_calls": "count/pass", "functions.lower_s": "s/pass",
    "functions.lower_calls": "count/pass", "sources.tbl_s": "s/pass",
    "sources.tbl_jobs": "count/pass", "siu.residual_s": "s/pass",
    "py4j.calls": "count/pass", "py4j.wait_s": "s/pass",
    "driver.python_cpu_s": "s/pass", "spark.plan_s": "s/pass",
    "spark.jobs": "count/pass", "spark.eager_jobs": "count/pass",
    "spark.stages": "count/pass", "spark.tasks": "count/pass",
    "spark.executor_run_s": "s/pass", "spark.executor_cpu_s": "s/pass",
    "spark.gc_s": "s/pass", "spark.busy_share": "ratio",
    "spark.exchanges": "count/pass", "spark.shuffle_write_bytes": "B/pass",
    "spark.input_bytes": "B/pass", "spark.spill_bytes": "B/pass",
    "corpus.op_s": "s/pass", "streaming.op_s": "s/pass",
    "spark.python_eval_nodes": "count/pass", "plans.sink_s": "s/pass",
    "plans.bytes_written": "B/pass", "plans.files_written": "count/pass",
    "plans.pins_leaked": "count/pass", "trace.pass_s": "s",
    "trace.untraced_pass_s": "s", "trace.overhead_frac": "ratio",
}

# per-layer metric <- (source, key): "span" figures come from
# spans.layer_times, "spark" ones from the per-query status reads
LAYER_SOURCES = {
    "plans.build_s": ("span", "plans.build"),
    "operators.verb_s": ("span", "operators.verb"),
    "operators.verb_calls": ("span", "operators.verb.calls"),
    "functions.lower_s": ("span", "functions.lower"),
    "functions.lower_calls": ("span", "functions.lower.calls"),
    "sources.tbl_s": ("span", "sources.tbl"),
    "sources.tbl_jobs": ("spark", "tbl_jobs"),
    "siu.residual_s": ("span", "siu.residual"),
    "driver.python_cpu_s": ("spark", "python_cpu_s"),
    "spark.plan_s": ("span", "spark.plan"),
    "corpus.op_s": ("span", "corpus.op.self"),
    "streaming.op_s": ("span", "streaming.op.self"),
    "plans.sink_s": ("span", "plans.sink"),
    "plans.bytes_written": ("spark", "bytes_written"),
    "plans.files_written": ("spark", "files_written"),
    "plans.pins_leaked": ("spark", "pins_leaked"),
    "py4j.calls": ("spark", "py4j_calls"),
    "py4j.wait_s": ("spark", "py4j_wait_s"),
    **{f"spark.{k}": ("spark", k) for k in (
        "jobs", "eager_jobs", "stages", "tasks", "executor_run_s",
        "executor_cpu_s", "gc_s", "exchanges", "shuffle_write_bytes",
        "input_bytes", "spill_bytes", "python_eval_nodes")},
}


def layer_metrics(tracer, traced: dict[str, dict],
                  untraced: dict[str, list], cores: int) -> dict:
    """Per-layer figures for one pass: each query's mean over its traced
    attempts, summed over the queries (a query may be traced once or twice
    in a run, so plain totals would weigh queries unevenly)."""
    from spans import layer_times
    spans_by_qid: dict[str, list] = {}
    for span in tracer.spans:
        spans_by_qid.setdefault(span.query, []).append(span)
    rows_by_query: dict[str, list] = {}
    for qid, m in traced.items():
        row = {("span", k): v
               for k, v in layer_times(spans_by_qid.get(qid, [])).items()}
        row.update({("spark", k): v for k, v in m.items()})
        rows_by_query.setdefault(qid.split(".", 1)[1], []).append(row)
    total: dict[tuple, float] = {}
    for rows in rows_by_query.values():
        for key in set().union(*rows):
            total[key] = total.get(key, 0.0) + statistics.fmean(
                r.get(key, 0.0) for r in rows)
    out = {name: total.get(src, 0.0) for name, src in LAYER_SOURCES.items()}
    wall = total[("spark", "wall_s")]
    out["spark.busy_share"] = total[("spark", "executor_run_s")] / (
        wall * cores)
    out["trace.pass_s"] = wall
    out["trace.untraced_pass_s"] = sum(statistics.fmean(v)
                                       for v in untraced.values() if v)
    out["trace.overhead_frac"] = wall / out["trace.untraced_pass_s"] - 1.0
    return out


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's scale factor (self-check)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else w.scale
    # the program and its registry; a checkout without them fails here
    import __spark_entry__ as registry
    from spans import SparkStats, Tracer

    registry_q, oracle_sql = registry.queries(), registry.oracle_sql()
    missing = [q for q in w.queries
               if q not in registry_q or q not in oracle_sql]
    if missing:
        raise SystemExit(f"perfbench: not in the registry: {missing}")

    cores = len(os.sched_getaffinity(0))
    driver_gb = max(1, min(4, int(mem_total_gb() // 4)))
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    data_dir = os.path.join(run_dir, "data")
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the JVMs Spark launches would otherwise keep a perf-counter file in
    # the system temp directory, outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, ["-XX:-UsePerfData",
                      os.environ.get("JAVA_TOOL_OPTIONS")]))
    import tempfile
    tempfile.tempdir = None
    become_subreaper()
    signal.signal(signal.SIGTERM, raise_exit)
    spark = None
    try:
        rows = write_tables(data_dir, scale, args.seed)
        oracle = Oracle(data_dir, oracle_sql, w.queries)
        spark = start_spark(run_dir, cores, driver_gb)
        runner = Runner(spark, w, data_dir, registry_q, oracle, args.seed)
        warm_s = runner.warm_up()
        setup_s = AGE_AT_IMPORT + time.perf_counter() - T_IMPORT

        n_passes = w.passes(args.seconds)
        if args.trace:
            runner.tracer = Tracer()
            runner.stats = SparkStats(spark)
            runner.tracer.install(spark, registry)
            runner.stats.read()      # skip what ran before tracing
            runner.pins_grown()
            walls, lat, traced_m, untraced = runner.passes(n_passes,
                                                           traced=True)
            metrics = layer_metrics(runner.tracer, traced_m, untraced, cores)
            units = LAYER_UNITS
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            runner.tracer.write(os.path.join(
                out_dir, f"spans-{w.name}-{args.seed}.jsonl"))
        else:
            walls, lat, traced_m, _ = runner.passes(n_passes)
            metrics = e2e_metrics(walls, lat)
            metrics["setup_s"] = setup_s
            jvm_pid = spark.sparkContext._gateway.proc.pid
            metrics["peak_rss_mb"] = (vm_hwm_kb("self")
                                      + vm_hwm_kb(jvm_pid)) / 1024
            units = E2E_UNITS
        samples = sum(len(v) for v in lat.values())
        health = {"failed_frac": runner.failed / runner.attempted,
                  "wrong_results": len(runner.wrong)}
        report = {
            "workload": w.name, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "scale": scale, "rows": rows,
            "queries": list(w.queries), "sink": w.sink,
            "nproc": cores, "driver_memory_gb": driver_gb,
            "shuffle_partitions": cores, "passes": len(walls),
            "latency_samples": samples, "setup_s": setup_s,
            "warm_up_query_s": warm_s, "query_latencies_s": lat,
            "traced_queries": traced_m,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "wrong_queries": sorted(runner.wrong),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
            "health": {k: {"value": v, "unit": HEALTH_UNITS[k]}
                       for k, v in health.items()},
        }
        result = {"correct": not runner.wrong, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": report["metrics"]}
    finally:
        try:
            stop_processes(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    sys.stderr.flush()
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
