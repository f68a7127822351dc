#!/usr/bin/env python3
"""Benchmark harness for ``ibis_spark``.

Usage (from the repository root):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

One run generates its inputs from ``--seed`` under ``perfbench/_work/``,
sets a session up once (JVM and SparkSession launch, ``ib.connect``,
opening every source, one warm-up pass over the workload's distinct
operations; this is ``setup_s``), then runs a closed loop with one client
for at least ``--seconds`` and ``MIN_ROUNDS`` rounds: whole rounds, each
round every distinct operation once (``interactive``: in a seeded order;
``llm_pipeline``: in stage order).  Every operation is built fresh through
the public API and then collected (``Table.execute``) or written
(``Table.to_parquet``).  After each operation the loop times one run of
``reference``, and every timing metric but ``setup_s`` is scaled by the
host speed that measures (see ``REF_NOMINAL_S``).
After the loop each distinct operation's last result is checked against
its DuckDB oracle SQL on the same generated files.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
untraced loop, then one traced round that records a span per layer call,
and prints the per-layer metrics plus the tracing overhead; the spans are
written to ``perfbench/_work/spans-<workload>-<seed>.json``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Lines before it starting with ``#`` are
informational (generation time, set-up split, per-operation errors,
session drift, sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, ROOT)

# Spark task threads.  The machine has 4 cores; two task threads leave
# the other two to the Python driver, py4j, the JIT and the GC, so the
# run measures the program rather than the contention between its threads
TASK_THREADS = 2
ALL_TABLES = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
# (scale factor, tables) per workload; sf 1.0 = 6M lineitem rows, 50k
# documents
WORKLOADS = {
    "interactive": (0.01, ALL_TABLES),
    "llm_pipeline": (0.01, ["documents", "embeddings"]),
}
# whole rounds measured at least; a round takes 4-6 s on a quiet host and
# up to twice that on a loaded one
MIN_ROUNDS = 3
# Median time of the speed reference (``reference``) on the 4-core host
# the benchmark was made on, when no other guest loaded it.  The host is
# shared: other guests' load slows every CPU-bound thread of a run by up
# to 2.5x for minutes at a time, so each timing metric is scaled by this
# over the reference's median time in the same run.
REF_NOMINAL_S = 0.060


def info(msg: str) -> None:
    print(f"# {msg}", flush=True)


def spark_session(work: str):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{TASK_THREADS}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(TASK_THREADS))
        .config("spark.default.parallelism", str(TASK_THREADS))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the settings bench.py measures with
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap, touched in full at launch: G1 otherwise grows
        # and touches it at run-dependent moments, which moves both GC
        # cost and peak RSS from run to run.
        # No perf-data file: the JVM would write it under the system /tmp.
        # Two JIT compiler and GC threads, for the same reason as
        # TASK_THREADS
        .config("spark.driver.extraJavaOptions",
                "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:CICompilerCount=2 -XX:ParallelGCThreads=2 "
                f"-XX:ConcGCThreads=1 -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it to
    exit (it also ends when its stdin closes)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from probes import alive, descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    # the JVM's own children (pyspark.daemon and its Python workers)
    workers = descendants(proc.pid)
    try:
        gw.shutdown()
    except Py4JError:
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers exit when their pipe to the JVM closes; wait for that
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if alive(p)]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def reference(spark) -> None:
    """A fixed query through PySpark alone, not through ``ibis_spark``:
    py4j calls, Catalyst planning, two tasks and a collect, the same kinds
    of work an operation does, so its time tracks the host's speed."""
    spark.range(0, 200_000, numPartitions=TASK_THREADS).selectExpr(
        "sum(id * 3) AS s", "max(id % 7) AS m").collect()


def _one_line(e: Exception) -> str:
    return f"{type(e).__name__}: {' '.join(str(e).split())[:300]}"


class Runner:
    """Runs the operations of one workload against one session."""

    def __init__(self, ops, data_dir: str, out_dir: str, rows: dict):
        self.ops = ops
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.rows = rows
        self.spark = None
        self.src = None
        self.last = {}      # op name -> last result (pandas) or output dir
        self.errors = {}    # op name -> number of raised executions
        self.first_error = {}

    def open(self, work: str, tracer=None) -> None:
        import ibis_spark as ib

        self.spark = spark_session(work)
        if tracer is not None:
            tracer.attach(self.spark)
        con = ib.connect(self.spark)
        tables = sorted({t for op in self.ops for t in op.tables})
        self.src = {}
        for t in tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if tracer is None:
                self.src[t] = con.read_parquet(path)
            else:
                self.src[t] = tracer.read(con, path)

    def input_rows(self, op) -> int:
        return sum(self.rows[t] for t in op.tables)

    def run(self, op) -> bool:
        """Build the op fresh and run its sink; False if it raised."""
        try:
            tbl = op.build(self.src, self.spark)
            if op.sink == "collect":
                self.last[op.name] = tbl.execute()
            else:
                path = os.path.join(self.out_dir, op.name)
                tbl.to_parquet(path)
                self.last[op.name] = path
            return True
        except Exception as e:  # an op that fails stays in the workload
            self.errors[op.name] = self.errors.get(op.name, 0) + 1
            self.first_error.setdefault(op.name, _one_line(e))
            return False


class Tracer:
    """Spans and counters around each layer call of one traced round."""

    def __init__(self):
        from probes import Py4jCounter, Spans

        self.py4j = Py4jCounter()
        self.spans = Spans()
        self.m = {}
        self.seq = 0

    def add(self, key: str, v: float) -> None:
        self.m[key] = self.m.get(key, 0) + v

    def attach(self, spark) -> None:
        self.spark = spark
        self.py4j.install(spark)

    def read(self, con, path: str):
        from probes import job_stats

        sc = self.spark.sparkContext
        group = f"read-{self.seq}"
        self.seq += 1
        sc.setJobGroup(group, group)
        t0 = time.time()
        tbl = con.read_parquet(path)
        t1 = time.time()
        sc.setJobGroup("idle", "idle")
        self.spans.add("backend.read", t0, t1, None, os.path.basename(path))
        self.add("backend.read_jobs", job_stats(self.spark, group)["jobs"])
        return tbl

    def run(self, runner: Runner, op) -> bool:
        from probes import dir_stats, job_stats, plan_stats

        spark = self.spark
        sc = spark.sparkContext
        op_id = f"{op.name}#{self.seq}"
        self.seq += 1
        t_op = time.time()
        root = self.spans.add("op", t_op, t_op, None, op_id)
        ok = True
        try:
            sc.setJobGroup(op_id + ":build", op.name)
            c0, s0 = self.py4j.calls, self.py4j.seconds
            self.py4j.start()
            t0 = time.time()
            try:
                tbl = op.build(runner.src, spark)
            finally:
                self.py4j.stop()
            t1 = time.time()
            self.spans.add("expr.build", t0, t1, root, op_id)
            self.add("expr.py4j_calls", self.py4j.calls - c0)
            self.add("expr.py4j_s", self.py4j.seconds - s0)

            ps = plan_stats(tbl.to_spark())
            t2 = time.time()
            plan = self.spans.add("spark.plan", t1, t2, root, op_id)
            self.spans.add("spark.optimize", t1, t1 + ps["optimize_s"], plan, op_id)
            self.spans.add("spark.physical", t1 + ps["optimize_s"],
                           t1 + ps["optimize_s"] + ps["physical_s"], plan, op_id)
            for k in ("nodes", "exchanges", "python_nodes"):
                self.add(f"spark.{'plan_nodes' if k == 'nodes' else k}", ps[k])

            sc.setJobGroup(op_id + ":sink", op.name)
            t3 = time.time()
            if op.sink == "collect":
                res = tbl.execute()
                runner.last[op.name] = res
                self.add("table.collect_rows", len(res))
                self.add("table.collect_bytes", int(res.memory_usage(index=False, deep=True).sum()))
            else:
                path = os.path.join(runner.out_dir, op.name)
                tbl.to_parquet(path)
                runner.last[op.name] = path
                size, files = dir_stats(path)
                self.add("table.write_bytes", size)
                self.add("table.write_files", files)
            t4 = time.time()
            sink = self.spans.add(f"table.{op.sink}", t3, t4, root, op_id)
        except Exception as e:
            runner.errors[op.name] = runner.errors.get(op.name, 0) + 1
            runner.first_error.setdefault(op.name, _one_line(e))
            ok = False
        finally:
            sc.setJobGroup("idle", "idle")
            self.spans.rows[root]["end"] = time.time()
        self.add("trace.ops", 1)
        self.add("trace.op_s", self.spans.rows[root]["end"] - t_op)
        if not ok:
            return False
        build = job_stats(spark, op_id + ":build")
        self.add("expr.build_jobs", build["jobs"])
        js = job_stats(spark, op_id + ":sink")
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            self.add(f"spark.{k}", js[k])
        if js["interval"] is not None:
            s, e = max(js["interval"][0], t3), min(js["interval"][1], t4)
            if e > s:
                self.spans.add("spark.exec", s, e, sink, op_id)
                if ps["python_nodes"]:
                    self.add("spark.python_exec_s", e - s)
        return True

    def metrics(self, untraced_ops_per_s: float) -> dict:
        self_s = self.spans.self_seconds()
        out = {}

        def put(name, value, unit):
            out[name] = {"value": value, "unit": unit}

        span_of = {
            "expr.build_s": "expr.build", "backend.read_s": "backend.read",
            "spark.optimize_s": "spark.optimize", "spark.physical_s": "spark.physical",
            "spark.exec_s": "spark.exec", "table.collect_s": "table.collect",
            "table.write_s": "table.write",
        }
        for metric, span in span_of.items():
            put(metric, self_s.get(span, 0.0), "s")
        put("expr.py4j_s", self.m.get("expr.py4j_s", 0.0), "s")
        put("spark.python_exec_s", self.m.get("spark.python_exec_s", 0.0), "s")
        for k in ("expr.py4j_calls", "expr.build_jobs", "backend.read_jobs",
                  "spark.plan_nodes", "spark.exchanges", "spark.python_nodes",
                  "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                  "table.collect_rows", "table.write_files"):
            put(k, int(self.m.get(k, 0)), "count")
        put("table.collect_bytes", int(self.m.get("table.collect_bytes", 0)), "bytes")
        put("table.write_bytes", int(self.m.get("table.write_bytes", 0)), "bytes")
        traced = self.m["trace.ops"] / self.m["trace.op_s"]
        put("trace.ops_per_s", traced, "1/s")
        put("trace.overhead", untraced_ops_per_s / traced, "ratio")
        return out


def check(runner: Runner) -> dict[str, str]:
    """Compare each distinct op's last result with its oracle; return
    {op name: problem} for the mismatches."""
    import duckdb

    from oracle import compare, rows_of_frame

    ddb = duckdb.connect()
    for t in sorted(runner.rows):
        ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(runner.data_dir, t + '.parquet')}')")
    bad = {}
    for op in runner.ops:
        if op.name not in runner.last:
            continue
        res = ddb.execute(op.oracle)
        exp_cols = [d[0] for d in res.description]
        exp = res.fetchall()
        got = runner.last[op.name]
        if isinstance(got, str):
            r = ddb.execute(f"SELECT * FROM read_parquet('{got}/*.parquet')")
            got_cols, got_rows = [d[0] for d in r.description], r.fetchall()
        else:
            got_cols, got_rows = rows_of_frame(got)
        problem = compare(got_cols, got_rows, exp_cols, exp)
        if problem:
            bad[op.name] = problem
    ddb.close()
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test and its Spark stack; a checkout without
    # them fails here, before any result is printed
    import ibis_spark  # noqa: F401
    import pyspark  # noqa: F401

    from ops import INTERACTIVE, LLM_PIPELINE

    ops = INTERACTIVE if args.workload == "interactive" else LLM_PIPELINE
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    # everything Spark and its Python workers write stays under `work`
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    try:
        return _run(args, ops, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, ops, work: str) -> int:
    import gen
    from probes import cpu_ticks, peak_rss_mb, tree_cpu_s

    sf, tables = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    rows = gen.generate(os.path.join(work, "data"), args.seed, sf, tables)
    info(f"generate_s {time.perf_counter() - t0:.3f} (not in setup_s); rows {rows}")

    runner = Runner(ops, os.path.join(work, "data"), os.path.join(work, "out"), rows)
    tracer = Tracer() if args.trace else None
    try:
        t0 = time.perf_counter()
        runner.open(work, tracer)
        t1 = time.perf_counter()
        for op in ops:
            runner.run(op)
        setup_s = time.perf_counter() - t0
        info(f"setup_s {setup_s:.3f}: JVM, session and sources {t1 - t0:.3f} s, "
             f"warm-up pass {setup_s - (t1 - t0):.3f} s")
        conf = runner.spark.conf
        info("session " + ", ".join(f"{k}={conf.get(k)}" for k in (
            "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.adaptive.enabled", "spark.sql.constraintPropagation.enabled",
            "spark.sql.session.timeZone", "spark.ui.enabled")))

        def round_order(rng):
            order = list(ops)
            if args.workload == "interactive":
                rng.shuffle(order)
            return order

        rng = random.Random(args.seed)
        lat, round_s, round_cpu, per_op, ref = [], [], [], {}, []
        for _ in range(5):
            reference(runner.spark)
        attempted = failed_runs = 0
        steal0, ticks0 = cpu_ticks()
        cpu_prev = tree_cpu_s()
        start = time.perf_counter()
        deadline = start + args.seconds
        while True:
            order = round_order(rng)
            t_round = time.perf_counter()
            for op in order:
                t = time.perf_counter()
                ok = runner.run(op)
                lat.append(time.perf_counter() - t)
                per_op.setdefault(op.name, []).append(lat[-1])
                t = time.perf_counter()
                reference(runner.spark)
                ref.append(time.perf_counter() - t)
                attempted += 1
                failed_runs += not ok
            round_s.append(time.perf_counter() - t_round)
            cpu = tree_cpu_s()  # includes the reference queries
            round_cpu.append(cpu - cpu_prev)
            cpu_prev = cpu
            if len(round_s) >= MIN_ROUNDS and time.perf_counter() >= deadline:
                break
        elapsed = time.perf_counter() - start
        steal1, ticks1 = cpu_ticks()
        # medians of each operation's latencies, so that a burst of host
        # load over a few operations or a round moves none of them: a
        # round at each operation's median latency, and the median
        # operation's median latency (the median of all samples can fall
        # into the gap between two operations' latencies)
        op_median = sorted(statistics.median(v) for v in per_op.values())
        median_round_s = sum(op_median)
        ref_s = statistics.median(ref)
        slow = ref_s / REF_NOMINAL_S
        ops_per_s = len(ops) / median_round_s * slow
        rows_per_s = sum(runner.input_rows(op) for op in ops) / median_round_s * slow
        latency_p50_s = statistics.median(op_median) / slow

        if tracer is not None:
            # the first measured round's order, so two traced runs of one
            # seed trace the same sequence
            for op in round_order(random.Random(args.seed)):
                tracer.run(runner, op)
        rss_py, rss_jvm = peak_rss_mb()
    finally:
        if runner.spark is not None:
            runner.spark.stop()
        stop_jvm()

    bad = check(runner)
    # a wrong result counts against every measured execution of its op
    failed = failed_runs + sum(len(per_op[name]) for name in bad)
    for name, msg in sorted(runner.first_error.items()):
        info(f"error {name}: raised {runner.errors[name]}x: {msg}")
    for name, msg in sorted(bad.items()):
        info(f"error {name}: wrong result: {msg}")
    info(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} operations)")

    info("median latency per op: " + ", ".join(
        f"{n} {statistics.median(v):.3f}" for n, v in per_op.items()))
    info(f"host CPU time stolen by other guests during the loop: "
         f"{(steal1 - steal0) / max(ticks1 - ticks0, 1):.1%}")
    q = max(1, len(lat) // 4)
    info(f"speed reference: median {ref_s:.4f} s over {len(ref)} runs (nominal "
         f"{REF_NOMINAL_S} s), so timing metrics are scaled by {1 / slow:.3f}; "
         f"unscaled ops_per_s {len(ops) / median_round_s:.4f}, latency_p50_s "
         f"{statistics.median(op_median):.4f}")
    info(f"peak rss python {rss_py:.1f} MB + jvm {rss_jvm:.1f} MB")
    info("rounds wall " + " ".join(f"{t:.3f}" for t in round_s) + " s; cpu "
         + " ".join(f"{t:.2f}" for t in round_cpu) + " s")
    info(f"ops {attempted} in {elapsed:.3f} s; latency p50 {statistics.median(lat):.4f} s; "
         f"drift: median latency first quarter {statistics.median(lat[:q]):.4f} s "
         f"vs last quarter {statistics.median(lat[-q:]):.4f} s")
    if len(lat) >= 100:
        info(f"latency_p90_s {statistics.quantiles(lat, n=10)[-1]:.4f} over {len(lat)} ops")
    else:
        info(f"latency_p90_s not reported: {len(lat)} ops < 100")

    if tracer is not None:
        # traced and untraced rates both unscaled, as measured
        metrics = tracer.metrics(len(ops) / median_round_s)
        self_s = tracer.spans.self_seconds()
        info("self-time share of the traced round: " + ", ".join(
            f"{name} {secs / tracer.m['trace.op_s']:.1%}"
            for name, secs in sorted(self_s.items(), key=lambda kv: -kv[1])
            if name != "backend.read"))
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans.rows, f)
        info(f"spans {len(tracer.spans.rows)} written to {os.path.relpath(spans_path, ROOT)}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": ops_per_s, "unit": "1/s"},
            "latency_p50_s": {"value": latency_p50_s, "unit": "s"},
            "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            "peak_rss_mb": {"value": rss_py + rss_jvm, "unit": "MB"},
        }
    print(json.dumps({"correct": not bad and not runner.errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
