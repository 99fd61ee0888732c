"""Benchmark of purescript_ifrit_spark: compile, dialect, interactive and batch.

    python3 perfbench/run.py --workload compile --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop (one client, the next operation starts
when the previous one ends) for at least `--seconds`, in whole passes over
the workload's operation set, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` is a separate run that wraps each layer
and reports the per-layer metrics, and writes its per-operation rows and
spans to `.perfbench_out/`. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import oracle  # noqa: E402
import programs  # noqa: E402
import hostspeed  # noqa: E402
from spans import COUNTS, Tracer, install, read_event_log, span_violations  # noqa: E402

WORKLOADS = ("compile", "dialect", "interactive", "batch")
# registry entries that compile a dialect query: the reference surface
# (projection, filters, order/limit, aggregations, arrays, derived table)
# and the xd_* dialect extensions
INTERACTIVE = re.compile(r"^((a|b|f|o|p)\d|s2_|xd_)")
# a short registered share of `interactive`: one or two entries of each
# family of the reference surface
DIALECT = (
    "p2_nested_projection",
    "p3_alias",
    "f4_and",
    "f6_not_demorgan",
    "o4_pregroup_sort_limit",
    "a1_a3_group_avg",
    "a7_push_collect",
    "s2_derived_table",
    "b2_avg_nested_array",
    "b4_min_max_array",
)
BATCH = (
    "x_curate_exact",
    "x_training_shards_planted",
    "x_pagerank_planted",
    "x_kmeans_planted",
    "x_dedup_minhash_planted",
    "x_semdedup_planted",
)
SCALE = {"dialect": 0.01, "interactive": 0.01, "batch": 0.1}
# nearest-rank percentile of op_tail_ms: the highest with ten samples or
# more beyond it in a 20 s run (compile: 20,000 or more samples, dialect:
# 40 to 70, interactive: 53 a pass); a batch run times one pass of six, so
# its tail is the slowest operation
TAIL_PERCENTILE = {"compile": 99, "dialect": 75, "interactive": 90, "batch": 100}
DATA_SEED = 42
CATALYST = ("analysis", "optimization", "planning")
# repetitions of compile's set-up after the imports
SETUP_REPS = 5
UNITS = {
    # end-to-end metrics
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "pass_s": "s", "peak_rss_mb": "MB",
    # per-layer metrics, in the order a traced run reports them
    "lexer.s": "s", "lexer.tokens_per_s": "1/s", "parser.s": "s",
    "parser.nodes": "count", "analyzer.s": "s", "schema.s": "s", "sources.s": "s",
    "planner.s": "s", "operators.s": "s", "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "exec.s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.driver_gap_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.input_rows": "count",
    "exec.spill_bytes": "bytes", "exec.executor_cpu_s": "s",
    "exec.task_failures": "count", "error_rate": "ratio",
}
PER_LAYER = tuple(UNITS)[6:]

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pass_order(seed: int, workload: str, ops: list, k: int) -> list:
    """The operation order of pass `k` (pass 0 is the warm-up pass)."""
    rng = random.Random(f"{workload}:{seed}:{k}")
    return rng.sample(ops, len(ops))


def percentile(samples: list, q: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least q % of
    the samples at or below it."""
    xs = sorted(samples)
    return xs[max(0, -(-q * len(xs) // 100) - 1)]


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def count_nodes(node) -> int:
    """AST nodes of a parsed statement (dataclass instances)."""
    if isinstance(node, (list, tuple)):
        return sum(count_nodes(x) for x in node)
    fields = getattr(node, "__dataclass_fields__", None)
    if fields is None:
        return 0
    return 1 + sum(count_nodes(getattr(node, f)) for f in fields)


class Run:
    """State of one benchmark run: its inputs, failures and results."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.failures: dict = {}  # operation name -> first reason
        self.attempted = 0
        self.failed = 0
        self.latencies: list = []  # seconds, as measured
        self.block_of: list = []  # the calibration block after each latency
        self.pass_ends: list = []  # len(self.latencies) at the end of each pass
        self.calibration = None  # a hostspeed.Calibration, made after set-up
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.provenance = {
            "workload": self.workload, "seed": self.seed, "nproc": nproc(),
            "seconds": args.seconds, "trace": args.trace,
        }

    # -- the timed loop ------------------------------------------------------

    def loop(self, ops: list, run_op, order_of) -> None:
        """Whole passes over `ops` until `--seconds` have elapsed, with
        host-speed calibration blocks between operations (hostspeed.py)."""
        start = time.perf_counter()
        k = 1
        while True:
            for op in order_of(k):
                t = time.perf_counter()
                ok = run_op(op, k)
                self.latencies.append(time.perf_counter() - t)
                self.block_of.append(len(self.calibration.times))
                self.attempted += 1
                if not ok or self.name(op) in self.failures:
                    self.failed += 1
                self.calibration.due()
            self.pass_ends.append(len(self.latencies))
            k += 1
            if time.perf_counter() - start >= self.args.seconds:
                break
        if self.block_of[-1] == len(self.calibration.times):
            self.calibration.measure()

    def pass_times(self, latencies: list) -> list:
        """Each pass's time: the sum of its operations' times."""
        starts = [0] + self.pass_ends[:-1]
        return [sum(latencies[a:b]) for a, b in zip(starts, self.pass_ends)]

    def name(self, op) -> str:
        return op if isinstance(op, str) else f"program[{op}]"

    def fail(self, op, reason: str) -> None:
        self.failures.setdefault(self.name(op), reason)

    def calibrated(self, setup_s: float, scaled_setup_s=None) -> tuple:
        """Set-up time and operation times at the reference host speed
        (hostspeed.py), recorded with the median pass, scaled and not.
        Set-up time is scaled by the run's median block unless the
        workload scaled it already."""
        cal = self.calibration
        setup = cal.run_factor() * setup_s if scaled_setup_s is None else scaled_setup_s
        lats = [lat * cal.factor(b) for lat, b in zip(self.latencies, self.block_of)]
        self.provenance.update({
            "calibration_blocks": len(cal.times),
            "calibration_median_s": statistics.median(cal.times),
            "wall_setup_s": setup_s,
            "wall_pass_s": statistics.median(self.pass_times(self.latencies)),
            "pass_s": statistics.median(self.pass_times(lats)),
        })
        return setup, lats

    def end_to_end(self, setup_s: float, ops_per_pass: int, rss_mb: float,
                   scaled_setup_s=None) -> dict:
        """Latency percentiles over every timed operation, throughput and
        pass time from the median pass; every timing at the reference
        host speed."""
        setup_s, lats = self.calibrated(setup_s, scaled_setup_s)
        q = TAIL_PERCENTILE[self.workload]
        pass_s = self.provenance["pass_s"]
        self.provenance.update({
            "tail_percentile": q, "samples": len(lats), "passes": len(self.pass_ends),
        })
        return {
            "setup_s": setup_s,
            "ops_per_s": ops_per_pass / pass_s,
            "op_p50_ms": statistics.median(lats) * 1e3,
            "op_tail_ms": percentile(lats, q) * 1e3,
            "pass_s": pass_s,
            "peak_rss_mb": rss_mb,
        }

    # -- compile -------------------------------------------------------------

    def run_compile(self) -> dict:
        from purescript_ifrit_spark import api

        import_s = time.perf_counter() - T0
        cal = self.calibration = hostspeed.Calibration(
            hostspeed.python_block, hostspeed.PYTHON_REFERENCE_S, every_s=hostspeed.PYTHON_EVERY_S)
        schema = programs.SCHEMA
        # set-up after the imports is repeated and its median kept, and each
        # piece is scaled by blocks timed right after it: one set-up takes
        # about a second on a machine whose speed swings within a second
        setup_s = cal.scale_now(import_s)
        wall_reps, reps = [], []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            progs = programs.generate(self.seed)
            # warm-up pass, which is also the oracle check
            for i, p in enumerate(progs):
                try:
                    reason = oracle.check_compile(api.compile_query(schema, p.sql), p.expected)
                except Exception as exc:  # a failing program is counted, not fatal
                    reason = f"{type(exc).__name__}: {exc}"
                if reason:
                    self.fail(i, reason)
            wall_reps.append(time.perf_counter() - t)
            reps.append(cal.scale_now(wall_reps[-1]))
        setup_s += statistics.median(reps)
        wall_setup_s = import_s + statistics.median(wall_reps)
        self.provenance["programs"] = len(progs)
        self.provenance["program_sizes"] = {
            s: sum(p.size == s for p in progs) for s in ("reference", *programs.SIZES)
        }
        ops = list(range(len(progs)))
        tracer = Tracer() if self.args.trace else None
        if tracer:
            install(tracer)
        compile_query = api.compile_query

        def run_op(i, k):
            try:
                if tracer is None:
                    compile_query(schema, progs[i].sql)
                else:
                    tracer.current_op = len(self.latencies)
                    with tracer.span("op"):
                        compile_query(schema, progs[i].sql)
                return True
            except Exception as exc:
                self.fail(i, f"{type(exc).__name__}: {exc}")
                return False

        op_program = []

        def order_of(k):
            order = pass_order(self.seed, "compile", ops, k)
            op_program.extend((i, k) for i in order)
            return order

        self.loop(ops, run_op, order_of)
        if not tracer:
            return self.end_to_end(wall_setup_s, len(ops), vm_hwm_mb(), setup_s)
        self.calibrated(wall_setup_s, setup_s)
        tokens, nodes = self._dialect_counts(tracer)
        rows = []
        for op_id, layers in sorted(tracer.self_times().items()):
            i, k = op_program[op_id]
            rows.append({"op": op_id, "program": i, "pass": k, "layers": layers,
                         "wall_s": self.latencies[op_id],
                         "lexer.tokens": tokens.get(op_id, 0),
                         "parser.nodes": nodes.get(op_id, 0)})
        metrics = self.per_layer(rows)
        # the artifact keeps one row per program: medians over the passes
        per_program: dict = {}
        for r in rows:
            per_program.setdefault(r["program"], []).append(r)
        summary = []
        for i, rs in sorted(per_program.items()):
            layers = {name: statistics.median(r["layers"].get(name, 0.0) for r in rs)
                      for name in rs[0]["layers"]}
            summary.append({"program": i, "sql": progs[i].sql, "size": progs[i].size,
                            "runs": len(rs), "wall_s": statistics.median(r["wall_s"] for r in rs),
                            "layers": layers, "lexer.tokens": rs[0]["lexer.tokens"],
                            "parser.nodes": rs[0]["parser.nodes"]})
        self.write_trace(summary, metrics, tracer)
        return metrics

    # -- spark workloads -------------------------------------------------------

    def spark_session(self):
        from pyspark.sql import SparkSession

        n = str(nproc())
        tmp = os.path.join(self.work, "tmp")
        b = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", n)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        )
        if self.args.trace:
            # Spark 4 compresses event logs with zstd by default
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", events)
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.compress", "false"))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def run_spark(self) -> dict:
        from purescript_ifrit_spark import suite

        sf_dir = os.path.join(self.work, "data")
        import datagen

        datagen.write(sf_dir, SCALE[self.workload], DATA_SEED)
        if self.workload == "interactive":
            ops = [n for n in suite.REGISTRY if INTERACTIVE.match(n)]
        else:
            ops = list(DIALECT if self.workload == "dialect" else BATCH)
        self.provenance["operations"] = ops
        spark = self.spark_session()
        self.provenance["spark"] = spark.version
        gateway = spark.sparkContext._gateway
        try:
            return self._run_spark(spark, suite.REGISTRY, ops, sf_dir)
        finally:
            spark.stop()
            # the driver JVM exits when its stdin closes; wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()

    def _run_spark(self, spark, registry, ops, sf_dir) -> dict:
        con = oracle.duck(sf_dir, os.path.join(self.work, "duck"))
        # warm-up pass, which is also the oracle check: every operation is
        # built, collected and compared once, outside the timed region,
        # while one thread computes the oracles
        order = pass_order(self.seed, self.workload, ops, 0)
        with ThreadPoolExecutor(1) as pool:
            expected = {n: pool.submit(oracle.run_oracle, con, registry[n][1]) for n in order}
            for name in order:
                try:
                    reason = oracle.check_spark(registry[name][0](spark, sf_dir),
                                                expected[name].result())
                except Exception as exc:
                    reason = f"{type(exc).__name__}: {str(exc)[:300]}"
                if reason:
                    self.fail(name, reason)
        con.close()
        if self.workload == "dialect":
            # one more untimed pass, to the noop sink: a `dialect` pass costs
            # about 2.5 s and its latencies still fell by a quarter over the
            # next three passes; a `batch` or `interactive` pass is too long
            # to repeat within the run budget
            for name in pass_order(self.seed, self.workload, ops, -1):
                registry[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
        setup_s = time.perf_counter() - T0
        batch = self.workload == "batch"
        self.calibration = hostspeed.Calibration(
            hostspeed.spark_block(spark, nproc()), hostspeed.SPARK_REFERENCE_S,
            blocks=3 if batch else 1, local=not batch)
        sc = spark.sparkContext
        tracer = Tracer() if self.args.trace else None
        if tracer:
            install(tracer)
        meta = []

        def run_op(name, k):
            fn = registry[name][0]
            try:
                if tracer is None:
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    return True
                op_id = tracer.current_op = len(meta)
                sc.setLocalProperty("perfbench.op", str(op_id))
                sc.setLocalProperty("perfbench.phase", "build")
                t = time.perf_counter()
                with tracer.span("op"):
                    # the registry call: its self time is the suite entry
                    # and operator code outside the wrapped layers
                    with tracer.span("operators"):
                        df = fn(spark, sf_dir)
                    sc.setLocalProperty("perfbench.phase", "exec")
                    with tracer.span("catalyst"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    with tracer.span("exec"):
                        qe.toRdd().count()
                wall = time.perf_counter() - t
                phases = qe.tracker().phases()
                cat = {}
                for p in CATALYST:
                    opt = phases.get(p)
                    cat[f"catalyst.{p}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
                meta.append({"op": op_id, "name": name, "pass": k, "wall_s": wall, **cat})
                return True
            except Exception as exc:
                self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                if tracer is not None and len(meta) == tracer.current_op:
                    meta.append({"op": tracer.current_op, "name": name, "pass": k,
                                 "wall_s": 0.0, "error": True})
                return False

        self.loop(ops, run_op, lambda k: pass_order(self.seed, self.workload, ops, k))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
        if not tracer:
            return self.end_to_end(setup_s, len(ops), rss)
        sc.setLocalProperty("perfbench.op", None)
        spark.stop()
        self.calibrated(setup_s)
        counts = read_event_log(self._event_log())
        self_times = tracer.self_times()
        builds = tracer.span_totals("operators")
        tokens, nodes = self._dialect_counts(tracer)
        rows = []
        for m in meta:
            op_id = m["op"]
            rows.append({**m, "layers": self_times.get(op_id, {}),
                         "build_s": builds.get(op_id, 0.0),
                         "lexer.tokens": tokens.get(op_id, 0),
                         "parser.nodes": nodes.get(op_id, 0),
                         **counts.get(op_id, {c: 0 for c in COUNTS})})
        metrics = self.per_layer(rows)
        self.write_trace(rows, metrics, tracer)
        return metrics

    def _event_log(self) -> str:
        d = os.path.join(self.work, "events")
        logs = [os.path.join(d, f) for f in os.listdir(d)]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {d}, found {logs}")
        return logs[0]

    @staticmethod
    def _dialect_counts(tracer):
        """Tokens and AST nodes of every query the operations compiled."""
        from purescript_ifrit_spark import lexer, parser

        tok, par = lexer.tokenize.__wrapped__, parser.parse.__wrapped__
        memo, tokens, nodes = {}, {}, {}
        for op_id, sql in tracer.sql:
            if sql not in memo:
                t = tok(sql)
                memo[sql] = (len(t), count_nodes(par(t)))
            tokens[op_id] = tokens.get(op_id, 0) + memo[sql][0]
            nodes[op_id] = nodes.get(op_id, 0) + memo[sql][1]
        return tokens, nodes

    # -- per-layer results ---------------------------------------------------

    def per_layer(self, rows: list) -> dict:
        """Per-pass totals of each layer metric, median over the passes."""
        by_pass: dict = {}
        for r in rows:
            tot = by_pass.setdefault(r["pass"], {})
            layers = r["layers"]
            vals = {f"{layer}.s": layers.get(layer, 0.0) for layer in
                    ("lexer", "parser", "analyzer", "schema", "sources", "planner",
                     "operators", "exec")}
            vals["build.s"] = r.get("build_s", 0.0)
            vals["lexer.tokens"] = r["lexer.tokens"]
            vals["parser.nodes"] = r["parser.nodes"]
            for p in CATALYST:
                vals[f"catalyst.{p}_ms"] = r.get(f"catalyst.{p}_ms", 0)
            for c in COUNTS:
                vals[c] = r.get(c, 0)
            for k, v in vals.items():
                tot[k] = tot.get(k, 0) + v
        passes = list(by_pass.values())
        out = {}
        for m in PER_LAYER:
            if m == "lexer.tokens_per_s":
                vals = [p["lexer.tokens"] / p["lexer.s"] if p["lexer.s"] else 0.0
                        for p in passes]
            elif m == "error_rate":
                continue
            else:
                vals = [p[m] for p in passes]
            out[m] = statistics.median(vals)
        out["error_rate"] = self.failed / self.attempted
        # the provenance's pass_s, compared with an untraced run's, is the
        # tracing overhead
        self.provenance["passes"] = len(passes)
        return out

    def write_trace(self, rows: list, metrics: dict, tracer: Tracer) -> None:
        checks = [] if self.workload == "compile" else span_violations(rows)
        self.provenance["span_check_violations"] = len(checks)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"trace-{self.workload}-seed{self.seed}-{os.getpid()}.json")
        doc = {"provenance": self.provenance, "metrics": metrics,
               "failures": self.failures, "span_check_violations": checks,
               "operations": rows, "spans": tracer.rows()}
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        self.provenance["trace_file"] = os.path.relpath(path, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run = Run(args)
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    # every temporary file of this process, the JVM and its Python
    # workers stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        metrics = run.run_compile() if args.workload == "compile" else run.run_spark()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:  # another run is still using it
            pass
    run.provenance["error_rate"] = run.failed / run.attempted
    run.provenance["failures"] = run.failures
    print("perfbench " + json.dumps(run.provenance, sort_keys=True))
    print(json.dumps({
        "correct": not run.failures and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
